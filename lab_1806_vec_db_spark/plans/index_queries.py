"""Driver-contract entries for the index layer (IVF / PQ / HNSW,
Q3-Q5, Q9-Q10, A13).

Oracle strategy (the reference's own gate, ivf_index.rs:166-235 /
pq_table.rs:324-372: approximate index == Flat when parameters remove
the approximation):

- IVF probed with ALL clusters scans exactly the whole table → results
  equal the flat scan; the entry still exercises the full IVF path
  (k-means build, centroid ranking, cluster routing, per-cluster scan).
- PQ with ef = |table| re-ranks every row exactly → flat results; the
  entry exercises codebook training, encoding, the packed-code ADC
  scan, and the re-rank join.
- HNSW with a wide beam returns flat results on this scale (verified
  empirically — same seeds as the driver run); beam width is data-
  independent of the oracle.
- Centroid assignment / multi-probe ranking use a FIXED deterministic
  centroid set (the first rows of the table), making Q9/Q10 exactly
  SQL-expressible.
- Partial-probe / partial-ef variants (the genuinely approximate
  regimes) are registered WITHOUT oracle SQL — the driver records the
  weaker rows-only check; pytest covers their recall gates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
from lab_1806_vec_db_spark.index.ivf import IVFIndex
from lab_1806_vec_db_spark.index.kmeans import KMeansModel, sample_key
from lab_1806_vec_db_spark.index.pq import PQTable
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.plans.entry_queries import (
    _Q0,
    _E,
    _U8_SQL,
    _dd,
    _emb,
    _emb_u8,
    _l2_sql,
    _query_vec,
    register,
)

_FLAT_L2_ORACLE = f"""{_Q0}
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM embeddings e, q
ORDER BY dist, vec_id LIMIT 10"""


@register("knn_ivf_l2", _FLAT_L2_ORACLE)
def knn_ivf_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF kNN probing every cluster (== flat, the reference's own
    equivalence gate ivf_index.rs:166-235); exercises Q4 + A2-A4."""
    emb = _emb(spark, sf_dir).cache()
    idx = IVFIndex.build(emb, k=16, metric="l2sqr", vec_col="embedding",
                         id_col="vec_id", train_size=2000)
    return idx.search(_query_vec(spark, sf_dir), k=10, n_probes=16)


_IVF_PROBED_ORACLE = f"""{_Q0},
c AS (SELECT vec_id AS cid, {_dd('embedding')} AS cv FROM embeddings WHERE vec_id < 16),
assign AS (
  SELECT e.vec_id, c.cid,
         list_dot_product({_E},{_E}) + list_dot_product(c.cv,c.cv)
           - 2*list_dot_product({_E},c.cv) AS d
  FROM embeddings e, c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d, c.cid) = 1),
probes AS (
  SELECT c.cid,
         list_dot_product(q.qv,q.qv) + list_dot_product(c.cv,c.cv)
           - 2*list_dot_product(q.qv,c.cv) AS pd
  FROM c, q
  ORDER BY pd, c.cid LIMIT 4)
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM embeddings e
JOIN assign a ON e.vec_id = a.vec_id
JOIN probes p ON a.cid = p.cid, q
ORDER BY dist, vec_id LIMIT 10"""


@register("knn_ivf_probed", _IVF_PROBED_ORACLE)
def knn_ivf_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True approximate regime: 4 of 16 probes. The coarse quantizer is
    a FIXED deterministic centroid set (the first 16 vectors) so the
    whole probed pipeline — assignment argmin, centroid ranking,
    cluster-pruned scan, top-k (ivf_index.rs:132-155) — is exactly
    SQL-reproducible; the k-means-trained variant of the same path is
    knn_ivf_l2, and the recall gate for trained partial probing lives
    in tests/test_indexes.py."""
    emb = _emb(spark, sf_dir).cache()
    cents = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    model = KMeansModel(
        centroids=np.asarray([r[0] for r in cents], dtype=np.float64), metric="l2sqr"
    )
    clustered = model.assign_df(emb, vec_col="embedding", out_col="cluster_id")
    idx = IVFIndex(model, clustered, vec_col="embedding", id_col="vec_id")
    return idx.search(_query_vec(spark, sf_dir), k=10, n_probes=4)


_IVF_F32_ORACLE = f"""{_Q0},
f AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT4[]) AS DOUBLE[])
      AS embedding FROM embeddings)
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM f e, q
ORDER BY dist, vec_id LIMIT 10"""


@register("knn_ivf_f32store", _IVF_F32_ORACLE)
def knn_ivf_f32store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The f32 serving layout for the PLAIN IVF tier (index/ivf.py
    store_vec_dtype='float32', round 12 — ports the IVF+PQ layout knob
    to the tier that scans raw vectors, halving every probe's bytes;
    reference serving precision is f32, vec_set.rs:14-30). The cast
    lands before sampling, so fit, assignment, persisted layout, and
    the probed scan all see the same f32-rounded values; probing every
    cluster makes the result the flat top-k over the f32 store, which
    the oracle reproduces with the double→float4→double round-trip.
    Exercises build→persist→load→search on the array<float> layout."""
    import tempfile

    emb = _emb(spark, sf_dir).cache()
    tmp = tempfile.mkdtemp(prefix="ivf_f32store_")
    IVFIndex.build(emb, k=16, metric="l2sqr", vec_col="embedding",
                   id_col="vec_id", train_size=2000,
                   path=tmp, store_vec_dtype="float32")
    idx = IVFIndex.load(spark, tmp)
    return idx.search(_query_vec(spark, sf_dir), k=10, n_probes=16)


_IVF_F32C_ORACLE = """WITH q AS (
  SELECT vec_id AS query_id,
         CAST(CAST(embedding AS FLOAT4[]) AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 4),
f AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT4[]) AS DOUBLE[])
      AS fe FROM embeddings)
SELECT query_id, vec_id, dist FROM (
  SELECT q.query_id, e.vec_id,
         round(round(list_dot_product(e.fe,e.fe) + list_dot_product(q.qv,q.qv)
               - 2*list_dot_product(e.fe,q.qv), 4), 2) + 0.0 AS dist,
         row_number() OVER (PARTITION BY q.query_id ORDER BY
           round(list_dot_product(e.fe,e.fe) + list_dot_product(q.qv,q.qv)
                 - 2*list_dot_product(e.fe,q.qv), 4), e.vec_id) AS rn
  FROM f e, q) WHERE rn <= 10"""


@register("knn_ivf_f32compute", _IVF_F32C_ORACLE)
def knn_ivf_f32compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """f32 COMPUTE serving over the f32 store (round 13): the batch
    scan's auto compute_dtype follows the store, so the f32 layout is
    served with f32 GEMM arithmetic end-to-end — the reference's own
    serving precision (distance/mod.rs:43-51 sums f32) — with no
    per-batch upcast copy (the round-12 cached-regime regression).
    Probing every cluster makes the result the flat top-k over the f32
    store. The oracle computes the same distances in f64 over the same
    f32-rounded values; f32 accumulation differs by ~1e-6 relative, so
    the reported dist is double-rounded onto a 2-dp grid on BOTH sides
    (4-dp contract grid first, then 2 dp) — id sets and ordering are
    verified identical at the driver SFs."""
    import tempfile

    emb = _emb(spark, sf_dir).cache()
    tmp = tempfile.mkdtemp(prefix="ivf_f32c_")
    IVFIndex.build(emb, k=16, metric="l2sqr", vec_col="embedding",
                   id_col="vec_id", train_size=2000,
                   path=tmp, store_vec_dtype="float32")
    idx = IVFIndex.load(spark, tmp)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = idx.search_batch(queries, k=10, n_probes=16, qvec_col="embedding")
    return out.select(
        "query_id", "vec_id",
        (F.round(F.col("dist"), 2) + F.lit(0.0)).alias("dist"),
    )


@register("knn_pq_rerank", _FLAT_L2_ORACLE)
def knn_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC scan + exact re-rank with ef = |table| (→ exact top-k,
    pq_table.rs candidate_pair.rs:102-108); exercises Q5 + A5-A10."""
    emb = _emb(spark, sf_dir).cache()
    pq = PQTable.train(emb, dim=64, m=16, n_bits=4, train_proportion=0.5,
                       vec_col="embedding", id_col="vec_id")
    return pq.search(_query_vec(spark, sf_dir), k=10, ef=1_000_000, metric="l2sqr")


def _pq_adc_oracle() -> str:
    from lab_1806_vec_db_spark.index.pq import pq_groups

    # 1-based inclusive DuckDB list-slice bounds per PQ group
    grp_rows = ",".join(
        f"({g},{start + 1},{start + size})"
        for g, (start, size) in enumerate(pq_groups(64, 16))
    )
    return f"""{_Q0},
grp AS (SELECT * FROM (VALUES {grp_rows}) t(g, lo, hi)),
cb AS (
  SELECT c.vec_id AS cid, grp.g, grp.lo, grp.hi,
         ({_dd('c.embedding')})[grp.lo:grp.hi] AS cv
  FROM embeddings c, grp WHERE c.vec_id < 16),
assign AS (
  SELECT e.vec_id, cb.g, cb.cid,
         list_dot_product(({_E})[cb.lo:cb.hi], ({_E})[cb.lo:cb.hi])
           + list_dot_product(cb.cv, cb.cv)
           - 2*list_dot_product(({_E})[cb.lo:cb.hi], cb.cv) AS d
  FROM embeddings e, cb
  QUALIFY row_number() OVER (PARTITION BY e.vec_id, cb.g ORDER BY d, cb.cid) = 1),
adc AS (
  SELECT a.vec_id,
         round(SUM(list_dot_product(q.qv[cb2.lo:cb2.hi], q.qv[cb2.lo:cb2.hi])
                   + list_dot_product(cb2.cv, cb2.cv)
                   - 2*list_dot_product(q.qv[cb2.lo:cb2.hi], cb2.cv)), 4) + 0.0 AS adc_r
  FROM assign a JOIN cb cb2 ON a.g = cb2.g AND a.cid = cb2.cid, q
  GROUP BY a.vec_id),
cand AS (SELECT vec_id FROM adc ORDER BY adc_r, vec_id LIMIT 64)
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id, q
ORDER BY dist, vec_id LIMIT 10"""


@register("knn_pq_adc", _pq_adc_oracle())
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True compressed-domain regime: ef=64 candidates from the 4-bit
    ADC scan (A8-A9, pq_table.rs:239-301), then exact re-rank
    (candidate_pair.rs:102-108). Codebooks are a FIXED deterministic
    set (per-group subvectors of the first 16 rows, 16 = 2^4 centroids
    per group) so encoding, the ADC lookup sum, the rounded top-ef
    gate, and the re-rank are all exactly SQL-reproducible; the
    k-means-trained variant is knn_pq_rerank, and the p90 ADC-error +
    recall gates for trained codebooks live in tests."""
    from lab_1806_vec_db_spark.index.pq import pq_groups
    from lab_1806_vec_db_spark.functions.distance import dist_expr
    from lab_1806_vec_db_spark.operators.knn import round_dist

    emb = _emb(spark, sf_dir).cache()
    crows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    cmat = np.asarray([r[0] for r in crows], dtype=np.float64)
    groups = pq_groups(64, 16)
    codebooks = [cmat[:, start : start + size] for (start, size) in groups]
    pq = PQTable(codebooks, groups, 4, codes=None, base=emb,  # type: ignore[arg-type]
                 vec_col="embedding", id_col="vec_id")
    pq.codes = pq.encode_df(emb)
    qv = _query_vec(spark, sf_dir)
    # rounded ADC gate → deterministic ef cut on both sides
    cand = (
        pq.adc_scan(qv, metric="l2sqr")
        .select("vec_id", round_dist(F.col("dist")).alias("adc_r"))
        .orderBy("adc_r", "vec_id")
        .limit(64)
    )
    qlit = F.lit([float(x) for x in qv]).cast("array<double>")
    return (
        emb.join(cand, "vec_id")
        .select("vec_id", round_dist(dist_expr(F.col("embedding"), qlit, "l2sqr")).alias("dist"))
        .orderBy("dist", "vec_id")
        .limit(10)
    )


@register("knn_hnsw", _FLAT_L2_ORACLE)
def knn_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW graph search, beam ef=200 (== flat at this scale — the
    reference's own equivalence test, hnsw_index.rs:713-790)."""
    emb = _emb(spark, sf_dir).cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    return idx.search(_query_vec(spark, sf_dir), k=10, ef=200)


@register("knn_hnsw_pq", _FLAT_L2_ORACLE)
def knn_hnsw_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The combined knn_pq path (hnsw_index.rs:672-696, dispatch rule
    metadata_vec_table.rs:201-205): PQ ADC distances steer the HNSW
    traversal, the ef pool is exact-re-ranked (candidate_pair.rs
    pq_resort). At ef ≥ table size the pool is the full reachable set,
    so the re-rank makes the result flat-equal regardless of how
    coarse the (deterministic, first-16-rows) codebooks are."""
    from lab_1806_vec_db_spark.index.pq import pq_groups

    emb = _emb(spark, sf_dir).cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    crows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    cmat = np.asarray([r[0] for r in crows], dtype=np.float64)
    groups = pq_groups(64, 16)
    codebooks = [cmat[:, start : start + size] for (start, size) in groups]
    pq = PQTable(codebooks, groups, 4, codes=None, base=emb,  # type: ignore[arg-type]
                 vec_col="embedding", id_col="vec_id")
    pq.codes = pq.encode_df(emb)
    qv = _query_vec(spark, sf_dir)
    # steer=True: this entry exists to exercise the ADC-steered kernel;
    # at sf scale the auto rule (hnsw.ADC_STEER_MIN_BYTES) would
    # otherwise dispatch the cache-resident table to the exact kernel
    ids, dists = idx.search_np(np.asarray([float(x) for x in qv]), 10, 600, pq=pq,
                               steer=True)
    rows = sorted(
        ((int(i), float(d)) for i, d in zip(ids, dists)), key=lambda t: (t[1], t[0])
    )
    return spark.createDataFrame(rows, "vec_id long, dist double")


@register(
    "knn_hnsw_filtered",
    f"""{_Q0}
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM embeddings e, q WHERE e.label = 2
ORDER BY dist, vec_id LIMIT 10""",
)
def knn_hnsw_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN on the graph tier: oversample-and-filter
    (index/hnsw.py search_filtered) — the label predicate pushes into
    the parquet scan, the graph contributes an ef-bounded pool, the
    top-k survivors come from a broadcast semi-join. At full beam the
    pool covers the reachable set, so the result equals the exact
    filtered scan (same equivalence-gate style as knn_hnsw); the
    partial-beam recall gate lives in tests/test_indexes.py.
    Beyond-reference: the reference attaches metadata to results (Q8,
    metadata_vec_table.rs:194-212) but cannot filter the search by it."""
    emb = _emb(spark, sf_dir).cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    filt = emb.filter(F.col("label") == 2)
    return idx.search_filtered(_query_vec(spark, sf_dir), k=10, filtered_base=filt,
                               ef=600, vec_col="embedding")


@register(
    "knn_hnsw_filtered_batch",
    f"""WITH q AS (SELECT vec_id AS query_id, {_dd('embedding')} AS qv FROM embeddings WHERE vec_id < 4)
SELECT query_id, vec_id, dist FROM (
  SELECT q.query_id, e.vec_id, {_l2_sql(_E, 'q.qv')} AS dist
  FROM embeddings e, q WHERE e.label = 2)
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= 5
ORDER BY query_id, dist, vec_id""",
)
def knn_hnsw_filtered_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of knn_hnsw_filtered (index/hnsw.py
    search_batch_filtered): one driver-side graph pool pass over all
    queries, one join against the predicate-filtered scan, per-query
    window keeps k; starved queries answered exactly. Full beam →
    equals the exact per-query filtered top-k."""
    emb = _emb(spark, sf_dir).cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    filt = emb.filter(F.col("label") == 2)
    return idx.search_batch_filtered(queries, k=5, filtered_base=filt,
                                     ef=600, vec_col="embedding")


@register(
    "knn_hnsw_filtered_margin",
    f"""WITH q AS (SELECT vec_id AS query_id, {_dd('embedding')} AS qv FROM embeddings WHERE vec_id < 4)
SELECT query_id, vec_id, dist FROM (
  SELECT q.query_id, e.vec_id, {_l2_sql(_E, 'q.qv')} AS dist
  FROM embeddings e, q WHERE e.label = 2)
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= 5
ORDER BY query_id, dist, vec_id""",
)
def knn_hnsw_filtered_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thin-intersection escalation contract of the shared
    filtered-ANN finisher (operators/knn.py filtered_topk_from_pool,
    ``fallback_margin``): queries whose pool ∩ filter holds fewer than
    ceil(margin·k) survivors are answered by the exact filtered scan.
    Here the pool (ef=24) is narrower than margin·k = 25, so every
    query escalates and the result must EQUAL the exact filtered
    top-k — which oracles the escalation detection, the exact pass,
    and the union ordering end-to-end. The partial-escalation regime
    (some queries served from the pool) is recall-gated in
    tests/test_knn.py::test_filtered_topk_fallback_margin."""
    emb = _emb(spark, sf_dir).cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    filt = emb.filter(F.col("label") == 2)
    return idx.search_batch_filtered(queries, k=5, filtered_base=filt,
                                     ef=24, vec_col="embedding",
                                     fallback_margin=5.0)


@register("knn_hnsw_sharded", _FLAT_L2_ORACLE)
def knn_hnsw_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The >50 M-row serving tier (docs/SCALE.md): per-shard HNSW
    sub-graphs built executor-side + a centroid router
    (index/sharded.py). Probing every shard with a wide beam makes the
    union cover the table and each sub-graph exhaustive at this scale,
    so the result is flat-equal — the same equivalence gate style as
    knn_ivf_l2/knn_hnsw. Exercises the full distributed path: k-means
    router fit, map-only assignment, one shard_id shuffle,
    applyInPandas sub-graph builds, routed probe explode, per-shard
    graph serve, k-bounded window merge."""
    import tempfile

    from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

    emb = _emb(spark, sf_dir).cache()
    idx = ShardedHNSWIndex.build(
        emb, tempfile.mkdtemp(prefix="sharded_hnsw_"), n_shards=4,
        metric="l2sqr", vec_col="embedding", id_col="vec_id", train_size=200,
    )
    qv = _query_vec(spark, sf_dir)
    queries = spark.createDataFrame([(0, qv)], "query_id long, vec array<double>")
    return (
        idx.search_batch(queries, k=10, ef=300, n_probes=4)
        .select("vec_id", "dist")
        .orderBy("dist", "vec_id")
    )


_CENTROIDS_SQL = f"""c AS (
  SELECT vec_id AS cid, {_dd('embedding')} AS cv FROM embeddings WHERE vec_id < 8)"""


@register(
    "ivf_centroid_assign",
    f"""WITH {_CENTROIDS_SQL},
d AS (
  SELECT e.vec_id, c.cid,
         list_dot_product({_E},{_E}) + list_dot_product(c.cv,c.cv)
           - 2*list_dot_product({_E},c.cv) AS dist
  FROM embeddings e, c)
SELECT vec_id, CAST(cid AS INT) AS cluster_id FROM d
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
ORDER BY vec_id""",
)
def ivf_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 — distributed nearest-centroid assignment (k_means.rs:40-57)
    against a FIXED centroid set (first 8 vectors) so the argmin is
    SQL-reproducible."""
    emb = _emb(spark, sf_dir)
    cents = (
        emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
    )
    model = KMeansModel(
        centroids=np.asarray([r[0] for r in cents], dtype=np.float64), metric="l2sqr"
    )
    return (
        model.assign_df(emb, vec_col="embedding", out_col="cluster_id")
        .select("vec_id", "cluster_id")
        .orderBy("vec_id")
    )


@register(
    "ivf_multi_probe_rank",
    f"""WITH q AS (SELECT vec_id AS query_id, {_dd('embedding')} AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS cid, {_dd('embedding')} AS cv FROM embeddings WHERE vec_id < 16),
d AS (
  SELECT q.query_id, c.cid,
         list_dot_product(q.qv,q.qv) + list_dot_product(c.cv,c.cv)
           - 2*list_dot_product(q.qv,c.cv) AS dist
  FROM q, c)
SELECT query_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, cid) AS INT) AS probe_rank,
       CAST(cid AS INT) AS centroid_id
FROM d
QUALIFY probe_rank <= 3
ORDER BY query_id, probe_rank""",
)
def ivf_multi_probe_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 — top-n centroid ranking per query (k_means.rs:174-191
    find_n_nearest), fixed centroid set = first 16 vectors."""
    emb = _emb(spark, sf_dir)
    cents = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    model = KMeansModel(
        centroids=np.asarray([r[0] for r in cents], dtype=np.float64), metric="l2sqr"
    )
    qrows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("vec_id", "embedding").collect()
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    probes = model.rank_centroids_batch(qmat, 3)
    rows = [
        (int(r[0]), int(rank + 1), int(cid))
        for r, prow in zip(qrows, probes)
        for rank, cid in enumerate(prow)
    ]
    return spark.createDataFrame(rows, "query_id long, probe_rank int, centroid_id int")


@register(
    "knn_ground_truth",
    f"""WITH q AS (SELECT vec_id AS query_id, {_dd('embedding')} AS qv FROM embeddings WHERE vec_id < 8),
d AS (
  SELECT q.query_id, e.vec_id, {_l2_sql(_E, 'q.qv')} AS dist
  FROM embeddings e, q),
topk AS (
  SELECT query_id, vec_id, dist FROM d
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dist, vec_id) <= 10)
SELECT query_id, array_to_string(list(vec_id ORDER BY dist, vec_id), ',') AS gt_ids
FROM topk GROUP BY query_id ORDER BY query_id""",
)
def knn_ground_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 — exact-kNN ground-truth table (bin/gen_gnd.rs:31-76), ids
    joined into a string for hash-stable comparison."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt = knn_ops.ground_truth(
        emb, queries, k=10, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="embedding",
    )
    return gt.select(
        "query_id",
        F.concat_ws(",", F.transform(F.col("knn_indices"), lambda x: x.cast("string"))).alias("gt_ids"),
    ).orderBy("query_id")


def _ivf_pq_oracle(src: str = "embeddings", prelude: str = "") -> str:
    from lab_1806_vec_db_spark.index.pq import pq_groups

    grp_rows = ",".join(
        f"({g},{start + 1},{start + size})"
        for g, (start, size) in enumerate(pq_groups(64, 16))
    )
    q0 = (
        f"WITH {prelude}q AS (SELECT {_dd('embedding')} AS qv "
        f"FROM {src} WHERE vec_id = 0)"
    )
    return f"""{q0},
c AS (SELECT vec_id AS cid, {_dd('embedding')} AS cv FROM {src} WHERE vec_id < 16),
coarse AS (
  SELECT e.vec_id, c.cid AS cluster_id,
         list_dot_product({_E},{_E}) + list_dot_product(c.cv,c.cv)
           - 2*list_dot_product({_E},c.cv) AS d
  FROM {src} e, c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d, c.cid) = 1),
probes AS (
  SELECT c.cid,
         list_dot_product(q.qv,q.qv) + list_dot_product(c.cv,c.cv)
           - 2*list_dot_product(q.qv,c.cv) AS pd
  FROM c, q
  ORDER BY pd, c.cid LIMIT 4),
grp AS (SELECT * FROM (VALUES {grp_rows}) t(g, lo, hi)),
cb AS (
  SELECT c2.vec_id AS ccid, grp.g, grp.lo, grp.hi,
         ({_dd('c2.embedding')})[grp.lo:grp.hi] AS cv
  FROM {src} c2, grp WHERE c2.vec_id < 16),
assign AS (
  SELECT e.vec_id, cb.g, cb.ccid,
         list_dot_product(({_E})[cb.lo:cb.hi], ({_E})[cb.lo:cb.hi])
           + list_dot_product(cb.cv, cb.cv)
           - 2*list_dot_product(({_E})[cb.lo:cb.hi], cb.cv) AS d
  FROM {src} e, cb
  QUALIFY row_number() OVER (PARTITION BY e.vec_id, cb.g ORDER BY d, cb.ccid) = 1),
adc AS (
  SELECT a.vec_id,
         round(SUM(list_dot_product(q.qv[cb2.lo:cb2.hi], q.qv[cb2.lo:cb2.hi])
                   + list_dot_product(cb2.cv, cb2.cv)
                   - 2*list_dot_product(q.qv[cb2.lo:cb2.hi], cb2.cv)), 4) + 0.0 AS adc_r
  FROM assign a JOIN cb cb2 ON a.g = cb2.g AND a.ccid = cb2.ccid, q
  GROUP BY a.vec_id),
cand AS (
  SELECT adc.vec_id FROM adc
  JOIN coarse ON adc.vec_id = coarse.vec_id
  JOIN probes ON coarse.cluster_id = probes.cid
  ORDER BY adc.adc_r, adc.vec_id LIMIT 64)
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM {src} e JOIN cand ON e.vec_id = cand.vec_id, q
ORDER BY dist, vec_id LIMIT 10"""


@register("knn_ivf_pq", _ivf_pq_oracle())
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined serving path (index/ivfpq.py) — the 100 TB
    layout where the coarse quantizer prunes partitions and PQ prunes
    bytes: 4-of-16 cluster probe, 4-bit ADC over the pruned codes,
    rounded top-ef=64 gate, exact re-rank. Both quantizers are FIXED
    deterministic sets (first-16-row centroids / per-group subvectors
    of the same rows) so the whole pipeline — coarse argmin, probe
    ranking, per-group encode argmin, ADC lookup sum, candidate cut,
    re-rank — is exactly SQL-reproducible; the k-means-trained variant
    is gated by recall tests (tests/test_indexes.py)."""
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
    from lab_1806_vec_db_spark.index.pq import pq_groups

    emb = _emb(spark, sf_dir).cache()
    crows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    cmat = np.asarray([r[0] for r in crows], dtype=np.float64)
    model = KMeansModel(centroids=cmat, metric="l2sqr")
    groups = pq_groups(64, 16)
    codebooks = [cmat[:, start : start + size] for (start, size) in groups]
    pq = PQTable(codebooks, groups, 4, codes=None, base=emb,  # type: ignore[arg-type]
                 vec_col="embedding", id_col="vec_id")
    codes_clustered = IVFPQIndex._assign_encode(emb, model, pq, "embedding", "vec_id")
    pq.codes = codes_clustered.select("vec_id", "code")
    idx = IVFPQIndex(model, pq, codes_clustered, emb, vec_col="embedding", id_col="vec_id")
    return idx.search(_query_vec(spark, sf_dir), k=10, n_probes=4, ef=64)


@register("knn_ivf_pq_local", _ivf_pq_oracle())
def knn_ivf_pq_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver-local IVF+PQ serve (index/ivfpq.py::enable_local_serve
    — round 10): codes + f32 vectors mirrored driver-side, the query
    answered with ZERO Spark jobs through the fused compiled ADC top-k
    tile kernel (ckernel.adc_topk). Same probes, rounded gates, exact
    re-rank, and tie-breaks as the distributed plan, so it shares
    knn_ivf_pq's oracle verbatim — the driver hash-checks that the
    local tier is bit-identical, not merely close."""
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
    from lab_1806_vec_db_spark.index.pq import pq_groups

    emb = _emb(spark, sf_dir).cache()
    crows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    cmat = np.asarray([r[0] for r in crows], dtype=np.float64)
    model = KMeansModel(centroids=cmat, metric="l2sqr")
    groups = pq_groups(64, 16)
    codebooks = [cmat[:, start : start + size] for (start, size) in groups]
    pq = PQTable(codebooks, groups, 4, codes=None, base=emb,  # type: ignore[arg-type]
                 vec_col="embedding", id_col="vec_id")
    codes_clustered = IVFPQIndex._assign_encode(emb, model, pq, "embedding", "vec_id")
    pq.codes = codes_clustered.select("vec_id", "code")
    idx = IVFPQIndex(model, pq, codes_clustered, emb, vec_col="embedding", id_col="vec_id")
    if not idx.enable_local_serve():
        raise RuntimeError("local serve mirror refused at test scale")
    return idx.search(_query_vec(spark, sf_dir), k=10, n_probes=4, ef=64)


# ---- u8 vectors through the index tiers ------------------------------------
#
# The reference runs u8 vectors through EVERY index, not just the flat
# scan (scalar.rs:117-119 VecData dispatch; vec_set.rs:237-253 typed
# storage; dynamic_index.rs routes both dtypes through the same
# Flat/HNSW/PQ impls). These entries are the same dtype-cast fixture as
# knn_flat_u8 (_emb_u8 / _U8_SQL, integer-exact distances) pushed
# through the graph tier and the combined IVF+PQ tier; the per-tier
# u8 == f32-cast equivalence gates live in tests/test_indexes.py.

_U8_PRELUDE = (
    f"u AS (SELECT vec_id, CAST({_U8_SQL} AS DOUBLE[]) AS embedding "
    "FROM embeddings), "
)

_FLAT_L2_U8_ORACLE = f"""WITH {_U8_PRELUDE}q AS (SELECT {_dd('embedding')} AS qv FROM u WHERE vec_id = 0)
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM u e, q
ORDER BY dist, vec_id LIMIT 10"""


@register("knn_hnsw_u8", _FLAT_L2_U8_ORACLE)
def knn_hnsw_u8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW over a u8-quantized table (dynamic_index.rs u8 arm): the
    graph is BUILT on the integer vectors and searched with a wide
    beam, so the result equals the flat u8 scan — the same
    equivalence gate as knn_hnsw, on the typed table. Distances stay
    integer-exact (u8 values in f64), so the DuckDB oracle reproduces
    them digit-for-digit."""
    emb = _emb_u8(spark, sf_dir).cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return idx.search(q, k=10, ef=400)


@register(
    "knn_ivf_pq_u8", _ivf_pq_oracle(src="u", prelude=_U8_PRELUDE)
)
def knn_ivf_pq_u8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_ivf_pq on the u8-quantized table — coarse argmin, probe
    ranking, per-group encode argmin, ADC lookup sum, candidate cut,
    and exact re-rank all run on integer vectors (the reference
    quantizes u8 through PQ unchanged, pq_table.rs via VecData
    dispatch). Same FIXED first-16-row quantizers as knn_ivf_pq, so
    the whole pipeline stays exactly SQL-reproducible."""
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
    from lab_1806_vec_db_spark.index.pq import pq_groups

    emb = _emb_u8(spark, sf_dir).cache()
    crows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    cmat = np.asarray([r[0] for r in crows], dtype=np.float64)
    model = KMeansModel(centroids=cmat, metric="l2sqr")
    groups = pq_groups(64, 16)
    codebooks = [cmat[:, start : start + size] for (start, size) in groups]
    pq = PQTable(codebooks, groups, 4, codes=None, base=emb,  # type: ignore[arg-type]
                 vec_col="embedding", id_col="vec_id")
    codes_clustered = IVFPQIndex._assign_encode(emb, model, pq, "embedding", "vec_id")
    pq.codes = codes_clustered.select("vec_id", "code")
    idx = IVFPQIndex(model, pq, codes_clustered, emb, vec_col="embedding", id_col="vec_id")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    return idx.search(q, k=10, n_probes=4, ef=64)


@register(
    "knn_hnsw_sharded_u8",
    f"""WITH {_U8_PRELUDE}q AS (SELECT {_dd('embedding')} AS qv FROM u WHERE vec_id = 0)
SELECT e.vec_id AS vec_id, {_l2_sql(_E, 'q.qv')} AS dist
FROM u e, q
ORDER BY dist, vec_id LIMIT 10""",
)
def knn_hnsw_sharded_u8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u8 through the LAST serving tier: the >50 M sharded layout
    (index/sharded.py) built on the integer-quantized table — router
    fit, map-only assignment, per-shard sub-graph builds, routed probe
    explode, per-shard serve, window merge all run on u8 values
    (integer-exact in f64, so the DuckDB oracle reproduces digits).
    Full probe + wide beam ⇒ flat-equal, the same gate as
    knn_hnsw_sharded; completes the u8 matrix (flat/HNSW/IVF+PQ/
    sharded) the reference's dynamic dispatch implies
    (dynamic_index.rs, scalar.rs:117-119)."""
    import tempfile

    from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

    emb = _emb_u8(spark, sf_dir).cache()
    idx = ShardedHNSWIndex.build(
        emb, tempfile.mkdtemp(prefix="sharded_hnsw_u8_"), n_shards=4,
        metric="l2sqr", vec_col="embedding", id_col="vec_id", train_size=200,
    )
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    queries = spark.createDataFrame([(0, q)], "query_id long, vec array<double>")
    return (
        idx.search_batch(queries, k=10, ef=300, n_probes=4)
        .select("vec_id", "dist")
        .orderBy("dist", "vec_id")
    )


_F32_PRELUDE = (
    "f AS (SELECT vec_id, CAST(CAST(embedding AS FLOAT4[]) AS DOUBLE[]) "
    "AS embedding FROM embeddings), "
)


@register(
    "knn_ivf_pq_f32store", _ivf_pq_oracle(src="f", prelude=_F32_PRELUDE)
)
def knn_ivf_pq_f32store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The f32 travelling-vector layout (index/ivfpq.py
    store_vec_dtype='float32', round 11 — the reference's own serving
    precision, vec_set.rs stores f32): _assign_encode casts the table
    once, so the coarse assign, the PQ encode, AND the fused exact
    re-rank all run on the f32-rounded values. The oracle applies the
    same double→float4→double round-trip at the source, so every
    stage — including the exact distances — stays digit-for-digit
    SQL-reproducible. Same FIXED first-16-row quantizers as
    knn_ivf_pq."""
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
    from lab_1806_vec_db_spark.index.pq import pq_groups

    emb = _emb(spark, sf_dir).cache()
    emb32 = emb.withColumn(
        "embedding",
        F.col("embedding").cast("array<float>").cast("array<double>"),
    )
    crows = emb32.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    cmat = np.asarray([r[0] for r in crows], dtype=np.float64)
    model = KMeansModel(centroids=cmat, metric="l2sqr")
    groups = pq_groups(64, 16)
    codebooks = [cmat[:, start : start + size] for (start, size) in groups]
    pq = PQTable(codebooks, groups, 4, codes=None, base=emb,  # type: ignore[arg-type]
                 vec_col="embedding", id_col="vec_id")
    codes_clustered = IVFPQIndex._assign_encode(
        emb, model, pq, "embedding", "vec_id", vec_type="array<float>"
    )
    pq.codes = codes_clustered.select("vec_id", "code")
    idx = IVFPQIndex(model, pq, codes_clustered, emb,
                     vec_col="embedding", id_col="vec_id")
    q = [float(x) for x in
         emb32.filter(F.col("vec_id") == 0).first()["embedding"]]
    return idx.search(q, k=10, n_probes=4, ef=64)


_SAMPLE_ORACLE = """
SELECT vec_id FROM (
  SELECT vec_id FROM embeddings
  ORDER BY md5('42:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 50
) ORDER BY vec_id"""


@register("vec_random_sample", _SAMPLE_ORACLE)
def vec_random_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — seeded deterministic sample (vec_set.rs:154-163), the exact
    key ``sample_rows`` trains k-means/PQ on. The seeded md5 key is
    engine-portable (see kmeans.sample_key), so this entry carries a
    full value-hash oracle: DuckDB computes the identical key and the
    identical top-50."""
    emb = _emb(spark, sf_dir)
    return (
        emb.orderBy(sample_key("vec_id", 42), F.col("vec_id"))
        .limit(50)
        .select("vec_id")
        .orderBy("vec_id")
    )
