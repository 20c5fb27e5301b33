"""Index-structure oracle tests — the reference's own test strategy
(SURVEY §5): approximate index vs FlatIndex exact results.

Ported gates:
- IVF results index-equal to Flat when enough clusters are probed
  (ivf_index.rs:166-235);
- PQ exactness when #distinct vectors ≤ 2^n_bits (pq_table.rs:324-372);
- PQ p90 relative ADC error < 0.2 at m=ceil(dim/3) (pq_table.rs:374-438);
- HNSW == Flat on a small set (hnsw_index.rs:713-790), both metrics;
- results ascending by distance everywhere;
- index save/load roundtrips (S8);
- invalidation invariants (add keeps HNSW + clears PQ; delete clears
  both — README.md:22,45, metadata_vec_table.rs:64-81, 170-171).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.db.vecdb import VecDB
from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
from lab_1806_vec_db_spark.index.ivf import IVFIndex
from lab_1806_vec_db_spark.index.kmeans import KMeansModel, fit_kmeans
from lab_1806_vec_db_spark.index.pq import PQTable, pack_codes, pq_groups, unpack_codes
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.session import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_correct):
    return read_table(spark, sf_correct, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def _ids(rows):
    return [r["vec_id"] for r in rows]


def _pairs(rows):
    return [(r["vec_id"], r["dist"]) for r in rows]


# ---- k-means ----------------------------------------------------------------


def test_kmeans_centroid_shape_and_self_nearest():
    # k_means.rs:203-277: centroid count/dim; nearest centroid to a
    # centroid is itself
    rng = np.random.default_rng(0)
    x = rng.normal(size=(200, 8))
    model = fit_kmeans(x, k=5, metric="l2sqr", seed=42)
    assert model.centroids.shape == (5, 8)
    assign = model.assign(model.centroids)
    assert list(assign) == list(range(5))


def test_kmeans_deterministic():
    rng = np.random.default_rng(1)
    x = rng.normal(size=(100, 4))
    a = fit_kmeans(x, k=3, seed=42).centroids
    b = fit_kmeans(x, k=3, seed=42).centroids
    assert np.array_equal(a, b)


def test_kmeans_multi_probe_ranking():
    # k_means.rs:174-191 find_n_nearest: ascending centroid ranking
    model = KMeansModel(centroids=np.array([[0.0], [1.0], [4.0], [9.0]]), metric="l2sqr")
    probes = model.rank_centroids(np.array([1.2]), 3)
    assert list(probes) == [1, 0, 2]


# ---- IVF -------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivf(emb):
    return IVFIndex.build(
        emb, k=16, metric="l2sqr", vec_col="embedding", id_col="vec_id", train_size=500
    )


def test_ivf_full_probe_equals_flat(emb, ivf, qvec):
    flat = knn_ops.knn(emb, qvec, k=10, metric="l2sqr", vec_col="embedding", id_col="vec_id")
    got = ivf.search(qvec, k=10, n_probes=16)
    assert _pairs(got.collect()) == _pairs(flat.collect())


def test_ivf_partial_probe_recall_and_order(emb, ivf, qvec):
    # Order contract on a single query:
    rows = ivf.search(qvec, k=10, n_probes=4).collect()
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)
    # Recall gate over 16 queries (single-query recall at 4/16 probes is
    # seed noise): mean must far exceed the 4/16 = 0.25 random-probe
    # expectation, proving the coarse quantizer actually clusters.
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat = knn_ops.knn_batch(
        emb, queries, k=10, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="embedding",
    )
    gt: dict = {}
    for r in flat.collect():
        gt.setdefault(r["query_id"], set()).add(r["vec_id"])
    got: dict = {}
    for r in ivf.search_batch(queries, k=10, n_probes=4, qvec_col="embedding").collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(gt[q] & got.get(q, set())) / 10 for q in gt]
    assert sum(recalls) / len(recalls) >= 0.5


def test_ivf_batch_full_probe_equals_flat(emb, ivf):
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat = knn_ops.knn_batch(
        emb, queries, k=5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="embedding",
    )
    got = ivf.search_batch(queries, k=5, n_probes=16, qvec_col="embedding")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]


def test_ivf_save_load_roundtrip(spark, emb, qvec, tmp_path):
    path = str(tmp_path / "ivf")
    built = IVFIndex.build(
        emb, k=8, metric="l2sqr", vec_col="embedding", id_col="vec_id",
        train_size=500, path=path,
    )
    loaded = IVFIndex.load(spark, path)
    assert np.array_equal(built.model.centroids, loaded.model.centroids)
    assert _pairs(loaded.search(qvec, k=5, n_probes=8).collect()) == _pairs(
        built.search(qvec, k=5, n_probes=8).collect()
    )


# ---- PQ --------------------------------------------------------------------


def test_pq_groups_balanced():
    # pq_table.rs:313-322 incl. the non-divisible 7→[3,2,2] case
    assert pq_groups(7, 3) == [(0, 3), (3, 2), (5, 2)]
    assert pq_groups(8, 4) == [(0, 2), (2, 2), (4, 2), (6, 2)]
    assert [s for _, s in pq_groups(13, 4)] == [4, 3, 3, 3]
    assert sum(s for _, s in pq_groups(960, 320)) == 960


def test_pq_pack_roundtrip():
    rng = np.random.default_rng(0)
    for n_bits, hi in ((4, 16), (8, 256)):
        c = rng.integers(0, hi, (10, 7)).astype(np.uint8)
        width = (7 + 1) // 2 if n_bits == 4 else 7
        buf = np.frombuffer(b"".join(pack_codes(c, n_bits)), dtype=np.uint8).reshape(10, width)
        assert (unpack_codes(buf, 7, n_bits) == c).all()


def test_pq_precise_when_few_distinct(spark):
    # pq_table.rs:324-372: with #distinct vecs ≤ 2^n_bits the ADC
    # distance equals the true distance, both metrics
    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 8)).astype(np.float32)  # 12 ≤ 2^4
    rows = [(i, [float(x) for x in base[i % 12]]) for i in range(48)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pq = PQTable.train(df, dim=8, m=4, n_bits=4, train_proportion=0.99,
                       vec_col="embedding", id_col="vec_id")
    q = [float(x) for x in base[0]]
    for metric in ("l2sqr", "cosine"):
        adc = {r["vec_id"]: r["dist"] for r in pq.adc_scan(q, metric).collect()}
        exact = {
            r["vec_id"]: r["dist"]
            for r in knn_ops.knn(df, q, k=48, metric=metric,
                                 vec_col="embedding", id_col="vec_id").collect()
        }
        for vid, d in exact.items():
            assert adc[vid] == pytest.approx(d, abs=1e-3), (metric, vid)


def test_pq_8bit_full_ef_equals_flat(emb, qvec):
    # the honored-n_bits path (deviation from the reference's forced 4-bit)
    pq8 = PQTable.train(emb, dim=64, m=8, n_bits=8, train_proportion=0.6,
                        vec_col="embedding", id_col="vec_id")
    flat = knn_ops.knn(emb, qvec, 10, "l2sqr", "embedding", id_col="vec_id")
    got = pq8.search(qvec, k=10, ef=500, metric="l2sqr")
    assert _pairs(got.collect()) == _pairs(flat.collect())
    # 8-bit codebooks are larger → ADC should be at least as accurate at
    # matched ef; sanity: partial-ef recall stays high
    flat_ids = set(_ids(flat.collect()))
    got_ids = set(_ids(pq8.search(qvec, k=10, ef=50, metric="l2sqr").collect()))
    assert len(got_ids & flat_ids) / 10 >= 0.8


@pytest.fixture(scope="module")
def pq16(emb):
    return PQTable.train(emb, dim=64, m=22, n_bits=4, train_proportion=0.5,
                         vec_col="embedding", id_col="vec_id")


def test_pq_full_ef_equals_flat(emb, pq16, qvec):
    for metric in ("l2sqr", "cosine"):
        flat = knn_ops.knn(emb, qvec, 10, metric, "embedding", id_col="vec_id")
        got = pq16.search(qvec, k=10, ef=500, metric=metric)
        assert _pairs(got.collect()) == _pairs(flat.collect()), metric


def test_pq_adc_p90_error_gate(emb, pq16, qvec):
    # pq_table.rs:374-438: p90 relative ADC error < 0.2 at m=ceil(dim/3)
    adc = {r["vec_id"]: r["dist"] for r in pq16.adc_scan(qvec, "l2sqr").collect()}
    exact = {
        r["vec_id"]: r["dist"]
        for r in knn_ops.knn(emb, qvec, 500, "l2sqr", "embedding", id_col="vec_id").collect()
    }
    errs = [
        abs(adc[v] - d) / d for v, d in exact.items() if d > 1e-6
    ]
    assert np.percentile(errs, 90) < 0.2


def test_pq_partial_ef_recall(emb, pq16, qvec):
    flat_ids = set(_ids(knn_ops.knn(emb, qvec, 10, "l2sqr", "embedding", id_col="vec_id").collect()))
    got_ids = set(_ids(pq16.search(qvec, k=10, ef=50, metric="l2sqr").collect()))
    assert len(got_ids & flat_ids) / 10 >= 0.8


def test_pq_batch_full_ef_equals_flat(emb, pq16):
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat = knn_ops.knn_batch(
        emb, queries, k=5, metric="cosine", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="embedding",
    )
    got = pq16.search_batch(queries, k=5, ef=500, metric="cosine", qvec_col="embedding")
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in flat.collect()]


def test_pq_batch_single_partition_multi_arrow_batch(spark, emb, pq16):
    # the single-partition merge-window skip is only sound if the scan
    # merges ACROSS Arrow batches: force 100-row batches so one
    # partition yields many, and require exact parity with the flat path
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one_part = PQTable(pq16.codebooks, pq16.groups, pq16.n_bits,
                       pq16.codes.coalesce(1), pq16.base,
                       vec_col=pq16.vec_col, id_col=pq16.id_col)
    assert one_part.code_partitions == 1
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        got = one_part.search_batch(queries, k=5, ef=50, metric="l2sqr",
                                    qvec_col="embedding").collect()
    finally:
        spark.conf.set(key, old)
    ref = pq16.search_batch(queries, k=5, ef=50, metric="l2sqr",
                            qvec_col="embedding").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_pq_batch_chunked_lut_broadcast_matches(emb, pq16, monkeypatch):
    # force multiple lookup-tensor chunks (chunk floor is 256 queries)
    # and check the unioned result equals the single-chunk plan
    queries = emb.filter(F.col("vec_id") < 300).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    single = pq16.search_batch(queries, k=3, ef=40, metric="l2sqr",
                               qvec_col="embedding").collect()
    import lab_1806_vec_db_spark.index.pq as pq_mod
    real = pq_mod.build_lookup_batch
    calls: list[int] = []

    def counting(qmat, *a, **kw):
        calls.append(len(qmat))
        return real(qmat, *a, **kw)

    monkeypatch.setattr(pq_mod, "build_lookup_batch", counting)
    chunked = pq16.search_batch(queries, k=3, ef=40, metric="l2sqr",
                                qvec_col="embedding", max_lut_bytes=1).collect()
    assert calls == [256, 44]  # chunk floor of 256 → two lookup tensors
    assert [tuple(r) for r in chunked] == [tuple(r) for r in single]


def test_pq_fused_serve_equals_two_wave(spark, emb, pq16, monkeypatch):
    """Round-14: the fused single-job serve (exact re-rank inside the
    ADC scan, enabled by the train-time (id, code, vec) layout) must
    reproduce the two-wave scan+re-rank plan's rows and order exactly —
    on both sides of the merge gate, both metrics, with the threshold
    filter, and across multi-Arrow-batch tasks."""
    assert pq16.codes_vec is not None  # small table → fused layout built
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    for metric in ("l2sqr", "cosine"):
        for ub in (None, 0.9):
            for bound in (1 << 62, -1):  # driver side, window side
                monkeypatch.setattr(knn_ops, "DRIVER_MERGE_MAX_BYTES", bound)
                fused = pq16.search_batch(
                    queries, k=5, ef=40, metric=metric, qvec_col="embedding",
                    upper_bound=ub).collect()
                two = pq16.search_batch(
                    queries, k=5, ef=40, metric=metric, qvec_col="embedding",
                    upper_bound=ub, fuse_rerank=False).collect()
                assert [tuple(r) for r in fused] == [tuple(r) for r in two], (
                    metric, ub, bound)
    monkeypatch.undo()
    # multi-batch tasks: force 100-row Arrow batches through the fused
    # scan (vector buffering + compaction bookkeeping across batches)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "100")
    try:
        fused_mb = pq16.search_batch(
            queries, k=5, ef=40, metric="l2sqr", qvec_col="embedding").collect()
    finally:
        spark.conf.set(key, old)
    ref = pq16.search_batch(
        queries, k=5, ef=40, metric="l2sqr", qvec_col="embedding",
        fuse_rerank=False).collect()
    assert [tuple(r) for r in fused_mb] == [tuple(r) for r in ref]


def test_pq_train_fuse_byte_gate(emb, monkeypatch):
    """The fused layout is bounded: above SPARK_GRAFT_PQ_FUSE_MAX_BYTES
    the codes frame stays vec-free (the 100 TB shape) and search_batch
    serves the classic two-wave plan."""
    monkeypatch.setenv("SPARK_GRAFT_PQ_FUSE_MAX_BYTES", "1")
    lean = PQTable.train(emb, dim=64, m=22, n_bits=4, train_proportion=0.5,
                         vec_col="embedding", id_col="vec_id")
    assert lean.codes_vec is None
    assert lean.codes.columns == ["vec_id", "code"]


def test_batch_query_caps_raise(emb, pq16, monkeypatch):
    """One shared query cap (operators/knn.py MAX_QUERIES) guards every
    batch tier's driver-collected query block."""
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    monkeypatch.setattr(knn_ops, "MAX_QUERIES", 4)
    ivf = IVFIndex.build(emb, k=8, metric="l2sqr", vec_col="embedding",
                         id_col="vec_id", train_size=300)
    ivfpq = IVFPQIndex.build(emb, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
                             vec_col="embedding", id_col="vec_id",
                             train_size=300)
    serves = [
        lambda: knn_ops.knn_batch(emb, queries, 3, vec_col="embedding",
                                  id_col="vec_id", qvec_col="embedding"),
        lambda: pq16.search_batch(queries, k=3, ef=40, qvec_col="embedding"),
        lambda: ivf.search_batch(queries, k=3, n_probes=2, qvec_col="embedding"),
        lambda: ivfpq.search_batch(queries, k=3, n_probes=2, ef=40,
                                   qvec_col="embedding"),
    ]
    for serve in serves:
        with pytest.raises(ValueError, match="exceeds the broadcast bound"):
            serve()


def test_pq_fuse_rerank_without_vectors_raises(emb, pq16):
    """An explicit fuse_rerank=True on a vec-free codes layout cannot be
    honored: it raises instead of silently serving two-wave."""
    lean = PQTable(pq16.codebooks, pq16.groups, pq16.n_bits, pq16.codes,
                   pq16.base, vec_col=pq16.vec_col, id_col=pq16.id_col)
    assert lean.codes_vec is None
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="fuse_rerank=True"):
        lean.search_batch(queries, k=3, ef=40, qvec_col="embedding",
                          fuse_rerank=True)
    assert lean.search_batch(queries, k=3, ef=40, qvec_col="embedding").count() == 12


# ---- HNSW ------------------------------------------------------------------


@pytest.fixture(scope="module")
def hnsw(emb):
    return HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding", id_col="vec_id",
                           m=16, ef_construction=200)


def test_hnsw_equals_flat_small_set(emb, hnsw, qvec):
    # hnsw_index.rs:713-790: HNSW == Flat on a small set
    flat = knn_ops.knn(emb, qvec, 10, "l2sqr", "embedding", id_col="vec_id")
    got = hnsw.search(qvec, k=10, ef=120)
    assert _pairs(got.collect()) == _pairs(flat.collect())


def test_hnsw_cosine_equals_flat(emb, qvec):
    idx = HNSWIndex.build(emb, metric="cosine", vec_col="embedding", id_col="vec_id")
    flat = knn_ops.knn(emb, qvec, 10, "cosine", "embedding", id_col="vec_id")
    assert _pairs(idx.search(qvec, k=10, ef=120).collect()) == _pairs(flat.collect())


def test_hnsw_batch_recall(emb, hnsw):
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat = knn_ops.knn_batch(emb, queries, k=10, metric="l2sqr", vec_col="embedding",
                             id_col="vec_id", qid_col="query_id", qvec_col="embedding")
    got = hnsw.search_batch(queries, k=10, ef=120, qvec_col="embedding")
    by_q_f, by_q_g = {}, {}
    for r in flat.collect():
        by_q_f.setdefault(r["query_id"], set()).add(r["vec_id"])
    for r in got.collect():
        by_q_g.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(by_q_f[q] & by_q_g.get(q, set())) / 10 for q in by_q_f]
    assert np.mean(recalls) >= 0.95


def test_hnsw_ascending_and_save_load(spark, emb, hnsw, qvec, tmp_path):
    rows = hnsw.search(qvec, k=10, ef=64).collect()
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)
    path = str(tmp_path / "hnsw")
    hnsw.save(path)
    loaded = HNSWIndex.load(spark, path, base=emb)
    assert _pairs(loaded.search(qvec, k=10, ef=64).collect()) == _pairs(rows)


def test_hnsw_pq_auto_steer_dispatch(emb, hnsw, pq16, qvec, monkeypatch):
    """knn_pq dispatch (VERDICT r11 item 6): below the cache-residency
    threshold the auto rule serves the EXACT kernel (ADC steering is
    pure overhead on a cache-hot table), above it the steered one;
    steer=True/False override. Results on the auto path equal the
    plain exact search — same contract, measured faster at small N."""
    from lab_1806_vec_db_spark.index import hnsw as hnsw_mod

    # this fixture is tiny → auto must drop the steering
    assert hnsw.vecs.nbytes < hnsw_mod.ADC_STEER_MIN_BYTES
    assert hnsw._auto_steer_pq(pq16, None) is None
    assert hnsw._auto_steer_pq(pq16, True) is pq16
    assert hnsw._auto_steer_pq(pq16, False) is None
    assert hnsw._auto_steer_pq(None, True) is None
    # above the threshold auto keeps the steering
    monkeypatch.setattr(hnsw_mod, "ADC_STEER_MIN_BYTES", 1)
    assert hnsw._auto_steer_pq(pq16, None) is pq16
    monkeypatch.undo()
    # end-to-end: auto (exact kernel) == plain exact search, and the
    # fork/thread fan-out resolves the rule once (no double-apply)
    exact_i, exact_d = hnsw.search_np(np.asarray(qvec), 10, ef=64)
    auto_i, auto_d = hnsw.search_np(np.asarray(qvec), 10, ef=64, pq=pq16)
    assert np.array_equal(exact_i, auto_i) and np.array_equal(exact_d, auto_d)
    qmat = np.asarray([qvec], dtype=np.float64)
    bi, bd = hnsw.search_many(qmat, 10, ef=64, pq=pq16)
    assert np.array_equal(bi[0], exact_i) and np.array_equal(bd[0], exact_d)


def test_hnsw_pq_full_ef_equals_flat(emb, hnsw, pq16, qvec):
    # knn_pq (hnsw_index.rs:672-696): ADC-steered traversal + exact
    # re-rank; at ef >= n the pool covers the graph, the re-rank is
    # exact, so results equal the flat scan — the same gate the flat-PQ
    # path passes (candidate_pair.rs:102-108 pq_resort)
    flat = knn_ops.knn(emb, qvec, 10, "l2sqr", "embedding", id_col="vec_id")
    ids, dists = hnsw.search_np(np.asarray(qvec), 10, ef=600, pq=pq16,
                                steer=True)
    assert [(int(i), float(d)) for i, d in zip(ids, dists)] == _pairs(flat.collect())


def test_hnsw_pq_batch_matches_driver_kernel(emb, hnsw, pq16):
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qrows = queries.orderBy("query_id").collect()
    qmat = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    rid, rd = hnsw.search_many(qmat, 10, ef=80, pq=pq16, steer=True)
    driver = {
        (int(qrows[r]["query_id"]), int(rid[r, c]))
        for r in range(rid.shape[0]) for c in range(rid.shape[1]) if rid[r, c] >= 0
    }
    dist = {
        (int(r["query_id"]), int(r["vec_id"]))
        for r in hnsw.search_batch(queries, k=10, ef=80, qvec_col="embedding",
                                   pq=pq16, steer=True).collect()
    }
    assert driver == dist


def test_hnsw_pq_partial_ef_recall(emb, hnsw, pq16):
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat = knn_ops.knn_batch(emb, queries, k=10, metric="l2sqr", vec_col="embedding",
                             id_col="vec_id", qid_col="query_id", qvec_col="embedding")
    by_q_f, by_q_g = {}, {}
    for r in flat.collect():
        by_q_f.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = hnsw.search_batch(queries, k=10, ef=120, qvec_col="embedding",
                            pq=pq16, steer=True)
    for r in got.collect():
        by_q_g.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(by_q_f[q] & by_q_g.get(q, set())) / 10 for q in by_q_f]
    assert np.mean(recalls) >= 0.8  # ADC-steered, exact re-ranked


def test_hnsw_empty_build_then_append(spark, emb):
    """Round-12 regression: a graph built over an EMPTY table (create →
    build → first append, the order VecDB's streaming/lifecycle paths
    produce) must absorb its first add_batch. The Arrow-bridge build
    collect materialized empty vecs as (0, 0) — 2-D, so add_batch's
    1-D empty-graph guard didn't fire and the concat raised."""
    import numpy as np

    empty = emb.filter(F.col("vec_id") < 0)
    idx = HNSWIndex.build(empty, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=60)
    assert idx.vecs.shape[0] == 0
    rows = emb.filter(F.col("vec_id") < 10).orderBy("vec_id").collect()
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    vecs = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    idx.add_batch(ids, vecs)
    assert idx.vecs.shape == (10, 64)
    got_i, got_d = idx.search_np(vecs[3], 1, 16)
    assert int(got_i[0]) == 3 and float(got_d[0]) == 0.0


def test_hnsw_driver_pq_caches_key_by_identity(emb, hnsw, pq16):
    """The driver-side twins of the serving-broadcast cache — the
    aligned-codes cache (_codes_for) and the fork-pool key — must also
    key on the pq object AND its codes frame by identity: a recycled
    id() or an in-place codes append (pq.codes swap) otherwise serves
    stale aligned codes from the cache or from forked children."""
    import numpy as np

    qrows = emb.select("embedding").limit(16).collect()
    qmat = np.asarray([r[0] for r in qrows], dtype=np.float64)
    orig_codes = pq16.codes
    try:
        a, _ = hnsw.search_many(qmat, 5, ef=80, pq=pq16, steer=True)
        cache1 = hnsw._pq_cache
        assert cache1 is not None and cache1[0] is pq16
        hnsw.search_many(qmat, 5, ef=80, pq=pq16, steer=True)
        assert hnsw._pq_cache is cache1  # same pq + codes → reused
        pq16.codes = pq16.codes.select("*")  # in-place swap (append path)
        b, _ = hnsw.search_many(qmat, 5, ef=80, pq=pq16, steer=True)
        assert hnsw._pq_cache is not cache1  # re-aligned
        assert np.array_equal(a, b)  # same content → same results
    finally:
        pq16.codes = orig_codes  # module-scoped fixture — restore
        hnsw._pq_cache = None


def test_hnsw_serving_broadcast_pq_identity(emb, hnsw, pq16):
    """The serving-broadcast cache keys on the pq OBJECT and its codes
    frame by identity: a different PQTable (even one landing on a
    recycled id()) or an in-place codes swap (append path) must rebuild
    the broadcast — serving stale ADC codes would silently corrupt the
    steered results."""
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    hnsw.search_batch(queries, k=5, ef=64, qvec_col="embedding",
                      pq=pq16, steer=True).collect()
    assert hnsw._bc_cache is not None and hnsw._bc_cache[0] is pq16
    bc1 = hnsw._bc_cache[2]
    hnsw.search_batch(queries, k=5, ef=64, qvec_col="embedding",
                      pq=pq16, steer=True).collect()
    assert hnsw._bc_cache[2] is bc1  # same pq object + codes → reused
    # an in-place codes swap (what a codes append does) invalidates —
    # same content, new frame object: identity, not equality, is the key
    orig_codes = pq16.codes
    try:
        pq16.codes = pq16.codes.select("*")
        hnsw.search_batch(queries, k=5, ef=64, qvec_col="embedding",
                      pq=pq16, steer=True).collect()
        assert hnsw._bc_cache[2] is not bc1
        bc2 = hnsw._bc_cache[2]
    finally:
        pq16.codes = orig_codes  # module-scoped fixture — restore
    # dropping the pq (cache holds a strong ref, so id() can't be
    # recycled onto a lookalike) and serving un-steered rebuilds again
    hnsw.search_batch(queries, k=5, ef=64, qvec_col="embedding").collect()
    assert hnsw._bc_cache[0] is None and hnsw._bc_cache[2] is not bc2


def test_hnsw_parallel_pool_and_beam_width_exact(emb, hnsw):
    # fork-pool serving and multi-expansion (beam_width>1) must preserve
    # the exactness contract: at ef >= n both equal the serial kernel
    qrows = emb.filter(F.col("vec_id") < 64).orderBy("vec_id").collect()
    qmat = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    sid, sd = hnsw.search_many(qmat, 10, ef=600)
    pid, pdist = hnsw.search_many_parallel(qmat, 10, ef=600, workers=4, beam_width=4)
    hnsw.close_pool()
    assert np.array_equal(sid, pid)
    assert np.allclose(sd, pdist)


def test_hnsw_incremental_add(emb, qvec):
    idx = HNSWIndex.build(emb.limit(100), metric="l2sqr", vec_col="embedding", id_col="vec_id")
    new_vec = np.asarray(qvec) + 0.001
    idx.add_batch(np.array([99999]), new_vec[None, :])
    ids, _ = idx.search_np(np.asarray(qvec), 3, 64)
    assert 99999 in ids


# ---- VecDB wiring + invalidation invariants --------------------------------


@pytest.fixture()
def db(spark, tmp_path):
    d = VecDB(str(tmp_path / "db"), spark=spark)
    yield d
    d.close()


def _seeded(db, key="t", n=30, dim=8):
    db.create_table_if_not_exists(key, dim, "l2sqr")
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(n, dim))
    db.batch_add(key, [[float(x) for x in v] for v in vecs],
                 [{"i": str(i)} for i in range(n)])
    return key, vecs


def test_vecdb_index_ddl_and_search(db):
    key, vecs = _seeded(db)
    db.build_hnsw_index(key)
    assert db.has_hnsw_index(key)
    db.build_hnsw_index(key)  # no-op
    res = db.search(key, [float(x) for x in vecs[5]], k=3)
    assert res[0][0] == {"i": "5"}
    db.build_pq_table(key)
    assert db.has_pq_table(key)
    res_pq = db.search(key, [float(x) for x in vecs[5]], k=3, ef=30)
    assert res_pq[0][0] == {"i": "5"}
    db.build_ivf_index(key, k=4, train_size=30)
    assert db.has_ivf_index(key)


def test_vecdb_invalidation_invariants(db):
    # test_pyo3.py:6-37: add keeps HNSW + clears PQ; delete clears both
    key, vecs = _seeded(db)
    db.build_hnsw_index(key)
    db.build_pq_table(key)
    db.add(key, [0.0] * 8, {"i": "new"})
    assert db.has_hnsw_index(key) and not db.has_pq_table(key)
    # the incrementally-updated graph must actually see the new row
    res = db.search(key, [0.0] * 8, k=1)
    assert res[0][0] == {"i": "new"}
    db.build_pq_table(key)
    db.delete(key, {"i": "new"})
    assert not db.has_hnsw_index(key) and not db.has_pq_table(key)


def test_vecdb_batch_search_dispatch(db, spark):
    key, vecs = _seeded(db)
    queries = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(4)],
        "query_id long, vec array<float>",
    )

    def top1(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], []).append(r["id"])
        return {q: ids[0] for q, ids in out.items()}

    expect = {i: i for i in range(4)}  # self-query → itself
    assert top1(db.batch_search(key, queries, k=3)) == expect  # flat
    db.build_pq_table(key)
    assert top1(db.batch_search(key, queries, k=3, ef=30)) == expect  # PQ branch
    db.build_hnsw_index(key)
    assert top1(db.batch_search(key, queries, k=3)) == expect  # HNSW branch
    # ef + PQ + HNSW → the knn_pq combined branch (metadata_vec_table.rs:201-205)
    assert top1(db.batch_search(key, queries, k=3, ef=30)) == expect
    db.clear_hnsw_index(key)
    db.clear_pq_table(key)
    db.build_ivf_index(key, k=4, train_size=30)
    assert top1(db.batch_search(key, queries, k=3, ef=4)) == expect  # IVF full probe


def test_vecdb_index_persists_across_reopen(spark, tmp_path):
    path = str(tmp_path / "db")
    d1 = VecDB(path, spark=spark)
    key, vecs = _seeded(d1)
    d1.build_hnsw_index(key)
    d1.build_pq_table(key)
    d1.close()
    d2 = VecDB(path, spark=spark)
    assert d2.has_hnsw_index(key) and d2.has_pq_table(key)
    # loads from disk, no rebuild
    res = d2.search(key, [float(x) for x in vecs[7]], k=1)
    assert res[0][0] == {"i": "7"}
    res_pq = d2.search(key, [float(x) for x in vecs[7]], k=1, ef=30)
    assert res_pq[0][0] == {"i": "7"}
    d2.close()

def test_vecdb_append_defers_graph_save(spark, tmp_path, monkeypatch):
    # W4 flush policy: K appends must NOT rewrite the O(N) graph artifact
    # per call — the index is dirty-marked and flushed once at
    # force_save()/close() (the reference's deferred-flush shape,
    # thread_save.rs:97-114).
    path = str(tmp_path / "db")
    d1 = VecDB(path, spark=spark)
    key, vecs = _seeded(d1)
    d1.build_hnsw_index(key)

    saves = []
    real_save = HNSWIndex.save

    def counting_save(self, p):
        saves.append(p)
        real_save(self, p)

    monkeypatch.setattr(HNSWIndex, "save", counting_save)
    for i in range(5):
        d1.add(key, [float(i)] * 8, {"i": f"app{i}"})
    assert saves == []  # no inline rewrite per append
    idx = d1._indexes[key]["hnsw"]
    # appends defer graph absorption entirely (zero driver vector
    # traffic in the ingest loop): the graph lags the table and is
    # still clean here — close() runs the tail sync (dirty-marking it)
    # and then exactly one flush
    assert not idx.dirty
    assert len(idx.ids) == d1.get_len(key) - 5
    d1.close()
    assert len(saves) == 1  # one flush at close
    assert len(idx.ids) == 30 + 5  # tail absorbed before the flush
    assert not idx.dirty

    # reopen: the flushed graph must contain the appended rows
    d2 = VecDB(path, spark=spark)
    assert d2.has_hnsw_index(key)
    res = d2.search(key, [3.0] * 8, k=1)
    assert res[0][0] == {"i": "app3"}
    d2.close()


def test_hnsw_generation_commit_and_cleanup(spark, emb, tmp_path):
    """save() commits through a generation dir with meta.json as the
    single commit point: repeated saves leave exactly one live
    generation, no root-level artifacts, and load() serves the newest
    state; a reader holding a stale meta retries through the
    FileNotFoundError loop instead of pairing mismatched artifacts."""
    import json
    import os

    from lab_1806_vec_db_spark.index.hnsw import HNSWIndex

    path = str(tmp_path / "hx")
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=80)
    idx.save(path)
    gens1 = [d for d in os.listdir(path) if d.startswith("gen-")]
    assert len(gens1) == 1
    idx.save(path)  # second flush retires the first generation
    gens2 = [d for d in os.listdir(path) if d.startswith("gen-")]
    assert len(gens2) == 1 and gens2 != gens1
    assert not os.path.exists(os.path.join(path, "vecs.npy"))
    re = HNSWIndex.load(spark, path, base=emb)
    assert len(re.ids) == len(idx.ids)
    # stale meta pointing at a retired generation → load retries and
    # raises a clear error only after the bounded retry loop
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    meta["gen"] = gens1[0]  # no longer on disk
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="unstable artifacts"):
        HNSWIndex.load(spark, path, base=emb)


def test_hnsw_search_filtered_oversample(spark, emb):
    """Filtered ANN, graph tier: at full beam the oversample-and-filter
    result EQUALS the exact filtered scan; at a partial beam recall
    must clear 0.9; a predicate too selective for the pool falls back
    to the exact scan (never under-fills k while matches exist)."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
    from lab_1806_vec_db_spark.operators import knn as knn_ops

    emb = emb.cache()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    filt = emb.filter(F.col("label") == 3)
    exact = [r["vec_id"] for r in knn_ops.knn(
        filt, q, 10, metric="l2sqr", vec_col="embedding", id_col="vec_id").collect()]

    full = [r["vec_id"] for r in idx.search_filtered(
        q, 10, filt, ef=600, vec_col="embedding").collect()]
    assert full == exact

    part = [r["vec_id"] for r in idx.search_filtered(
        q, 10, filt, ef=60, vec_col="embedding").collect()]
    assert len(set(part) & set(exact)) >= 9

    # selective predicate: only 3 matching rows exist -> exact fallback
    tiny = emb.filter(F.col("vec_id").isin([7, 8, 9]))
    got = [r["vec_id"] for r in idx.search_filtered(
        q, 10, tiny, ef=40, max_rounds=1, vec_col="embedding").collect()]
    assert sorted(got) == [7, 8, 9]


def test_ivfpq_search_filtered_oversample(spark, emb):
    """Filtered ANN, distributed tier: pool semi-join against the
    filtered scan; full-pool equivalence + escalation fallback."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
    from lab_1806_vec_db_spark.operators import knn as knn_ops

    emb = emb.cache()
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx = IVFPQIndex.build(emb, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
                           vec_col="embedding", id_col="vec_id",
                           train_size=500, dim=64)
    filt = emb.filter(F.col("label") == 3)
    exact = [r["vec_id"] for r in knn_ops.knn(
        filt, q, 10, metric="l2sqr", vec_col="embedding", id_col="vec_id").collect()]

    # every cluster probed + pool >= table: survivors == exact
    full = [r["vec_id"] for r in idx.search_filtered(
        q, 10, filt, n_probes=8, ef=1000).collect()]
    assert full == exact

    # tiny allowed set: escalation can't fill k -> exact fallback
    tiny = emb.filter(F.col("vec_id").isin([5, 6]))
    got = [r["vec_id"] for r in idx.search_filtered(
        q, 10, tiny, n_probes=2, ef=40).collect()]
    assert sorted(got) == [5, 6]


def test_vecdb_search_filtered_index_dispatch(spark, tmp_path):
    """VecDB.search_filtered with ef routes through the live index's
    oversample-and-filter path and matches the exact filtered scan."""
    db = VecDB(str(tmp_path / "dbf"), spark=spark)
    key, vecs = _seeded(db, n=40)
    db.build_hnsw_index(key)
    q = [float(x) for x in vecs[3]]
    pat = {"i": "7"}
    exact = db.search_filtered(key, q, 3, pat)
    fast = db.search_filtered(key, q, 3, pat, ef=200)
    assert fast == exact
    db.close()


def test_hnsw_search_batch_filtered(spark, emb):
    """Batch filtered ANN: full-beam equivalence to the exact filtered
    batch scan, and the starved-query exact fallback."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
    from lab_1806_vec_db_spark.operators import knn as knn_ops

    emb = emb.cache()
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    filt = emb.filter(F.col("label") == 4)
    exact = [tuple(r) for r in knn_ops.knn_batch(
        filt, queries, 5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="vec").collect()]
    got = [tuple(r) for r in idx.search_batch_filtered(
        queries, 5, filt, ef=600, vec_col="embedding").collect()]
    assert got == exact

    # starved regime: allowed set smaller than k -> exact fallback fills
    tiny = emb.filter(F.col("vec_id").isin([11, 12, 13]))
    got2 = [tuple(r) for r in idx.search_batch_filtered(
        queries, 5, tiny, ef=40, vec_col="embedding").collect()]
    exact2 = [tuple(r) for r in knn_ops.knn_batch(
        tiny, queries, 5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="vec").collect()]
    assert got2 == exact2


def test_vecdb_search_filtered_sharded_dispatch(spark, tmp_path):
    """search_filtered(ef=...) on a sharded-tier table routes through
    the batch pool→filter→fallback path and matches the exact scan."""
    db = VecDB(str(tmp_path / "dbfs"), spark=spark)
    key, vecs = _seeded(db, n=60)
    db.build_hnsw_index(key, sharded=True, n_shards=3)
    q = [float(x) for x in vecs[9]]
    pat = {"i": "21"}
    exact = db.search_filtered(key, q, 3, pat)
    fast = db.search_filtered(key, q, 3, pat, ef=300)
    assert fast == exact
    db.close()


def test_batch_add_idempotency_token_list_path(spark, tmp_path):
    db = VecDB(str(tmp_path / "dbtok"), spark=spark)
    db.create_table_if_not_exists("t", 2, "l2sqr")
    db.batch_add("t", [[1.0, 2.0]], [{"i": "0"}], idempotency_token="s:0")
    db.batch_add("t", [[1.0, 2.0]], [{"i": "0"}], idempotency_token="s:0")
    assert db.get_len("t") == 1
    db.batch_add("t", [[1.0, 2.0]], [{"i": "1"}], idempotency_token="s:1")
    assert db.get_len("t") == 2
    db.close()


def test_hnsw_selective_filtered_dispatch_skips_pool(spark, emb):
    """HNSW twin of the IVF+PQ selectivity dispatch: matches ≤ pool
    width → zero graph pool passes, exact answer."""
    from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
    from pyspark.sql import functions as F

    base = emb.limit(300).cache()
    idx = HNSWIndex.build(base, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=8)
    calls = {"pool": 0}
    real = idx.search_np

    def spy(*a, **kw):
        calls["pool"] += 1
        return real(*a, **kw)

    idx.search_np = spy
    try:
        filtered = base.filter(F.col("vec_id") < 2)
        q = [float(x) for x in base.filter(F.col("vec_id") == 0).first()["embedding"]]
        rows = idx.search_filtered(q, k=2, filtered_base=filtered,
                                   vec_col="embedding").collect()
    finally:
        idx.search_np = real
    assert calls["pool"] == 0
    assert [r["vec_id"] for r in rows] == [0, 1]
    assert rows[0]["dist"] == 0.0


# ---- u8 through the index tiers (scalar.rs:117-119, dynamic_index.rs) -------


@pytest.fixture(scope="module")
def emb_u8(spark, sf_correct):
    """The driver entries' u8 fixture (plans/entry_queries._emb_u8):
    unit-norm embeddings re-scaled into [0,255] and cast with the
    reference's saturating/NaN→0 semantics — integer-exact distances."""
    from lab_1806_vec_db_spark.plans.entry_queries import _emb_u8

    return _emb_u8(spark, sf_correct).cache()


def _flat_u8(emb_u8, q, k=10):
    return knn_ops.knn(emb_u8, q, k=k, metric="l2sqr",
                       vec_col="embedding", id_col="vec_id").collect()


def test_u8_flat_distances_are_integers(emb_u8):
    q = [float(x) for x in
         emb_u8.filter(F.col("vec_id") == 0).first()["embedding"]]
    rows = _flat_u8(emb_u8, q)
    assert rows[0] ["vec_id"] == 0 and rows[0]["dist"] == 0.0
    assert all(float(r["dist"]).is_integer() for r in rows)


def test_hnsw_u8_equals_flat(emb_u8):
    """Graph tier on the typed table: wide-beam HNSW over u8 vectors
    reproduces the flat u8 scan exactly (the same equivalence gate as
    hnsw_index.rs:713-790, on the u8 arm of the dtype dispatch)."""
    q = [float(x) for x in
         emb_u8.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx = HNSWIndex.build(emb_u8, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=16, ef_construction=200)
    got = idx.search(q, k=10, ef=400).collect()
    assert _pairs(got) == _pairs(_flat_u8(emb_u8, q))


def test_ivf_u8_full_probe_equals_flat(emb_u8):
    q = [float(x) for x in
         emb_u8.filter(F.col("vec_id") == 5).first()["embedding"]]
    idx = IVFIndex.build(emb_u8, k=8, metric="l2sqr", vec_col="embedding",
                         id_col="vec_id", train_size=400)
    got = idx.search(q, k=10, n_probes=8).collect()
    assert _pairs(got) == _pairs(_flat_u8(emb_u8, q))


def test_ivfpq_u8_full_probe_full_ef_equals_flat(emb_u8):
    """Combined tier on u8: all probes + table-sized ef removes the
    approximation, so IVF+PQ on the integer vectors equals flat — the
    codes/ADC/re-rank machinery all run on the u8 table."""
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

    q = [float(x) for x in
         emb_u8.filter(F.col("vec_id") == 3).first()["embedding"]]
    idx = IVFPQIndex.build(emb_u8, k_coarse=8, m=16, n_bits=8,
                           metric="l2sqr", vec_col="embedding",
                           id_col="vec_id", train_size=400)
    got = idx.search(q, k=10, n_probes=8, ef=1_000_000).collect()
    assert _pairs(got) == _pairs(_flat_u8(emb_u8, q))
    # and the driver-local mirror serves the u8 table identically
    assert idx.enable_local_serve()
    loc = idx.search(q, k=10, n_probes=8, ef=1_000_000).collect()
    assert _pairs(loc) == _pairs(got)


def test_pq_u8_full_ef_equals_flat(emb_u8):
    q = [float(x) for x in
         emb_u8.filter(F.col("vec_id") == 7).first()["embedding"]]
    pq = PQTable.train(emb_u8, dim=64, m=16, n_bits=8, train_proportion=0.5,
                       vec_col="embedding", id_col="vec_id")
    got = pq.search(q, k=10, ef=1_000_000, metric="l2sqr").collect()
    assert _pairs(got) == _pairs(_flat_u8(emb_u8, q))

def test_hnsw_serving_broadcast_cached_and_invalidated(emb):
    """search_batch reuses one graph broadcast across calls (re-pickling
    the whole payload per batch is a per-call cost proportional to the
    index size) and invalidates it on add_batch; results track the
    post-add graph."""
    idx = HNSWIndex.build(
        emb.filter(F.col("vec_id") < 400), metric="l2sqr",
        vec_col="embedding", id_col="vec_id", m=16, ef_construction=200,
    )
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx.search_batch(queries, k=5, ef=64, qvec_col="embedding").collect()
    assert idx._bc_cache is not None
    bc1 = idx._bc_cache[2]
    idx.search_batch(queries, k=5, ef=64, qvec_col="embedding").collect()
    assert idx._bc_cache[2] is bc1  # reused, not re-broadcast
    # a write invalidates; the next batch serves the appended row
    row = emb.filter(F.col("vec_id") == 450).first()
    idx.add_batch(np.asarray([450], dtype=np.int64),
                  np.asarray([row["embedding"]], dtype=np.float64))
    assert idx._bc_cache is None
    q450 = emb.filter(F.col("vec_id") == 450).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.search_batch(q450, k=1, ef=64, qvec_col="embedding").collect()
    assert got and got[0]["vec_id"] == 450 and got[0]["dist"] == 0.0
    assert idx._bc_cache[2] is not bc1


def test_hnsw_batch_steers_point_paths_gate(emb, hnsw, pq16):
    """Round-13 steering dispatch: the batch path steers whenever pq is
    given (the LUT build amortizes over the batch — the round-13
    interleaved A/B measured the auto-dropped exact kernel at 1.92 s vs
    0.80 s steered on the sf-suite row), while the driver point paths
    keep the ADC_STEER_MIN_BYTES auto gate (a point query pays the full
    LUT build for one traversal). The asymmetry is deliberate and
    documented on both paths; distances stay exact either way because
    the steered ef pool is exact-re-ranked in-task."""
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    steered = hnsw.search_batch(queries, k=5, ef=64, qvec_col="embedding",
                                pq=pq16).collect()
    # batch path: pq broadcast built and cached — steering is ON
    assert hnsw._bc_cache[0] is pq16
    plain = hnsw.search_batch(queries, k=5, ef=64, qvec_col="embedding",
                              pq=pq16, steer=False).collect()
    assert hnsw._bc_cache[0] is None  # steer=False serves the exact kernel
    # every returned distance is exact: re-ranked rows agree with the
    # exact serve wherever the candidate sets overlap
    exact = {(r["query_id"], r["vec_id"]): r["dist"] for r in plain}
    for r in steered:
        key = (r["query_id"], r["vec_id"])
        if key in exact:
            assert abs(r["dist"] - exact[key]) < 1e-9
    # driver point path below the byte gate: auto drops steering
    from lab_1806_vec_db_spark.index import hnsw as hnsw_mod

    assert hnsw._auto_steer_pq(pq16, None) is None
    assert hnsw.vecs.nbytes < hnsw_mod.ADC_STEER_MIN_BYTES


def test_hnsw_batch_steered_recall_floor(emb, hnsw, pq16):
    """ADVICE r13: steering the batch traversal with ADC distances can
    change the candidate set vs the exact kernel (the batch/point-path
    asymmetry is deliberate), so steering-induced RECALL regressions
    need their own gate: steered-batch recall vs the exact flat scan
    must stay at serving level, and must not sit materially below the
    unsteered batch's own recall."""
    queries = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    gt: dict[int, set[int]] = {}
    for r in knn_ops.knn_batch(
        emb, queries, k=5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="embedding",
    ).collect():
        gt.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))

    def recall(rows) -> float:
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        return sum(
            len(got.get(q, set()) & ids) / len(ids) for q, ids in gt.items()
        ) / len(gt)

    steered = recall(hnsw.search_batch(
        queries, k=5, ef=64, qvec_col="embedding", pq=pq16).collect())
    plain = recall(hnsw.search_batch(
        queries, k=5, ef=64, qvec_col="embedding", pq=pq16,
        steer=False).collect())
    assert steered >= 0.9, f"steered batch recall collapsed: {steered}"
    assert steered >= plain - 0.05, (
        f"ADC steering cost recall: steered {steered} vs exact-kernel "
        f"{plain}"
    )


def test_hnsw_drop_pq_releases_caches(emb, hnsw, pq16):
    """drop_pq() sheds the identity-keyed strong references (_pq_cache,
    fork-pool key) so a long-lived index doesn't pin a retired PQ table
    and its codes DataFrame (round-12 advisory)."""
    import numpy as np

    qmat = np.asarray(
        [r[0] for r in emb.select("embedding").limit(4).collect()],
        dtype=np.float64,
    )
    hnsw.search_many(qmat, 5, ef=64, pq=pq16, steer=True)
    assert hnsw._pq_cache is not None and hnsw._pq_cache[0] is pq16
    hnsw.drop_pq()
    assert hnsw._pq_cache is None
    assert hnsw._pool is None and hnsw._pool_key is None
    # the index still serves after the release
    ids, _ = hnsw.search_np(qmat[0], 3, ef=32)
    assert ids.size == 3


def test_ivf_compute_dtype_follows_store(spark, emb, tmp_path):
    """compute_dtype auto: an f32 layout is scanned with f32 arithmetic
    (no per-batch upcast copy — the round-12 cached-regime regression),
    forced float64 reproduces the validated full-precision behavior
    exactly, and the two agree on ids with dist within the f32 error
    band (~1e-6 relative, far inside the 4-dp grid)."""
    path = str(tmp_path / "ivf_f32c")
    idx32 = IVFIndex.build(emb, k=8, metric="l2sqr", vec_col="embedding",
                           id_col="vec_id", train_size=400, path=path,
                           store_vec_dtype="float32")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    auto = idx32.search_batch(queries, k=5, qvec_col="embedding",
                              n_probes=8).collect()
    f64 = idx32.search_batch(queries, k=5, qvec_col="embedding",
                             n_probes=8, compute_dtype="float64").collect()
    key = lambda r: (r["query_id"], r["vec_id"])
    a, b = sorted(auto, key=key), sorted(f64, key=key)
    assert [key(r) for r in a] == [key(r) for r in b]
    assert all(abs(x["dist"] - y["dist"]) <= 2e-4 for x, y in zip(a, b))
    # forced f32 on a full-precision store also serves (downcast scan)
    idx64 = IVFIndex.build(emb, k=8, metric="l2sqr", vec_col="embedding",
                           id_col="vec_id", train_size=400)
    forced = idx64.search_batch(queries, k=5, qvec_col="embedding",
                                n_probes=8, compute_dtype="float32").collect()
    base = idx64.search_batch(queries, k=5, qvec_col="embedding",
                              n_probes=8).collect()
    fa, bb = sorted(forced, key=key), sorted(base, key=key)
    assert [key(r) for r in fa] == [key(r) for r in bb]
    with pytest.raises(ValueError, match="compute_dtype"):
        idx64.search_batch(queries, k=5, qvec_col="embedding",
                           compute_dtype="float16")
