"""Sharded-HNSW tier (docs/SCALE.md serving tiers): per-shard graphs
built executor-side + centroid router. Gates:

- full-probe sharded == exact flat top-k (the union of shards covers
  the table; each sub-graph is exhaustive at test scale) — the same
  equivalence style as the reference's IVF/HNSW gates
  (ivf_index.rs:166-235, hnsw_index.rs:713-790);
- recall ≥ the broadcast tier on the same data (the tier's promise);
- partial probing keeps high recall on clustered data (the regime the
  router is for);
- save/load roundtrip; routed appends are dirty-marked and flushed on
  save, never lost (W4 invariant on the sharded tier).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex
from lab_1806_vec_db_spark.session import read_table


def _exact_topk(base: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    d = np.einsum("ij,ij->i", base - q, base - q)
    order = np.lexsort((np.arange(len(base)), d))
    return order[:k].tolist()


@pytest.fixture(scope="module")
def mixture(spark):
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, 16)) * 4.0
    rows = np.concatenate(
        [c + rng.normal(size=(500, 16)) * 0.6 for c in centers], axis=0
    )
    pdf = pd.DataFrame({"id": np.arange(rows.shape[0], dtype=np.int64),
                        "vec": list(rows)})
    df = spark.createDataFrame(pdf, schema="id long, vec array<double>").cache()
    df.count()
    return df, rows


def test_sharded_full_probe_is_exact(spark, sf_smoke, tmp_path):
    emb = read_table(spark, sf_smoke, "embeddings").cache()
    base = np.asarray(
        [r["embedding"] for r in emb.orderBy("vec_id").collect()], dtype=np.float64
    )
    idx = ShardedHNSWIndex.build(
        emb, str(tmp_path / "sh"), n_shards=4, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=200,
    )
    assert sum(idx.shard_counts.values()) == base.shape[0]

    qmat = base[:8]
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(8, dtype=np.int64),
                      "vec": list(qmat)}),
        schema="query_id long, vec array<double>",
    )
    res = idx.search_batch(queries, k=10, ef=300, n_probes=4)
    got: dict[int, list[int]] = {}
    for r in res.orderBy("query_id", "dist", "vec_id").collect():
        got.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
    for i in range(8):
        assert got[i] == _exact_topk(base, qmat[i], 10)

    # point serve agrees with the batch path
    ids, dists = idx.search_np(qmat[3], 10, ef=300, n_probes=4)
    assert ids.tolist() == got[3]
    assert np.all(np.diff(dists) >= 0)


def test_sharded_recall_vs_broadcast_tier(spark, mixture, tmp_path):
    df, rows = mixture
    rng = np.random.default_rng(11)
    qmat = rows[rng.choice(rows.shape[0], 50, replace=False)] + \
        rng.normal(size=(50, 16)) * 0.05
    gt = [set(_exact_topk(rows, q, 10)) for q in qmat]

    def recall(ids_batch):
        return float(np.mean([
            len(set(map(int, ids_batch[i])) & gt[i]) / 10 for i in range(len(gt))
        ]))

    flat_graph = HNSWIndex.build(df, metric="l2sqr", vec_col="vec", id_col="id",
                                 m=16, ef_construction=100)
    bids, _ = flat_graph.search_many(qmat, 10, ef=80)
    broadcast_recall = recall(bids)

    sharded = ShardedHNSWIndex.build(
        df, str(tmp_path / "sh"), n_shards=8, metric="l2sqr",
        vec_col="vec", id_col="id", ef_construction=100, train_size=1500,
    )
    full = np.stack([sharded.search_np(q, 10, ef=80, n_probes=8)[0]
                     for q in qmat])
    assert recall(full) >= broadcast_recall  # the tier's promise

    part = np.stack([sharded.search_np(q, 10, ef=80, n_probes=3)[0]
                     for q in qmat])
    assert recall(part) >= 0.9  # clustered data: few probes suffice


def test_sharded_save_load_and_routed_append(spark, mixture, tmp_path):
    df, rows = mixture
    path = str(tmp_path / "sh")
    built = ShardedHNSWIndex.build(
        df, path, n_shards=4, metric="l2sqr", vec_col="vec", id_col="id",
        train_size=1000,
    )
    idx = ShardedHNSWIndex.load(spark, path)
    assert idx.shard_counts == built.shard_counts

    new_vec = rows[42] + 1e-4
    idx.add_batch(np.array([777_000]), new_vec[None, :])
    assert idx.dirty
    ids, _ = idx.search_np(new_vec, 1, ef=100, n_probes=2)
    assert ids[0] == 777_000
    idx.save()
    assert not idx.dirty

    # the flushed shard survives a reload
    re = ShardedHNSWIndex.load(spark, path)
    assert sum(re.shard_counts.values()) == rows.shape[0] + 1
    ids, _ = re.search_np(new_vec, 1, ef=100, n_probes=2)
    assert ids[0] == 777_000


def test_vecdb_sharded_tier_dispatch(spark, tmp_path):
    # build_hnsw_index tier switch + search/batch_search dispatch +
    # append-keeps-index + deferred flush, all through the public API
    from lab_1806_vec_db_spark.db.vecdb import VecDB

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(60, 8))
    d1 = VecDB(str(tmp_path / "db"), spark=spark)
    d1.create_table_if_not_exists("t", 8, "l2sqr")
    d1.batch_add("t", [[float(x) for x in v] for v in vecs],
                 [{"i": str(i)} for i in range(60)])
    d1.build_hnsw_index("t", sharded=True, n_shards=3)
    assert d1._meta("t")["hnsw_params"]["sharded"]

    res = d1.search("t", [float(x) for x in vecs[7]], k=3, ef=100)
    assert res[0][0] == {"i": "7"}

    queries = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(4)],
        "query_id long, vec array<float>",
    )
    got = {}
    for r in d1.batch_search("t", queries, k=1).collect():
        got[int(r["query_id"])] = int(r["id"])
    assert got == {i: i for i in range(4)}

    # routed append: index stays valid, flushes once at close
    d1.add("t", [100.0] * 8, {"i": "far"})
    assert d1.has_hnsw_index("t")
    res = d1.search("t", [100.0] * 8, k=1, ef=100)
    assert res[0][0] == {"i": "far"}
    d1.close()

    d2 = VecDB(str(tmp_path / "db"), spark=spark)
    assert d2.has_hnsw_index("t")
    res = d2.search("t", [100.0] * 8, k=1, ef=100)
    assert res[0][0] == {"i": "far"}
    d2.close()


def test_legacy_artifact_watermark_from_shards(spark, tmp_path):
    """A sharded artifact whose meta predates the watermark loads with
    its largest shard id as the watermark: a current table absorbs
    nothing at open and keeps no shard graph on the driver, and the
    next save persists the watermark."""
    import json
    import os

    from lab_1806_vec_db_spark.db.vecdb import VecDB

    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(60, 8))
    d1 = VecDB(str(tmp_path / "db"), spark=spark)
    d1.create_table_if_not_exists("t", 8, "l2sqr")
    d1.batch_add("t", [[float(x) for x in v] for v in vecs],
                 [{"i": str(i)} for i in range(60)])
    d1.build_hnsw_index("t", sharded=True, n_shards=3)
    meta_path = os.path.join(d1._index_path("t", "hnsw"), "meta.json")
    d1.close()
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["max_committed_id"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    d2 = VecDB(str(tmp_path / "db"), spark=spark)
    idx = d2._get_index("t", "hnsw")
    assert idx.max_committed_id == 59
    assert idx._driver_shards == {}
    assert sum(idx.shard_counts.values()) == 60
    res = d2.search("t", [float(x) for x in vecs[7]], k=1, ef=100)
    assert res[0][0] == {"i": "7"}
    d2.close()
    with open(meta_path) as f:
        assert json.load(f)["max_committed_id"] == 59


def test_batch_serve_sees_appends_and_new_shards(spark, tmp_path):
    # regression: (a) batch serving must not miss appended rows — the
    # serve path flushes dirty shards and the executor cache is
    # version-keyed on the shard meta mtime, so already-cached workers
    # pick up the rewritten graph; (b) an append routed to a shard with
    # no on-disk directory must materialize it before serving
    import numpy as np
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(120, 8))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, vec array<double>",
    )
    path = str(tmp_path / "sharded_append")
    idx = ShardedHNSWIndex.build(df, path, n_shards=2, metric="l2sqr",
                                 vec_col="vec", id_col="id", train_size=120)
    queries = spark.createDataFrame([(0, [25.0] * 8)], "query_id long, vec array<double>")
    # warm the executor cache with the pre-append graphs
    idx.search_batch(queries, k=1, ef=64, n_probes=2).collect()

    # (b) force an empty-shard route: a far-away centroid no build row mapped to
    far = np.full((1, 8), 25.0)
    idx.model.centroids = np.vstack([idx.model.centroids, far])
    idx.add_batch(np.array([500]), far)  # lands in the brand-new shard
    rows = idx.search_batch(queries, k=1, ef=64, n_probes=3).collect()
    assert rows and rows[0]["id"] == 500 and rows[0]["dist"] == 0.0

    # (a) append into an EXISTING shard: visible to batch serving at
    # once, despite workers having cached that shard already
    probe2 = [float(x) for x in vecs[0] + 0.001]
    idx.add_batch(np.array([501]), np.asarray([vecs[0]]))
    q2 = spark.createDataFrame([(1, probe2)], "query_id long, vec array<double>")
    rows2 = idx.search_batch(q2, k=2, ef=64, n_probes=2).collect()
    assert {r["id"] for r in rows2} >= {0, 501} or any(r["id"] == 501 for r in rows2)


def test_crash_window_recovery_no_double_insert(spark, tmp_path):
    """Simulate the worst crash ordering: shard graphs flushed with the
    appended rows but the root meta (counts + watermark) still stale.
    The membership-checked absorb_tail must insert nothing, reconcile
    counts from the artifacts, and serve each appended id exactly once."""
    import numpy as np

    from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex, _shard_dir

    rng = np.random.default_rng(5)
    n, dim = 80, 8
    vecs = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "id long, vec array<double>",
    )
    path = str(tmp_path / "sharded_crash")
    idx = ShardedHNSWIndex.build(df, path, n_shards=2, metric="l2sqr",
                                 vec_col="vec", id_col="id", train_size=40)
    new_vecs = rng.normal(size=(5, dim))
    new_ids = np.arange(n, n + 5, dtype=np.int64)
    idx.add_batch(new_ids, new_vecs)
    # crash simulation: shards flushed, root meta NOT rewritten
    for sid, shard in idx._driver_shards.items():
        if shard.dirty:
            shard.save(_shard_dir(idx.path, sid))

    idx2 = ShardedHNSWIndex.load(None, path)
    assert idx2.max_committed_id == n - 1  # stale watermark, as after a crash
    cand_ids = new_ids
    inserted = idx2.absorb_tail(cand_ids, new_vecs)
    assert inserted == 0  # every candidate already in a flushed shard
    assert sum(idx2.shard_counts.values()) == n + 5  # counts reconciled
    # each appended vector is served exactly once at its own position
    for i, q in enumerate(new_vecs):
        ids, dists = idx2.search_np(q, k=5, ef=200, n_probes=2)
        assert list(ids).count(n + i) == 1 and dists[list(ids).index(n + i)] == 0.0

    # opposite ordering: NOTHING flushed (shards stale too) -> absorb
    # must insert all candidates
    idx3 = ShardedHNSWIndex.build(df, str(tmp_path / "sharded_crash2"), n_shards=2,
                                  metric="l2sqr", vec_col="vec", id_col="id",
                                  train_size=40)
    idx3b = ShardedHNSWIndex.load(None, str(tmp_path / "sharded_crash2"))
    assert idx3b.absorb_tail(new_ids, new_vecs) == 5
    assert sum(idx3b.shard_counts.values()) == n + 5


def test_sharded_search_batch_filtered(spark, sf_correct, tmp_path):
    """Batch filtered ANN on the sharded tier: all-shard wide-beam pool
    == exact filtered batch scan; the tier switch preserves the
    filtered-search contract."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex
    from lab_1806_vec_db_spark.operators import knn as knn_ops
    from lab_1806_vec_db_spark.session import read_table

    emb = read_table(spark, sf_correct, "embeddings").cache()
    idx = ShardedHNSWIndex.build(
        emb, str(tmp_path / "shx"), n_shards=3, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=200,
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    filt = emb.filter(F.col("label") == 6)
    exact = [tuple(r) for r in knn_ops.knn_batch(
        filt, queries, 5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="vec").collect()]
    got = [tuple(r) for r in idx.search_batch_filtered(
        queries, 5, filt, ef=600, n_probes=3, vec_col="embedding").collect()]
    assert got == exact
