"""One Spark plan per scan tier. ``VecDB.search`` serves a point query
on the driver (HNSW, the IVF+PQ mirror) or runs the tier's batch plan
over a one-row query matrix (flat, IVF, PQ, IVF+PQ without the mirror),
so a point query and a one-row ``batch_search`` return the same rows on
every tier. Also pinned here: the Spark jobs one point query costs, and
the dimension guard every scan tier's query block passes."""

from __future__ import annotations

import uuid

import numpy as np
import pytest

from lab_1806_vec_db_spark.db.vecdb import VecDB

N, DIM, K = 400, 16, 5
TIERS = ("flat", "ivf", "pq", "ivfpq_mirror", "ivfpq_spark", "hnsw")
#: the ef each tier is served with; IVF reads it as n_probes, so its
#: point queries probe 2 of 16 lists
EF = {"flat": 40, "ivf": 2, "pq": 40, "ivfpq_mirror": 40, "ivfpq_spark": 40,
      "hnsw": 40}
BUILD = {
    "flat": lambda db, key: None,
    "ivf": lambda db, key: db.build_ivf_index(key, k=16, train_size=N),
    "pq": lambda db, key: db.build_pq_table(key, train_proportion=0.5,
                                            n_bits=8, m=8),
    "ivfpq_mirror": lambda db, key: db.build_ivfpq_index(
        key, k_coarse=8, m=8, n_bits=8, train_size=N, n_probes=3),
    "hnsw": lambda db, key: db.build_hnsw_index(key),
}
BUILD["ivfpq_spark"] = BUILD["ivfpq_mirror"]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """(tier, metric) → (db, key, queries): one table per tier and metric
    over the same seeded clustered vectors; the ``ivfpq_spark`` tables
    live in a manager with ``local_serve`` off."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(8, DIM))
    vecs = centers[rng.integers(0, 8, N)] + 0.3 * rng.normal(size=(N, DIM))
    queries = [[float(x) for x in v] for v in rng.normal(size=(4, DIM))]
    db = VecDB(str(tmp_path_factory.mktemp("parity")), spark=spark)
    db_spark = VecDB(str(tmp_path_factory.mktemp("parity_spark")), spark=spark)
    db_spark.local_serve = False
    out = {}
    for tier in TIERS:
        owner = db_spark if tier == "ivfpq_spark" else db
        for metric in ("l2sqr", "cosine"):
            key = f"{tier}_{metric}"
            owner.create_table_if_not_exists(key, DIM, metric)
            owner.batch_add(key, [[float(x) for x in v] for v in vecs],
                            [{"i": str(i)} for i in range(N)])
            BUILD[tier](owner, key)
            out[tier, metric] = (owner, key, queries)
    yield out
    db.close()
    db_spark.close()


def _one_row(spark, q):
    return spark.createDataFrame([(0, q)], "query_id long, vec array<double>")


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
@pytest.mark.parametrize("tier", TIERS)
def test_point_search_equals_one_row_batch(spark, tables, tier, metric):
    """``search(q, k, ef)`` returns the ids and 4-dp distances of
    ``batch_search`` over the one-row block ``[q]``. On the IVF table
    both probe ``ef`` lists, so some point answer differs from the exact
    one."""
    db, key, queries = tables[tier, metric]
    differs_from_exact = False
    for q in queries:
        point = db.search(key, q, K, ef=EF[tier])
        batch = db.batch_search(key, _one_row(spark, q), K, ef=EF[tier]).collect()
        got = sorted((int(md["i"]), round(d, 4)) for md, d in point)
        want = sorted((int(r["id"]), round(r["dist"], 4)) for r in batch)
        assert got and got == want, (tier, metric, q[:2])
        if tier == "ivf":
            exact = db.batch_search(key, _one_row(spark, q), K).collect()
            differs_from_exact |= want != sorted(
                (int(r["id"]), round(r["dist"], 4)) for r in exact)
    assert differs_from_exact or tier != "ivf"


@pytest.mark.parametrize("tier,jobs", [
    ("flat", 2), ("ivf", 2), ("pq", 2), ("hnsw", 0), ("ivfpq_mirror", 0),
])
def test_point_search_job_count(spark, tables, tier, jobs):
    """After one warm-up call (index load, metadata map, IVF+PQ mirror),
    a point ``search`` runs the tier's scan job and the metadata lookup
    of the returned ids on flat, IVF and PQ, and no Spark job on HNSW or
    the IVF+PQ mirror."""
    db, key, queries = tables[tier, "l2sqr"]
    db.search(key, queries[0], K, ef=EF[tier])
    sc = spark.sparkContext
    group = f"point_{tier}_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "point search")
    try:
        db.search(key, queries[1], K, ef=EF[tier])
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


@pytest.mark.parametrize("tier", ["flat", "ivf", "pq", "ivfpq_spark"])
def test_scan_tier_point_search_reads_only_result_metadata(
        spark, tmp_path, monkeypatch, tier):
    """The first point ``search`` after a write on a scan tier attaches
    the metadata of its ≤ k ids without building the whole table's
    driver map (the write drops any map; IVF and PQ are rebuilt after
    it, since a write clears them)."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(N, DIM))
    db = VecDB(str(tmp_path), spark=spark)
    db.local_serve = False
    key = "t"
    db.create_table_if_not_exists(key, DIM, "l2sqr")
    db.batch_add(key, [[float(x) for x in v] for v in vecs],
                 [{"i": str(i)} for i in range(N)])
    q = [float(x) for x in rng.normal(size=DIM)]
    db.add(key, q, {"i": str(N)})  # the query itself: its own nearest row
    BUILD[tier](db, key)

    def whole_table_map(self, key):
        raise AssertionError("whole-table metadata map built")

    monkeypatch.setattr(VecDB, "_metadata_map", whole_table_map)
    got = db.search(key, q, K, ef=EF[tier])
    assert got[0] == ({"i": str(N)}, pytest.approx(0.0, abs=1e-6))
    assert len(got) == K and all(md for md, _ in got)
    assert "_mdmap" not in db._indexes.get(key, {})
    db.close()


@pytest.mark.parametrize("tier", ["flat", "ivf", "pq", "ivfpq_spark"])
def test_batch_query_dimension_guard(spark, tables, tier):
    """A query block of the wrong width raises the same error as a
    wrong-width point ``search`` on every scan tier's batch serve."""
    db, key, queries = tables[tier, "l2sqr"]
    with pytest.raises(ValueError, match="Dimension mismatch"):
        db.search(key, queries[0] + [0.0], K, ef=EF[tier])
    with pytest.raises(ValueError, match="Dimension mismatch"):
        db.batch_search(key, _one_row(spark, queries[0] + [0.0]), K, ef=EF[tier])


def test_ivfpq_mirror_batch_jobs(spark, tables):
    """The IVF+PQ mirror's batch serve runs no Spark job beyond the
    collect of a DataFrame query block, and none for a matrix block;
    both blocks return the same rows."""
    db, key, queries = tables["ivfpq_mirror", "l2sqr"]
    db.search(key, queries[0], K, ef=EF["ivfpq_mirror"])  # builds the mirror
    idx = db._get_index(key, "ivfpq")
    assert idx._local_state() is not None
    frame = spark.createDataFrame(list(enumerate(queries)),
                                  "query_id long, vec array<double>")
    sc = spark.sparkContext

    def serve(block):
        group = f"mirror_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "mirror batch serve")
        try:
            rows = [tuple(r) for r in idx.search_batch(block, K, 3, 40).collect()]
        finally:
            sc._jsc.clearJobGroup()
        return rows, len(sc.statusTracker().getJobIdsForGroup(group))

    by_frame, frame_jobs = serve(frame)
    by_matrix, matrix_jobs = serve(np.asarray(queries))
    assert (frame_jobs, matrix_jobs) == (1, 0)
    assert len(by_frame) == 4 * K and by_frame == by_matrix


def test_local_frame_reads_run_no_job(spark):
    """A driver-local frame (``isLocal()``: built from Arrow on the
    driver) is read with ``collect()``, which runs no Spark job, by both
    ``collect_query_block`` and ``collect_columns``; a frame that is not
    local takes one Arrow collect. Both reads return the same values."""
    import pyarrow as pa

    from lab_1806_vec_db_spark.operators.knn import (
        collect_columns,
        collect_query_block,
        driver_topk_merge,
    )

    q = np.arange(6, dtype=np.float64).reshape(2, 3)
    local = spark.createDataFrame(pa.table({
        "query_id": pa.array([4, 9], pa.int64()),
        "vec": pa.array(q.tolist(), pa.list_(pa.float64())),
    }))
    remote = spark.createDataFrame([(4, q[0].tolist()), (9, q[1].tolist())],
                                   "query_id long, vec array<double>")
    merged = driver_topk_merge(spark, np.array([0, 0, 1]), np.array([5, 6, 7]),
                               np.array([0.5, 0.25, 1.0]), 2, "id", None)
    assert local.isLocal() and merged.isLocal() and not remote.isLocal()
    sc = spark.sparkContext

    def read(fn):
        group = f"read_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "frame read")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    (lq, lm), l_jobs = read(lambda: collect_query_block(local, "query_id", "vec", 3))
    (rq, rm), r_jobs = read(lambda: collect_query_block(remote, "query_id", "vec", 3))
    cols, m_jobs = read(lambda: collect_columns(merged, "query_id", "id", "dist"))
    assert (l_jobs, r_jobs, m_jobs) == (0, 1, 0)
    assert lq.tolist() == rq.tolist() == [4, 9]
    assert np.array_equal(lm, q) and np.array_equal(rm, q)
    assert [c.tolist() for c in cols] == [[0, 0, 1], [6, 5, 7], [0.25, 0.5, 1.0]]


@pytest.mark.parametrize("form", ["point", "batch", "point_filtered",
                                  "batch_filtered"])
@pytest.mark.parametrize("tier", TIERS)
def test_k_ef_contract(spark, tables, tier, form):
    """One ``k`` / ``ef`` contract on every tier and serve form
    (``knn.serve_k``): ``k = 0`` returns the empty result, and ``k < 0``
    or an ``ef`` below 1 raises ``ValueError``."""
    db, key, queries = tables[tier, "l2sqr"]
    q = queries[0]
    serve = {
        "point": lambda k, ef: db.search(key, q, k, ef=ef),
        "batch": lambda k, ef: db.batch_search(
            key, _one_row(spark, q), k, ef=ef).collect(),
        "point_filtered": lambda k, ef: db.search_filtered(
            key, q, k, {}, ef=ef),
        "batch_filtered": lambda k, ef: db.batch_search_filtered(
            key, _one_row(spark, q), k, {}, ef=ef).collect(),
    }[form]
    assert serve(0, EF[tier]) == [] and serve(0, None) == []
    for k, ef in ((-1, EF[tier]), (-1, None), (K, 0), (K, -1)):
        with pytest.raises(ValueError, match="must be >= "):
            serve(k, ef)
    assert len(serve(K, EF[tier])) == K
