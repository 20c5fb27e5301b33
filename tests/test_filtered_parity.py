"""One filtered-kNN algorithm. ``VecDB.search_filtered`` runs the tier's
batch filtered plan (``VecDB.batch_search_filtered``) over a one-row
query matrix, so on every tier a point query and a one-row batch return
the same rows: the exact filtered scan (flat), or an index's candidate
pool joined against the filtered scan with the exact scan for queries
the pool cannot fill (HNSW, sharded HNSW, IVF+PQ with and without the
driver mirror). Also pinned here: the Spark jobs one filtered point
query costs, the dimension guard of every tier's filtered batch, and
that an HNSW matrix block returns the rows of the DataFrame block."""

from __future__ import annotations

import uuid

import numpy as np
import pytest

from lab_1806_vec_db_spark.db.vecdb import VecDB
from lab_1806_vec_db_spark.index.pq import PQTable

N, DIM, K, EF = 400, 16, 5, 100
TIERS = ("flat", "hnsw", "sharded", "ivfpq_mirror", "ivfpq_spark")
BUILD = {
    "flat": lambda db, key: None,
    "hnsw": lambda db, key: db.build_hnsw_index(key),
    "sharded": lambda db, key: db.build_hnsw_index(key, sharded=True, n_shards=3),
    "ivfpq_mirror": lambda db, key: db.build_ivfpq_index(
        key, k_coarse=8, m=8, n_bits=8, train_size=N, n_probes=3),
}
BUILD["ivfpq_spark"] = BUILD["ivfpq_mirror"]
#: ~10% of rows; one row (fewer than k: the starved case); no row
PATTERNS = {"cat": {"cat": "c3"}, "starved": {"i": "17"}, "none": {"cat": "zz"}}


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """(tier, metric) → (db, key, queries) over the same seeded clustered
    vectors; the ``ivfpq_spark`` tables live in a manager with
    ``local_serve`` off. Nothing here runs a point ``search``, so no
    table builds its driver metadata map."""
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(8, DIM))
    vecs = centers[rng.integers(0, 8, N)] + 0.3 * rng.normal(size=(N, DIM))
    queries = [[float(x) for x in v] for v in rng.normal(size=(3, DIM))]
    db = VecDB(str(tmp_path_factory.mktemp("fparity")), spark=spark)
    db_spark = VecDB(str(tmp_path_factory.mktemp("fparity_spark")), spark=spark)
    db_spark.local_serve = False
    out = {}
    for tier in TIERS:
        owner = db_spark if tier == "ivfpq_spark" else db
        for metric in ("l2sqr", "cosine"):
            key = f"{tier}_{metric}"
            owner.create_table_if_not_exists(key, DIM, metric)
            owner.batch_add(key, [[float(x) for x in v] for v in vecs],
                            [{"i": str(i), "cat": f"c{i % 10}"} for i in range(N)])
            BUILD[tier](owner, key)
            out[tier, metric] = (owner, key, queries)
    yield out
    db.close()
    db_spark.close()


def _one_row(spark, q):
    return spark.createDataFrame([(0, q)], "query_id long, vec array<double>")


def _point(db, key, q, pattern, ef):
    return sorted((int(md["i"]), round(d, 4))
                  for md, d in db.search_filtered(key, q, K, pattern, ef=ef))


def _batch(spark, db, key, q, pattern, ef):
    return sorted((int(r["id"]), round(r["dist"], 4)) for r in
                  db.batch_search_filtered(key, _one_row(spark, q), K, pattern,
                                           ef=ef).collect())


@pytest.mark.parametrize("pred", list(PATTERNS))
@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
@pytest.mark.parametrize("tier", TIERS)
def test_point_filtered_equals_one_row_batch(spark, tables, tier, metric, pred):
    """``search_filtered`` returns the ids and 4-dp distances of a
    one-row ``batch_search_filtered``; with fewer than k matching rows
    both equal the exact filtered flat scan, and with none both are
    empty."""
    db, key, queries = tables[tier, metric]
    pattern = PATTERNS[pred]
    ef = None if tier == "flat" else EF
    for q in queries:
        point = _point(db, key, q, pattern, ef)
        assert point == _batch(spark, db, key, q, pattern, ef), (tier, q[:2])
        if pred == "cat":
            assert len(point) == K
            assert all(i % 10 == 3 for i, _ in point)
        elif pred == "starved":
            assert point == [(17, point[0][1])]
            assert point == _batch(spark, db, key, q, pattern, None)
        else:
            assert point == []


@pytest.mark.parametrize("tier", TIERS)
def test_filtered_batch_dimension_guard(spark, tables, tier):
    """A query block of the wrong width raises on every tier's filtered
    batch, as a wrong-width point query does."""
    db, key, queries = tables[tier, "l2sqr"]
    ef = None if tier == "flat" else EF
    wide = queries[0] + [0.0]
    with pytest.raises(ValueError, match="Dimension mismatch"):
        db.search_filtered(key, wide, K, PATTERNS["cat"], ef=ef)
    with pytest.raises(ValueError, match="Dimension mismatch"):
        db.batch_search_filtered(key, _one_row(spark, wide), K, PATTERNS["cat"],
                                 ef=ef)


@pytest.mark.parametrize("with_pq", [False, True])
def test_hnsw_matrix_block_matches_frame_block(spark, tables, with_pq):
    """An HNSW matrix block is served on the driver with the tasks'
    kernel and steering rule: it returns the DataFrame block's rows, and
    a block of the wrong width raises."""
    db, key, queries = tables["hnsw", "l2sqr"]
    idx = db._get_index(key, "hnsw")
    pq = None
    if with_pq:
        pq = PQTable.train(db.table_df(key), dim=DIM, m=8, n_bits=8,
                           train_proportion=0.5)
    frame = spark.createDataFrame(list(enumerate(queries)),
                                  "query_id long, vec array<double>")
    by_frame = sorted(tuple(r) for r in idx.search_batch(frame, K, ef=20, pq=pq).collect())
    by_matrix = sorted(tuple(r) for r in idx.search_batch(np.asarray(queries), K,
                                                           ef=20, pq=pq).collect())
    assert len(by_frame) == 3 * K and by_matrix == by_frame
    with pytest.raises(ValueError, match="Dimension mismatch"):
        idx.search_batch(np.zeros((1, DIM + 1)), K, ef=20)


@pytest.mark.parametrize("tier,pred,jobs", [
    ("flat", "cat", 2), ("flat", "starved", 2),
    ("hnsw", "cat", 2), ("hnsw", "starved", 3),
    ("sharded", "cat", 5), ("sharded", "starved", 6),
    ("ivfpq_mirror", "cat", 2), ("ivfpq_mirror", "starved", 3),
    ("ivfpq_spark", "cat", 3), ("ivfpq_spark", "starved", 4),
])
def test_point_filtered_job_count(spark, tables, tier, pred, jobs):
    """After one warm-up call (index load, IVF+PQ mirror), a filtered
    point query runs: the flat scan, or the pool's jobs (none from an
    HNSW graph or the IVF+PQ mirror, one ADC scan for IVF+PQ served by
    Spark, the routed shuffle and its merge for sharded HNSW), the
    survivors (one ``id IN`` scan for a driver-local pool, the broadcast
    join for sharded HNSW's) and, when starved, the exact scan; then the
    metadata lookup of the returned ids."""
    db, key, queries = tables[tier, "l2sqr"]
    ef = None if tier == "flat" else EF
    pattern = PATTERNS[pred]
    db.search_filtered(key, queries[0], K, pattern, ef=ef)
    sc = spark.sparkContext
    group = f"fpoint_{tier}_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "filtered point search")
    try:
        db.search_filtered(key, queries[1], K, pattern, ef=ef)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
