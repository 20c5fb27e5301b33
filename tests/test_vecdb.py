"""VecDB manager parity — mirrors the reference's e2e flow
(examples/test_pyo3.py:6-37, README.md:26-63) and the manager unit test
(database/mod.rs:543-610): create, add, search with upper_bound,
pattern delete, unicode keys, lock exclusivity, extract, catalog ops."""

from __future__ import annotations

import pytest

from lab_1806_vec_db_spark.db.vecdb import VecDB, sanitize_key


@pytest.fixture()
def db(spark, tmp_path):
    d = VecDB(str(tmp_path / "db"), spark=spark)
    yield d
    d.close()


def _tiny4d(db, key="table"):
    # the README's own fixture (README.md:39-44 / test_pyo3.py:13-18)
    db.create_table_if_not_exists(key, 4, "cosine")
    db.batch_add(
        key,
        [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0], [0.0, 0.0, 0.0, 1.0]],
        [{"content": "a"}, {"content": "b"}, {"content": "c"}, {"content": "d"}],
    )
    db.add(key, [0.7, 0.7, 0.0, 0.0], {"type": "oops"})
    return key


def test_create_and_catalog(db):
    assert db.create_table_if_not_exists("t1", 4, "cosine") is True
    assert db.create_table_if_not_exists("t1", 4, "cosine") is False
    assert db.contains_key("t1") and not db.contains_key("nope")
    assert db.get_all_keys() == ["t1"]
    assert db.get_dim("t1") == 4 and db.get_dist("t1") == "cosine" and db.get_len("t1") == 0
    with pytest.raises(ValueError, match="Invalid distance function"):
        db.create_table_if_not_exists("t2", 4, "euclid")


def test_readme_e2e_flow(db):
    # README.md:39-58: add 4 one-hots + an 'oops' row, delete by pattern,
    # search([1,0,0,0], k=3, upper_bound=0.5) → exactly [("a", ~0.0)]
    key = _tiny4d(db)
    assert db.get_len(key) == 5
    deleted = db.delete(key, {"type": "oops"})
    assert deleted == 1 and db.get_len(key) == 4
    res = db.search(key, [1.0, 0.0, 0.0, 0.0], k=3, upper_bound=0.5)
    assert len(res) == 1
    md, dist = res[0]
    assert md["content"] == "a" and dist == pytest.approx(0.0, abs=1e-4)


def test_search_ordering_and_k(db):
    key = _tiny4d(db)
    res = db.search(key, [1.0, 0.1, 0.0, 0.0], k=3)
    assert len(res) == 3
    dists = [d for _, d in res]
    assert dists == sorted(dists)
    assert res[0][0].get("content", res[0][0].get("type")) in ("a", "oops")


def test_dim_mismatch_raises(db):
    key = _tiny4d(db)
    with pytest.raises(ValueError, match="Dimension mismatch"):
        db.add(key, [1.0, 0.0], {"content": "short"})
    with pytest.raises(ValueError, match="Dimension mismatch"):
        db.search(key, [1.0, 0.0], k=1)
    with pytest.raises(ValueError, match="Length mismatch"):
        db.batch_add(key, [[1.0, 0.0, 0.0, 0.0]], [])


def test_pattern_delete_subset_match(db):
    key = "t"
    db.create_table_if_not_exists(key, 2, "l2sqr")
    db.batch_add(
        key,
        [[0.0, 0.0], [1.0, 0.0], [2.0, 0.0], [3.0, 0.0]],
        [
            {"group": "x", "keep": "no"},
            {"group": "x", "keep": "yes"},
            {"group": "y", "keep": "no"},
            {"group": "x"},
        ],
    )
    # subset match: ∀(k,v)∈pattern metadata[k]==v — only row 0 matches both
    assert db.delete(key, {"group": "x", "keep": "no"}) == 1
    assert db.get_len(key) == 3
    # missing key never matches (metadata[k] is NULL)
    assert db.delete(key, {"keep": "maybe"}) == 0
    assert db.delete(key, {"group": "x"}) == 2
    assert db.get_len(key) == 1


def test_unicode_keys_and_sanitize(db):
    # database/mod.rs:543-610 uses unicode table keys
    key = "表格/один✓"
    assert db.create_table_if_not_exists(key, 2, "l2sqr")
    db.batch_add(key, [[1.0, 2.0]], [{"k": "v"}])
    assert db.get_len(key) == 1
    assert db.search(key, [1.0, 2.0], k=1)[0][0] == {"k": "v"}
    assert sanitize_key("a/b c✓") == "a_b_c_"
    assert len(sanitize_key("x" * 100)) == 32
    # two keys sanitizing to the same filename must not collide
    assert db.create_table_if_not_exists("表格/один☂", 2, "l2sqr")
    db.batch_add("表格/один☂", [[9.0, 9.0]], [{"k": "other"}])
    assert db.search(key, [1.0, 2.0], k=1)[0][0] == {"k": "v"}


def test_extract_data_roundtrip(db):
    key = _tiny4d(db)
    data = db.extract_data(key)
    assert len(data) == 5
    vecs, metas = zip(*data)
    assert list(vecs[0]) == [1.0, 0.0, 0.0, 0.0]
    assert metas[4] == {"type": "oops"}


def test_delete_table_and_cache_ops(db):
    key = _tiny4d(db)
    _ = db.table_df(key)
    assert db.contains_cached(key) and db.get_cached_tables() == [key]
    db.remove_cached_table(key)
    assert not db.contains_cached(key)
    assert db.delete_table(key) is True
    assert db.delete_table(key) is False
    assert not db.contains_key(key)


def test_lock_exclusive(spark, tmp_path):
    # examples/test_try_lock.py:3-4 — a second manager on the same dir fails
    d1 = VecDB(str(tmp_path / "db"), spark=spark)
    with pytest.raises(RuntimeError, match="lock"):
        VecDB(str(tmp_path / "db"), spark=spark)
    d1.close()
    d2 = VecDB(str(tmp_path / "db"), spark=spark)  # reopenable after close
    d2.close()


def test_persistence_across_managers(spark, tmp_path):
    # crash-safety parity (examples/test_exception.py): a new manager on
    # the same dir sees everything the previous one wrote
    path = str(tmp_path / "db")
    d1 = VecDB(path, spark=spark)
    d1.create_table_if_not_exists("t", 2, "cosine")
    d1.batch_add("t", [[1.0, 0.0], [0.0, 1.0]], [{"i": "0"}, {"i": "1"}])
    d1.close()
    d2 = VecDB(path, spark=spark)
    assert d2.get_len("t") == 2 and d2.get_dim("t") == 2
    res = d2.search("t", [1.0, 0.0], k=1)
    assert res[0][0] == {"i": "0"}
    d2.close()


def test_batch_search_dataframe_form(db, spark):
    key = _tiny4d(db)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "query_id long, vec array<float>",
    )
    out = db.batch_search(key, queries, k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["id"])
    assert by_q[0][0] == 0 and by_q[1][0] == 3


def test_ivfpq_index_build_dispatch_invalidate(db, spark, tmp_path):
    # IVF+PQ tier: build, batch dispatch routes through it, reopen
    # serves from the persisted artifact, writes invalidate it
    import numpy as np

    key = "big"
    db.create_table_if_not_exists(key, 8, "l2sqr")
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(64, 8)).astype(float)
    db.batch_add(key, [list(map(float, v)) for v in vecs],
                 [{"i": str(i)} for i in range(64)])
    db.build_ivfpq_index(key, k_coarse=4, m=4, n_bits=8, train_size=64,
                         n_probes=4)
    assert db.has_ivfpq_index(key)
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[3]])], "query_id long, vec array<double>"
    )
    # all 4 probes + wide ef ⇒ exact: top-1 must be the query row itself
    rows = db.batch_search(key, queries, k=3, ef=64).collect()
    assert rows and rows[0]["id"] == 3 and rows[0]["dist"] == pytest.approx(0.0, abs=1e-4)
    # restart: the artifact reloads lazily and serves identically
    db.close()
    d2 = VecDB(db.dir, spark=spark)
    assert d2.has_ivfpq_index(key)
    rows2 = d2.batch_search(key, queries, k=3, ef=64).collect()
    assert [(r["id"], r["dist"]) for r in rows2] == [(r["id"], r["dist"]) for r in rows]
    # a write is absorbed incrementally: frozen quantizers encode the
    # new row, the codes table gets an O(batch) append, and the index
    # stays live — the new vector is immediately searchable
    d2.batch_add(key, [[9.0] * 8], [{"i": "new"}])
    assert d2.has_ivfpq_index(key)
    q_new = spark.createDataFrame([(1, [9.0] * 8)], "query_id long, vec array<double>")
    rows3 = d2.batch_search(key, q_new, k=1, ef=64).collect()
    assert rows3 and rows3[0]["dist"] == pytest.approx(0.0, abs=1e-4)
    # pattern delete still clears it (codes would go stale)
    d2.delete(key, {"i": "new"})
    assert not d2.has_ivfpq_index(key)
    d2.close()


def test_pq_table_reopened_serves_fused(spark, tmp_path, monkeypatch, caplog):
    """A VecDB PQ table persists its vectors next to its codes, so after
    a close and reopen ``batch_search`` serves the fused plan: the
    query-block collect plus one ADC-and-re-rank scan, 2 Spark jobs. Its
    rows equal the forced two-wave serve's (``FUSE_MAX_DIM = 0``)."""
    import logging
    import uuid

    import numpy as np

    from lab_1806_vec_db_spark.index import pq as pq_mod

    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    path = str(tmp_path / "pqdb")
    d1 = VecDB(path, spark=spark)
    d1.create_table_if_not_exists("t", 16, "l2sqr")
    vecs = np.random.default_rng(11).normal(size=(300, 16))
    d1.batch_add("t", [[float(x) for x in v] for v in vecs],
                 [{"i": str(i)} for i in range(300)])
    d1.build_pq_table("t", train_proportion=0.5, n_bits=8, m=8)
    d1.close()
    d2 = VecDB(path, spark=spark)
    queries = spark.createDataFrame(
        [(q, [float(x) for x in vecs[q]]) for q in range(20)],
        "query_id long, vec array<double>",
    ).cache()
    queries.count()
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def serve(fuse_max_dim):
        monkeypatch.setattr(pq_mod, "FUSE_MAX_DIM", fuse_max_dim)
        d2.batch_search("t", queries, k=5, ef=40).collect()  # loads the index
        caplog.clear()
        group = f"pq_reopened_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "PQ batch serve")
        try:
            rows = [tuple(r) for r in d2.batch_search("t", queries, k=5, ef=40).collect()]
        finally:
            sc._jsc.clearJobGroup()
        plans = [r.getMessage() for r in caplog.records
                 if r.getMessage().startswith("fuse rule ")]
        return rows, len(tracker.getJobIdsForGroup(group)), plans

    fused, fused_jobs, fused_plans = serve(pq_mod.FUSE_MAX_DIM)
    two, two_jobs, two_plans = serve(0)
    d2.close()
    assert fused_plans == ["fuse rule vec=True dim=16 bound=256 plan=fused"]
    assert two_plans == ["fuse rule vec=True dim=16 bound=0 plan=two_wave"]
    assert (fused_jobs, two_jobs) == (2, 4)
    assert len(fused) == 20 * 5 and [r[1] for r in fused[::5]] == list(range(20))
    assert fused == two


def test_search_filtered_subset_match(db):
    key = _tiny4d(db)  # 4 one-hots (content a-d) + one 'oops' row
    # filter to a single metadata value: only that row can be returned,
    # regardless of distance rank
    res = db.search_filtered(key, [1.0, 0.0, 0.0, 0.0], k=3, pattern={"content": "b"})
    assert len(res) == 1 and res[0][0]["content"] == "b"
    # empty pattern = unfiltered exact search
    res_all = db.search_filtered(key, [1.0, 0.0, 0.0, 0.0], k=3, pattern={})
    assert len(res_all) == 3 and res_all[0][0].get("content", "") == "a"
    # non-matching pattern → empty
    assert db.search_filtered(key, [1.0, 0.0, 0.0, 0.0], k=3, pattern={"content": "zzz"}) == []


def test_hnsw_crash_window_recovery(spark, tmp_path):
    # batch_add makes the TABLE durable immediately but defers the graph
    # flush; a crash in between must not lose the appended rows from
    # search results after reopen — the load path tops the graph up
    import numpy as np

    d = VecDB(str(tmp_path / "crashdb"), spark=spark)
    d.create_table_if_not_exists("t", 8, "l2sqr")
    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(40, 8))
    d.batch_add("t", [list(map(float, v)) for v in vecs],
                [{"i": str(i)} for i in range(40)])
    d.build_hnsw_index("t")
    d.force_save()  # graph flushed for the first 40 rows
    d.batch_add("t", [[5.0] * 8], [{"i": "tail"}])  # graph dirty, NOT flushed
    # simulate a crash: drop in-memory state and the lock WITHOUT
    # force_save/close — disk now has the appended parquet row but the
    # pre-append graph artifact
    d._indexes.clear()
    d._lock_fh.close()

    d2 = VecDB(str(tmp_path / "crashdb"), spark=spark)
    assert d2.get_len("t") == 41
    meta, dist = d2.search("t", [5.0] * 8, k=1)[0]
    assert meta["i"] == "tail" and dist == pytest.approx(0.0, abs=1e-6)
    d2.close()


def test_batch_search_filtered(db, spark):
    key = _tiny4d(db)
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "query_id long, vec array<double>",
    )
    out = db.batch_search_filtered(key, queries, k=2, pattern={"content": "d"}).collect()
    # only the 'd' row survives the filter, for BOTH queries
    assert {r["id"] for r in out} == {3} and len(out) == 2


def test_batch_add_df_matches_batch_add(db, spark):
    """The DataFrame-native bulk insert (W2's scale path) must land the
    exact table state the list-based reference API produces: same
    contiguous ids, same vectors, same stringified metadata, same
    search results."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.standard_normal(4)] for _ in range(23)]
    metas = [{"tag": f"t{i}", "n": str(i)} for i in range(23)]

    db.create_table_if_not_exists("lst", 4, "l2sqr")
    db.batch_add("lst", vecs, metas)

    db.create_table_if_not_exists("dfr", 4, "l2sqr")
    bdf = spark.createDataFrame(
        [(v, f"t{i}", i) for i, v in enumerate(vecs)],
        "vec array<double>, tag string, n long",
    ).repartition(5)  # multi-partition: offsets must still be contiguous
    n = db.batch_add_df("dfr", bdf, vec_col="vec", meta_cols=("tag", "n"))
    assert n == 23 and db.get_len("dfr") == 23

    a = {r["id"]: r for r in db.table_df("lst").collect()}
    b = {r["id"]: r for r in db.table_df("dfr").collect()}
    assert sorted(a) == sorted(b) == list(range(23))
    # ids are assigned by partition order, not input order — compare the
    # table CONTENT as a multiset keyed by the metadata tag
    bytag_a = {r["metadata"]["tag"]: r for r in a.values()}
    bytag_b = {r["metadata"]["tag"]: r for r in b.values()}
    assert set(bytag_a) == set(bytag_b)
    for tag in bytag_a:
        assert bytag_a[tag]["vec"] == bytag_b[tag]["vec"]
        assert bytag_a[tag]["metadata"] == bytag_b[tag]["metadata"]
        assert bytag_a[tag]["norm"] == pytest.approx(bytag_b[tag]["norm"])

    # searches agree between the two ingest paths (identical content)
    q = vecs[7]
    ra = db.search("lst", q, k=3)
    rb = db.search("dfr", q, k=3)
    assert [round(d, 6) for _, d in ra] == [round(d, 6) for _, d in rb]
    assert [m["tag"] for m, _ in ra] == [m["tag"] for m, _ in rb]

    # a second append continues the id sequence with no gaps
    n2 = db.batch_add_df("dfr", bdf.limit(5), vec_col="vec", meta_cols=("tag",))
    assert n2 == 5 and db.get_len("dfr") == 28
    assert sorted(r["id"] for r in db.table_df("dfr").collect()) == list(range(28))


def test_batch_add_df_u8_cast_and_dim_guard(db, spark):
    db.create_table_if_not_exists("u8t", 3, "l2sqr", data_type="uint8")
    bdf = spark.createDataFrame(
        [([300.0, -5.0, float("nan")],), ([1.5, 2.0, 255.0],)],
        "vec array<double>",
    )
    assert db.batch_add_df("u8t", bdf) == 2
    rows = {tuple(r["vec"]) for r in db.table_df("u8t").collect()}
    # saturate + NaN→0 + truncate-toward-zero (scalar.rs:20-37)
    assert rows == {(255, 0, 0), (1, 2, 255)}

    bad = spark.createDataFrame([([1.0, 2.0],)], "vec array<double>")
    with pytest.raises(Exception, match="Dimension mismatch"):
        db.batch_add_df("u8t", bad)
    assert db.get_len("u8t") == 2  # failed batch landed nothing


def test_append_crash_protocol_no_duplicate_ids(spark, tmp_path):
    """The append crash protocol (db/vecdb.py): ids are reserved
    durably BEFORE the parquet append, so a crash between reserve and
    commit can only SKIP ids, never reassign them — and the partial
    rows of the crashed batch are dropped at the next open."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.functions.distance import norm_expr

    path = str(tmp_path / "db")
    d1 = VecDB(path, spark=spark)
    d1.create_table_if_not_exists("t", 3, "l2sqr")
    d1.batch_add("t", [[float(i)] * 3 for i in range(5)],
                 [{"i": str(i)} for i in range(5)])

    # simulate a crash mid-append: reserve 3 ids, land only 2 of the 3
    # rows in parquet, and never commit (the marker stays in the brief)
    start = d1._reserve_append("t", 3)
    partial = spark.createDataFrame(
        [(start, [9.0, 9.0, 9.0], {"i": "ghost0"}),
         (start + 1, [8.0, 8.0, 8.0], {"i": "ghost1"})],
        "id long, vec array<float>, metadata map<string,string>",
    ).withColumn("norm", norm_expr("vec"))
    partial.write.mode("append").parquet(d1._table_path("t"))
    # "crash": release the lock without committing
    d1._lock_fh.close()

    d2 = VecDB(path, spark=spark)
    # settle dropped the ghost rows; len and content are the committed 5
    assert d2.get_len("t") == 5
    ids = sorted(r["id"] for r in d2.table_df("t").collect())
    assert ids == list(range(5))
    assert d2._brief["tables"]["t"].get("pending_append") is None

    # the reserved range [5, 8) is burned: the retry gets fresh ids
    d2.batch_add("t", [[1.0, 2.0, 3.0]], [{"i": "retry"}])
    ids2 = sorted(r["id"] for r in d2.table_df("t").collect())
    assert ids2 == [0, 1, 2, 3, 4, 8]
    assert len(ids2) == len(set(ids2))
    d2.close()


def test_batch_add_df_idempotency_token_replay(db, spark):
    """A redelivered micro-batch (same idempotency token) is a no-op —
    the exactly-once half of the streaming ingest contract."""
    db.create_table_if_not_exists("ep", 3, "l2sqr")
    bdf = spark.createDataFrame(
        [([1.0, 0.0, 0.0], "a"), ([0.0, 1.0, 0.0], "b")],
        "vec array<double>, tag string",
    )
    n1 = db.batch_add_df("ep", bdf, meta_cols=("tag",),
                         idempotency_token="sink1:0")
    assert n1 == 2 and db.get_len("ep") == 2
    # replay of the SAME epoch: nothing lands, ids don't advance
    n2 = db.batch_add_df("ep", bdf, meta_cols=("tag",),
                         idempotency_token="sink1:0")
    assert n2 == 0 and db.get_len("ep") == 2
    assert db._brief["tables"]["ep"]["next_id"] == 2
    # a NEW epoch (even with identical content) lands normally
    n3 = db.batch_add_df("ep", bdf, meta_cols=("tag",),
                         idempotency_token="sink1:1")
    assert n3 == 2 and db.get_len("ep") == 4


def test_batch_add_df_null_metadata_matches_list_path(db, spark):
    """A NULL metadata value through batch_add_df stringifies to "None",
    the string a list caller passes as str(None), so pattern filters
    behave identically regardless of how a row arrived."""
    db.create_table_if_not_exists("nm", 2, "l2sqr")
    db.batch_add("nm", [[1.0, 0.0]], [{"tag": str(None)}])
    bdf = spark.createDataFrame(
        [([0.0, 1.0], None)], "vec array<double>, tag string"
    )
    assert db.batch_add_df("nm", bdf, meta_cols=("tag",)) == 1
    rows = {r["id"]: dict(r["metadata"]) for r in db.table_df("nm").collect()}
    assert rows[0]["tag"] == "None" and rows[1]["tag"] == "None"
    # the pattern predicate matches both rows
    assert db.delete("nm", {"tag": "None"}) == 2


def test_compact_table_preserves_content_and_shrinks_files(spark, tmp_path):
    """Compaction collapses the one-file-per-append accumulation into
    id-range-clustered files without changing a single row; live
    indexes stay valid (ids are untouched)."""
    db = VecDB(str(tmp_path / "dbc"), spark=spark)
    db.create_table_if_not_exists("t", 4, "l2sqr")
    for i in range(8):  # 8 appends -> >= 8 data files
        db.batch_add("t", [[float(i), 0.0, 0.0, 0.0]], [{"i": str(i)}])
    db.build_hnsw_index("t")
    before_files = db.table_file_count("t")
    assert before_files >= 8
    before = sorted(
        (r["id"], tuple(r["vec"]), dict(r["metadata"]))
        for r in db.table_df("t").collect()
    )
    after_files = db.compact_table("t")
    assert after_files < before_files
    after = sorted(
        (r["id"], tuple(r["vec"]), dict(r["metadata"]))
        for r in db.table_df("t").collect()
    )
    assert after == before
    # the live graph still serves the compacted table
    res = db.search("t", [5.0, 0.0, 0.0, 0.0], k=1)
    assert res[0][0] == {"i": "5"}
    db.close()


def test_rewrite_swap_crash_recovery(spark, tmp_path):
    """A crash inside _rewrite's two-rename window (live renamed to
    __old, __tmp not yet promoted) leaves NO table directory. The next
    open must promote a complete __tmp (proven by _SUCCESS) or roll
    back to __old — either way the table reads again."""
    import os
    import shutil

    d = str(tmp_path / "dbswap")
    db = VecDB(d, spark=spark)
    _tiny4d(db, "t")
    path = db._table_path("t")
    before = sorted(
        (r["id"], tuple(r["vec"])) for r in db.table_df("t").collect()
    )
    db.close()

    # shape 1: tmp complete (crash after `live -> __old`)
    shutil.copytree(path, path + "__tmp")
    os.replace(path, path + "__old")
    db1 = VecDB(d, spark=spark)
    got = sorted((r["id"], tuple(r["vec"])) for r in db1.table_df("t").collect())
    assert got == before and os.path.isdir(path)
    assert not os.path.isdir(path + "__old")
    db1.close()

    # shape 2: tmp incomplete (no _SUCCESS) -> restore __old
    shutil.copytree(path, path + "__tmp")
    os.remove(os.path.join(path + "__tmp", "_SUCCESS"))
    os.replace(path, path + "__old")
    db2 = VecDB(d, spark=spark)
    got2 = sorted((r["id"], tuple(r["vec"])) for r in db2.table_df("t").collect())
    assert got2 == before and os.path.isdir(path)
    assert not os.path.isdir(path + "__tmp")
    db2.close()


def test_force_save_auto_compacts_append_heavy_table(spark, tmp_path):
    """Streaming-shaped ingest (many tiny appends) degrades a table to
    one file per micro-batch; force_save() self-heals it back to the
    id-range-clustered target without changing a row — compaction is
    policy, not a manual call an operator must remember."""
    db = VecDB(str(tmp_path / "dbac"), spark=spark)
    db.create_table_if_not_exists("t", 4, "l2sqr")
    for i in range(12):  # 12 micro-batch-shaped appends
        db.batch_add("t", [[float(i), 0.0, 0.0, 0.0]], [{"i": str(i)}])
    assert db.table_file_count("t") >= 12
    before = sorted(
        (r["id"], tuple(r["vec"]), dict(r["metadata"]))
        for r in db.table_df("t").collect()
    )
    db.force_save()
    # target = ceil(12 / 4M) = 1 id-range-clustered file
    assert db.table_file_count("t") <= 1
    after = sorted(
        (r["id"], tuple(r["vec"]), dict(r["metadata"]))
        for r in db.table_df("t").collect()
    )
    assert after == before
    # opt-out respected
    db.auto_compact = False
    for i in range(12, 24):
        db.batch_add("t", [[float(i), 0.0, 0.0, 0.0]], [{"i": str(i)}])
    files = db.table_file_count("t")
    db.force_save()
    assert db.table_file_count("t") == files
    db.close()


def test_auto_compaction_keeps_live_ivfpq_serving(spark, tmp_path):
    """force_save's auto-compaction rewrites the table directory; a
    live IVF+PQ index must keep serving (its base DataFrame is
    re-pointed at the rewritten files, and its codes are untouched)."""
    import numpy as np

    db = VecDB(str(tmp_path / "dbacq"), spark=spark)
    db.create_table_if_not_exists("t", 8, "l2sqr")
    rng = np.random.default_rng(3)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(32)]
    db.batch_add("t", vecs[:16], [{"i": str(i)} for i in range(16)])
    db.build_ivfpq_index("t", k_coarse=4, m=4, n_bits=8, train_size=16, n_probes=4)
    for i in range(16, 32):  # append-heavy: one file per call
        db.batch_add("t", [vecs[i]], [{"i": str(i)}])
    db.force_save()
    assert db.table_file_count("t") <= 1
    res = db.search("t", vecs[20], k=1, ef=32)
    assert res[0][0] == {"i": "20"}
    db.close()


def test_point_search_dispatches_to_ivfpq_local(spark, tmp_path):
    """VecDB point search on an IVF+PQ-only table serves from the
    driver-local mirror (zero Spark jobs after warm-up) and matches
    the exact answer at full probes; writes keep it current."""
    import numpy as np

    db = VecDB(str(tmp_path / "dbpt"), spark=spark)
    db.create_table_if_not_exists("t", 8, "l2sqr")
    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(48)]
    db.batch_add("t", vecs, [{"i": str(i)} for i in range(48)])
    db.build_ivfpq_index("t", k_coarse=4, m=4, n_bits=8, train_size=48,
                         n_probes=4)
    res = db.search("t", vecs[7], k=3, ef=48)
    assert res[0][0] == {"i": "7"} and res[0][1] == pytest.approx(0.0, abs=1e-9)
    idx = db._get_index("t", "ivfpq")
    assert idx._local_enabled  # the mirror engaged

    # warm path: no Spark job per query (job counter unchanged)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    res2 = db.search("t", vecs[9], k=1, ef=48)
    after = tracker.getJobIdsForGroup(None)
    assert res2[0][0] == {"i": "9"}
    assert len(after) == len(before), "local point serve launched Spark jobs"

    # a write is absorbed: the mirror tail-refreshes and serves it
    db.batch_add("t", [[9.0] * 8], [{"i": "new"}])
    res3 = db.search("t", [9.0] * 8, k=1, ef=64)
    assert res3[0][0] == {"i": "new"} and res3[0][1] == pytest.approx(0.0, abs=1e-9)
    db.close()


def test_local_serve_setting_opts_out_of_mirror(spark, tmp_path):
    """local_serve is a VecDB SETTING (like auto_compact), not a silent
    query-path decision: with local_serve=False the first IVF+PQ point
    query neither mirrors codes to the driver nor collects the metadata
    map — it answers on the distributed partition-pruned path — and the
    byte cap is tunable via local_serve_max_bytes."""
    import numpy as np

    db = VecDB(str(tmp_path / "dbopt"), spark=spark)
    db.local_serve = False
    db.create_table_if_not_exists("t", 8, "l2sqr")
    rng = np.random.default_rng(11)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(48)]
    db.batch_add("t", vecs, [{"i": str(i)} for i in range(48)])
    db.build_ivfpq_index("t", k_coarse=4, m=4, n_bits=8, train_size=48,
                         n_probes=4)
    res = db.search("t", vecs[7], k=3, ef=48)
    assert res[0][0] == {"i": "7"} and res[0][1] == pytest.approx(0.0, abs=1e-9)
    idx = db._get_index("t", "ivfpq")
    assert not idx._local_enabled and idx._local is None

    # a too-small cap refuses the mirror once (then stays distributed)
    db.local_serve = True
    db.local_serve_max_bytes = 64
    res2 = db.search("t", vecs[9], k=1, ef=48)
    assert res2[0][0] == {"i": "9"}
    assert not idx._local_enabled and getattr(idx, "_local_denied", False)
    db.close()

def test_executor_cache_setting_pins_codes(spark, tmp_path):
    """executor_cache is a VecDB SETTING like local_serve: when on,
    IVF+PQ indexes this manager builds or loads keep their codes frame
    pinned executor-side (index/ivfpq.py persist_codes), and the pin
    survives a write; default off pins nothing."""
    import numpy as np

    db = VecDB(str(tmp_path / "dbex"), spark=spark)
    db.local_serve = False  # keep queries on the distributed path
    db.create_table_if_not_exists("t", 8, "l2sqr")
    rng = np.random.default_rng(12)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(48)]
    db.batch_add("t", vecs, [{"i": str(i)} for i in range(48)])
    db.build_ivfpq_index("t", k_coarse=4, m=4, n_bits=8, train_size=48,
                         n_probes=4)
    idx = db._get_index("t", "ivfpq")
    assert not idx.codes_clustered.storageLevel.useMemory  # default off
    db.close()

    db2 = VecDB(str(tmp_path / "dbex"), spark=spark)
    db2.executor_cache = True
    db2.local_serve = False
    idx2 = db2._get_index("t", "ivfpq")  # load path applies the pin
    assert idx2.codes_clustered.storageLevel.useMemory
    res = db2.search("t", vecs[7], k=3, ef=48)
    assert res[0][0] == {"i": "7"} and res[0][1] == pytest.approx(0.0, abs=1e-9)
    # a write keeps serving correctly with the pin re-applied
    db2.batch_add("t", [[9.0] * 8], [{"i": "new"}])
    res2 = db2.search("t", [9.0] * 8, k=1, ef=64)
    assert res2[0][0] == {"i": "new"}
    idx2.unpersist_codes()
    db2.close()
