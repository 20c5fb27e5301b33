"""kNN operator semantics: self-query, ascending order, upper_bound,
batch == single, partitioned == crossjoin (the two physical strategies
must agree bit-for-bit on rounded output)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.session import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_smoke):
    return read_table(spark, sf_smoke, "embeddings").cache()


def test_self_query_top1(spark, emb):
    # flat_index.rs:157-165 — querying an existing vector returns itself
    # at distance ~0, results ascending
    q = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    rows = knn_ops.knn(emb, q, k=5, metric="l2sqr", vec_col="embedding",
                       id_col="vec_id").collect()
    assert rows[0]["vec_id"] == 7 and rows[0]["dist"] == pytest.approx(0.0, abs=1e-4)
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)


def test_upper_bound_filters_after_topk(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    unfiltered = knn_ops.knn(emb, q, k=10, metric="cosine", vec_col="embedding",
                             id_col="vec_id").collect()
    ub = unfiltered[4]["dist"]
    filtered = knn_ops.knn(emb, q, k=10, metric="cosine", vec_col="embedding",
                           id_col="vec_id", upper_bound=ub).collect()
    assert all(r["dist"] <= ub for r in filtered)
    assert len(filtered) == sum(1 for r in unfiltered if r["dist"] <= ub)


def test_strategies_agree(spark, emb):
    queries = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), "embedding")
    kw = dict(k=7, metric="cosine", vec_col="embedding", id_col="vec_id",
              qid_col="query_id", qvec_col="embedding")
    a = knn_ops.knn_batch(emb, queries, strategy="partitioned", **kw).collect()
    b = knn_ops.knn_batch(emb, queries, strategy="crossjoin", **kw).collect()
    sa = sorted((r["query_id"], r["vec_id"], r["dist"]) for r in a)
    sb = sorted((r["query_id"], r["vec_id"], r["dist"]) for r in b)
    assert sa == sb


def test_batch_matches_single(spark, emb):
    qrow = emb.filter(F.col("vec_id") == 3).first()
    queries = emb.filter(F.col("vec_id") == 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    batch = knn_ops.knn_batch(emb, queries, k=8, metric="l2sqr", vec_col="embedding",
                              id_col="vec_id", qid_col="query_id",
                              qvec_col="embedding").collect()
    single = knn_ops.knn(emb, qrow["embedding"], k=8, metric="l2sqr",
                         vec_col="embedding", id_col="vec_id").collect()
    assert [(r["vec_id"], r["dist"]) for r in batch] == [
        (r["vec_id"], r["dist"]) for r in single]


def test_batch_matches_numpy_bruteforce(spark, emb):
    pdf = emb.toPandas().sort_values("vec_id")
    x = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = x[:4]
    d = 1.0 - (x @ q.T) / np.maximum(
        np.linalg.norm(x, axis=1)[:, None] * np.linalg.norm(q, axis=1)[None, :], 1e-10)
    d = np.round(d, 4) + 0.0
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    got = knn_ops.knn_batch(emb, queries, k=10, metric="cosine", vec_col="embedding",
                            id_col="vec_id", qid_col="query_id",
                            qvec_col="embedding").collect()
    for qi in range(4):
        order = np.lexsort((ids, d[:, qi]))[:10]
        expect = list(ids[order])
        mine = [r["vec_id"] for r in got if r["query_id"] == qi]
        assert mine == expect, f"query {qi}"


def test_range_search(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    rows = knn_ops.range_search(emb, q, radius=1.3, metric="l2sqr",
                                vec_col="embedding", id_col="vec_id").collect()
    assert all(r["dist"] <= 1.3 for r in rows)
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists)
    assert rows[0]["vec_id"] == 0


def test_ground_truth_shape(spark, emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    gt = knn_ops.ground_truth(emb, queries, k=10, metric="l2sqr", vec_col="embedding",
                              id_col="vec_id", qid_col="query_id",
                              qvec_col="embedding").collect()
    assert len(gt) == 3
    for r in gt:
        assert len(r["knn_indices"]) == 10
        assert r["knn_indices"][0] == r["query_id"]  # self is nearest


def test_filtered_topk_from_pool_custom_qid_col(spark, emb):
    """The shared filtered-ANN finisher must honor a non-default
    qid_col end-to-end: survivor select, starvation accounting, and
    the exact-fallback union (knn_batch's literal query_id output is
    renamed back)."""
    from lab_1806_vec_db_spark.operators.knn import (
        filtered_topk_from_pool,
        knn_batch,
    )

    base = emb.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("vec"))
    queries = (
        base.filter(F.col("id") < 3)
        .select(F.col("id").alias("qid"), F.col("vec"))
    )
    filtered = base.filter(F.col("id") % 2 == 0)
    # a deliberately narrow pool: odd-id queries starve after the even
    # filter and must be answered by the exact fallback
    pool = knn_batch(base, queries, 4, metric="l2sqr", qid_col="qid") \
        .withColumnRenamed("query_id", "qid")
    out = filtered_topk_from_pool(
        pool, queries, 3, filtered, "id", "l2sqr", "vec", qid_col="qid",
    )
    rows = out.collect()
    assert set(out.columns) == {"qid", "id", "dist"}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rs in by_q.items():
        assert len(rs) == 3
        assert all(r["id"] % 2 == 0 for r in rs)
    # parity with the exact filtered scan
    exact = knn_batch(filtered, queries, 3, metric="l2sqr", qid_col="qid")
    exp = {(r["query_id"], r["id"]) for r in exact.collect()}
    assert {(r["qid"], r["id"]) for r in rows} == exp

def test_filtered_topk_fallback_margin(spark, emb):
    """fallback_margin > 1 escalates thin-intersection queries (pool
    fills k but with fewer than ceil(margin*k) survivors) to the exact
    scan — the result then matches the exact filtered answer — while
    still returning exactly k rows per query."""
    from lab_1806_vec_db_spark.operators.knn import (
        filtered_topk_from_pool,
        knn_batch,
    )

    base = emb.select(F.col("vec_id").alias("id"),
                      F.col("embedding").alias("vec"))
    queries = (
        base.filter(F.col("id") < 4)
        .select(F.col("id").alias("query_id"), F.col("vec"))
    )
    filtered = base.filter(F.col("id") % 3 == 0)  # ~1/3 selectivity
    k = 3
    # pool of 12 per query: intersection with a 1/3 filter is ~4 — at
    # margin=2 (needs 6 survivors) every query is thin and escalates,
    # so the output must EQUAL the exact filtered scan
    pool = knn_batch(base, queries, 12, metric="l2sqr")
    out = filtered_topk_from_pool(
        pool, queries, k, filtered, "id", "l2sqr", "vec",
        fallback_margin=2.0,
    ).collect()
    exact = knn_batch(filtered, queries, k, metric="l2sqr").collect()
    assert {(r["query_id"], r["id"], r["dist"]) for r in out} == \
        {(r["query_id"], r["id"], r["dist"]) for r in exact}
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert all(len(rs) == k for rs in by_q.values())
    # margin=1.0 keeps the strict contract: wide pool, no escalation,
    # and the trim back to k rows per query still applies
    wide = knn_batch(base, queries, 60, metric="l2sqr")
    out1 = filtered_topk_from_pool(
        wide, queries, k, filtered, "id", "l2sqr", "vec",
        fallback_margin=1.5,
    ).collect()
    assert {(r["query_id"], r["id"]) for r in out1} == \
        {(r["query_id"], r["id"]) for r in exact}
    by_q1 = {}
    for r in out1:
        by_q1.setdefault(r["query_id"], []).append(r)
    assert all(len(rs) == k for rs in by_q1.values())

def test_local_topk_grouped_edges():
    """Pure-numpy contract of the shared in-task accumulator helper:
    (dist asc, id asc) total order per group, k-bounded, stable under
    ties, empty-safe."""
    from lab_1806_vec_db_spark.operators.knn import local_topk_grouped

    # empty input
    e = np.array([], dtype=np.int64)
    assert local_topk_grouped(e, e, np.array([], dtype=np.float64), 3).size == 0
    # two groups, exact dist ties broken by id ascending
    qx = np.array([1, 1, 1, 0, 0, 0, 0], dtype=np.int64)
    ids = np.array([9, 3, 5, 7, 2, 8, 1], dtype=np.int64)
    d = np.array([0.5, 0.5, 0.1, 0.2, 0.2, 0.1, 0.9], dtype=np.float64)
    keep = local_topk_grouped(qx, ids, d, 2)
    got = sorted(zip(qx[keep].tolist(), ids[keep].tolist(), d[keep].tolist()))
    # group 0: (8,0.1) then tie 0.2 -> id 2 beats 7; group 1: (5,0.1) then (3,0.5)
    assert got == [(0, 2, 0.2), (0, 8, 0.1), (1, 3, 0.5), (1, 5, 0.1)]
    # k larger than any group keeps everything
    keep_all = local_topk_grouped(qx, ids, d, 10)
    assert keep_all.size == qx.size
    # single group
    keep1 = local_topk_grouped(np.zeros(4, dtype=np.int64),
                               np.array([4, 1, 3, 2], dtype=np.int64),
                               np.array([0.3, 0.3, 0.1, 0.2]), 2)
    assert sorted(np.array([4, 1, 3, 2])[keep1].tolist()) == [2, 3]


def test_dense_topk_kernel_matches_lexsort():
    """Round-14: the compiled per-query top-k heap (ckernel.dense_topk,
    used by the knn_batch scan) must keep the BIT-IDENTICAL set and
    order of np_round_half_up + np.lexsort((ids, d))[:k] — including
    4-dp rounding ties, both tile orientations, per-row-ids merge form,
    and -1/inf padding when the tile holds fewer than k rows."""
    from lab_1806_vec_db_spark.index import ckernel
    from lab_1806_vec_db_spark.operators.knn import np_round_half_up

    if not ckernel.available():
        pytest.skip("no C toolchain")
    rng = np.random.default_rng(7)
    for n, q, k in ((300, 50, 10), (7, 5, 10)):
        d0 = rng.random((n, q)) * 2
        if n > 100:
            d0[40:80] = d0[0:40]  # exact ties after rounding
        ids = rng.permutation(n).astype(np.int64)
        d = np_round_half_up(d0)
        oid = np.broadcast_to(ids[:, None], d.shape)
        kk = min(k, n)
        sel = np.lexsort((oid, d), axis=0)[:kk, :]
        ref_i = np.take_along_axis(oid, sel, axis=0)
        ref_d = np.take_along_axis(d, sel, axis=0)
        ci, cd, _ = ckernel.dense_topk(d0, ids, k, do_round=True, queries_axis=1)
        assert np.array_equal(ci.T[:kk], ref_i)
        assert np.array_equal(cd.T[:kk], ref_d)
        ci2, cd2, _ = ckernel.dense_topk(
            np.ascontiguousarray(d0.T), ids, k, do_round=True)
        assert np.array_equal(ci2, ci) and np.array_equal(cd2, cd)
        if n < k:
            assert np.all(ci[:, n:] == -1) and np.all(np.isinf(cd[:, n:]))
    # merge form: per-row ids, pre-rounded values
    d0 = rng.random((200, 30))
    ids = rng.permutation(200).astype(np.int64)
    ci, cd, _ = ckernel.dense_topk(d0, ids, 8, do_round=True, queries_axis=1)
    md = np.concatenate([cd, cd + 0.0001], axis=1)
    mi = np.concatenate([ci, ci + 10_000], axis=1)
    ri, rd, _ = ckernel.dense_topk(md, mi, 8, do_round=False)
    sel2 = np.lexsort((mi.T, md.T), axis=0)[:8, :]
    assert np.array_equal(ri, np.take_along_axis(mi.T, sel2, axis=0).T)
    assert np.array_equal(rd, np.take_along_axis(md.T, sel2, axis=0).T)


def test_topk_cut_both_sides_identical_on_nonfinite(monkeypatch):
    """topk_cut's compiled heap and its numpy round + lexsort keep the
    same rows in the same order on non-finite input: NaN after every
    number (NaNs by id), ±inf ordered by id among themselves, and kk
    above the tile's row count clipped — never (inf, -1) padding."""
    from lab_1806_vec_db_spark.index import ckernel

    if not ckernel.available():
        pytest.skip("no C toolchain")
    rng = np.random.default_rng(11)
    n, q = 40, 6
    d = rng.random((n, q)) * 3
    d[rng.random((n, q)) < 0.2] = np.nan
    d[rng.random((n, q)) < 0.15] = np.inf
    d[rng.random((n, q)) < 0.1] = -np.inf
    d[:5] = np.nan  # NaN during the heap fill
    d[:, 0] = np.nan  # an all-NaN query
    d[10:14, 1] = d[20:24, 1] = 1.23456  # rounding ties
    ids = rng.permutation(1000)[:n].astype(np.int64)
    cases = [(d, kk, rnd) for kk in (1, 7, n, n + 9) for rnd in (True, False)]
    cases.append((np.asfortranarray(d), 7, True))  # (S × n)-contiguous tile
    for tile, kk, rnd in cases:
        c_rows, c_d = knn_ops.topk_cut(tile, ids, kk, rnd)
        with monkeypatch.context() as mp:
            mp.setattr(ckernel, "available", lambda: False)
            n_rows, n_d = knn_ops.topk_cut(tile, ids, kk, rnd)
        assert c_rows.shape == (q, min(kk, n))
        assert np.array_equal(c_rows, n_rows), (kk, rnd)
        assert np.array_equal(c_d, n_d, equal_nan=True), (kk, rnd)
        assert np.array_equal(ids[c_rows], ids[n_rows])
    # the all-NaN query keeps its rows by id
    rows, _ = knn_ops.topk_cut(d, ids, n, True)
    assert np.array_equal(ids[rows[0]], np.sort(ids))


def test_l2sqr_large_scale_never_negative(spark):
    """l2sqr distances are clamped at 0 on every path. At 1e5 scale the
    cached-dot form x² + q² − 2·x·q leaves round-off residuals of a few
    1e-3 around the true 0 of a self-hit: the negative ones rounded to
    e.g. -0.0034 on the partitioned flat scan, while the crossjoin plan
    (direct Σ(x−q)², exactly 0) and IVF (kmeans._pairwise_dist) never
    go below 0. The positive residuals are the cached-dot form's own
    (the reference's distance/mod.rs form) and depend on the GEMM's
    blocking, so only the sign is path-independent."""
    from lab_1806_vec_db_spark.index.ivf import IVFIndex

    rng = np.random.default_rng(0)
    x = rng.normal(size=(200, 128)) * 1e5
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "id long, vec array<double>").cache()
    queries = df.withColumnRenamed("id", "query_id")
    ivf = IVFIndex.build(df, k=4, metric="l2sqr", train_size=200)
    serves = {
        "partitioned": knn_ops.knn_batch(df, queries, 3, metric="l2sqr"),
        "crossjoin": knn_ops.knn_batch(df, queries, 3, metric="l2sqr",
                                       strategy="crossjoin"),
        "ivf": ivf.search_batch(queries, 3, n_probes=4),
    }
    for name, frame in serves.items():
        rows = frame.collect()
        assert len(rows) == 600, name
        assert all(r["dist"] >= 0.0 for r in rows), name
        self_hits = [r for r in rows if r["id"] == r["query_id"]]
        assert len(self_hits) == 200 and all(r["dist"] < 0.01 for r in self_hits), name
        if name == "crossjoin":
            assert all(r["dist"] == 0.0 for r in self_hits)


def test_exact_rerank_pool_contract(monkeypatch):
    """The one exact re-rank: rounded exact distances of (query, store
    row) pairs, l2sqr clamped at 0, rows gathered at most RERANK_STEP at
    a time (never the whole pool in one copy); the accumulator maps
    candidate ids to pool rows and raises on an id it holds no vector
    for instead of pointing at another row's vector."""
    from lab_1806_vec_db_spark.index import pq as pq_mod
    from lab_1806_vec_db_spark.index.pq import exact_rerank

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(6, 8)).astype(np.float32)
    qmat = np.vstack([vecs[1].astype(np.float64), rng.normal(size=8)])
    rows = np.array([1, 4, 5, 1], dtype=np.int64)
    qidx = np.array([0, 0, 1, 1], dtype=np.int64)
    x = vecs[rows].astype(np.float64)
    q = qmat[qidx]
    want = knn_ops.np_round_half_up(np.maximum(((x - q) ** 2).sum(axis=1), 0.0))
    got = exact_rerank(vecs, rows, qmat, qidx, "l2sqr")
    assert got[0] == 0.0
    assert np.allclose(got, want, atol=2e-4)
    cos = exact_rerank(vecs, rows, qmat, qidx, "cosine")
    want_cos = 1.0 - (x * q).sum(axis=1) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q, axis=1))
    assert np.allclose(cos, want_cos, atol=2e-4)

    class Store:
        """Row store that records the size of every gather."""

        def __init__(self, a):
            self.a, self.sizes = a, []

        def __getitem__(self, r):
            self.sizes.append(len(r))
            return self.a[r]

    big = rng.normal(size=(500, 8))
    prs = rng.integers(0, 500, 2000)
    pqi = rng.integers(0, 2, 2000)
    ref = exact_rerank(big, prs, qmat, pqi, "l2sqr")
    monkeypatch.setattr(pq_mod, "RERANK_STEP", 64)
    store = Store(big)
    assert np.array_equal(exact_rerank(store, prs, qmat, pqi, "l2sqr"), ref)
    assert store.sizes and max(store.sizes) <= 64

    acc = knn_ops.TopkAccumulator(2, 1, 1)
    pool_ids = np.array([50, 10, 40, 20, 60, 30], dtype=np.int64)
    acc.add(qidx, pool_ids[rows], want, pool_ids, vecs)
    _, ids_o, _, pool, prow = acc.result()
    pos = {int(i): j for j, i in enumerate(pool_ids)}
    assert np.array_equal(pool[prow], vecs[[pos[int(i)] for i in ids_o]])
    assert len(pool) == len(set(ids_o.tolist()))
    acc = knn_ops.TopkAccumulator(2, 1, 1)
    acc.add(qidx, np.array([10, 60, 35, 10], dtype=np.int64), want, pool_ids, vecs)
    with pytest.raises(ValueError, match="missing"):
        acc.result()
