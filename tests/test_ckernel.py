"""Compiled-kernel parity gates: the ctypes HNSW kernel must return
exactly what the numpy lockstep kernel returns (same pool semantics,
same (dist, id) tie order, same rounding contract) on every supported
configuration — and fall back cleanly when disabled."""

import logging

import numpy as np
import pytest

from lab_1806_vec_db_spark.index import ckernel
from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
from lab_1806_vec_db_spark.index.pq import PQTable

pytestmark = pytest.mark.skipif(
    not ckernel.available(), reason="no C toolchain on this host"
)


@pytest.fixture(scope="module")
def emb(spark):
    from lab_1806_vec_db_spark.session import read_table

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    df.count()
    return df


def _both(idx, qmat, k, ef, adc=None):
    cid, cd = idx._kernel_search(qmat, k, ef, adc=adc)
    ckernel_state = (ckernel._lib, ckernel._tried)
    try:
        ckernel._lib, ckernel._tried = None, True  # force numpy fallback
        nid, nd = idx._kernel_search(qmat, k, ef, adc=adc)
    finally:
        ckernel._lib, ckernel._tried = ckernel_state
    return (cid, cd), (nid, nd)


def _gate_lines(caplog, prefix):
    return [r.getMessage() for r in caplog.records
            if r.getMessage().startswith(prefix)]


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
def test_exact_parity(emb, metric):
    idx = HNSWIndex.build(emb, metric=metric, vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=60, seed=11)
    rng = np.random.default_rng(3)
    qmat = rng.normal(size=(40, 64))
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    (cid, cd), (nid, nd) = _both(idx, qmat, 10, 120)
    assert np.array_equal(cid, nid)
    assert np.allclose(cd, nd)


def test_adc_parity(emb):
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=60, seed=11)
    pq = PQTable.train(emb, dim=64, m=16, n_bits=4, train_proportion=0.5,
                       vec_col="embedding", id_col="vec_id", seed=5)
    pq.codes.count()
    rng = np.random.default_rng(4)
    qmat = rng.normal(size=(25, 64))
    adc = idx.adc_for(pq, qmat)
    (cid, cd), (nid, nd) = _both(idx, qmat, 10, 150, adc=adc)
    assert np.array_equal(cid, nid)
    assert np.allclose(cd, nd)


def test_single_query_and_threaded_match_batch(emb):
    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=60, seed=11)
    rng = np.random.default_rng(5)
    qmat = rng.normal(size=(64, 64))
    bid, bd = idx.search_many(qmat, 10, 100)
    for i in (0, 17, 63):
        sid, sd = idx.search_np(qmat[i], 10, 100)
        assert np.array_equal(sid, bid[i][bid[i] >= 0])
        assert np.allclose(sd, bd[i][bid[i] >= 0])
    tid, td = idx.search_many_parallel(qmat, 10, 100, workers=8)
    assert np.array_equal(tid, bid)
    assert np.allclose(td, bd)


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
def test_threaded_adc_matches_batch(emb, metric, caplog):
    """Steered parallel serve == steered serial serve. l2sqr fans the
    compiled steered kernel over threads; cosine has no compiled
    steered kernel, so the parallel call serves serially on numpy."""
    idx = HNSWIndex.build(emb, metric=metric, vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=60, seed=11)
    pq = PQTable.train(emb, dim=64, m=16, n_bits=4, train_proportion=0.5,
                       vec_col="embedding", id_col="vec_id", seed=5)
    pq.codes.count()
    rng = np.random.default_rng(9)
    qmat = rng.normal(size=(64, 64))
    bid, bd = idx.search_many(qmat, 10, 150, pq=pq, steer=True)
    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    tid, td = idx.search_many_parallel(qmat, 10, 150, pq=pq, workers=8,
                                       steer=True)
    assert np.array_equal(tid, bid)
    assert np.allclose(td, bd)
    want = ("path=c_threads reason=toolchain" if metric == "l2sqr"
            else "path=serial_numpy reason=cosine_steered")
    assert any(want in m for m in _gate_lines(caplog, "hnsw parallel serve "))


def test_adc_block_matches_numpy_reference():
    # the block-ADC entry point (IVF+PQ scan) must reproduce the numpy
    # lookup-sum bit-for-bit in f64 across shapes, including the m%8
    # tail path of the 8-lane accumulator
    rng = np.random.default_rng(3)
    for m, ksub, n, S in ((320, 16, 37, 5), (22, 16, 64, 3), (7, 256, 11, 2)):
        codes = rng.integers(0, ksub, (n, m)).astype(np.uint8)
        lut = np.ascontiguousarray(rng.normal(size=(S, m, ksub)))
        got = ckernel.adc_block(np.ascontiguousarray(codes), lut)
        want = np.stack([lut[s][np.arange(m), codes].sum(axis=1) for s in range(S)])
        assert np.allclose(got, want, rtol=0, atol=1e-9), (m, ksub)
        # sel indirection picks the same rows
        sel = np.array([S - 1, 0], dtype=np.int64)
        got_sel = ckernel.adc_block(np.ascontiguousarray(codes), lut, sel)
        assert np.array_equal(got_sel, got[sel])


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
def test_search_np_fast_path_contract(emb, metric):
    """The single-query fast path (SearchCtx.search1 + f64 rerank)
    must return distances equal to the f64 formula rounded to the
    repo contract, sorted ascending with id tie-break, at recall
    matching the generic batch path."""
    idx = HNSWIndex.build(emb, metric=metric, vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=100)
    st = idx._c_views()
    assert st["serve"].dtype == np.float32      # parquet floats demote
    assert st["demoted"]                        # and no f64 copy is kept
    from lab_1806_vec_db_spark.index.beam import ExactPairDist
    from lab_1806_vec_db_spark.operators.knn import np_round_half_up

    vecs64 = np.asarray(st["vecs"], dtype=np.float64)  # exact cast
    qmat = vecs64[:8].copy()
    pd_ = ExactPairDist(vecs64, qmat, metric)
    for i in range(8):
        ids, ds = idx.search_np(qmat[i], 5, 64)
        assert list(ds) == sorted(ds)
        D = pd_.block(np.array([i]), np.arange(len(st["vecs"])))[0]
        for gid, dv in zip(ids, ds):
            pos = int(np.where(idx.ids == gid)[0][0])
            assert dv == pytest.approx(float(np_round_half_up(np.float64(D[pos]))), abs=1e-9)
        # self-query: own id first at distance 0
        assert int(ids[0]) == int(idx.ids[i]) and ds[0] == 0.0


def test_search_np_k_exceeds_n(spark):
    """k > n falls back to the generic padded path and returns only
    the reachable rows."""
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(3)], "vec_id bigint, embedding array<float>"
    )
    idx = HNSWIndex.build(df, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=4, ef_construction=20)
    ids, ds = idx.search_np(np.array([0.0, 0.0]), 10, 20)
    assert len(ids) == 3 and set(map(int, ids)) == {0, 1, 2}


def test_f32_serve_demotion_skipped_for_true_f64(spark):
    """Values not exactly f32-representable must keep the f64 kernel."""
    import pandas as pd

    vals = [[0.1 + 1e-12, 0.2], [0.3, 0.4], [0.5, 0.6]]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0, 1, 2], "embedding": vals}),
        "vec_id bigint, embedding array<double>",
    )
    idx = HNSWIndex.build(df, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=4, ef_construction=20)
    st = idx._c_views()
    assert st["serve"] is st["vecs"]
    assert st["serve"].dtype == np.float64


def test_search_np_matches_generic_across_configs(emb):
    """Fuzz the staged single-query path against the generic batch
    kernel across interleaved (k, ef, metric) combinations — the
    staging tuple is cached per (k, ef, dim), so interleaving shapes
    exercises re-staging and buffer reuse."""
    rng = np.random.default_rng(11)
    for metric in ("l2sqr", "cosine"):
        idx = HNSWIndex.build(emb, metric=metric, vec_col="embedding",
                              id_col="vec_id", m=8, ef_construction=100)
        st = idx._c_views()
        vecs64 = np.asarray(st["vecs"], dtype=np.float64)
        for trial in range(12):
            k = int(rng.integers(1, 12))
            ef = int(rng.integers(k, 64))
            qi = int(rng.integers(0, len(vecs64)))
            q = vecs64[qi]
            ids_f, d_f = idx.search_np(q, k, ef)
            gids, dists = idx._kernel_search(q[None, :], k, ef)
            keep = gids[0] >= 0
            ids_g, d_g = gids[0][keep], dists[0][keep]
            assert list(ids_f) == list(ids_g), (metric, k, ef, trial)
            assert np.allclose(d_f, d_g, rtol=0, atol=0), (metric, k, ef, trial)


def test_adc_lut_c_matches_numpy_form():
    """The f32 C LUT builder (ckernel.adc_lut, direct Σ(q−c)²) matches
    the algebraic numpy span-builder form to f32 rounding, and the f64
    span path still uses the byte-stable numpy order."""
    from lab_1806_vec_db_spark.index.pq import lut_span_builder, pq_groups

    if not ckernel.available():
        pytest.skip("no C kernel")
    rng = np.random.default_rng(5)
    for m, s in ((16, 3), (8, 5), (12, 1)):
        dim = m * s
        cbs = [rng.normal(size=(16, s)) for _ in range(m)]
        groups = pq_groups(dim, m)
        q = rng.normal(size=(9, dim))
        qg = q.reshape(9, m, s)
        ref = ((qg[:, :, None, :] - np.stack(cbs)[None]) ** 2).sum(-1)
        lb32 = lut_span_builder(cbs, groups, 4, "l2sqr", dtype=np.float32)
        got = lb32(q)
        assert got.dtype == np.float32
        assert np.allclose(got, ref, rtol=1e-5, atol=1e-5)
        lb64 = lut_span_builder(cbs, groups, 4, "l2sqr", dtype=np.float64)
        assert np.allclose(lb64(q), ref, rtol=0, atol=1e-12)


def test_batch_fanout_reuses_persistent_thread_pool(spark):
    """The compiled batch fan-out must reuse ONE thread pool across
    calls: fresh pools per call leak the C kernel's thread-local
    scratch with every dead thread (~60 MB/call at 500k rows — the
    round-8 1M serve regression) and defeat the scratch reuse the
    thread-locals exist for."""
    import numpy as np

    from lab_1806_vec_db_spark.index import ckernel
    from lab_1806_vec_db_spark.index.hnsw import HNSWIndex

    if not ckernel.available():
        import pytest

        pytest.skip("no C toolchain")
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((512, 16)).astype(np.float32)
    graph = HNSWIndex._build_graph(vecs, "l2sqr", 8, 32, 42)
    idx = HNSWIndex(np.arange(512, dtype=np.int64), vecs, graph, "l2sqr",
                    base=None, id_col="id")
    q = rng.standard_normal((64, 16)).astype(np.float32)
    idx.search_many_parallel(q, 5, 32, workers=8)
    pool1 = idx._tpool
    assert pool1 is not None
    idx.search_many_parallel(q, 5, 32, workers=8)
    assert idx._tpool is pool1  # reused, not rebuilt
    idx.search_many_parallel(q, 5, 32, workers=4)
    assert idx._tpool is not pool1  # worker change rebuilds once
    pool2 = idx._tpool
    idx.search_many_parallel(q, 5, 32, workers=4)
    assert idx._tpool is pool2
    # results still correct: self-query top-1 is exact
    ids, dists = idx.search_many_parallel(vecs[:64], 1, 64, workers=4)
    assert (ids[:, 0] == np.arange(64)).all()
    idx.close_pool()
    assert idx._tpool is None


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
def test_build_gate_forced_both_ways_exact(metric, monkeypatch, caplog):
    """The build's one gate (compiled candidates over threads vs the
    serial numpy lockstep kernel), forced both ways on the same data:
    at ef >= n each graph, served by its own kernel, returns exact
    numpy top-k; on the numpy side the parallel serve is the serial
    serve. Both sides log their build and serve decisions."""
    from lab_1806_vec_db_spark.operators.knn import np_round_half_up

    rng = np.random.default_rng(21)
    n, d, k = 400, 16, 10
    vecs = rng.standard_normal((n, d))
    qmat = rng.standard_normal((32, d))
    ids = np.arange(n, dtype=np.int64)
    if metric == "l2sqr":
        exact = ((qmat[:, None, :] - vecs[None, :, :]) ** 2).sum(-1)
    else:
        exact = 1.0 - (qmat @ vecs.T) / (
            np.linalg.norm(qmat, axis=1)[:, None]
            * np.linalg.norm(vecs, axis=1)[None, :])
    want_id = np.lexsort((np.broadcast_to(ids, exact.shape), exact), axis=1)[:, :k]
    want_d = np_round_half_up(np.take_along_axis(exact, want_id, axis=1))

    def build_and_serve():
        caplog.clear()
        graph = HNSWIndex._build_graph(vecs, metric, 8, 64, 42)
        idx = HNSWIndex(ids, vecs, graph, metric, base=None, id_col="id")
        got = idx.search_many(qmat, k, n)
        par = idx.search_many_parallel(qmat, k, n, workers=4)
        idx.close_pool()
        return (got, par, _gate_lines(caplog, "hnsw build "),
                _gate_lines(caplog, "hnsw parallel serve "))

    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    (c_id, c_d), (cp_id, cp_d), c_build, c_serve = build_and_serve()
    monkeypatch.setattr(ckernel, "_lib", None)  # force the numpy side
    monkeypatch.setattr(ckernel, "_tried", True)
    assert not ckernel.available()
    (n_id, n_d), (np_id, np_d), n_build, n_serve = build_and_serve()

    for got_id, got_d in ((c_id, c_d), (n_id, n_d), (cp_id, cp_d), (np_id, np_d)):
        assert np.array_equal(got_id, want_id)
        # one 4-dp grid step: the kernels' distance formulas may land a
        # knife-edge value on the other side of the rounding boundary
        assert np.allclose(got_d, want_d, rtol=0, atol=1e-4)
    assert np.array_equal(c_id, n_id) and np.allclose(c_d, n_d)
    assert len(c_build) == 1 and "candidates=c_threads link=c " in c_build[0]
    assert "reason=toolchain" in c_build[0]
    assert n_build == [
        "hnsw build candidates=numpy link=numpy workers=1 reason=no_toolchain"]
    assert len(c_serve) == 1 and "path=c_threads reason=toolchain" in c_serve[0]
    assert len(n_serve) == 1
    assert "path=serial_numpy reason=no_toolchain" in n_serve[0]


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_heur_select_matches_numpy(metric, dtype):
    """The compiled forward-link selection (lazy pair distances, early
    exit) accepts exactly the numpy batch heuristic's set — same order,
    same packing — across metrics and serving dtypes."""
    if not ckernel.available():
        pytest.skip("no C toolchain on this host")
    from lab_1806_vec_db_spark.index.hnsw import (
        _heuristic_select_batch,
        _pairwise_block,
    )

    rng = np.random.default_rng(7)
    n, d, R, T, cap = 3000, 48, 150, 40, 12
    vecs = np.ascontiguousarray(rng.standard_normal((n, d)).astype(dtype))
    cid = rng.integers(0, n, size=(R, T)).astype(np.int64)
    q = rng.standard_normal((R, d))
    diff = vecs[cid].astype(np.float64) - q[:, None, :]
    cd = np.einsum("rtd,rtd->rt", diff, diff)
    cid[:, -4:] = -1
    cd[:, -4:] = np.inf  # padding must be skipped, not selected
    order = np.lexsort(
        (np.where(cid < 0, np.iinfo(np.int64).max, cid), cd), axis=1)
    cd = np.take_along_axis(cd, order, axis=1)
    cid = np.take_along_axis(cid, order, axis=1)
    X = vecs[np.clip(cid, 0, None)]
    taken = _heuristic_select_batch(cd, _pairwise_block(X, metric), cap)
    np_id = np.full((R, cap), -1, dtype=np.int64)
    np_d = np.full((R, cap), np.inf)
    for r in range(R):
        t = np.nonzero(taken[r])[0]
        np_id[r, : t.size] = cid[r, t]
        np_d[r, : t.size] = cd[r, t]
    c_id, c_d = ckernel.heur_select(cd, cid, vecs, metric, cap)
    assert np.array_equal(np_id, c_id)
    assert np.allclose(np_d, c_d)


@pytest.mark.parametrize("metric", ["l2sqr", "cosine"])
@pytest.mark.parametrize("dtype", [np.float64, np.float32])
def test_link_path_forced_both_ways_identical(metric, dtype, monkeypatch):
    """The compiled link phase (``ckernel.link_select`` + ``link_apply``)
    and the numpy one it replaces (``_link_chunk``: peer block, trim,
    batched heuristic, dict-of-lists reverse links) build the same graph
    from the same compiled candidate pools: identical ``links`` and
    ``counts`` after a full build and after an ``add_batch``. The
    compiled side fans out over more threads than cores (16), each
    writing its own rows of one shared selection buffer."""
    monkeypatch.setenv("SPARK_GRAFT_BUILD_WORKERS", "16")
    rng = np.random.default_rng(11)
    n, d, extra = 1500, 24, 300
    vecs = np.ascontiguousarray(rng.standard_normal((n, d)).astype(dtype))
    more = rng.standard_normal((extra, d)).astype(dtype)

    def build_and_add():
        graph = HNSWIndex._build_graph(vecs, metric, 8, 48, 42)
        built = ([a.copy() for a in graph.links], [c.copy() for c in graph.counts])
        idx = HNSWIndex(np.arange(n, dtype=np.int64), vecs.copy(), graph, metric)
        idx.add_batch(np.arange(n, n + extra, dtype=np.int64), more)
        return built, (idx.graph.links, idx.graph.counts)

    c_built, c_added = build_and_add()

    def numpy_link(g, vecs_, metric_, chunk, cands, workers, tp):
        HNSWIndex._link_chunk(g, vecs_, metric_, chunk, cands)

    monkeypatch.setattr(HNSWIndex, "_c_link_chunk", staticmethod(numpy_link))
    n_built, n_added = build_and_add()
    for (cl, cc), (nl, nc) in ((c_built, n_built), (c_added, n_added)):
        assert len(cl) == len(nl)
        for a, b in zip(cl, nl):
            assert np.array_equal(a, b)
        for a, b in zip(cc, nc):
            assert np.array_equal(a, b)
    assert c_added[1][0][n:].sum() > 0  # the appended rows are linked


def test_build_reads_with_one_spark_job(spark, sf_smoke):
    """``HNSWIndex.build`` reads its table with one job (no orderBy
    range sampling or sort shuffle) and still orders rows by id when
    the frame hands them over out of order."""
    import os
    import uuid

    df = spark.read.parquet(os.path.join(sf_smoke, "embeddings.parquet"))
    sc = spark.sparkContext
    group = f"hnsw_build_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "hnsw build")
    try:
        idx = HNSWIndex.build(df, metric="cosine", vec_col="embedding",
                              id_col="vec_id", m=8, ef_construction=40)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert np.array_equal(idx.ids, np.sort(idx.ids))

    rows = df.select("vec_id", "embedding").collect()
    want = {int(r["vec_id"]): np.asarray(r["embedding"]) for r in rows}
    rev = spark.createDataFrame(sorted(rows, key=lambda r: -r["vec_id"]))
    idx = HNSWIndex.build(rev, metric="cosine", vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=40)
    assert np.array_equal(idx.ids, np.sort(list(want)))
    for i in (0, 1, len(idx.ids) - 1):
        assert np.allclose(idx.vecs[i], want[int(idx.ids[i])])


def test_broken_so_cache_recovers_not_crashes(tmp_path):
    """Round-12 incident: a raced first-use compile can install a
    symbol-less .so in the shared cache (concurrent writers once shared
    the .c scratch), and every later binder then crashed at _bind with
    AttributeError. _compile must validate exports, recompile once over
    a broken artifact, and publish a good library — in a process that
    already dlopened the broken path (dlopen caches by pathname)."""
    import hashlib
    import os
    import subprocess
    import sys
    import tempfile

    if not ckernel.available():
        pytest.skip("no C toolchain on this host")
    # isolate in a subprocess WITH ITS OWN TMPDIR (_compile derives the
    # cache path from tempfile.gettempdir(), honored at process start):
    # planting the broken .so in the real shared cache made unrelated
    # parallel test workers hit the poisoned window. The subprocess
    # plants a broken .so at its private cache path, dlopens it (so the
    # pathname is cached stale in THAT process), then asks ckernel for
    # the kernel — must get a working one, and must republish a
    # validated artifact at the (private) published path
    repo_root = os.path.abspath(ckernel.__file__).rsplit(
        "/lab_1806_vec_db_spark", 1)[0]
    code = f"""
import ctypes, hashlib, os, subprocess, sys, tempfile
sys.path.insert(0, {repo_root!r})
assert tempfile.gettempdir() == os.environ["TMPDIR"], "TMPDIR isolation failed"
from lab_1806_vec_db_spark.index import ckernel
tag = hashlib.sha256(ckernel._source().encode()).hexdigest()[:16]
so = os.path.join(tempfile.gettempdir(), f"spark_graft_hnsw_{{tag}}.so")
cfile = so + ".plant.c"
open(cfile, "w").write("")
subprocess.run(["cc", "-shared", "-fPIC", "-o", so, cfile], check=True)
os.unlink(cfile)
ctypes.CDLL(so)  # poison this process's dlopen pathname cache
assert ckernel.available(), "must recover via recompile, not crash"
lib = ckernel.get_lib()
assert hasattr(lib, "hnsw_search_f64")
print("OK " + so)
"""
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", code],
                         capture_output=True, text=True, timeout=300,
                         env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "OK" in out.stdout
    # the published cache entry is the validated rebuild — checked from
    # THIS process (the subprocess's dlopen pathname cache would hand
    # back the stale broken handle for the same path)
    import ctypes as ct

    so = out.stdout.split("OK ", 1)[1].strip()
    assert os.path.dirname(so) == str(tmp_path)
    assert hasattr(ct.CDLL(so), "hnsw_search_f64")
