"""Property-based tests (hypothesis) for the pure kernels: distance
algebra, cast saturation, PQ packing, heuristic selection, rounding.
These go beyond the reference's own test strategy (SURVEY §5 notes it
has no property tests) — they pin the invariants the oracle relies on.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from lab_1806_vec_db_spark.functions.distance import calc_dist
from lab_1806_vec_db_spark.index.kmeans import _pairwise_dist
from lab_1806_vec_db_spark.index.pq import pack_codes, pq_groups, unpack_codes
from lab_1806_vec_db_spark.operators.knn import (
    TopkAccumulator,
    local_topk_grouped,
    np_round_half_up,
)

finite = st.floats(min_value=-1e3, max_value=1e3, allow_nan=False, width=32)
vec = st.lists(finite, min_size=1, max_size=16)


@given(vec)
@settings(max_examples=50, deadline=None)
def test_calc_dist_identity(v):
    assert calc_dist(v, v, "l2sqr") == 0.0
    # self-cosine is 0 only above the reference's 1e-10 denominator
    # floor (distance/mod.rs:68) — below it the floor dominates and the
    # distance is deliberately nonzero
    if sum(x * x for x in v) > 1e-5:
        assert abs(calc_dist(v, v, "cosine")) < 1e-9


@given(vec, vec)
@settings(max_examples=50, deadline=None)
def test_calc_dist_symmetry_and_bounds(a, b):
    n = min(len(a), len(b))
    a, b = a[:n], b[:n]
    assert calc_dist(a, b, "l2sqr") == calc_dist(b, a, "l2sqr") >= 0.0
    c = calc_dist(a, b, "cosine")
    assert calc_dist(b, a, "cosine") == c
    assert -1e-9 <= c <= 2.0 + 1e-9  # cosine distance range (distance/mod.rs:60-69)


@given(st.integers(min_value=1, max_value=2048), st.integers(min_value=1, max_value=64))
def test_pq_groups_partition_exactly(dim, m):
    m = min(m, dim)
    groups = pq_groups(dim, m)
    assert len(groups) == m
    assert groups[0][0] == 0
    for (s1, l1), (s2, _) in zip(groups, groups[1:]):
        assert s1 + l1 == s2
        assert l1 > 0
    assert sum(l for _, l in groups) == dim
    sizes = [l for _, l in groups]
    assert max(sizes) - min(sizes) <= 1  # div_ceil balance (pq_table.rs:38-53)


@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=33),
    st.sampled_from([4, 8]),
    st.integers(min_value=0, max_value=2**32 - 1),
)
@settings(max_examples=50, deadline=None)
def test_pack_unpack_roundtrip(n, m, n_bits, seed):
    rng = np.random.default_rng(seed)
    codes = rng.integers(0, 1 << n_bits, (n, m)).astype(np.uint8)
    width = m if n_bits == 8 else (m + 1) // 2
    buf = np.frombuffer(b"".join(pack_codes(codes, n_bits)), dtype=np.uint8).reshape(n, width)
    assert (unpack_codes(buf, m, n_bits) == codes).all()


@given(st.floats(min_value=0, max_value=1e6, allow_nan=False))
@settings(max_examples=100, deadline=None)
def test_round_half_up_matches_sql_semantics(x):
    got = float(np_round_half_up(np.asarray([x]))[0])
    # SQL ROUND(x, 4): half away from zero for non-negative inputs
    expect = math.floor(x * 10_000 + 0.5) / 10_000
    assert got == expect
    assert got >= 0.0 and math.copysign(1.0, got) == 1.0  # never -0.0


@given(st.integers(min_value=2, max_value=30), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=30, deadline=None)
def test_pairwise_dist_matches_naive(n, seed):
    rng = np.random.default_rng(seed)
    x = rng.normal(size=(n, 8))
    c = rng.normal(size=(3, 8))
    d = _pairwise_dist(x, c, "l2sqr")
    naive = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
    assert np.allclose(d, naive, atol=1e-8)
    dc = _pairwise_dist(x, c, "cosine")
    assert (dc >= -1e-9).all() and (dc <= 2.0 + 1e-9).all()


@given(st.floats(min_value=0.01, max_value=1e7, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_cents_rounding_portable_python_vs_duckdb(x):
    """The exact-cents contract (operators/relational.py:cents) relies
    on floor(x*100 + 0.5) evaluating identically on IEEE doubles in
    every engine; cross-check Python's C-double arithmetic against
    DuckDB's for random prices."""
    import duckdb

    py = math.floor(x * 100 + 0.5)
    db = duckdb.sql(
        f"SELECT CAST(floor(CAST({x!r} AS DOUBLE) * 100 + 0.5) AS BIGINT)"
    ).fetchone()[0]
    assert py == db


@given(st.text(alphabet=st.characters(codec="ascii", exclude_characters="'\x00"), max_size=24))
@settings(max_examples=100, deadline=None)
def test_hash32_portable_python_vs_duckdb(s):
    """The md5-prefix 32-bit hash that keys MinHash/LSH/fingerprints
    must agree across engines for arbitrary token content."""
    import duckdb
    import hashlib

    py = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
    db = duckdb.execute(
        "SELECT CAST(('0x' || substr(md5(?),1,8)) AS BIGINT)", [s]
    ).fetchone()[0]
    assert py == db


@given(
    st.integers(min_value=1, max_value=12),     # fragments
    st.integers(min_value=1, max_value=5),      # k
    st.integers(min_value=1, max_value=40),     # row floor
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),                              # vector payload
)
@settings(max_examples=60, deadline=None)
def test_topk_accumulator_matches_one_shot(n_frag, k, floor, seed, payload):
    """The per-task candidate accumulator, fed random fragments in
    random order with tiny floors (so the geometric compaction fires),
    keeps exactly the triples one-shot ``local_topk_grouped`` keeps on
    the concatenation; its payload holds exactly the vectors the
    surviving triples reference. Fragments own disjoint ids (a row
    lives in one Arrow fragment) and repeat distances (ties), inf and
    NaN, so the per-query bounds the accumulator prunes against meet
    every order case."""
    rng = np.random.default_rng(seed)
    frags, next_id = [], 0
    for _ in range(n_frag):
        n_ids = int(rng.integers(1, 8))
        fid = next_id + rng.permutation(n_ids * 3)[:n_ids].astype(np.int64)
        next_id += n_ids * 3
        pick = rng.random((n_ids, 4)) < 0.7  # (id, query) pairs present
        ii, qq = np.nonzero(pick)
        frags.append((qq.astype(np.int64), fid[ii],
                      np.array([0.0, 0.5, 1.0, 1.5, np.inf, np.nan])[
                          rng.integers(0, 6, ii.size)], fid))
    vec_of = {int(i): rng.normal(size=3) for f in frags for i in f[3]}
    acc = TopkAccumulator(k, floor, 8 if payload else 0)
    for j in rng.permutation(n_frag):
        qx, ids, d, fid = frags[j]
        if payload:
            acc.add(qx, ids, d, fid, np.stack([vec_of[int(i)] for i in fid]))
        else:
            acc.add(qx, ids, d)
    out = acc.result()
    qx, ids, d = (np.concatenate([f[i] for f in frags]) for i in range(3))
    keep = local_topk_grouped(qx, ids, d, k)
    def triples(q, i, dd):
        return sorted(zip(q.tolist(), i.tolist(),
                          ["nan" if np.isnan(v) else v for v in dd.tolist()]))

    want = triples(qx[keep], ids[keep], d[keep])
    if not want:
        assert out is None
        return
    got = triples(*out[:3])
    assert got == want
    if payload:
        vx, rows = out[3], out[4]
        assert len(vx) == len(set(out[1].tolist()))
        for i, r in zip(out[1].tolist(), rows.tolist()):
            assert np.array_equal(vx[r], vec_of[i])
    else:
        assert len(out) == 3
