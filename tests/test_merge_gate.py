"""The one merge gate of the batch scan tiers (operators/knn.py
``driver_side``): every tier finishes through it, and its two sides —
the driver merge and the window plan — must return identical ordered
``(query_id, id, dist)`` rows. Tests force each side by monkeypatching
``DRIVER_MERGE_MAX_BYTES``, and the PQ-family cases force their
fused or two-wave plan through ``index.pq.FUSE_MAX_DIM``; the DEBUG
decision records on the ``lab_1806_vec_db_spark`` logger show which
side and which plan each serve took."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.ivf import IVFIndex
from lab_1806_vec_db_spark.index import pq as pq_mod
from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
from lab_1806_vec_db_spark.index.pq import PQTable
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.session import read_table

#: DRIVER_MERGE_MAX_BYTES values that force each side of the gate
SIDES = {"driver": 1 << 62, "window": -1}
METRICS = ("l2sqr", "cosine")
CASES = ("flat", "ivf", "pq_fused", "pq_two_wave", "ivfpq_fused",
         "ivfpq_two_pass", "filtered")
#: the tier each case logs its gate decision under
TIER = {"flat": "flat", "ivf": "ivf", "pq_fused": "pq", "pq_two_wave": "pq",
        "ivfpq_fused": "ivfpq", "ivfpq_two_pass": "ivfpq",
        "filtered": "filtered"}
#: FUSE_MAX_DIM per PQ-family case: the default fuses the 64-dim
#: fixture, 0 forces two-wave
FUSE_DIM = {"pq_fused": pq_mod.FUSE_MAX_DIM, "ivfpq_fused": pq_mod.FUSE_MAX_DIM,
            "pq_two_wave": 0, "ivfpq_two_pass": 0}


@pytest.fixture(scope="module")
def emb(spark, sf_correct):
    return read_table(spark, sf_correct, "embeddings").cache()


def _build(base):
    """Per-metric indexes over ``base``; the PQ and IVF+PQ layouts carry
    vectors, so one index serves both its fused and two-wave plans."""
    ivf = {m: IVFIndex.build(base, k=4, metric=m, vec_col="embedding",
                             id_col="vec_id", train_size=300)
           for m in METRICS}
    pq = PQTable.train(base, dim=64, m=16, n_bits=8, train_proportion=0.5,
                       vec_col="embedding", id_col="vec_id")
    ivfpq = {m: IVFPQIndex.build(base, k_coarse=4, m=16, n_bits=8, metric=m,
                                 vec_col="embedding", id_col="vec_id",
                                 train_size=300)
             for m in METRICS}
    assert "embedding" in pq.codes.columns
    assert all("embedding" in i.codes_clustered.columns for i in ivfpq.values())
    return {"base": base, "ivf": ivf, "pq": pq, "ivfpq": ivfpq}


@pytest.fixture(scope="module")
def full(emb):
    return _build(emb)


@pytest.fixture(scope="module")
def tiny(emb):
    """A 40-row table, for k greater than the table's row count."""
    return _build(emb.filter(F.col("vec_id") < 40).cache())


def _serve(case, ix, queries, k, ef, metric, ub):
    """The case's serve as a list of result frames."""
    base = ix["base"]
    kw = dict(qid_col="query_id", qvec_col="embedding", upper_bound=ub)
    if case == "flat":
        return [knn_ops.knn_batch(base, queries, k, metric=metric,
                                  vec_col="embedding", id_col="vec_id", **kw)]
    if case == "ivf":
        return [ix["ivf"][metric].search_batch(queries, k, n_probes=2, **kw)]
    if case.startswith("pq"):
        return [ix["pq"].search_batch(queries, k, ef=ef, metric=metric, **kw)]
    if case.startswith("ivfpq"):
        return [ix["ivfpq"][metric].search_batch(
            queries, k, n_probes=2, ef=ef, metric=metric, **kw)]
    # the filtered finisher over a flat pool (the threshold thins the
    # pool, so starved queries take the exact fallback), strict and
    # thin-intersection escalation
    pool_k = 2 * k
    pool = knn_ops.knn_batch(base, queries, pool_k, metric=metric,
                             vec_col="embedding", id_col="vec_id", **kw)
    filtered = base.filter(F.col("vec_id") % 3 == 0)
    return [
        knn_ops.filtered_topk_from_pool(
            pool, queries, k, filtered, "vec_id", metric, "embedding",
            qvec_col="embedding", pool_k=pool_k, fallback_margin=margin)
        for margin in (1.0, 1.5)
    ]


def _rows(case, ix, queries, k, ef, metric, ub, side, monkeypatch, caplog):
    monkeypatch.setattr(knn_ops, "DRIVER_MERGE_MAX_BYTES", SIDES[side])
    if case in FUSE_DIM:
        monkeypatch.setattr(pq_mod, "FUSE_MAX_DIM", FUSE_DIM[case])
    caplog.clear()
    rows = [tuple(r) for f in _serve(case, ix, queries, k, ef, metric, ub)
            for r in f.collect()]
    msgs = [r.getMessage() for r in caplog.records]
    if case in FUSE_DIM and queries.count():
        plan = "fused" if case.endswith("fused") else "two_wave"
        assert [m for m in msgs if m.startswith("fuse rule ")] == [
            f"fuse rule vec=True dim=64 bound={FUSE_DIM[case]} plan={plan}"]
    gates = [m for m in msgs if m.startswith(f"merge gate tier={TIER[case]} ")]
    return rows, gates


def _queries(base, n):
    return base.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding")


@pytest.mark.parametrize("ub", [None, 0.9])
@pytest.mark.parametrize("metric", METRICS)
@pytest.mark.parametrize("case", CASES)
def test_gate_sides_identical(case, metric, ub, full, monkeypatch, caplog):
    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    queries = _queries(full["base"], 12)
    out = {}
    for side in SIDES:
        rows, gates = _rows(case, full, queries, 5, 40, metric, ub, side,
                            monkeypatch, caplog)
        assert gates and all(g.endswith(f"side={side}") for g in gates), gates
        out[side] = rows
    assert out["driver"] == out["window"]
    if case != "filtered":  # the filtered case concatenates two serves
        assert out["driver"] == sorted(out["driver"], key=lambda t: (t[0], t[2], t[1]))
    assert {t[0] for t in out["driver"]} <= set(range(12))
    if ub is None:
        assert len(out["driver"]) == (24 * 5 if case == "filtered" else 12 * 5)
    elif case != "filtered":  # its exact fallback is not thresholded
        assert all(t[2] <= ub for t in out["driver"])


@pytest.mark.parametrize("case", CASES)
def test_gate_sides_edge_inputs(case, tiny, monkeypatch, caplog):
    """An empty query block, and k (and ef) above the table's 40 rows:
    both sides agree, every query gets each row it can reach, and the
    empty block yields an empty frame of the result schema."""
    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    empty = _queries(tiny["base"], 0)
    big = _queries(tiny["base"], 3)
    for queries, n_q in ((empty, 0), (big, 3)):
        out = {}
        for side in SIDES:
            out[side], _ = _rows(case, tiny, queries, 50, 60, "l2sqr", None,
                                 side, monkeypatch, caplog)
        assert out["driver"] == out["window"], (case, n_q)
        if n_q == 0:
            assert out["driver"] == []
        elif case in ("flat", "pq_fused", "pq_two_wave"):
            # exhaustive tiers: every query ranks all 40 rows
            assert len(out["driver"]) == 3 * 40
        elif case == "filtered":
            # 14 ids ≡ 0 mod 3 below 40: the exact fallback fills them
            assert len(out["driver"]) == 2 * 3 * 14
    assert knn_ops.knn_batch(tiny["base"], empty, 5, vec_col="embedding",
                             id_col="vec_id", qvec_col="embedding").columns \
        == ["query_id", "vec_id", "dist"]


def test_fused_pq_gate_uses_its_32_byte_rows(emb, full, monkeypatch, caplog):
    """The gate takes the row width from the emission's schema: the
    fused PQ emission carries (query_id, id, adc, dist) = 32 B/row, the
    two-wave one 24 B/row. With the bound between 24 and 32 B times the
    serve's estimated rows, the fused serve must take the window side
    and the two-wave serve the driver side — with identical rows."""
    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    pq = full["pq"]
    queries = _queries(emb, 12)
    ef = 40
    est_rows = pq.code_partitions * ef * 12
    monkeypatch.setattr(knn_ops, "DRIVER_MERGE_MAX_BYTES", 28 * est_rows)
    out = {}
    for fuse in (True, False):
        monkeypatch.setattr(pq_mod, "FUSE_MAX_DIM", FUSE_DIM["pq_fused"] if fuse else 0)
        caplog.clear()
        out[fuse] = [tuple(r) for r in pq.search_batch(
            queries, 5, ef=ef, metric="l2sqr", qvec_col="embedding").collect()]
        gates = [r.getMessage() for r in caplog.records
                 if r.getMessage().startswith("merge gate tier=pq ")]
        width, side = (32, "window") if fuse else (24, "driver")
        assert gates == [
            f"merge gate tier=pq est_rows={est_rows} row_bytes={width} "
            f"bound={28 * est_rows} side={side}"
        ]
    assert out[True] == out[False]
