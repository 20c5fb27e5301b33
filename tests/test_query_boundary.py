"""One query contract at the batch boundary. Every batch tier — flat,
IVF, PQ, IVF+PQ, HNSW and sharded HNSW — takes its query block, a
DataFrame or a driver-side matrix, through
``operators/knn.py::collect_query_block``, so each bad input gets the
same error on every tier: a wrong width raises ``Dimension mismatch``,
a NaN or infinite value raises the non-finite error, and a block above
``knn.MAX_QUERIES`` rows raises the cap error. A good block serves k
rows per query, the same rows from either block kind.

The table is generated over both driver kernels: the compiled one and
the numpy one (``SPARK_GRAFT_NO_CKERNEL=1``, forced on the driver,
where the guard and the graph serves run)."""

from __future__ import annotations

import numpy as np
import pytest

from lab_1806_vec_db_spark.db.vecdb import VecDB
from lab_1806_vec_db_spark.index import ckernel
from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
from lab_1806_vec_db_spark.index.ivf import IVFIndex
from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
from lab_1806_vec_db_spark.index.pq import PQTable
from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex
from lab_1806_vec_db_spark.operators import knn as knn_ops

N, DIM, K = 300, 8, 3
TIERS = ("flat", "ivf", "pq", "ivfpq", "hnsw", "sharded")
BLOCKS = ("frame", "matrix")
#: bad input → the error it raises
ERRORS = {
    "dim": "Dimension mismatch",
    "nan": "Non-finite query value",
    "inf": "Non-finite query value",
    "cap": "exceeds the broadcast bound",
}


@pytest.fixture(scope="module")
def tiers(spark, tmp_path_factory):
    """tier → batch serve ``f(queries)`` over the same seeded table."""
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(N, DIM))
    base = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "id long, vec array<double>",
    ).cache()
    base.count()
    ivf = IVFIndex.build(base, k=4, metric="l2sqr", train_size=N)
    pq = PQTable.train(base, dim=DIM, m=4, n_bits=4, train_proportion=1.0)
    ivfpq = IVFPQIndex.build(base, k_coarse=4, m=4, n_bits=4,
                             metric="l2sqr", train_size=N)
    hnsw = HNSWIndex.build(base, metric="l2sqr", m=8, ef_construction=40)
    sharded = ShardedHNSWIndex.build(
        base, str(tmp_path_factory.mktemp("boundary") / "sh"), n_shards=2,
        metric="l2sqr", ef_construction=40, train_size=N)
    return {
        "flat": lambda q: knn_ops.knn_batch(base, q, K, metric="l2sqr",
                                            dim=DIM),
        "ivf": lambda q: ivf.search_batch(q, K, n_probes=2),
        "pq": lambda q: pq.search_batch(q, K, ef=20, metric="l2sqr"),
        "ivfpq": lambda q: ivfpq.search_batch(q, K, n_probes=2, ef=20),
        "hnsw": lambda q: hnsw.search_batch(q, K, ef=20),
        "sharded": lambda q: sharded.search_batch(q, K, ef=20, n_probes=2),
    }


@pytest.fixture(params=["ckernel", "numpy"])
def kernel(request, monkeypatch):
    """The driver kernel: the compiled one, or the numpy reference as
    under ``SPARK_GRAFT_NO_CKERNEL=1``."""
    if request.param == "numpy":
        monkeypatch.setenv("SPARK_GRAFT_NO_CKERNEL", "1")
        monkeypatch.setattr(ckernel, "_lib", None)
        monkeypatch.setattr(ckernel, "_tried", False)
        assert not ckernel.available()
    return request.param


def _block(spark, kind: str, qmat: np.ndarray):
    if kind == "matrix":
        return qmat
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(qmat)],
        "query_id long, vec array<double>",
    )


def _queries(case: str) -> np.ndarray:
    """Three queries, broken as ``case`` says (any other case: intact)."""
    q = np.random.default_rng(9).normal(size=(3, DIM))
    if case == "dim":
        return np.hstack([q, np.zeros((3, 1))])
    if case == "nan":
        q[1, 2] = np.nan
    elif case == "inf":
        q[2, 0] = -np.inf
    return q


@pytest.mark.parametrize("case", list(ERRORS))
@pytest.mark.parametrize("kind", BLOCKS)
@pytest.mark.parametrize("tier", TIERS)
def test_bad_block_raises(spark, tiers, kernel, monkeypatch, tier, kind, case):
    """Each bad block raises its one error on every tier and block kind,
    before any kernel sees it."""
    if case == "cap":
        monkeypatch.setattr(knn_ops, "MAX_QUERIES", 2)
    with pytest.raises(ValueError, match=ERRORS[case]):
        tiers[tier](_block(spark, kind, _queries(case))).collect()


@pytest.mark.parametrize("tier", TIERS)
def test_good_block_serves(spark, tiers, kernel, tier):
    """A good block serves k rows per query, and the DataFrame block
    and the matrix block return the same rows."""
    qmat = _queries("ok")
    by_kind = {kind: sorted(tuple(r) for r in
                            tiers[tier](_block(spark, kind, qmat)).collect())
               for kind in BLOCKS}
    assert len(by_kind["frame"]) == 3 * K
    assert by_kind["frame"] == by_kind["matrix"]


@pytest.mark.parametrize("case", ["nan", "inf"])
def test_point_search_non_finite_raises(spark, tmp_path, case):
    """``VecDB.search`` applies the rule next to its dimension check, on
    the driver-served graph tier as on a scan tier."""
    db = VecDB(str(tmp_path / "db"), spark=spark)
    try:
        rng = np.random.default_rng(3)
        for key in ("flat_t", "hnsw_t"):
            db.create_table_if_not_exists(key, DIM, "l2sqr")
            db.batch_add(key, [[float(x) for x in v]
                               for v in rng.normal(size=(40, DIM))],
                         [{"i": str(i)} for i in range(40)])
        db.build_hnsw_index("hnsw_t")
        q = [float(x) for x in _queries(case)[1 if case == "nan" else 2]]
        for key in ("flat_t", "hnsw_t"):
            with pytest.raises(ValueError, match=ERRORS[case]):
                db.search(key, q, K, ef=20)
    finally:
        db.close()
