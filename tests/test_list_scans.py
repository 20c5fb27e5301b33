"""The four batch scan tiers run two list-probe scans, so each pair of
tiers that shares one must return the same rows:

- the exact scan (``operators/knn.py::exact_list_scan``): the flat
  batch scan equals IVF probing every cluster (the reference's own
  equivalence gate, ivf_index.rs:166-235), on f64 and f32 stores, both
  metrics, identical ids AND distances. The data is not normalised, so
  any f32 arithmetic on the f32 store would move a 4-dp distance;
- the ADC scan (``index/pq.py::adc_list_scan``): flat PQ equals IVF+PQ
  built over the same ``PQTable`` with one centroid, on the fused and
  the two-wave plan, both metrics.

Each table runs on both executor kernels: the compiled one and the
numpy one (``SPARK_GRAFT_NO_CKERNEL=1``, set on the driver and handed
to the Python workers through the context's environment; the ``kernel``
fixture of ``conftest.py``)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index import pq as pq_mod
from lab_1806_vec_db_spark.index.ivf import IVFIndex
from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
from lab_1806_vec_db_spark.index.kmeans import KMeansModel
from lab_1806_vec_db_spark.index.pq import PQTable
from lab_1806_vec_db_spark.operators import knn as knn_ops

N, DIM, NQ, K, LISTS = 2000, 16, 40, 10, 8
METRICS = ("l2sqr", "cosine")


def _rows(frame) -> list[tuple]:
    return sorted(tuple(r) for r in frame.collect())


@pytest.fixture(scope="module")
def data(spark):
    """(f64 table, f32 table, query matrix): clustered, unnormalised
    (norms ~100)."""
    rng = np.random.default_rng(11)
    centers = rng.normal(scale=30.0, size=(16, DIM))
    vecs = centers[rng.integers(0, 16, N)] + rng.normal(scale=10.0, size=(N, DIM))
    queries = centers[rng.integers(0, 16, NQ)] + rng.normal(scale=10.0, size=(NQ, DIM))
    base = spark.createDataFrame(pa.table({
        "id": pa.array(np.arange(N), type=pa.int64()),
        "vec": pa.array(list(vecs), type=pa.list_(pa.float64())),
    })).cache()
    base32 = base.withColumn("vec", F.col("vec").cast("array<float>")).cache()
    return {"float64": base, "float32": base32}, queries


@pytest.mark.parametrize("metric", METRICS)
@pytest.mark.parametrize("dtype", ["float64", "float32"])
def test_flat_equals_ivf_probing_every_list(data, kernel, dtype, metric):
    tables, queries = data
    base = tables[dtype]
    ivf = IVFIndex.build(base, k=LISTS, metric=metric, train_size=N,
                         store_vec_dtype=dtype)
    flat = _rows(knn_ops.knn_batch(base, queries, K, metric=metric, dim=DIM))
    probed = _rows(ivf.search_batch(queries, K, n_probes=LISTS))
    assert len(flat) == NQ * K
    assert probed == flat


@pytest.fixture(scope="module")
def pq_table(data):
    tables, _ = data
    return PQTable.train(tables["float64"], dim=DIM, m=8, n_bits=4,
                         train_proportion=1.0)


@pytest.mark.parametrize("fused", [True, False])
@pytest.mark.parametrize("metric", METRICS)
def test_pq_equals_one_list_ivfpq(data, pq_table, kernel, monkeypatch, metric, fused):
    tables, queries = data
    base = tables["float64"]
    assert "vec" in pq_table.codes.columns  # both plans are open to it
    if not fused:
        monkeypatch.setattr(pq_mod, "FUSE_MAX_DIM", 0)
    one = KMeansModel(centroids=queries.mean(axis=0, keepdims=True), metric=metric)
    ivfpq = IVFPQIndex(one, pq_table,
                       pq_table.codes.withColumn("cluster_id", F.lit(0)), base)
    flat = _rows(pq_table.search_batch(queries, 5, ef=20, metric=metric))
    listed = _rows(ivfpq.search_batch(queries, 5, n_probes=1, ef=20))
    assert len(flat) == NQ * 5
    assert listed == flat


def test_probe_serve_py4j_round_trips(spark, data, monkeypatch):
    """A warm IVF or IVF+PQ batch serve that probes most of 64 lists
    plans its list filter as one SQL ``IN`` and reads the scan's
    partition count from the frame it probed once: its py4j round trips
    (counted at ``send_command``, the garbage collector's memory
    releases aside) stay well under one per probed list on top of the
    plan. A Column literal per list cost ~4 round trips each."""
    from py4j.clientserver import ClientServerConnection

    tables, queries = data
    base = tables["float64"]
    ivf = IVFIndex.build(base, k=64, metric="l2sqr", train_size=N)
    ivfpq = IVFPQIndex.build(base, k_coarse=64, m=8, metric="l2sqr", train_size=N)
    calls = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    serves = {
        "ivf": lambda: ivf.search_batch(queries, K, n_probes=16),
        "ivfpq": lambda: ivfpq.search_batch(queries, K, n_probes=16, ef=40),
    }
    for tier, serve in serves.items():
        first = _rows(serve())
        probed = np.unique(ivf.model.rank_centroids_batch(queries, 16)).size
        assert probed >= 48
        calls[0] = 0
        assert _rows(serve()) == first
        assert calls[0] < 200, (tier, calls[0])
