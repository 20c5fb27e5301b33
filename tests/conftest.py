from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lab_1806_vec_db_spark import get_spark  # noqa: E402
from lab_1806_vec_db_spark.index import ckernel  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_CORRECT = os.environ.get("SPARK_GRAFT_CORRECT_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield spark


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


@pytest.fixture(params=["ckernel", "numpy"])
def kernel(request, spark, monkeypatch):
    """The kernel of the driver and of the Python workers: the compiled
    one, or the numpy reference as under ``SPARK_GRAFT_NO_CKERNEL=1``.
    The switch reaches the workers through the context's environment (a
    new UDF then starts its own worker daemon), and a ``mapInArrow``
    probe checks that the workers see it."""
    if request.param == "numpy":
        monkeypatch.setitem(spark.sparkContext.environment,
                            "SPARK_GRAFT_NO_CKERNEL", "1")
        monkeypatch.setenv("SPARK_GRAFT_NO_CKERNEL", "1")
        monkeypatch.setattr(ckernel, "_lib", None)
        monkeypatch.setattr(ckernel, "_tried", False)
    want = request.param == "ckernel" and ckernel.available()

    def probe(batches):
        from lab_1806_vec_db_spark.index import ckernel as ck

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"c": int(ck.available())}])

    seen = {r["c"] for r in spark.range(1).mapInArrow(probe, "c long").collect()}
    assert seen == {int(want)}
    return request.param
