"""One append for both ingest APIs. ``VecDB.batch_add`` (lists) and
``VecDB.batch_add_df`` (frames) run through ``VecDB._append``: one
validation projection, one id-stamping rule, one index absorption. The
table below runs each input kind — a list, an Arrow-built local frame
and a distributed parquet frame — over both data types and five row
kinds:

- good rows land identically from every input kind: the same ids,
  vectors, metadata and norms;
- a wrong-width row, a NULL element, and on float32 tables a NaN or
  infinite value, raise ``ValueError`` before any id is reserved:
  ``next_id``, ``len`` and the table's parquet directory are unchanged;
- on uint8 tables NaN and inf are not errors: the saturating cast maps
  ``[300, -5, NaN]`` to ``(255, 0, 0)`` (scalar.rs:20-37).

Also pinned: the Spark jobs each input kind costs, and the ``str``
metadata contract of the list API."""

from __future__ import annotations

import math
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lab_1806_vec_db_spark.db.vecdb import VecDB

DIM, N = 3, 12
INPUTS = ("list", "local", "parquet")
DTYPES = ("float32", "uint8")
#: the bad row each case puts at position 5 of the batch
BAD = {
    "dim": [1.0, 2.0],
    "nan": [300.0, -5.0, math.nan],
    "inf": [math.inf, -math.inf, 1.5],
    "null": [1.0, None, 2.0],
}
#: what a uint8 table stores for the accepted NaN / inf rows
U8 = {"nan": [255, 0, 0], "inf": [255, 0, 1]}


@pytest.fixture(scope="module")
def db(spark, tmp_path_factory):
    d = VecDB(str(tmp_path_factory.mktemp("ingest")), spark=spark)
    yield d
    d.close()


def _vecs(case: str = "good") -> list[list[float]]:
    vecs = [[float(i), -0.5 * i, 2.25 * i + 0.1] for i in range(N)]
    vecs[0] = [300.0, -5.0, 2.5]
    if case != "good":
        vecs[5] = BAD[case]
    return vecs


def _append(db, spark, tmp_path, how: str, key: str, vecs, n0: int = 0):
    """Append ``vecs`` with tags ``r{n0}..`` through input kind ``how``."""
    tags = [f"r{n0 + i}" for i in range(len(vecs))]
    if how == "list":
        return db.batch_add(key, vecs, [{"tag": t} for t in tags])
    tbl = pa.table({"vec": pa.array(vecs, type=pa.list_(pa.float64())),
                    "tag": pa.array(tags)})
    if how == "local":
        frame = spark.createDataFrame(tbl)
    else:
        path = str(tmp_path / f"{key}_{uuid.uuid4().hex[:6]}.parquet")
        pq.write_table(tbl, path)
        frame = spark.read.parquet(path)
    return db.batch_add_df(key, frame, vec_col="vec", meta_cols=("tag",))


def _table(db, key: str) -> list[tuple]:
    return [(r["id"], list(r["vec"]), dict(r["metadata"]), r["norm"])
            for r in db.table_df(key).orderBy("id").collect()]


def _state(db, key: str) -> tuple:
    path = db._table_path(key)
    files = sorted(os.path.join(root, f)
                   for root, _dirs, fs in os.walk(path) for f in fs)
    meta = db._meta(key)
    return meta["next_id"], meta["len"], meta.get("pending_append"), files


def _new_table(db, spark, tmp_path, dtype: str, tag: str) -> str:
    """A table of ``dtype`` seeded with 4 rows, so ids start at 4."""
    key = f"{tag}_{dtype}_{uuid.uuid4().hex[:6]}"
    db.create_table_if_not_exists(key, DIM, "l2sqr", data_type=dtype)
    db.batch_add(key, [[1.0, 1.0, 1.0]] * 4, [{"tag": "seed"}] * 4)
    return key


@pytest.mark.parametrize("dtype", DTYPES)
def test_good_rows_identical_from_every_input(db, spark, tmp_path, dtype):
    """The same string-valued input lands as the same (id, vec,
    metadata, norm) rows through the list API, a local frame and a
    distributed parquet frame."""
    got = {}
    for how in INPUTS:
        key = _new_table(db, spark, tmp_path, dtype, how)
        _append(db, spark, tmp_path, how, key, _vecs())
        got[how] = _table(db, key)
        assert db.get_len(key) == 4 + N
    assert got["list"] == got["local"] == got["parquet"]
    rows = got["list"][4:]
    assert [r[0] for r in rows] == list(range(4, 4 + N))
    assert [r[2] for r in rows] == [{"tag": f"r{i}"} for i in range(N)]
    if dtype == "uint8":
        assert rows[0][1] == [255, 0, 2]  # saturate, truncate toward zero
    else:
        assert rows[1][1] == pytest.approx([1.0, -0.5, 2.35])


@pytest.mark.parametrize("case", sorted(BAD))
@pytest.mark.parametrize("dtype", DTYPES)
@pytest.mark.parametrize("how", INPUTS)
def test_bad_row(db, spark, tmp_path, how, dtype, case):
    """A rejected row raises before any id is reserved; a uint8 table
    takes NaN and inf through the saturating cast, but not NULL."""
    key = _new_table(db, spark, tmp_path, dtype, how)
    before = _state(db, key)
    if case in ("dim", "null") or dtype == "float32":
        err = "Dimension mismatch" if case == "dim" else "Non-finite vector"
        with pytest.raises(ValueError, match=err):
            _append(db, spark, tmp_path, how, key, _vecs(case))
        assert _state(db, key) == before
        return
    _append(db, spark, tmp_path, how, key, _vecs(case))
    assert _table(db, key)[4 + 5][1] == U8[case]


@pytest.mark.parametrize("how", INPUTS)
def test_rejected_nan_row_never_served_by_hnsw(db, spark, tmp_path, how):
    """After a NaN batch is refused, an HNSW search on the table returns
    only finite rows (before the check, the graph served an accepted
    all-NaN row first, at distance 0)."""
    key = _new_table(db, spark, tmp_path, "float32", how)
    _append(db, spark, tmp_path, how, key, _vecs(), n0=4)
    db.build_hnsw_index(key)
    nan_rows = [[math.nan] * DIM] * 3
    with pytest.raises(ValueError, match="Non-finite vector"):
        _append(db, spark, tmp_path, how, key, nan_rows)
    hits = db.search(key, [3.0, -1.5, 6.85], k=4 + N, ef=64)
    assert len(hits) == 4 + N
    assert all(math.isfinite(d) for _, d in hits)
    assert hits[0][0]["tag"] == "r7" and hits[0][1] == pytest.approx(0.0, abs=1e-6)


def test_list_metadata_must_be_str(db, spark, tmp_path):
    """``batch_add`` takes ``dict[str, str]`` metadata, as the
    reference's PyO3 signature does; it stringifies nothing."""
    key = _new_table(db, spark, tmp_path, "float32", "md")
    before = _state(db, key)
    for md in ({"n": 1}, {"flag": True}, {1: "x"}, {"v": None}):
        with pytest.raises(TypeError, match="must be str"):
            db.batch_add(key, [[0.0, 0.0, 0.0]], [md])
    assert _state(db, key) == before


@pytest.mark.parametrize("how,jobs", [("list", 1), ("local", 3), ("parquet", 4)])
def test_append_job_count(db, spark, tmp_path, how, jobs):
    """A 500-row append runs at most ``jobs`` Spark jobs. The list API's
    frame carries driver positions, so the parquet write is its one job.
    Any other frame is stamped through the eager checkpoint, the
    per-partition row count (one map-only job) and the write; a parquet
    frame adds its schema read."""
    rng = np.random.default_rng(1)
    key = _new_table(db, spark, tmp_path, "float32", f"jobs_{how}")
    vecs = [[float(x) for x in v] for v in rng.normal(size=(500, DIM))]
    sc = spark.sparkContext
    group = f"append_{how}_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "append")
    try:
        _append(db, spark, tmp_path, how, key, vecs)
    finally:
        sc._jsc.clearJobGroup()
    assert db.get_len(key) == 504
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= jobs
    if how == "list":
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
