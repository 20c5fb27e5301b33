"""kNN search operators — the reference's hot read path re-expressed as
Spark plans.

Reference semantics (/root/reference):
- Flat (brute-force) kNN: scan all vectors, keep a size-k ordered set
  (src/index_algorithm/flat_index.rs:48-57). In Spark this is a
  distance projection + ``ORDER BY dist LIMIT k`` — Catalyst plans it
  as ``TakeOrderedAndProject``: per-partition top-k heaps merged on the
  driver, no global sort, no shuffle of the base table. Exactly the
  reference's bounded-ordered-set trick, but distributed.
- ``upper_bound`` threshold: post-filter ``distance <= ub``
  (src/database/metadata_vec_table.rs:206-209).
- Results ascending by distance (src/database/mod.rs:497-506).

Two physical strategies for the batch form (a whole DataFrame of
queries — the idiomatic Spark generalization the reference runs as a
rayon loop, examples/bench.rs:414-417):

- ``crossjoin``: broadcast the query set, cross join, window top-k.
  Fully declarative; the window shuffles |base|×|queries| rows — fine
  for small query sets, wrong at scale.
- ``partitioned`` (default): Arrow-batched numpy scan. Each input batch
  computes a (batch × queries) distance matrix against the broadcast
  query block and cuts its per-query top-k; each task emits the top-k
  per query across its batches, and the global cut (driver merge or
  window, :func:`merge_topk`) runs over ~``tasks × |Q| × k`` rows. The
  shuffle is k-bounded, independent of base-table size — this is the
  plan that survives 100 TB. (Same partial-top-k-then-merge shape that
  TakeOrderedAndProject uses, generalized per query.)

The four batch scan tiers run two list-probe scans. A list scan reads
rows grouped into lists and scores each list only for the queries that
probe it (:func:`route_lists`, :func:`list_runs`). The exact one,
:func:`exact_list_scan`, serves flat (one list, probed by every query)
and IVF (its centroid probes), so IVF probing every list is the flat
scan. The ADC one is ``index/pq.py::adc_list_scan`` (PQ as one list,
IVF+PQ). Per task, :func:`topk_cut` cuts a scored tile per query
(compiled heap or numpy round + lexsort) and :class:`TopkAccumulator`
keeps the task's candidates down to the per-query top-k; the post-scan
half is :func:`merge_topk` (and ``index/pq.py::finish_adc``).

Determinism contract for the correctness oracle: distances are computed
in float64, rounded to ``ROUND_DECIMALS``, normalized ``-0.0 → +0.0``,
and ties broken by id ascending — the DuckDB oracle SQL applies the
same contract, so row sets hash-match.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterator, Sequence
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import DISTANCES, dist_expr
from lab_1806_vec_db_spark.index import ckernel
from lab_1806_vec_db_spark.index.kmeans import _pairwise_dist

#: decimals kept on emitted distances — enough to order meaningfully,
#: coarse enough that float64 summation-order differences (Spark vs
#: numpy vs DuckDB) never flip a rounded value.
ROUND_DECIMALS = 4


def _check_metric(metric: str) -> None:
    if metric not in DISTANCES:
        raise ValueError(f"Invalid distance function: {metric} (expected one of {DISTANCES})")


def round_dist(col: Column) -> Column:
    """Oracle-stable distance: round + force ``-0.0`` to ``+0.0``."""
    return F.round(col, ROUND_DECIMALS) + F.lit(0.0)


def np_round_half_up(a: np.ndarray, decimals: int = ROUND_DECIMALS) -> np.ndarray:
    """SQL-compatible rounding for the numpy paths: ``np.round`` rounds
    half-to-even (93.90625 → 93.9062) while Spark/DuckDB ``round``
    rounds half away from zero (→ 93.9063) — a real hash-mismatch on
    knife-edge values. Inputs here are non-negative distances/stats, so
    floor(x·10^d + 0.5) is exactly SQL semantics."""
    scale = 10.0 ** decimals
    return np.floor(a * scale + 0.5) / scale + 0.0


def knn(
    df: DataFrame,
    query: Sequence[float],
    k: int,
    metric: str = "cosine",
    vec_col: str = "vec",
    upper_bound: float | None = None,
    payload_cols: Sequence[str] | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Single-query brute-force kNN (reference ``search`` with a Flat
    index, flat_index.rs:48-57 + metadata_vec_table.rs:194-212).

    Returns ``payload_cols + [dist]`` ascending, ties broken by id.
    The plan is scan → project(dist) → TakeOrderedAndProject(k) →
    filter(ub): the filter is applied after top-k, as in the reference.
    """
    _check_metric(metric)
    qlit = F.lit([float(x) for x in query]).cast("array<double>")
    payload = list(payload_cols) if payload_cols is not None else [id_col]
    if id_col not in payload:
        payload = [id_col] + payload  # the sort key must survive the projection
    scored = df.select(
        *payload, round_dist(dist_expr(F.col(vec_col), qlit, metric)).alias("dist")
    )
    out = scored.orderBy(F.col("dist").asc(), F.col(id_col).asc()).limit(k)
    if upper_bound is not None:
        out = out.filter(F.col("dist") <= F.lit(float(upper_bound)))
    return out


def knn_grouped(
    df: DataFrame,
    query: Sequence[float],
    k_per_group: int,
    group_col: str,
    metric: str = "cosine",
    vec_col: str = "vec",
    id_col: str = "id",
) -> DataFrame:
    """Diversified kNN: top-``k_per_group`` nearest per ``group_col``
    value (labels, sources, languages …) — the "give me the best
    matches from EVERY category" retrieval shape a training pipeline
    uses for balanced sampling. Beyond-reference extension composed
    from the flat scan.

    Plan: one scan + project(dist), then a rank window partitioned by
    the group key — a single shuffle on ``group_col``, k-bounded per
    group. At 100 TB the shuffle carries only rows that survive the
    per-partition window partial-rank, never the raw table."""
    from pyspark.sql import Window

    _check_metric(metric)
    qlit = F.lit([float(x) for x in query]).cast("array<double>")
    scored = df.select(
        group_col, id_col,
        round_dist(dist_expr(F.col(vec_col), qlit, metric)).alias("dist"),
    )
    w = Window.partitionBy(group_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k_per_group))
        .drop("rnk")
    )


#: Driver-memory bound of the one merge gate (:func:`driver_side`): a
#: batch serve whose estimated emission fits it is finished on the
#: driver, above it by the distributed window plan.
DRIVER_MERGE_MAX_BYTES = 512 << 20
#: Largest query block a batch tier driver-collects and broadcasts.
MAX_QUERIES = 200_000
#: Rows up to which a driver-local frame is read row by row with
#: ``collect()`` (no Spark job) rather than ``toArrow()`` (one job), and
#: a driver-local candidate pool picks its survivors with one ``id IN``
#: scan rather than a broadcast join. Above it the per-row Python cost
#: loses: a local 1000 × 128 block read in 31 ms by ``collect()`` and
#: 59 ms by ``toArrow()``, a 4000-row one in 123 vs 87 ms (local[4]).
SMALL_LOCAL_ROWS = 1024
#: Compaction floors of the per-task candidate accumulator
#: (:class:`TopkAccumulator`): (query, id, dist) triples, and — on the
#: fused PQ / IVF+PQ scans — bytes of buffered candidate vectors. The
#: scans read them on the driver when they build their plan. The
#: vector floor is low because a fused PQ fragment can buffer most of
#: its rows until the first compaction sets the per-query bounds.
ACC_CAP_ROWS = 2_000_000
ACC_VEC_BYTES = 32 << 20
#: List column of the cluster-partitioned layouts (IVF, IVF+PQ): the
#: rows of one inverted list share its value.
LIST_COL = "cluster_id"

_log = logging.getLogger("lab_1806_vec_db_spark")


def read_arrow(frame: DataFrame, *cols: str) -> "pa.Table":
    """One driver read of ``frame``'s ``cols`` as an Arrow table. A
    driver-local frame (``isLocal()``, e.g. a :func:`driver_topk_merge`
    result, whose optimized plan is a ``LocalRelation``) of at most
    :data:`SMALL_LOCAL_ROWS` rows is read with ``collect()``, which runs
    no Spark job where ``toArrow()`` runs one."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    sel = frame.select(*cols)
    plan = sel._jdf.queryExecution().optimizedPlan()
    if (plan.getClass().getSimpleName() == "LocalRelation"
            and plan.data().size() <= SMALL_LOCAL_ROWS):
        return pa.Table.from_pylist([r.asDict() for r in sel.collect()],
                                    schema=to_arrow_schema(sel.schema))
    return sel.toArrow()


class QueryBlock(NamedTuple):
    """A query block :func:`collect_query_block` has read and checked:
    query ids (int64) and the (n × dim) query matrix (f64)."""

    qids: np.ndarray
    qmat: np.ndarray


def collect_query_block(
    queries: DataFrame | np.ndarray | QueryBlock, qid_col: str, qvec_col: str,
    dim: int | None = None,
) -> QueryBlock | None:
    """The one place a query block enters a batch plan. ``queries`` is
    either a ``(qid_col, qvec_col)`` DataFrame, driver-collected through
    :func:`read_arrow` (the Arrow doubles ARE the stored doubles), or a
    driver-side (n × dim) matrix, taken as is with query ids ``0..n-1``
    and no Spark job — the block a point ``search`` hands its tier's
    batch plan. A :class:`QueryBlock` this function already returned
    passes through unread, so a serve that hands its block to a second
    stage (a filtered pool and its finisher) reads a DataFrame once.

    The shared guard of every batch tier: returns None for an empty
    block (callers answer with :func:`empty_topk`), raises above
    :data:`MAX_QUERIES` rows, raises ``ValueError("Dimension
    mismatch")`` when ``dim`` is given and the block's width differs,
    and raises on a NaN or infinite query value, which has no nearest
    neighbour."""
    from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix

    if isinstance(queries, QueryBlock):
        return queries
    if isinstance(queries, DataFrame):
        tbl = read_arrow(queries, qid_col, qvec_col)
        qids = tbl.column(qid_col).to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False)
        qmat = vec_matrix(tbl.column(qvec_col), dtype=np.float64)
    else:
        qmat = np.asarray(queries, dtype=np.float64)
        if qmat.ndim != 2:
            raise ValueError(f"query matrix must be 2-D, got shape {qmat.shape}")
        qids = np.arange(qmat.shape[0], dtype=np.int64)
    if qids.size == 0:
        return None
    if qids.size > MAX_QUERIES:
        raise ValueError(
            f"Query set of {qids.size} rows exceeds the broadcast bound of "
            f"{MAX_QUERIES} rows (the batch tiers driver-collect and broadcast "
            "the query block); chunk the query set upstream or stream it "
            "through knn_batch(strategy='crossjoin')."
        )
    if dim is not None and qmat.shape[1] != int(dim):
        raise ValueError("Dimension mismatch")
    if not np.isfinite(qmat).all():
        raise ValueError("Non-finite query value (NaN or inf)")
    return QueryBlock(qids, qmat)


def serve_k(k: int, ef: int | None = None) -> bool:
    """The one ``k`` / ``ef`` contract of the VecDB serves, on every
    tier: ``k = 0`` asks for nothing (the caller answers empty); ``k <
    0``, and an ``ef`` (beam width, candidate count or IVF probe count)
    given below 1, raise ``ValueError``. Returns whether there is
    anything to serve."""
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    if ef is not None and ef < 1:
        raise ValueError(f"ef must be >= 1, got {ef}")
    return k > 0


def empty_topk(spark, id_col: str, qid_col: str = "query_id") -> DataFrame:
    """The batch-kNN result frame with no rows."""
    return spark.createDataFrame([], f"{qid_col} long, {id_col} long, dist double")


def knn_batch(
    df: DataFrame,
    queries: DataFrame | np.ndarray,
    k: int,
    metric: str = "cosine",
    vec_col: str = "vec",
    id_col: str = "id",
    qid_col: str = "query_id",
    qvec_col: str = "vec",
    upper_bound: float | None = None,
    strategy: str = "partitioned",
    dim: int | None = None,
) -> DataFrame:
    """Batch kNN: top-k of ``df`` for every row of ``queries``.

    Output: ``(query_id, id, dist)`` ascending per query, ties by id.
    ``strategy='partitioned'`` is the scale path (see module docstring);
    ``'crossjoin'`` is the fully-declarative reference plan used as the
    semantic oracle in tests (DataFrame queries only). The partitioned
    plan takes its block through :func:`collect_query_block` (``dim``,
    when given, is the table's width) and runs :func:`exact_list_scan`
    with the whole table as one list.
    """
    _check_metric(metric)
    if strategy == "crossjoin":
        q = queries.select(
            F.col(qid_col).alias("query_id"), F.col(qvec_col).cast("array<double>").alias("__qv")
        )
        scored = df.crossJoin(F.broadcast(q)).select(
            "query_id",
            F.col(id_col),
            round_dist(dist_expr(F.col(vec_col), F.col("__qv"), metric)).alias("dist"),
        )
        return _topk_per_query(scored, k, id_col, upper_bound)
    if strategy != "partitioned":
        raise ValueError(f"Unknown knn_batch strategy: {strategy}")

    block = collect_query_block(queries, qid_col, qvec_col, dim)
    if block is None:
        return empty_topk(df.sparkSession, id_col)
    return exact_list_scan(df, block, None, k, metric, id_col, vec_col,
                           upper_bound, tier="flat")


def group_probes(probes: np.ndarray) -> dict[int, np.ndarray]:
    """list id → int64 array of the query rows probing it, in query
    order, built with one argsort of the (queries × n_probes) probe
    matrix (a dict-of-lists loop over 111k probes cost ~0.1 s per serve;
    numpy arrays group in ~1 ms and pickle as binary buffers)."""
    nq, n_probes = probes.shape
    qi = np.repeat(np.arange(nq, dtype=np.int64), n_probes)
    cc = np.asarray(probes, dtype=np.int64).reshape(-1)
    order = np.argsort(cc, kind="stable")
    cc_s, qi_s = cc[order], qi[order]
    ucc, starts = np.unique(cc_s, return_index=True)
    bounds = np.r_[starts[1:], cc_s.size]
    return {int(c): qi_s[s:e] for c, s, e in zip(ucc, starts, bounds)}


def route_lists(
    frame: DataFrame, probes: np.ndarray | None,
) -> tuple[DataFrame, dict[int, np.ndarray] | None]:
    """The rows a list scan reads and its list → probing-queries map.
    ``probes`` is the (queries × n_probes) matrix of probed list ids;
    the scan then reads only the probed :data:`LIST_COL` values, which
    on a cluster-partitioned layout is partition pruning. None means
    the table is one list probed by every query: ``frame`` as is, no
    map."""
    if probes is None:
        return frame, None
    by_list = group_probes(np.asarray(probes))
    return frame.filter(lists_in(by_list)), by_list


def lists_in(lists) -> Column:
    """``LIST_COL IN (…)`` over the given list ids as one SQL
    expression: one py4j round trip to parse, where ``isin`` builds a
    Column literal per list. No list matches no row."""
    if not lists:
        return F.lit(False)
    return F.expr(f"{LIST_COL} IN ({', '.join(str(int(c)) for c in sorted(lists))})")


def frame_partitions(frame: DataFrame) -> int | None:
    """Partition count of ``frame``, probed once per frame object and
    kept on it (None when it cannot be probed). ``rdd.getNumPartitions``
    plans the frame and converts it to an RDD, so a cached frame served
    in a loop must not pay it per serve; a filter over it keeps its
    partitions, so the count bounds every routed scan of it."""
    n = getattr(frame, "_vecdb_partitions", None)
    if n is None:
        try:
            n = frame.rdd.getNumPartitions()
        except Exception:
            return None
        frame._vecdb_partitions = n
    return n


def list_runs(
    rb: "pa.RecordBatch", by_list: dict[int, np.ndarray] | None,
) -> Iterator[tuple[np.ndarray | None, np.ndarray | None]]:
    """The scored runs of one Arrow batch of a list scan: per list the
    batch holds, ``(query rows probing it, batch rows of it)``. With no
    map (:func:`route_lists` of one list) the batch is one run of every
    row for every query: ``(None, None)``."""
    if by_list is None:
        yield None, None
        return
    cl = rb.column(rb.schema.get_field_index(LIST_COL)).to_numpy(zero_copy_only=False)
    for cid in np.unique(cl):
        sel = by_list.get(int(cid))
        if sel is not None and sel.size:
            yield sel, np.nonzero(cl == cid)[0]


def take(a: np.ndarray, rows: np.ndarray | None) -> np.ndarray:
    """``a[rows]``, or ``a`` itself for the all-rows run (None)."""
    return a if rows is None else a[rows]


def exact_list_scan(
    frame: DataFrame,
    block: QueryBlock,
    probes: np.ndarray | None,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    upper_bound: float | None,
    *,
    tier: str,
) -> DataFrame:
    """The exact batch scan of the flat and IVF tiers: ``frame``'s rows
    grouped into lists, each list scored only for the queries probing
    it (:func:`route_lists`: flat passes no ``probes``, one list probed
    by every query; IVF its centroid probes over the cluster-partitioned
    layout, so probing every list IS the flat scan).

    Per Arrow batch, each (list run × probing queries) tile is scored in
    f64 by ``kmeans._pairwise_dist`` (an f32 store is upcast per batch),
    cut per query by :func:`topk_cut` on the 4-dp grid, and kept in the
    task's :class:`TopkAccumulator`; the task emits at most k rows per
    query, and :func:`merge_topk` makes the global cut."""
    spark = frame.sparkSession
    qids, qmat = block
    src, by_list = route_lists(frame, probes)
    src = src.select(id_col, vec_col, *([] if by_list is None else [LIST_COL]))
    bc = spark.sparkContext.broadcast((qids, qmat, by_list))
    k = int(k)
    cap = ACC_CAP_ROWS

    def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from lab_1806_vec_db_spark.functions.arrowvec import (
            knn_schema,
            result_batch,
            vec_matrix,
        )

        bqids, bq, blists = bc.value
        every = np.arange(len(bqids))
        acc = TopkAccumulator(k, cap)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            # zero-copy Arrow flatten, no pandas round-trip of the vector
            # column (the f64 cast is the only copy)
            x = vec_matrix(rb.column(rb.schema.get_field_index(vec_col)),
                           dtype=np.float64)
            ids_all = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False)
            for sel, rows in list_runs(rb, blists):
                ids = take(ids_all, rows)
                top, d = topk_cut(_pairwise_dist(take(x, rows), take(bq, sel), metric),
                                  ids, k, True)
                acc.add(np.repeat(every if sel is None else sel, top.shape[1]),
                        ids[top].reshape(-1), d.reshape(-1))
        out = acc.result()
        if out is not None:
            qx, ids_o, d_o = out[:3]
            yield result_batch(knn_schema(id_col), query_id=bqids[qx],
                               **{id_col: ids_o}, dist=d_o)

    scored = src.mapInArrow(scan, schema=f"query_id long, {id_col} long, dist double")
    n_parts = frame_partitions(frame)
    # the scan emits at most k rows per (query, task)
    est_rows = None if n_parts is None else qids.size * k * n_parts
    return merge_topk(scored, k, id_col, upper_bound, est_rows, tier=tier)


def local_topk_grouped(qx: np.ndarray, ids: np.ndarray, dist: np.ndarray, k: int) -> np.ndarray:
    """Vectorized per-group top-k: indices of the rows that rank < k
    within their ``qx`` group under the (dist asc, id asc) total order
    — the SAME order the global merge window applies, which is what
    makes in-task pruning with this helper output-preserving. The
    compaction of :class:`TopkAccumulator`."""
    order = np.lexsort((ids, dist, qx))
    qs = qx[order]
    starts = np.r_[0, 1 + np.flatnonzero(qs[1:] != qs[:-1])]
    sizes = np.diff(np.r_[starts, qs.size])
    pos = np.arange(qs.size) - np.repeat(starts, sizes)
    return order[pos < int(k)]


def topk_cut(
    d: np.ndarray, ids: np.ndarray, kk: int, round: bool
) -> tuple[np.ndarray, np.ndarray]:
    """Per-query top-``kk`` of a (candidates × queries) distance tile
    by (dist, id): ``d`` is (n × S), ``ids`` the (n,) candidate ids.
    ``round`` cuts on the 4-dp :func:`np_round_half_up` grid (the
    oracle contract) instead of the raw values. Returns ``(rows, dist)``,
    each (S × min(kk, n)): the kept tile rows (``ids[rows]`` are their
    ids) and their distances, ascending per query.

    The one place that picks the compiled heap (``ckernel.dense_topk``,
    GIL-released, strides either tile layout with no transpose copy)
    over the numpy round + lexsort, which is the toolchain-free path and
    the tests' reference. Both keep the same rows in the same order:
    NaN sorts after every number, and ``kk`` is clipped to the tile's
    row count, so no (inf, -1) padding ever reaches a caller."""
    kk = min(int(kk), d.shape[0])
    if ckernel.available():
        if d.T.flags["C_CONTIGUOUS"] and not d.flags["C_CONTIGUOUS"]:
            _, dist, rows = ckernel.dense_topk(d.T, ids, kk, round)
        else:
            _, dist, rows = ckernel.dense_topk(d, ids, kk, round, queries_axis=1)
        return rows, dist
    d = np.asarray(d, dtype=np.float64)
    if round:
        d = np_round_half_up(d)
    sel = np.lexsort((np.broadcast_to(ids[:, None], d.shape), d), axis=0)[:kk, :]
    return sel.T, np.take_along_axis(d, sel, axis=0).T


class TopkAccumulator:
    """The per-task candidate buffer of the batch scans: (query index,
    id, dist) triples from each scored tile, kept down to the per-query
    top-``k`` by (dist, id) — the order of the global cut, so what it
    prunes is dominated in-task and the serve's result is unchanged.
    Arrow hands a task its rows as ~10k-row fragments; emitting one
    cut per fragment would multiply the shuffle (and the fused exact
    re-rank) by the fragmentation factor.

    An optional payload buffers candidate vectors by id (each row lives
    in one fragment, so ids are unique) for the fused exact re-rank:
    only the vectors of buffered triples are copied, and compaction
    keeps exactly the vectors the surviving triples reference.

    Compaction (:func:`local_topk_grouped`) fires when the buffer
    exceeds its threshold — ``cap_rows`` triples or ``cap_vec_bytes``
    payload bytes, the floors — and each threshold then resets to
    max(floor, 1.5× the live set). A live set above the floor (wide
    probes × high ef) thus compacts amortized O(log) times instead of on
    every fragment. Each compaction also records every full query's
    k-th (dist, id); a later triple that does not beat its query's
    bound is dropped on arrival, vector and all, so after the first
    compaction the buffer grows only by candidates that improve it."""

    def __init__(self, k: int, cap_rows: int, cap_vec_bytes: int = 0) -> None:
        self.k = int(k)
        self._floor, self._vfloor = int(cap_rows), int(cap_vec_bytes)
        self._cap, self._vcap = self._floor, self._vfloor
        self._q: list[np.ndarray] = []
        self._i: list[np.ndarray] = []
        self._d: list[np.ndarray] = []
        self._vk: list[np.ndarray] = []
        self._vx: list[np.ndarray] = []
        self._n = self._vn = 0
        self._has_vec = self._compacted = False
        # per query index: the k-th survivor's (dist, id) at the last
        # compaction; NaN dist = no bound (fewer than k, or a NaN k-th)
        self._bd: np.ndarray | None = None
        self._bi: np.ndarray | None = None

    def add(self, qx: np.ndarray, ids: np.ndarray, d: np.ndarray,
            vec_ids: np.ndarray | None = None, vecs: np.ndarray | None = None) -> None:
        """Buffer triples ``(qx, ids, d)`` and, with a payload, the
        vectors (``vecs[j]`` that of row id ``vec_ids[j]``) of the
        candidates a buffered triple references."""
        if self._bd is not None:
            qb = np.minimum(qx, self._bd.size - 1)
            bd, bi = self._bd[qb], self._bi[qb]
            live = ((qx >= self._bd.size) | np.isnan(bd) | (d < bd)
                    | ((d == bd) & (ids < bi)))
            qx, ids, d = qx[live], ids[live], d[live]
        self._has_vec |= vecs is not None
        if ids.size == 0:
            return
        self._q.append(qx)
        self._i.append(ids)
        self._d.append(d)
        self._n += ids.size
        if vecs is not None:
            need = np.isin(vec_ids, ids)
            self._vk.append(vec_ids[need])
            self._vx.append(np.ascontiguousarray(vecs[need]))
            self._vn += self._vx[-1].nbytes
        self._compacted = False
        if self._n > self._cap or (self._has_vec and self._vn > self._vcap):
            self._compact()

    def _compact(self) -> None:
        qx, ids, d = (np.concatenate(a) for a in (self._q, self._i, self._d))
        keep = local_topk_grouped(qx, ids, d, self.k)
        # survivors come grouped by query, (dist, id) ascending within
        qx, ids, d = qx[keep], ids[keep], d[keep]
        self._q, self._i, self._d = [qx], [ids], [d]
        self._n = keep.size
        self._cap = max(self._floor, self._n + (self._n >> 1))
        last = np.flatnonzero(np.r_[qx[1:] != qx[:-1], True])
        full = last[np.diff(np.r_[-1, last]) == self.k]
        self._bd = np.full(int(qx[-1]) + 1, np.nan)
        self._bi = np.zeros(int(qx[-1]) + 1, dtype=np.int64)
        self._bd[qx[full]], self._bi[qx[full]] = d[full], ids[full]
        if self._vk:
            vk = np.concatenate(self._vk)
            vx = np.concatenate(self._vx) if len(self._vx) > 1 else self._vx[0]
            live = np.isin(vk, ids)
            self._vk, self._vx = [vk[live]], [np.ascontiguousarray(vx[live])]
            self._vn = self._vx[0].nbytes
            self._vcap = max(self._vfloor, self._vn + (self._vn >> 1))
        self._compacted = True

    def result(self) -> tuple[np.ndarray, ...] | None:
        """The per-query top-``k`` as ``(qx, ids, d)`` — plus, with a
        payload, ``(vecs, rows)``: the surviving candidates' vectors and
        each triple's row in them — or None when nothing was added. A
        triple whose id has no buffered vector raises instead of
        pointing at another candidate's row."""
        if self._n == 0:
            return None
        if not self._compacted:
            self._compact()
        out = (self._q[0], self._i[0], self._d[0])
        if not self._has_vec:
            return out
        vk = self._vk[0] if self._vk else np.empty(0, dtype=np.int64)
        order = np.argsort(vk, kind="stable")
        pos = np.minimum(np.searchsorted(vk[order], out[1]), max(vk.size - 1, 0))
        if vk.size == 0 or not np.array_equal(vk[order[pos]], out[1]):
            raise ValueError("a candidate id is missing from the buffered "
                             "vector pool")
        return out + (self._vx[0], order[pos])


def fast_topk_grouped(qx: np.ndarray, ids: np.ndarray, dist: np.ndarray, k: int) -> np.ndarray:
    """``local_topk_grouped`` with selection instead of a full sort —
    IDENTICAL output set, built for the driver-side gate over the raw
    per-task emission (round-13 wave-B profile: the 3-key lexsort over
    5.8–11.7 M candidate rows cost 2.9–5.8 s of the 1M serve; grouping
    on the single qx key plus an O(n) per-group ``np.partition``
    threshold does the same cut in a few hundred ms). Per group the cut
    keeps everything strictly below the k-th (dist, id) value, then
    fills the boundary tie by smallest id — the same total order.
    Returns indices (arbitrary order; callers re-sort)."""
    k = int(k)
    n = qx.size
    if n == 0:
        return np.empty(0, dtype=np.int64)
    order0 = np.argsort(qx, kind="stable")
    qs = qx[order0]
    starts = np.r_[0, 1 + np.flatnonzero(qs[1:] != qs[:-1]), n]
    out: list[np.ndarray] = []
    d_o = dist[order0]
    i_o = ids[order0]
    for gi in range(starts.size - 1):
        s, e = int(starts[gi]), int(starts[gi + 1])
        if e - s <= k:
            out.append(order0[s:e])
            continue
        seg = d_o[s:e]
        kth = np.partition(seg, k - 1)[k - 1]
        if np.isnan(kth):  # degenerate: < k finite rows — match lexsort
            sub = np.lexsort((i_o[s:e], seg))[:k]
            out.append(order0[s:e][sub])
            continue
        less = seg < kth
        n_less = int(np.count_nonzero(less))
        keep_idx = np.nonzero(less)[0]
        need = k - n_less
        if need > 0:
            tie_pos = np.nonzero(seg == kth)[0]
            tie_ids = i_o[s:e][tie_pos]
            sel = np.argpartition(tie_ids, need - 1)[:need]
            keep_idx = np.concatenate([keep_idx, tie_pos[sel]])
        out.append(order0[s:e][keep_idx])
    return np.concatenate(out)


def driver_side(tier: str, frame: DataFrame, est_rows: int | None) -> bool:
    """The one merge gate of the batch tiers: True when the emission
    ``frame`` is small enough to finish on the driver. Its size is
    ``est_rows`` (an upper bound the tier derives from its scan; None =
    unbounded) times the row width of the frame's declared schema,
    compared against :data:`DRIVER_MERGE_MAX_BYTES`. Both sides return
    identical rows; the window side is the driver-memory bound for
    large query blocks. The decision is logged at DEBUG."""
    row_bytes = 8 * len(frame.columns)  # every emission column is a long or a double
    side = est_rows is not None and est_rows * row_bytes <= DRIVER_MERGE_MAX_BYTES
    _log.debug("merge gate tier=%s est_rows=%s row_bytes=%d bound=%d side=%s",
               tier, est_rows, row_bytes, DRIVER_MERGE_MAX_BYTES,
               "driver" if side else "window")
    return side


def collect_columns(frame: DataFrame, *cols: str) -> list[np.ndarray]:
    """One driver read (:func:`read_arrow`) of ``frame``'s ``cols`` as
    numpy columns."""
    tbl = read_arrow(frame, *cols)
    return [tbl.column(c).to_numpy(zero_copy_only=False) for c in cols]


def driver_topk_merge(
    spark, qx: np.ndarray, ids: np.ndarray, d: np.ndarray, k: int,
    id_col: str, upper_bound: float | None, qid_col: str = "query_id",
    columns: bool = False,
) -> DataFrame | tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Driver side of the global cut, over collected (qid, id, dist)
    columns: the SAME (dist asc, id asc) per-query top-k as the window
    plan (:func:`fast_topk_grouped`), the threshold applied after the
    cut, and the result returned as a local DataFrame sorted
    (qid, dist, id) — no wide exchange, no window sort — or, with
    ``columns``, as those sorted driver columns."""
    g = fast_topk_grouped(qx, ids, d, int(k))
    qx, ids, d = qx[g], ids[g], d[g]
    if upper_bound is not None:
        m = d <= float(upper_bound)
        qx, ids, d = qx[m], ids[m], d[m]
    o = np.lexsort((ids, d, qx))  # (qid, dist, id) — the shared order
    if columns:
        return qx[o], ids[o], d[o]
    return local_topk_frame(spark, qx[o], ids[o], d[o], id_col, qid_col)


def local_topk_frame(
    spark, qx: np.ndarray, ids: np.ndarray, d: np.ndarray, id_col: str,
    qid_col: str = "query_id",
) -> DataFrame:
    """(qid, id, dist) driver columns as a driver-local DataFrame."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        qid_col: pa.array(qx, type=pa.int64()),
        id_col: pa.array(ids, type=pa.int64()),
        "dist": pa.array(d, type=pa.float64()),
    }), schema=f"{qid_col} long, {id_col} long, dist double")


def window_cut(
    scored: DataFrame, k: int, id_col: str, key: str = "dist",
    qid_col: str = "query_id",
) -> DataFrame:
    """Window side of the global cut: the rows ranking < k per query
    under the (``key`` asc, id asc) order — one shuffle on the query
    id, k-bounded per query."""
    w = Window.partitionBy(qid_col).orderBy(F.col(key).asc(), F.col(id_col).asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _topk_per_query(
    scored: DataFrame, k: int, id_col: str, upper_bound: float | None,
    qid_col: str = "query_id",
) -> DataFrame:
    """The window-plan per-query top-k (rank + optional threshold),
    sorted (query id, dist, id): the window side of :func:`merge_topk`,
    and the cut of the plans that have no driver side."""
    out = window_cut(scored, k, id_col, qid_col=qid_col)
    if upper_bound is not None:
        out = out.filter(F.col("dist") <= F.lit(float(upper_bound)))
    return out.orderBy(qid_col, F.col("dist").asc(), F.col(id_col).asc())


def merge_topk(
    scored: DataFrame, k: int, id_col: str, upper_bound: float | None,
    est_rows: int | None, *, tier: str, qid_col: str = "query_id",
    columns: bool = False,
) -> DataFrame | tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The global top-k every scan tier and sharded HNSW finish with.
    ``scored`` is the tier's (``qid_col``, id, dist) emission of
    per-task top-k rows and ``est_rows`` an upper bound on its row
    count; the gate (:func:`driver_side`) picks the driver merge or the
    window plan, which return identical rows in the (query id, dist, id)
    order. With ``columns`` the driver side returns those rows as
    (query id, id, dist) driver columns, for a caller that finishes on
    the driver (a filtered pool, :func:`filtered_topk_from_pool`)."""
    if not driver_side(tier, scored, est_rows):
        return _topk_per_query(scored, k, id_col, upper_bound, qid_col=qid_col)
    qx, ids, d = collect_columns(scored, qid_col, id_col, "dist")
    return driver_topk_merge(scored.sparkSession, qx, ids, d, k, id_col,
                             upper_bound, qid_col, columns=columns)


def pool_survivors(
    filtered_base: DataFrame, id_col: str, qx: np.ndarray, ids: np.ndarray,
    d: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The rows of a driver-side candidate pool whose ids pass the
    predicate of ``filtered_base``: one scan of it for the pool's
    distinct ids — an ``id IN`` list up to :data:`SMALL_LOCAL_ROWS`
    ids, above it a semi-join against them as a broadcast local frame —
    so only ids cross to Spark, never the pool's rows."""
    import pyarrow as pa

    uniq = np.unique(ids)
    if uniq.size <= SMALL_LOCAL_ROWS:
        hits = filtered_base.filter(F.col(id_col).isin(uniq.tolist()))
    else:
        keys = filtered_base.sparkSession.createDataFrame(
            pa.table({id_col: pa.array(uniq, type=pa.int64())}))
        hits = filtered_base.join(F.broadcast(keys), id_col, "left_semi")
    hit = uniq[:0]
    if uniq.size:
        (hit,) = collect_columns(hits.select(id_col), id_col)
    m = np.isin(ids, hit)
    return qx[m], ids[m], d[m]


def filtered_topk_from_pool(
    pool: DataFrame | tuple[np.ndarray, np.ndarray, np.ndarray],
    queries: DataFrame | np.ndarray | QueryBlock,
    k: int,
    filtered_base: DataFrame,
    id_col: str,
    metric: str,
    vec_col: str,
    qid_col: str = "query_id",
    qvec_col: str = "vec",
    exact_fallback: bool = True,
    fallback_margin: float = 1.0,
    pool_k: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Shared oversample-and-filter finisher for every batch ANN tier
    (plain HNSW, IVF+PQ, sharded HNSW) and so for their point
    forms, which run it over a one-row block: match an ef-bounded
    per-query candidate ``pool`` against the predicate-filtered base —
    the predicate pushes into the parquet scan — and keep k survivors
    per query. ``pool`` is a (query_id, id, dist) DataFrame, or those
    columns already on the driver (plain HNSW's graph serve, sharded
    HNSW's driver-side merge). Queries
    whose pool can't fill k are answered EXACTLY by the flat batch scan
    over the filtered base, so the result never silently under-fills
    while matches exist (``exact_fallback=False`` skips that pass and
    returns the window plan over the pool joined to the filtered base;
    recall then depends on the pool width).

    ``fallback_margin`` widens the escalation trigger: queries whose
    pool ∩ filter holds fewer than ``ceil(margin·k)`` survivors go to
    the exact scan too — a pool that BARELY fills k is the thin-
    intersection regime where the graph most likely missed true
    neighbors. margin=1.0 keeps the strict "under-filled only" contract.

    With ``exact_fallback`` the query block is read once
    (:func:`collect_query_block`, checking ``dim``; a tier that read it
    for its pool passes the :class:`QueryBlock`): its ids find the
    starved queries and its rows feed the exact scan. A driver-side pool
    picks its survivors by id (:func:`pool_survivors`). For a pool
    frame, the merge gate (:func:`driver_side`, |Q|·``pool_k`` rows for
    a pool of per-query width ``pool_k``; None = unbounded) decides
    whether the survivors' probe_k cut runs on the driver or as the
    window plan ahead of their collect, so the driver holds |Q|·probe_k
    rows and never the filtered base; on the driver side, a driver-local
    frame of at most :data:`SMALL_LOCAL_ROWS` rows is read without a
    job and matched by its ids too (the broadcast join would cost 2
    jobs). The result is built on the driver (:func:`driver_topk_merge`):
    reading it runs no Spark job. Plan gate:
    tests/test_plans.py::test_batch_filtered_ann_plan_shape."""
    spark = filtered_base.sparkSession
    probe_k = int(k)
    if exact_fallback and float(fallback_margin) > 1.0:
        probe_k = int(math.ceil(float(fallback_margin) * int(k)))
    if not exact_fallback and not isinstance(pool, DataFrame):
        pool = local_topk_frame(spark, *pool, id_col, qid_col)
    if isinstance(pool, DataFrame):
        surv = pool.join(filtered_base.select(id_col), id_col).select(
            qid_col, id_col, "dist"
        )
        if not exact_fallback:
            return _topk_per_query(surv, probe_k, id_col, None, qid_col=qid_col)
    block = collect_query_block(queries, qid_col, qvec_col, dim)
    if block is None:
        return empty_topk(spark, id_col, qid_col)
    qids, qmat = block
    est_rows = None if pool_k is None else qids.size * int(pool_k)
    if not isinstance(pool, DataFrame):
        qx, sids, sd = pool_survivors(filtered_base, id_col, *pool)
    elif not driver_side("filtered", surv, est_rows):
        surv = _topk_per_query(surv, probe_k, id_col, None, qid_col=qid_col)
        qx, sids, sd = collect_columns(surv, qid_col, id_col, "dist")
    elif pool.isLocal() and est_rows <= SMALL_LOCAL_ROWS:
        qx, sids, sd = pool_survivors(
            filtered_base, id_col,
            *collect_columns(pool, qid_col, id_col, "dist"))
    else:
        qx, sids, sd = collect_columns(surv, qid_col, id_col, "dist")
    g = fast_topk_grouped(qx, sids, sd, probe_k)
    qx, sids, sd = qx[g], sids[g], sd[g]
    uq, cnt = np.unique(qx, return_counts=True)
    full = uq[cnt >= probe_k]
    need = ~np.isin(qids, full)
    if need.any():
        keep = np.isin(qx, full)
        exact = knn_batch(filtered_base, qmat[need], int(k), metric=metric,
                          vec_col=vec_col, id_col=id_col)
        eq, eids, ed = collect_columns(exact, "query_id", id_col, "dist")
        # the exact block's query ids are its row positions
        qx = np.concatenate([qx[keep], qids[need][eq]])
        sids = np.concatenate([sids[keep], eids])
        sd = np.concatenate([sd[keep], ed])
    return driver_topk_merge(spark, qx, sids, sd, k, id_col, None, qid_col)


def range_search(
    df: DataFrame,
    query: Sequence[float],
    radius: float,
    metric: str = "l2sqr",
    vec_col: str = "vec",
    id_col: str = "id",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """All rows within ``radius`` of ``query`` (the reference's
    ``upper_bound`` generalized to an unbounded k: metadata_vec_table.rs:
    206-209 with k = len). Pure filter — Catalyst pushes the projection
    down; no top-k, no shuffle."""
    _check_metric(metric)
    qlit = F.lit([float(x) for x in query]).cast("array<double>")
    payload = list(payload_cols) if payload_cols is not None else [id_col]
    return (
        df.select(*payload, round_dist(dist_expr(F.col(vec_col), qlit, metric)).alias("dist"))
        .filter(F.col("dist") <= F.lit(float(radius)))
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
    )


def ground_truth(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    metric: str = "l2sqr",
    vec_col: str = "vec",
    id_col: str = "id",
    qid_col: str = "query_id",
    qvec_col: str = "vec",
) -> DataFrame:
    """Exact-kNN ground truth table ``(query_id, knn_indices ARRAY<LONG>)``
    — the correctness oracle for approximate indexes (reference
    bin/gen_gnd.rs:31-76, candidate_pair.rs:111-149)."""
    topk = knn_batch(df, queries, k, metric, vec_col, id_col, qid_col, qvec_col)
    return topk.groupBy("query_id").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dist", id_col))),
            lambda s: s[id_col],
        ).alias("knn_indices")
    )


def save_ground_truth(gt: DataFrame, path: str) -> None:
    """Persist the exact-kNN table (reference GroundTruth::save,
    candidate_pair.rs:176-191 — bincode there, Parquet here). At sf≥1
    the exact scan dominates bench startup; computing it once and
    reloading is the reference's own workflow (bin/gen_gnd.rs writes
    gnd.bin, examples/bench.rs reads it)."""
    gt.write.mode("overwrite").parquet(path)


def load_ground_truth(spark, path: str) -> DataFrame | None:
    """Reload a persisted ground-truth table; None when absent."""
    import os

    if not os.path.isdir(path):
        return None
    try:
        return spark.read.parquet(path)
    except Exception:
        return None
