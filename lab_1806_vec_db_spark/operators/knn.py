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
  query block and emits only its local top-k per query; a final window
  over ~``num_batches × |Q| × k`` rows picks the global top-k. The
  shuffle is k-bounded, independent of base-table size — this is the
  plan that survives 100 TB. (Same partial-top-k-then-merge shape that
  TakeOrderedAndProject uses, generalized per query.)

Determinism contract for the correctness oracle: distances are computed
in float64, rounded to ``ROUND_DECIMALS``, normalized ``-0.0 → +0.0``,
and ties broken by id ascending — the DuckDB oracle SQL applies the
same contract, so row sets hash-match.
"""

from __future__ import annotations

import logging
import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import DISTANCES, dist_expr

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
    norm_col: str | None = None,
) -> DataFrame:
    """Single-query brute-force kNN (reference ``search`` with a Flat
    index, flat_index.rs:48-57 + metadata_vec_table.rs:194-212).

    Returns ``payload_cols + [dist]`` ascending, ties broken by id.
    The plan is scan → project(dist) → TakeOrderedAndProject(k) →
    filter(ub): the filter is applied after top-k, as in the reference.

    ``norm_col``: name of a materialized per-row norm column (the
    reference's dist_cache, distance/mod.rs:31-37) — when given and the
    metric is cosine, the base-side norm is read, not recomputed, and
    the query-side norm is folded to a literal.
    """
    _check_metric(metric)
    qvals = [float(x) for x in query]
    qlit = F.lit(qvals).cast("array<double>")
    payload = list(payload_cols) if payload_cols is not None else [id_col]
    if id_col not in payload:
        payload = [id_col] + payload  # the sort key must survive the projection
    kwargs = {}
    if norm_col is not None and metric == "cosine" and norm_col in df.columns:
        import math

        kwargs = {
            "norm_a": F.col(norm_col).cast("double"),
            "norm_b": F.lit(math.sqrt(sum(x * x for x in qvals))),
        }
    scored = df.select(
        *payload, round_dist(dist_expr(F.col(vec_col), qlit, metric, **kwargs)).alias("dist")
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


def _dist_matrix(x: np.ndarray, q: np.ndarray, metric: str) -> np.ndarray:
    """(n × d) base block vs (m × d) query block → (n × m) float64
    distances; algebraic forms match the reference's cached-dot
    formulations (distance/mod.rs:51-69)."""
    ip = x @ q.T
    if metric == "l2sqr":
        x2 = np.einsum("ij,ij->i", x, x)
        q2 = np.einsum("ij,ij->i", q, q)
        return x2[:, None] + q2[None, :] - 2.0 * ip
    # cosine with the reference's 1e-10 denominator floor
    nx = np.sqrt(np.einsum("ij,ij->i", x, x))
    nq = np.sqrt(np.einsum("ij,ij->i", q, q))
    denom = np.maximum(nx[:, None] * nq[None, :], 1e-10)
    return 1.0 - ip / denom


#: Driver-memory bound of the one merge gate (:func:`driver_side`): a
#: batch serve whose estimated emission fits it is finished on the
#: driver, above it by the distributed window plan.
DRIVER_MERGE_MAX_BYTES = 512 << 20
#: Largest query block a batch tier driver-collects and broadcasts.
MAX_QUERIES = 200_000

_log = logging.getLogger("lab_1806_vec_db_spark")


def collect_query_block(
    queries: DataFrame, qid_col: str, qvec_col: str
) -> tuple[np.ndarray, np.ndarray] | None:
    """Driver-collect a bounded query block as (qids int64, qmat f64)
    through ONE Arrow transfer (round-14, guide §6 Arrow-for-driver-
    transfers): the Row-object ``collect()`` every batch tier opened
    with cost ~2× the Arrow path at the 1k-query bench block. Values
    are identical — the Arrow doubles ARE the stored doubles, and the
    f64 cast matches ``np.asarray(rows, dtype=float64)``.

    The shared guard of every batch tier: returns None for an empty
    block (callers answer with :func:`empty_topk`) and raises above
    :data:`MAX_QUERIES` rows."""
    from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix

    tbl = queries.select(qid_col, qvec_col).toArrow()
    if tbl.num_rows == 0:
        return None
    if tbl.num_rows > MAX_QUERIES:
        raise ValueError(
            f"Query set of {tbl.num_rows} rows exceeds the broadcast bound of "
            f"{MAX_QUERIES} rows (the batch tiers driver-collect and broadcast "
            "the query block); chunk the query set upstream or stream it "
            "through knn_batch(strategy='crossjoin')."
        )
    qids = tbl.column(qid_col).to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)
    qmat = vec_matrix(tbl.column(qvec_col), dtype=np.float64)
    return qids, qmat


def empty_topk(spark, id_col: str, qid_col: str = "query_id") -> DataFrame:
    """The batch-kNN result frame with no rows."""
    return spark.createDataFrame([], f"{qid_col} long, {id_col} long, dist double")


def knn_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "cosine",
    vec_col: str = "vec",
    id_col: str = "id",
    qid_col: str = "query_id",
    qvec_col: str = "vec",
    upper_bound: float | None = None,
    strategy: str = "partitioned",
) -> DataFrame:
    """Batch kNN: top-k of ``df`` for every row of ``queries``.

    Output: ``(query_id, id, dist)`` ascending per query, ties by id.
    ``strategy='partitioned'`` is the scale path (see module docstring);
    ``'crossjoin'`` is the fully-declarative reference plan used as the
    semantic oracle in tests. The partitioned plan's global cut is
    :func:`merge_topk`.
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

    spark = df.sparkSession
    block = collect_query_block(queries, qid_col, qvec_col)
    if block is None:
        return empty_topk(spark, id_col)
    qids, qmat = block
    bc = spark.sparkContext.broadcast((qids, qmat))

    def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from lab_1806_vec_db_spark.functions.arrowvec import (
            knn_schema,
            result_batch,
            vec_matrix,
        )
        from lab_1806_vec_db_spark.index import ckernel

        bqids, bq = bc.value
        out_schema = knn_schema(id_col)
        # per-batch top-k through the compiled heap kernel when a C
        # toolchain exists (round-14, guide §4): the full 2-key lexsort
        # over the (rows × |Q|) tile was 134 ms of a 140 ms task at
        # bench shape (the GEMM itself is ~2 ms); the kernel's bounded
        # (rounded d, id) max-heap keeps the BIT-IDENTICAL set and
        # order in ~10 ms, GIL-released, striding the GEMM's natural
        # layout (no transpose copy). The numpy branch below is the
        # toolchain-free fallback, same results.
        use_c = ckernel.available()
        # running per-TASK top-k (k × |Q|): merging across Arrow
        # batches keeps the shuffle input at tasks × |Q| × k instead of
        # arrow_batches × |Q| × k — identical final result (the global
        # window keeps top-k by the same (dist, id) order; anything
        # pruned here is dominated in-task)
        run_d = run_i = None
        n_seen = 0
        for rb in batches:
            if rb.num_rows == 0:
                continue
            # zero-copy Arrow flatten — no pandas round-trip of the
            # vector column (the f64 cast is the only copy)
            x = vec_matrix(rb.column(rb.schema.get_field_index(vec_col)),
                           dtype=np.float64)
            d = _dist_matrix(x, bq, metric)
            ids = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                zero_copy_only=False)
            n_seen += d.shape[0]
            if use_c:
                # (|Q| × k) rounded top-k, -1/inf padded below k rows;
                # cross-batch merge re-runs the same heap on the
                # concatenated (|Q| × 2k) survivors (already rounded)
                new_i, new_d = ckernel.dense_topk(
                    d, np.ascontiguousarray(ids, dtype=np.int64), k,
                    do_round=True, queries_axis=1)
                if run_d is None:
                    run_d, run_i = new_d, new_i
                else:
                    run_i, run_d = ckernel.dense_topk(
                        np.concatenate([run_d, new_d], axis=1),
                        np.concatenate([run_i, new_i], axis=1),
                        k, do_round=False)
                continue
            d = np_round_half_up(d)
            kk = min(k, d.shape[0])
            order_ids = np.broadcast_to(ids[:, None], d.shape)
            sel = np.lexsort((order_ids, d), axis=0)[:kk, :]
            new_i = ids[sel]
            new_d = np.take_along_axis(d, sel, axis=0)
            if run_d is None:
                run_d, run_i = new_d, new_i
                continue
            md = np.concatenate([run_d, new_d], axis=0)
            mi = np.concatenate([run_i, new_i], axis=0)
            sel2 = np.lexsort((mi, md), axis=0)[: min(k, md.shape[0]), :]
            run_d = np.take_along_axis(md, sel2, axis=0)
            run_i = np.take_along_axis(mi, sel2, axis=0)
        if run_d is None:
            return
        if use_c:
            kk = min(k, n_seen)
            yield result_batch(
                out_schema,
                query_id=np.repeat(bqids, kk),
                **{id_col: run_i[:, :kk].reshape(-1)},
                dist=run_d[:, :kk].reshape(-1),
            )
            return
        kk = run_d.shape[0]
        yield result_batch(
            out_schema,
            query_id=np.repeat(bqids, kk),
            **{id_col: run_i.T.reshape(-1)},
            dist=run_d.T.reshape(-1),
        )

    src = df.select(id_col, vec_col)
    scored = src.mapInArrow(
        scan, schema=f"query_id long, {id_col} long, dist double"
    )
    try:
        n_parts = src.rdd.getNumPartitions()
    except Exception:
        n_parts = None
    # the scan emits at most k rows per (query, task)
    est_rows = None if n_parts is None else qids.size * int(k) * n_parts
    return merge_topk(scored, k, id_col, upper_bound, est_rows, tier="flat")


def local_topk_grouped(qx: np.ndarray, ids: np.ndarray, dist: np.ndarray, k: int) -> np.ndarray:
    """Vectorized per-group top-k: indices of the rows that rank < k
    within their ``qx`` group under the (dist asc, id asc) total order
    — the SAME order the global merge window applies, which is what
    makes in-task pruning with this helper output-preserving. Shared
    by the task-level candidate accumulators (IVF / IVF+PQ scans)."""
    order = np.lexsort((ids, dist, qx))
    qs = qx[order]
    starts = np.r_[0, 1 + np.flatnonzero(qs[1:] != qs[:-1])]
    sizes = np.diff(np.r_[starts, qs.size])
    pos = np.arange(qs.size) - np.repeat(starts, sizes)
    return order[pos < int(k)]


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
    """One Arrow collect of ``frame``, returned as numpy columns."""
    tbl = frame.toArrow()
    return [tbl.column(c).to_numpy(zero_copy_only=False) for c in cols]


def driver_topk_merge(
    spark, qx: np.ndarray, ids: np.ndarray, d: np.ndarray, k: int,
    id_col: str, upper_bound: float | None, qid_col: str = "query_id",
) -> DataFrame:
    """Driver side of the global cut, over collected (qid, id, dist)
    columns: the SAME (dist asc, id asc) per-query top-k as the window
    plan (:func:`fast_topk_grouped`), the threshold applied after the
    cut, and the result returned as a local DataFrame sorted
    (qid, dist, id) — no wide exchange, no window sort."""
    import pyarrow as pa

    g = fast_topk_grouped(qx, ids, d, int(k))
    qx, ids, d = qx[g], ids[g], d[g]
    if upper_bound is not None:
        m = d <= float(upper_bound)
        qx, ids, d = qx[m], ids[m], d[m]
    o = np.lexsort((ids, d, qx))  # (qid, dist, id) — the shared order
    out_tbl = pa.table({
        qid_col: pa.array(qx[o], type=pa.int64()),
        id_col: pa.array(ids[o], type=pa.int64()),
        "dist": pa.array(d[o], type=pa.float64()),
    })
    return spark.createDataFrame(
        out_tbl, schema=f"{qid_col} long, {id_col} long, dist double")


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
    """The shared k-bounded per-query merge (window rank + optional
    threshold) every batch tier funnels through — flat, PQ, IVF,
    IVF+PQ, and sharded-HNSW all share this one contract."""
    out = window_cut(scored, k, id_col, qid_col=qid_col)
    if upper_bound is not None:
        out = out.filter(F.col("dist") <= F.lit(float(upper_bound)))
    return out.orderBy(qid_col, F.col("dist").asc(), F.col(id_col).asc())


def merge_topk(
    scored: DataFrame, k: int, id_col: str, upper_bound: float | None,
    est_rows: int | None, *, tier: str,
) -> DataFrame:
    """The global top-k every scan tier finishes with. ``scored`` is the
    tier's (query_id, id, dist) emission of per-task top-k rows and
    ``est_rows`` an upper bound on its row count; the gate
    (:func:`driver_side`) picks the driver merge or the window plan,
    which return identical rows in the (query_id, dist, id) order."""
    if not driver_side(tier, scored, est_rows):
        return _topk_per_query(scored, k, id_col, upper_bound)
    qx, ids, d = collect_columns(scored, "query_id", id_col, "dist")
    return driver_topk_merge(scored.sparkSession, qx, ids, d, k, id_col,
                             upper_bound)


def filtered_topk_from_pool(
    pool: DataFrame,
    queries: DataFrame,
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
) -> DataFrame:
    """Shared oversample-and-filter finisher for every batch ANN tier
    (HNSW broadcast graph, IVF+PQ, sharded HNSW): join an ef-bounded
    per-query candidate ``pool`` (query_id, id, dist) against the
    predicate-filtered base — the predicate pushes into the parquet
    scan, the pool is the broadcast side — and keep k survivors per
    query through the shared window. Queries whose pool can't fill k
    are detected with one |Q|-bounded aggregate and answered EXACTLY
    by the flat batch scan over the filtered base, so the result never
    silently under-fills while matches exist (``exact_fallback=False``
    skips that pass; recall then depends on the pool width).

    ``fallback_margin`` widens the escalation trigger: queries whose
    pool ∩ filter holds fewer than ``ceil(margin·k)`` survivors go to
    the exact scan too. A pool that BARELY fills k is the thin-
    intersection regime where the graph most likely missed true
    neighbors — escalating it trades one bounded exact pass for the
    recall the pool can't certify. margin=1.0 keeps the strict
    "under-filled only" contract.

    With ``exact_fallback`` the survivors are driver-materialized
    anyway. The merge gate (:func:`driver_side`, |Q|·``pool_k`` rows
    for a pool of per-query width ``pool_k``; None = unbounded) decides
    whether the per-query probe_k cut runs driver-side on the collected
    join or as the window plan ahead of the collect; either way the
    starvation counts see the same rows, the driver materialization
    stays |Q|·probe_k-bounded, and the filtered base is never
    collected. Plan gate: tests/test_plans.py::test_batch_filtered_ann_plan_shape."""
    spark = pool.sparkSession
    surv = pool.join(filtered_base.select(id_col), id_col).select(
        qid_col, id_col, "dist"
    )
    probe_k = int(k)
    if exact_fallback and float(fallback_margin) > 1.0:
        probe_k = int(math.ceil(float(fallback_margin) * int(k)))
    if not exact_fallback:
        return _topk_per_query(surv, probe_k, id_col, None, qid_col=qid_col)
    # |Q| is needed for starvation detection anyway — collect it first
    # so it can also bound the gate's estimate
    qlist = [int(r[0]) for r in queries.select(qid_col).collect()]
    est_rows = None if pool_k is None else len(qlist) * int(pool_k)
    if not driver_side("filtered", surv, est_rows):
        surv = _topk_per_query(surv, probe_k, id_col, None, qid_col=qid_col)
    qx, sids, sd = collect_columns(surv, qid_col, id_col, "dist")
    g = fast_topk_grouped(qx, sids, sd, probe_k)
    qx, sids, sd = qx[g], sids[g], sd[g]
    uq, cnt = np.unique(qx, return_counts=True)
    counts = dict(zip(uq.tolist(), cnt.tolist()))
    need = [q for q in qlist if int(counts.get(q, 0)) < probe_k]
    if need:
        keep_m = ~np.isin(qx, np.asarray(need, dtype=np.int64))
        qx, sids, sd = qx[keep_m], sids[keep_m], sd[keep_m]
    kept = driver_topk_merge(spark, qx, sids, sd, k, id_col, None, qid_col)
    if not need:
        return kept
    exact = knn_batch(
        filtered_base,
        queries.filter(F.col(qid_col).isin(need)),
        int(k), metric=metric, vec_col=vec_col,
        id_col=id_col, qid_col=qid_col, qvec_col=qvec_col,
    )
    if qid_col != "query_id":
        # knn_batch's output column is always literal query_id
        exact = exact.withColumnRenamed("query_id", qid_col)
    return kept.unionByName(exact).orderBy(
        qid_col, F.col("dist").asc(), F.col(id_col).asc()
    )


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
