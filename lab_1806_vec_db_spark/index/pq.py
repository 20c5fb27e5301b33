"""Product quantization (PQ) — compressed-domain approximate distance
with exact re-ranking.

Reference semantics (/root/reference/src/distance/pq_table.rs):
- group split: ``m`` contiguous dimension ranges, div_ceil-balanced
  (pq_table.rs:38-53 — e.g. dim 7, m 3 → sizes [3, 2, 2]);
- train: per group, k-means with k = 2^n_bits (4 or 8 bits) on a
  sampled training set (pq_table.rs:141-191); centroid self-dots are
  cached for the cosine ADC form;
- encode: per vector per group, nearest-centroid id; 4-bit codes packed
  two per byte (pq_table.rs:66-91, 173-180);
- ADC search: per query build an (m × 2^n_bits) lookup table of
  sub-distances (pq_table.rs:195-224), approximate each encoded vector
  by summing its m looked-up entries (pq_table.rs:239-301), keep ``ef``
  candidates, re-rank them with exact distances and keep k
  (candidate_pair.rs:102-108, flat_index.rs:84-104).

Spark mapping:
- codes live in a ``(id, code BINARY)`` DataFrame — the compressed
  column is ~dim·4bits vs dim·32bits, so the ADC scan reads 8× less
  than a flat scan; at 100 TB that ratio is the whole point of PQ;
- lookup tables are per-query, tiny, and broadcast; the ADC scan is an
  Arrow-batched numpy gather+sum (the SIMD loop of pq_table.rs:239-270
  becomes a BLAS-friendly fancy-index);
- re-rank joins the ef candidate ids back to the base table
  (broadcast hash join on id — candidates are k-bounded).

Deviation (documented): the reference silently forces n_bits=4 even
when 8 was validated (metadata_vec_table.rs:140); we honor the
requested n_bits. Codebooks are trained with L2² regardless of the
query metric (reconstruction error is Euclidean by construction);
cosine ADC uses the dot-product + cached-self-dot form exactly like
pq_table.rs:215-224.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import dist_expr
from lab_1806_vec_db_spark.index.kmeans import _pairwise_dist, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.operators.knn import (
    ROUND_DECIMALS,
    _topk_per_query,
    collect_columns,
    collect_query_block,
    driver_side,
    driver_topk_merge,
    empty_topk,
    fast_topk_grouped,
    np_round_half_up,
    round_dist,
    window_cut,
)


def pq_groups(dim: int, m: int) -> list[tuple[int, int]]:
    """m contiguous (start, len) dim ranges, div_ceil-balanced
    (pq_table.rs:38-53): each group takes ceil(remaining / groups_left)."""
    groups: list[tuple[int, int]] = []
    start, remaining = 0, dim
    for g in range(m, 0, -1):
        size = -(-remaining // g)  # div_ceil
        groups.append((start, size))
        start += size
        remaining -= size
    return groups


def pack_codes(codes: np.ndarray, n_bits: int) -> list[bytes]:
    """(n × m) uint8 code matrix → per-row bytes; 4-bit packs two codes
    per byte high-nibble-first (pq_table.rs:78-91)."""
    codes = np.ascontiguousarray(codes, dtype=np.uint8)
    if n_bits == 8:
        return [row.tobytes() for row in codes]
    n, m = codes.shape
    if m % 2:
        codes = np.concatenate([codes, np.zeros((n, 1), dtype=np.uint8)], axis=1)
    packed = (codes[:, 0::2] << 4) | codes[:, 1::2]
    return [row.tobytes() for row in packed]


def unpack_codes(buf: np.ndarray, m: int, n_bits: int) -> np.ndarray:
    """(n × bytes) uint8 → (n × m) uint8 code matrix."""
    if n_bits == 8:
        return buf[:, :m]
    hi = buf >> 4
    lo = buf & 0x0F
    out = np.empty((buf.shape[0], buf.shape[1] * 2), dtype=np.uint8)
    out[:, 0::2] = hi
    out[:, 1::2] = lo
    return out[:, :m]


def build_lookup_batch(
    qmat: np.ndarray,
    codebooks: list[np.ndarray],
    groups: list[tuple[int, int]],
    n_bits: int,
    metric: str,
    dtype=np.float64,
) -> tuple[np.ndarray, np.ndarray | None, np.ndarray]:
    """Batched per-query ADC lookup tensors (pq_table.rs:195-224 applied
    to a query block): returns ``(lut (Q × m × 2^b), sq (m × 2^b)|None,
    qnorms (Q,))``. For L2² the entries are sub-distances and ``sq`` is
    None; for cosine they are sub-dots plus the shared centroid
    self-dot table (pq_table.rs:131-136). ``dtype=float32`` gives the
    f32 serving regime (half the lookup-table traffic); float64 is the
    oracle-stable default."""
    orig = qmat
    nq = orig.shape[0]
    m = len(groups)
    ksub = 1 << n_bits
    uniform = len({size for _, size in groups}) == 1 and m * groups[0][1] == orig.shape[1]
    if metric == "l2sqr" and uniform and all(cb.shape[0] == ksub for cb in codebooks):
        # uniform groups (e.g. 960/320 = 3): the whole per-group loop
        # collapses to one batched norm expansion — (Q,m,1,s) vs
        # (m,k,s). This is the per-query-block serving hot path of
        # knn_pq; 320 small numpy calls per block measured slower
        # than the traversal itself. Everything runs in the requested
        # serving precision end-to-end (f32 halves the GEMM and copy
        # traffic; f64 stays the oracle-stable path), and the only
        # full-size copy is the final (q,m,k) layout materialization.
        s = groups[0][1]
        comp = np.float32 if dtype == np.float32 else np.float64
        qg = np.ascontiguousarray(np.asarray(orig, dtype=comp).reshape(nq, m, s))
        cbs = np.stack(codebooks, axis=0).astype(comp)  # (m, ksub, s)
        q2 = np.einsum("qms,qms->qm", qg, qg)
        c2 = np.einsum("mks,mks->mk", cbs, cbs)
        ip = np.matmul(qg.transpose(1, 0, 2), cbs.transpose(0, 2, 1))
        lut_full = q2.T[:, :, None] + c2[:, None, :] - 2.0 * ip  # (m,q,k)
        np.maximum(lut_full, 0.0, out=lut_full)
        qnorms = np.sqrt(np.einsum("qm->q", q2, dtype=np.float64))
        return np.ascontiguousarray(lut_full.transpose(1, 0, 2)), None, qnorms
    qmat = np.asarray(qmat, dtype=np.float64)
    lut = np.zeros((nq, m, ksub), dtype=dtype)
    qnorms = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    if metric == "l2sqr":
        for gi, (start, size) in enumerate(groups):
            cb = codebooks[gi]
            lut[:, gi, : cb.shape[0]] = _pairwise_dist(
                qmat[:, start : start + size], cb, "l2sqr"
            )
        return lut, None, qnorms
    sq = np.zeros((m, ksub), dtype=np.float64)
    for gi, (start, size) in enumerate(groups):
        cb = codebooks[gi]
        lut[:, gi, : cb.shape[0]] = qmat[:, start : start + size] @ cb.T
        sq[gi, : cb.shape[0]] = np.einsum("ij,ij->i", cb, cb)
    return lut, sq, qnorms


def lut_span_builder(
    codebooks: list[np.ndarray],
    groups: list[tuple[int, int]],
    n_bits: int,
    metric: str,
    dtype=np.float64,
):
    """Thread-friendly ADC-LUT factory for the uniform-group l2sqr
    serving regime: hoists the codebook tensor/self-dot prep once, then
    returns a closure that builds a query-span's (q' × m × 2^b) lookup
    block with two GIL-releasing numpy calls — so a thread pool can
    amortize the LUT GEMM across cores instead of paying it serially on
    the dispatch thread. Returns None when the regime doesn't apply
    (non-uniform groups, cosine, padded codebooks); callers fall back
    to :func:`build_lookup_batch`."""
    m = len(groups)
    ksub = 1 << n_bits
    dim = sum(size for _, size in groups)
    uniform = len({size for _, size in groups}) == 1 and m * groups[0][1] == dim
    if metric != "l2sqr" or not uniform or not all(
        cb.shape[0] == ksub for cb in codebooks
    ):
        return None
    s = groups[0][1]
    comp = np.float32 if dtype == np.float32 else np.float64
    cbs = np.stack(codebooks, axis=0).astype(comp)  # (m, ksub, s)
    cbt = np.ascontiguousarray(cbs.transpose(0, 2, 1))  # (m, s, ksub)
    c2 = np.einsum("mks,mks->mk", cbs, cbs)

    if comp is np.float32:
        # f32 serving fast path: one GIL-released C call per span
        # (direct Σ(q−c)² — ≥0 by construction, so no clamp; differs
        # from the algebraic form below only in f32 rounding order,
        # which the exact re-rank finalization absorbs). The numpy
        # form costs ~40 µs/query in op dispatch and temporaries for
        # 15 kFLOP of arithmetic, and 32 spans starting at once convoy
        # on allocation — measured 12 ms of a 60 ms serve at Q=1000.
        # f64 keeps the numpy path: its operation order is the
        # oracle-stable one.
        from lab_1806_vec_db_spark.index import ckernel

        if ckernel.available():
            cbs_c = np.ascontiguousarray(cbs)

            def build_c(qspan: np.ndarray) -> np.ndarray:
                return ckernel.adc_lut(np.asarray(qspan, dtype=comp), cbs_c)

            return build_c

    def build(qspan: np.ndarray) -> np.ndarray:
        nq = qspan.shape[0]
        qg = np.ascontiguousarray(np.asarray(qspan, dtype=comp).reshape(nq, m, s))
        q2 = np.einsum("qms,qms->qm", qg, qg)
        ip = np.matmul(qg.transpose(1, 0, 2), cbt)  # (m, q', ksub)
        lut_full = q2.T[:, :, None] + c2[:, None, :] - 2.0 * ip
        np.maximum(lut_full, 0.0, out=lut_full)
        return np.ascontiguousarray(lut_full.transpose(1, 0, 2))

    return build


#: COW state for codebook-fit fork workers
_FIT_STATE: dict = {}

_LAST_GC_COLLECT = [0.0]


@contextmanager
def _cow_friendly_fork():
    """Make fork cheap from a busy driver process (a live SparkSession,
    collected DataFrames): drop garbage, then freeze every surviving
    object into the permanent generation so the children's own gc
    passes never walk — and copy-on-write — the parent's heap pages.
    Measured effect: the matched-scale build/serve inside bench.py ran
    5-6× slower than the identical kernel in a clean process before
    this. The full collect is throttled (it is O(heap), and back-to-back
    codebook fits — one per PQ or IVF+PQ train — would each pay it);
    freeze/unfreeze is cheap and always runs."""
    import gc
    import time as _time

    now = _time.monotonic()
    if now - _LAST_GC_COLLECT[0] > 5.0:
        gc.collect()
        _LAST_GC_COLLECT[0] = now
    gc.freeze()
    try:
        yield
    finally:
        gc.unfreeze()


def _fit_group_slice(args):
    lo, hi = args
    sample, groups, ksub, seed = (
        _FIT_STATE["sample"], _FIT_STATE["groups"],
        _FIT_STATE["ksub"], _FIT_STATE["seed"],
    )
    out = []
    for gi in range(lo, hi):
        start, size = groups[gi]
        model = fit_kmeans(sample[:, start : start + size], k=ksub,
                           metric="l2sqr", seed=seed + gi)
        cb = model.centroids
        if cb.shape[0] < ksub:  # exactness regime: pad with copies so
            # code values stay in range (unused slots never win argmin)
            pad = np.repeat(cb[-1:], ksub - cb.shape[0], axis=0)
            cb = np.concatenate([cb, pad], axis=0)
        out.append(cb)
    return out


def _fit_codebooks(
    sample: np.ndarray, groups: list[tuple[int, int]], ksub: int, seed: int
) -> list[np.ndarray]:
    """Per-group k-means fits, fork-parallel over groups (the rayon
    par_iter of pq_table.rs:141-191). Each group's fit keeps its own
    ``seed + gi`` stream, so results are bit-identical to the
    sequential loop — only wall time changes (m=320 fits dominated
    PQ train before this)."""
    import multiprocessing as mp

    n_groups = len(groups)
    workers = min(os.cpu_count() or 1, n_groups)
    if workers <= 1 or n_groups < 8:
        return _fit_group_slice_seq(sample, groups, ksub, seed)
    global _FIT_STATE
    _FIT_STATE = {"sample": sample, "groups": groups, "ksub": ksub, "seed": seed}
    bounds = np.linspace(0, n_groups, workers + 1).astype(int)
    jobs = [(int(s), int(e)) for s, e in zip(bounds[:-1], bounds[1:]) if e > s]
    with _cow_friendly_fork():
        pool = mp.get_context("fork").Pool(len(jobs))
    try:
        parts = pool.map(_fit_group_slice, jobs)
    finally:
        pool.terminate()
        _FIT_STATE = {}
    return [cb for part in parts for cb in part]


def _fit_group_slice_seq(sample, groups, ksub, seed):
    global _FIT_STATE
    _FIT_STATE = {"sample": sample, "groups": groups, "ksub": ksub, "seed": seed}
    try:
        return _fit_group_slice((0, len(groups)))
    finally:
        _FIT_STATE = {}


def make_rerank_scan(spark, qids: np.ndarray, qmat: np.ndarray, metric: str,
                     id_col: str, vec_col: str):
    """Arrow re-rank closure shared by the PQ and IVF+PQ batch paths:
    exact distances for (query_id, id) candidate pairs, query vectors
    looked up executor-side from one small broadcast — never duplicated
    per candidate. Returns the ``mapInArrow`` function (candidate
    vectors flatten zero-copy from the Arrow batch; no pandas
    round-trip of the vector column)."""
    qids = np.asarray(qids, dtype=np.int64)
    qorder = np.argsort(qids, kind="stable")
    bc_q = spark.sparkContext.broadcast(
        (qids, np.asarray(qmat, dtype=np.float64), qorder)
    )

    def rerank(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from lab_1806_vec_db_spark.functions.arrowvec import (
            knn_schema,
            result_batch,
            vec_matrix,
        )

        bqids, bqmat, bqorder = bc_q.value
        qsorted = bqids[bqorder]
        q2 = np.einsum("ij,ij->i", bqmat, bqmat)
        qn = np.sqrt(q2)
        out_schema = knn_schema(id_col)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sch = rb.schema
            x = vec_matrix(rb.column(sch.get_field_index(vec_col)),
                           dtype=np.float64)
            rqids = rb.column(sch.get_field_index("query_id")).to_numpy(
                zero_copy_only=False).astype(np.int64, copy=False)
            rids = rb.column(sch.get_field_index(id_col)).to_numpy(
                zero_copy_only=False)
            qi = bqorder[np.searchsorted(qsorted, rqids)]
            ip = np.einsum("ij,ij->i", x, bqmat[qi])
            x2 = np.einsum("ij,ij->i", x, x)
            if metric == "l2sqr":
                d = x2 + q2[qi] - 2.0 * ip
            else:
                d = 1.0 - ip / np.maximum(np.sqrt(x2) * qn[qi], 1e-10)
            d = np_round_half_up(d)
            yield result_batch(out_schema, query_id=rqids,
                               **{id_col: rids}, dist=d)

    return rerank


def make_grouped_rerank_scan(
    spark,
    qids: np.ndarray,
    qmat: np.ndarray,
    metric: str,
    id_col: str,
    vec_col: str,
):
    """Grouped variant of :func:`make_rerank_scan` for the batch path:
    the caller joins the base table against candidates GROUPED per id
    (``collect_list(query_id)``), so each candidate vector crosses
    Arrow exactly once no matter how many queries want it — at bench
    shape (ef=80, |Q|=1k over 2k rows) the flat pair join duplicated
    every vector ~40× and the ``to_list`` conversion of the duplicates
    dominated the re-rank task. Per-pair expansion happens here in
    numpy against the already-deserialized block; query vectors come
    from the same small broadcast as the flat closure."""
    qids = np.asarray(qids, dtype=np.int64)
    qorder = np.argsort(qids, kind="stable")
    bc = spark.sparkContext.broadcast(
        (qids, np.asarray(qmat, dtype=np.float64), qorder)
    )

    def rerank(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        from lab_1806_vec_db_spark.functions.arrowvec import (
            knn_schema,
            result_batch,
            vec_matrix,
        )

        bqids, bqmat, bqorder = bc.value
        qsorted = bqids[bqorder]
        q2 = np.einsum("ij,ij->i", bqmat, bqmat)
        qn = np.sqrt(q2)
        out_schema = knn_schema(id_col)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sch = rb.schema
            x = vec_matrix(rb.column(sch.get_field_index(vec_col)),
                           dtype=np.float64)
            bids = rb.column(sch.get_field_index(id_col)).to_numpy(
                zero_copy_only=False).astype(np.int64, copy=False)
            # the grouped query lists come apart zero-copy: the list
            # column's offsets give per-id counts, its flattened child
            # IS the concatenated query ids
            qs = rb.column(sch.get_field_index("_qs"))
            cnt = np.diff(qs.offsets.to_numpy(zero_copy_only=False))
            total = int(cnt.sum())
            if total == 0:
                continue
            qflat = qs.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False)
            qi = bqorder[np.searchsorted(qsorted, qflat)]
            rows_rep = np.repeat(np.arange(bids.size), cnt)
            xs = x[rows_rep]
            ip = np.einsum("ij,ij->i", xs, bqmat[qi])
            x2 = np.einsum("ij,ij->i", x, x)[rows_rep]
            if metric == "l2sqr":
                d = x2 + q2[qi] - 2.0 * ip
            else:
                d = 1.0 - ip / np.maximum(np.sqrt(x2) * qn[qi], 1e-10)
            d = np_round_half_up(d)
            yield result_batch(out_schema, query_id=bqids[qi],
                               **{id_col: bids[rows_rep]}, dist=d)

    return rerank


def finish_adc(
    approx: DataFrame,
    k: int,
    ef: int,
    id_col: str,
    upper_bound: float | None,
    est_rows: int | None,
    rerank_source: tuple[DataFrame, Callable] | None = None,
    *,
    tier: str,
) -> DataFrame:
    """The post-scan half of the PQ and IVF+PQ batch serves: the global
    top-``ef`` ADC gate by (adc, id), then the exact top-k by
    (dist, id) with the threshold applied after the cut. ``approx`` is
    the scan's per-task emission and ``est_rows`` an upper bound on its
    rows; the merge gate (:func:`operators.knn.driver_side`) runs the
    cuts as driver numpy passes or as window plans, with identical rows.

    - fused (``rerank_source`` None): ``approx`` carries ``(query_id,
      id, adc, dist)`` — the exact distances were computed in the scan,
      so both cuts run over the same rows;
    - two-wave: ``approx`` carries ``(query_id, id, adc)``;
      ``rerank_source`` is ``(frame, rerank)`` — the ``(id, vec)`` frame
      the candidates join against and the
      :func:`make_grouped_rerank_scan` closure. Candidates are grouped
      per id below the broadcast, so each candidate vector crosses
      Arrow once whatever the number of queries that gated it."""
    import pyarrow as pa

    spark = approx.sparkSession
    driver = driver_side(tier, approx, est_rows)
    if rerank_source is None:
        if not driver:
            gated = window_cut(approx, ef, id_col, key="adc")
            return _topk_per_query(gated.select("query_id", id_col, "dist"),
                                   k, id_col, upper_bound)
        qx, ids, adc, ex = collect_columns(approx, "query_id", id_col, "adc", "dist")
        g = fast_topk_grouped(qx, ids, adc, ef)  # global ADC gate
        return driver_topk_merge(spark, qx[g], ids[g], ex[g], k, id_col, upper_bound)
    frame, rerank = rerank_source
    if driver:
        qx, ids, adc = collect_columns(approx, "query_id", id_col, "adc")
        g = fast_topk_grouped(qx, ids, adc, ef)  # global ADC gate
        qx, ids = qx[g], ids[g]
        # per-id query grouping in numpy: a zero-copy ListArray, no
        # groupBy exchange
        order = np.argsort(ids, kind="stable")
        uids, starts = np.unique(ids[order], return_index=True)
        offsets = np.r_[starts, ids.size].astype(np.int32)
        cand_grouped = spark.createDataFrame(pa.table({
            id_col: pa.array(uids, type=pa.int64()),
            "_qs": pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(qx[order], type=pa.int64()),
            ),
        }), schema=f"{id_col} long, _qs array<long>")
    else:
        cand_grouped = (
            window_cut(approx, ef, id_col, key="adc")
            .groupBy(id_col).agg(F.collect_list("query_id").alias("_qs"))
        )
    rer = frame.join(F.broadcast(cand_grouped), id_col).mapInArrow(
        rerank, schema=f"query_id long, {id_col} long, dist double")
    if not driver:
        return _topk_per_query(rer, k, id_col, upper_bound)
    qx, ids, ex = collect_columns(rer, "query_id", id_col, "dist")
    return driver_topk_merge(spark, qx, ids, ex, k, id_col, upper_bound)


def aligned_codes(pq: "PQTable", ids: np.ndarray) -> np.ndarray:
    """Collect + unpack the codes table into an (N × m) uint8 matrix
    row-aligned with ``ids`` (an HNSW index's id order) — the
    driver-resident companion of the broadcast graph for the knn_pq
    combined path (hnsw_index.rs:672-696). At m bytes per row it is
    smaller than the graph's link arrays, so it rides the same bounded
    broadcast tier (docs/SCALE.md)."""
    ids = np.asarray(ids, dtype=np.int64)
    pdf = pq.codes.toPandas()
    buf = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(len(pdf), -1)
    codes = unpack_codes(buf, pq.m, pq.n_bits)
    code_ids = pdf[pq.id_col].to_numpy(dtype=np.int64)
    order = np.argsort(code_ids, kind="stable")
    pos = order[np.searchsorted(code_ids[order], ids)]
    if not np.array_equal(code_ids[pos], ids):
        raise ValueError("PQ codes table does not cover every index id")
    return np.ascontiguousarray(codes[pos])


class PQTable:
    """Trained codebooks + encoded codes DataFrame + the base table for
    exact re-ranking."""

    def __init__(
        self,
        codebooks: list[np.ndarray],  # per group: (ksub, group_dim) float64
        groups: list[tuple[int, int]],
        n_bits: int,
        codes: DataFrame,
        base: DataFrame,
        vec_col: str = "vec",
        id_col: str = "id",
        path: str | None = None,
        codes_vec: DataFrame | None = None,
    ) -> None:
        self.codebooks = codebooks
        self.groups = groups
        self.n_bits = n_bits
        self.codes = codes
        self.base = base
        self.vec_col = vec_col
        self.id_col = id_col
        self.path = path
        #: (id, code, vec) fused frame — when present, ``search_batch``
        #: exact-re-ranks INSIDE the ADC scan (one job instead of
        #: scan + re-rank join; round-14, guide §2.4). Built by
        #: :meth:`train` only while the vector payload fits
        #: ``SPARK_GRAFT_PQ_FUSE_MAX_BYTES`` (default 1 GiB) — at 100 TB
        #: scale codes tables must not carry raw vectors and the
        #: two-wave plan serves unchanged.
        self.codes_vec = codes_vec
        # cosine ADC needs per-centroid self-dots (pq_table.rs:131-136)
        self.self_dots = [np.einsum("ij,ij->i", cb, cb) for cb in codebooks]
        self._code_parts: int | None = None

    @property
    def code_partitions(self) -> int:
        """Partition count of the codes table, probed once and cached —
        ``df.rdd.getNumPartitions()`` forces plan materialization, so it
        must not run per query batch."""
        if self._code_parts is None:
            self._code_parts = self.codes.rdd.getNumPartitions()
        return self._code_parts

    @property
    def m(self) -> int:
        return len(self.groups)

    # ---- train + encode (A5-A7) ------------------------------------------

    @classmethod
    def train(
        cls,
        df: DataFrame,
        dim: int,
        m: int | None = None,
        n_bits: int = 4,
        train_proportion: float = 0.1,
        vec_col: str = "vec",
        id_col: str = "id",
        seed: int = 42,
        path: str | None = None,
        train_size_cap: int = 100_000,
    ) -> "PQTable":
        """Fit m sub-quantizers on a sampled training block
        (pq_table.rs:141-191; sampling per metadata_vec_table.rs:133-137),
        then encode the whole table distributedly."""
        if n_bits not in (4, 8):
            raise ValueError("n_bits must be 4 or 8")
        mm = -(-dim // 3) if m is None else int(m)
        if not (1 <= mm <= dim):
            raise ValueError("m must be in 1..=dim")
        groups = pq_groups(dim, mm)
        n_rows = df.count()
        train_n = min(max(int(n_rows * train_proportion), 1), train_size_cap)
        sample = sample_rows(df, train_n, vec_col=vec_col, id_col=id_col, seed=seed)
        ksub = 1 << n_bits
        codebooks = _fit_codebooks(sample, groups, ksub, seed)
        obj = cls(codebooks, groups, n_bits, codes=None, base=df,  # type: ignore[arg-type]
                  vec_col=vec_col, id_col=id_col, path=path)
        # Fused-serve layout (round-14): while the raw-vector payload is
        # bounded, encode (id, code, vec) in ONE pass and cache that;
        # `codes` is a column projection of the same cached frame (no
        # second copy of the code bytes) and `search_batch` re-ranks
        # inside the ADC scan — one job instead of two. Above the bound
        # (or for persisted indexes, whose on-disk codes stay vec-free)
        # the classic (id, code) frame + two-wave serve is unchanged:
        # at scale a codes table must not carry raw vectors.
        fuse_max = int(os.environ.get("SPARK_GRAFT_PQ_FUSE_MAX_BYTES",
                                      str(1 << 30)))
        if path is None and n_rows * dim * 8 <= fuse_max:
            fused = obj.encode_df(df, with_vec=True).cache()
            obj.codes_vec = fused
            obj.codes = fused.select(id_col, "code")
            return obj
        codes = obj.encode_df(df)
        if path is not None:
            spark = df.sparkSession
            os.makedirs(path, exist_ok=True)
            codes.write.mode("overwrite").parquet(os.path.join(path, "codes"))
            np.savez(os.path.join(path, "codebooks.npz"),
                     **{f"g{gi}": cb for gi, cb in enumerate(codebooks)})
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump({"groups": groups, "n_bits": n_bits, "vec_col": vec_col,
                           "id_col": id_col, "dim": dim}, f)
            codes = spark.read.parquet(os.path.join(path, "codes"))
        obj.codes = codes.cache()
        return obj

    @classmethod
    def load(cls, spark: SparkSession, path: str, base: DataFrame) -> "PQTable":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        npz = np.load(os.path.join(path, "codebooks.npz"))
        codebooks = [npz[f"g{gi}"] for gi in range(len(meta["groups"]))]
        codes = spark.read.parquet(os.path.join(path, "codes")).cache()
        return cls(codebooks, [tuple(g) for g in meta["groups"]], meta["n_bits"],
                   codes, base, vec_col=meta["vec_col"], id_col=meta["id_col"], path=path)

    def encode_df(self, df: DataFrame, with_vec: bool = False) -> DataFrame:
        """Distributed encode (pq_table.rs:66-91): broadcast codebooks,
        Arrow scan, per-group nearest-centroid argmin, pack to BINARY.
        ``with_vec`` passes the stored vector column through unchanged
        (zero-copy Arrow column reuse) for the fused-serve layout."""
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast((self.codebooks, self.groups, self.n_bits))
        vec_col, id_col = self.vec_col, self.id_col

        def encode(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix

            codebooks, groups, n_bits = bc.value
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                x = vec_matrix(rb.column(rb.schema.get_field_index(vec_col)),
                               dtype=np.float64)
                codes = np.empty((x.shape[0], len(groups)), dtype=np.uint8)
                for gi, (start, size) in enumerate(groups):
                    d = _pairwise_dist(x[:, start : start + size], codebooks[gi], "l2sqr")
                    codes[:, gi] = np.argmin(d, axis=1)
                cols = [rb.column(rb.schema.get_field_index(id_col)).cast(pa.int64()),
                        pa.array(pack_codes(codes, n_bits), type=pa.binary())]
                names = [id_col, "code"]
                if with_vec:
                    cols.append(rb.column(rb.schema.get_field_index(vec_col)))
                    names.append(vec_col)
                yield pa.RecordBatch.from_arrays(cols, names=names)

        schema = f"{id_col} long, code binary"
        if with_vec:
            vtype = df.schema[vec_col].dataType.simpleString()
            schema += f", {vec_col} {vtype}"
        return df.select(id_col, vec_col).mapInArrow(encode, schema=schema)

    # ---- ADC (A8-A9) ------------------------------------------------------

    def build_lookup(self, q: np.ndarray, metric: str) -> tuple[np.ndarray, np.ndarray | None, float]:
        """Per-query (m × 2^n_bits) sub-distance lookup
        (pq_table.rs:195-224). For L2²: entries are ‖q_g − c‖², distance
        = Σ entries. For cosine: entries are q_g·c, with the cached
        centroid self-dots giving the reconstructed norm; distance =
        1 − Σdot / max(√Σself · ‖q‖, 1e-10)."""
        ksub = 1 << self.n_bits
        lut = np.zeros((self.m, ksub), dtype=np.float64)
        sq = None
        if metric == "l2sqr":
            for gi, (start, size) in enumerate(self.groups):
                qg = q[start : start + size][None, :]
                lut[gi, : self.codebooks[gi].shape[0]] = _pairwise_dist(
                    qg, self.codebooks[gi], "l2sqr"
                )[0]
        else:
            sq = np.zeros((self.m, ksub), dtype=np.float64)
            for gi, (start, size) in enumerate(self.groups):
                qg = q[start : start + size]
                lut[gi, : self.codebooks[gi].shape[0]] = self.codebooks[gi] @ qg
                sq[gi, : self.self_dots[gi].shape[0]] = self.self_dots[gi]
        qnorm = float(np.sqrt(q @ q))
        return lut, sq, qnorm

    @staticmethod
    def _adc_scores(codes: np.ndarray, lut: np.ndarray, sq: np.ndarray | None, qnorm: float) -> np.ndarray:
        """Σ over groups of looked-up entries (pq_table.rs:239-301)."""
        m = lut.shape[0]
        gidx = np.arange(m)[None, :]
        summed = lut[gidx, codes].sum(axis=1)
        if sq is None:
            return summed
        vnorm = np.sqrt(np.maximum(sq[gidx, codes].sum(axis=1), 0.0))
        return 1.0 - summed / np.maximum(vnorm * qnorm, 1e-10)

    def adc_scan(self, query: Sequence[float], metric: str = "l2sqr") -> DataFrame:
        """Approximate distance for every encoded vector: broadcast the
        lookup table, Arrow scan over the codes DataFrame."""
        q = np.asarray(list(query), dtype=np.float64)
        lut, sq, qnorm = self.build_lookup(q, metric)
        spark = self.codes.sparkSession
        bc = spark.sparkContext.broadcast((lut, sq, qnorm, self.m, self.n_bits))
        id_col = self.id_col

        def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import binary_matrix

            blut, bsq, bqnorm, m, n_bits = bc.value
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                buf = binary_matrix(rb.column(rb.schema.get_field_index("code")))
                codes = unpack_codes(buf, m, n_bits)
                d = PQTable._adc_scores(codes, blut, bsq, bqnorm)
                yield pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.get_field_index(id_col)).cast(pa.int64()),
                     pa.array(d, type=pa.float64())],
                    names=[id_col, "dist"],
                )

        return self.codes.mapInArrow(scan, schema=f"{id_col} long, dist double")

    # ---- search = ADC topk(ef) → exact re-rank topk(k) (Q5, A10) ---------

    def search(
        self,
        query: Sequence[float],
        k: int,
        ef: int,
        metric: str = "l2sqr",
        upper_bound: float | None = None,
        payload_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """knn_pq (flat_index.rs:84-104): ef approximate candidates by
        ADC, then exact re-rank keeps k (candidate_pair.rs:102-108)."""
        q = [float(x) for x in query]
        cand = (
            self.adc_scan(q, metric)
            .orderBy(F.col("dist").asc(), F.col(self.id_col).asc())
            .limit(max(int(ef), int(k)))
            .select(self.id_col)
        )
        qlit = F.lit(q).cast("array<double>")
        payload = list(payload_cols) if payload_cols is not None else [self.id_col]
        rer = (
            self.base.join(F.broadcast(cand), self.id_col)
            .select(*payload,
                    round_dist(dist_expr(F.col(self.vec_col), qlit, metric)).alias("dist"))
            .orderBy(F.col("dist").asc(), F.col(self.id_col).asc())
            .limit(int(k))
        )
        if upper_bound is not None:
            rer = rer.filter(F.col("dist") <= F.lit(float(upper_bound)))
        return rer

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        ef: int,
        metric: str = "l2sqr",
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
        max_lut_bytes: int = 64 << 20,
        fuse_rerank: bool | None = None,
    ) -> DataFrame:
        """Batch ADC: per-query lookup tensors broadcast in bounded
        chunks (≤ ``max_lut_bytes`` each), one Arrow scan of the codes
        table per chunk emitting each PARTITION's top-ef per query
        (batches are merged inside the scan closure, so the emission is
        ef-bounded per task), the global ADC gate across partitions,
        then one broadcast join back to vectors for the exact re-rank.

        ``fuse_rerank`` (None = auto): when the index carries the fused
        (id, code, vec) layout (:attr:`codes_vec`, built by
        :meth:`train` for bounded tables), the exact re-rank runs
        INSIDE the ADC scan — each task re-ranks its own ef-bounded
        pool against the vectors riding the same Arrow batches, so the
        whole serve is ONE job (round-14, guide §2.4; the IVF+PQ fused
        plan applied to flat PQ). The pool selection, tie handling,
        re-rank arithmetic and rounding are bit-identical to the
        two-wave plan, so results are IDENTICAL; ``False`` forces the
        classic two-wave serve (the only plan for indexes loaded from
        disk, whose codes stay vec-free — ``True`` raises there).

        The ADC gate, the re-rank wave and the final top-k are
        :func:`finish_adc`."""
        if fuse_rerank and self.codes_vec is None:
            raise ValueError(
                "fuse_rerank=True needs the fused (id, code, vec) layout, "
                "which this PQ table does not carry (loaded from disk, or "
                "trained above SPARK_GRAFT_PQ_FUSE_MAX_BYTES)."
            )
        spark = queries.sparkSession
        block = collect_query_block(queries, qid_col, qvec_col)
        if block is None:
            return empty_topk(spark, self.id_col)
        qids, qmat = block
        id_col = self.id_col
        vec_col = self.vec_col
        fused = self.codes_vec is not None and fuse_rerank is not False
        ef_ = max(int(ef), int(k))
        ksub = 1 << self.n_bits
        # bound each broadcast lookup tensor (default ~64 MB; dim 960 /
        # m=320: ~1.6k queries per chunk; small m → one chunk for all)
        chunk = max(256, int(max_lut_bytes // (self.m * ksub * 8)))
        n_parts = self.code_partitions
        # NOTE on parallelism: splitting queries into more chunks than
        # the LUT byte bound requires was measured SLOWER at bench shape
        # (per-piece broadcast + task overhead beats the win; 32 pieces
        # cost 2× the single-piece scan) — the scan stays one piece per
        # LUT-bound chunk and parallelism comes from code partitions.

        def make_scan(bc):
            def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
                import pyarrow as pa

                from lab_1806_vec_db_spark.functions.arrowvec import (
                    binary_matrix,
                    result_batch,
                    vec_matrix,
                )
                from lab_1806_vec_db_spark.index import ckernel

                bqids, blut3, bsq, bqn, m, n_bits, bqmat = bc.value
                fused_t = bqmat is not None
                if fused_t:
                    # same per-query terms the two-wave re-rank closure
                    # derives from its broadcast (make_grouped_rerank_scan)
                    q2 = np.einsum("ij,ij->i", bqmat, bqmat)
                    qnorm = np.sqrt(q2)
                out_schema = pa.schema(
                    [pa.field("query_id", pa.int64()),
                     pa.field(id_col, pa.int64()),
                     pa.field("adc", pa.float64())]
                    + ([pa.field("dist", pa.float64())] if fused_t else []))
                # compiled lookup-sum kernel when available (the IVF+PQ
                # tile path, guide §4): per (row, query) the m LUT rows
                # stay L1-resident and the (n × |Q|) result is written
                # once — the numpy fallback's m gather passes re-stream
                # the whole accumulator from memory per group (m×3×
                # |tile| f64 traffic) and hold the GIL throughout.
                # Same f64 left-to-right group accumulation → summed is
                # bit-identical either way.
                use_c = ckernel.available()
                lut64 = (
                    np.ascontiguousarray(blut3, dtype=np.float64)
                    if use_c else None
                )
                # (m, ksub, |Q|) C-contiguous LUT: the per-group gather
                # lut_t[g][codes[:, g]] then copies contiguous |Q|-rows
                # (≈1.8× the transposed-view gather, measured at bench
                # shape); one cheap transpose per task
                lut_t = (
                    None if use_c
                    else np.ascontiguousarray(blut3.transpose(1, 2, 0))
                )
                run_d = run_id = run_src = None
                off = 0
                vkeys: list[np.ndarray] = []  # fused: buffered global row ids
                vmats: list[np.ndarray] = []  # fused: their vectors, STORE dtype
                vbytes = 0
                for rb in batches:
                    if rb.num_rows == 0:
                        continue
                    buf = binary_matrix(rb.column(rb.schema.get_field_index("code")))
                    codes = unpack_codes(buf, m, n_bits)
                    ids = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                        zero_copy_only=False)
                    if use_c:
                        # (n × |Q|) view of the kernel's (|Q| × n) sums
                        summed = ckernel.adc_block(
                            np.ascontiguousarray(codes), lut64, None
                        ).T
                    else:
                        # (n × |Q|) approx distances, accumulated group-
                        # by-group: m cheap 2-D gathers instead of one
                        # giant (|Q|, n, m) fancy-index — no 3-D
                        # intermediate
                        summed = np.zeros((codes.shape[0], lut_t.shape[2]))
                        for g in range(m):
                            summed += lut_t[g][codes[:, g]]
                    if bsq is not None:
                        # centroid self-dots are query-independent: one
                        # (n,) reconstructed norm shared by all queries
                        v2 = np.zeros(codes.shape[0])
                        for g in range(m):
                            v2 += bsq[g, codes[:, g]]
                        vnorm = np.sqrt(np.maximum(v2, 0.0))
                        summed = 1.0 - summed / np.maximum(vnorm[:, None] * bqn[None, :], 1e-10)
                    idm = np.broadcast_to(ids[:, None], summed.shape)
                    if fused_t:
                        srcm = np.broadcast_to(
                            (off + np.arange(codes.shape[0], dtype=np.int64))[:, None],
                            summed.shape)
                    if run_d is not None:
                        summed = np.concatenate([run_d, summed], axis=0)
                        idm = np.concatenate([run_id, idm], axis=0)
                        if fused_t:
                            srcm = np.concatenate([run_src, srcm], axis=0)
                    kk = min(ef_, summed.shape[0])
                    if kk < summed.shape[0]:
                        # O(n) prefilter before the exact ordering sort
                        # (~3× faster than a full-column lexsort). Under
                        # an exact float tie at the kk-th boundary the
                        # KEPT set is deterministic but not id-tiebroken
                        # — fine for an ef candidate pool feeding the
                        # exact re-rank; the oracled rounded-gate cuts
                        # (knn_pq_adc / knn_ivf_pq) use the single-query
                        # paths, which keep their full id-tiebroken sort
                        part = np.argpartition(summed, kk - 1, axis=0)[:kk, :]
                        summed = np.take_along_axis(summed, part, axis=0)
                        idm = np.take_along_axis(idm, part, axis=0)
                        if fused_t:
                            srcm = np.take_along_axis(srcm, part, axis=0)
                    sel = np.lexsort((idm, summed), axis=0)
                    run_d = np.take_along_axis(summed, sel, axis=0)
                    run_id = np.take_along_axis(idm, sel, axis=0)
                    if fused_t:
                        run_src = np.take_along_axis(srcm, sel, axis=0)
                        # buffer THIS batch's pool survivors' vectors in
                        # the STORE dtype (f64 upcast happens once at the
                        # end-of-task re-rank — lossless, so the exact
                        # distances match the two-wave closure's bits)
                        new_rows = np.unique(run_src[run_src >= off])
                        if new_rows.size:
                            vx = vec_matrix(
                                rb.column(rb.schema.get_field_index(vec_col)))
                            grab = np.ascontiguousarray(vx[new_rows - off])
                            vkeys.append(new_rows)
                            vmats.append(grab)
                            vbytes += grab.nbytes
                            if vbytes > 256 << 20:
                                # keep only rows the live pool references
                                vk = np.concatenate(vkeys)
                                vm = (np.concatenate(vmats)
                                      if len(vmats) > 1 else vmats[0])
                                keep = np.isin(vk, np.unique(run_src))
                                vkeys = [vk[keep]]
                                vmats = [np.ascontiguousarray(vm[keep])]
                                vbytes = vmats[0].nbytes
                    off += codes.shape[0]
                if run_d is None:
                    return
                kk = run_d.shape[0]
                out_q = np.repeat(bqids, kk)
                out_i = run_id.T.reshape(-1)
                out_a = run_d.T.reshape(-1)
                if not fused_t:
                    yield result_batch(
                        out_schema,
                        query_id=out_q,
                        **{id_col: out_i},
                        adc=out_a,
                    )
                    return
                # in-task exact re-rank of the pool — the same ops, in
                # the same order, as make_grouped_rerank_scan: per-row
                # self-dots on the f64 matrix of UNIQUE pool vectors,
                # per-pair dots on the gathered rows, 4-dp half-up round
                vk = np.concatenate(vkeys)
                vm = np.concatenate(vmats) if len(vmats) > 1 else vmats[0]
                o = np.argsort(vk, kind="stable")
                vk_s = vk[o]
                x_u = np.asarray(vm[o], dtype=np.float64)
                x2u = np.einsum("ij,ij->i", x_u, x_u)
                pos = np.searchsorted(vk_s, run_src.T.reshape(-1))
                qidx = np.repeat(np.arange(len(bqids)), kk)
                xs = x_u[pos]
                ip = np.einsum("ij,ij->i", xs, bqmat[qidx])
                if bsq is None:
                    ex = x2u[pos] + q2[qidx] - 2.0 * ip
                else:
                    ex = 1.0 - ip / np.maximum(
                        np.sqrt(x2u[pos]) * qnorm[qidx], 1e-10)
                yield result_batch(
                    out_schema,
                    query_id=out_q,
                    **{id_col: out_i},
                    adc=out_a,
                    dist=np_round_half_up(ex),
                )

            return scan

        scan_src = self.codes_vec if fused else self.codes
        scan_schema = f"query_id long, {id_col} long, adc double" + (
            ", dist double" if fused else "")
        pieces = []
        for s in range(0, len(qids), chunk):
            lut3, sq, qn = build_lookup_batch(
                qmat[s : s + chunk], self.codebooks, self.groups, self.n_bits, metric
            )
            bc = spark.sparkContext.broadcast(
                (qids[s : s + chunk], lut3, sq, qn, self.m, self.n_bits,
                 qmat[s : s + chunk] if fused else None)
            )
            pieces.append(
                scan_src.mapInArrow(make_scan(bc), schema=scan_schema)
            )
        approx = pieces[0]
        for p in pieces[1:]:
            approx = approx.unionByName(p)
        rerank_source = None if fused else (
            self.base.select(id_col, vec_col),
            make_grouped_rerank_scan(spark, qids, qmat, metric, id_col, vec_col),
        )
        # each task emits at most ef rows per query
        return finish_adc(approx, int(k), ef_, id_col, upper_bound,
                          n_parts * ef_ * len(qids), rerank_source, tier="pq")
