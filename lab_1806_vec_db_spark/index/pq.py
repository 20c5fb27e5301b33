"""Product quantization (PQ) — compressed-domain approximate distance
with exact re-ranking.

Reference semantics (/root/reference/src/distance/pq_table.rs):
- group split: ``m`` contiguous dimension ranges, div_ceil-balanced
  (pq_table.rs:38-53 — e.g. dim 7, m 3 → sizes [3, 2, 2]);
- train: per group, k-means with k = 2^n_bits (4 or 8 bits) on a
  sampled training set (pq_table.rs:141-191); the cosine ADC form takes
  the centroid self-dots from the lookup builder;
- encode: per vector per group, nearest-centroid id; 4-bit codes packed
  two per byte (pq_table.rs:66-91, 173-180);
- ADC search: per query build an (m × 2^n_bits) lookup table of
  sub-distances (pq_table.rs:195-224), approximate each encoded vector
  by summing its m looked-up entries (pq_table.rs:239-301), keep ``ef``
  candidates, re-rank them with exact distances and keep k
  (candidate_pair.rs:102-108, flat_index.rs:84-104).

Spark mapping:
- codes live in an ``(id, code BINARY, vec)`` DataFrame, the layout
  IVF+PQ's codes frame has too: the compressed column is ~dim·4bits vs
  dim·32bits, and every reader projects the columns it needs, so the
  columnar ADC scan reads 8× less than a flat scan;
- lookup tables are per-query, tiny, and broadcast; the ADC scan is an
  Arrow-batched lookup-sum (the SIMD loop of pq_table.rs:239-270):
  :func:`adc_tile`, the one ADC scorer of every PQ and IVF+PQ scan
  (batch scans, ``adc_scan``, driver mirror), scores a (rows × queries) tile
  and cuts each query's top-ef (the compiled ``ckernel.adc_topk`` /
  ``adc_block`` kernels, or a numpy gather loop) — in the batch scans
  into the task's ``operators.knn.TopkAccumulator``;
- re-rank (:func:`exact_rerank`, the one exact re-rank of the PQ and
  IVF+PQ serves) either runs in the scan over vectors riding the codes
  batches (fused) or joins the ef candidate ids back to the vectors
  (two-wave: broadcast hash join on id — candidates are k-bounded);
  :func:`fuse_rerank` is the one rule that picks.

Deviation (documented): the reference silently forces n_bits=4 even
when 8 was validated (metadata_vec_table.rs:140); we honor the
requested n_bits. Codebooks are trained with L2² regardless of the
query metric (reconstruction error is Euclidean by construction);
cosine ADC uses the dot-product + cached-self-dot form exactly like
pq_table.rs:215-224.
"""

from __future__ import annotations

import json
import logging
import os
from contextlib import contextmanager
from typing import Callable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.kmeans import _pairwise_dist, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.operators.knn import (
    TopkAccumulator,
    _topk_per_query,
    collect_columns,
    collect_query_block,
    driver_side,
    driver_topk_merge,
    empty_topk,
    fast_topk_grouped,
    np_round_half_up,
    topk_cut,
    window_cut,
)

#: Byte bound of one broadcast ADC lookup tensor: the PQ and IVF+PQ
#: batch serves (and the IVF+PQ driver mirror) split the query block
#: into chunks whose f64 LUT fits it. Read on the driver per serve.
MAX_LUT_BYTES = 64 << 20
#: Row step of :func:`exact_rerank`: bounds every (rows × dim) f64
#: gather/upcast it materializes.
RERANK_STEP = 16384
#: Widest vector :func:`fuse_rerank` re-ranks inside the ADC scan.
#: Measured on the IVF+PQ serve: at dim 64 fusing wins across the whole
#: probe sweep (suite ivfpq 1.77 → 1.31 s); at 1M/dim 960 it loses at
#: every (n_probes, ef) point (docs/BENCH_1M_IVF_AB_r13.json: fused
#: 21.8/28.1 ms/q vs two-wave 9.1/14.6 at 8p/32p ef=200), because the
#: per-candidate vector buffering and (pairs × dim) gather scale with
#: dim. Flat PQ follows the same rule (10k rows, 500 queries, k=10,
#: ef=80, local[4] on 4 cores, 8 alternating pairs): at dim 128 fused
#: took 2 jobs and 0.52 s vs two-wave's 4 jobs and 0.75 s, faster in
#: 8/8; at dim 960 two-wave took 1.26 s vs fused 1.38 s, faster in 8/8.
#: Tests force each plan by monkeypatching it.
FUSE_MAX_DIM = 256

_log = logging.getLogger("lab_1806_vec_db_spark")


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


def adc_tile(
    codes: np.ndarray,
    ids: np.ndarray,
    lut: np.ndarray,
    sq: np.ndarray | None,
    qn: np.ndarray,
    sel: np.ndarray | None,
    kk: int,
    round: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """ADC-score one tile and cut each query's top-``kk`` by (score, id)
    (pq_table.rs:239-301 lookup-sums). ``codes`` (n × m) uint8 are the
    tile's rows and ``ids`` their ids; ``lut`` the (Q × m × 2^b) f64
    lookup block of :func:`build_lookup_batch` and ``sel`` the (S,)
    query rows scored (None = all Q). Cosine (``sq`` the (m × 2^b)
    centroid self-dots, ``qn`` the (Q,) query norms) turns the summed
    dots into 1 − dot / max(‖v̂‖·‖q‖, 1e-10) with one reconstructed norm
    per row. ``round`` cuts on the 4-dp grid (IVF+PQ's candidate gate);
    PQ cuts its raw ADC. Returns ``(rows, scores)`` as
    :func:`operators.knn.topk_cut` does.

    With the C toolchain, l2sqr runs score + round + cut in one
    GIL-released call (``ckernel.adc_topk``); otherwise the lookup-sums
    (``ckernel.adc_block``, or the numpy group loop — the same f64
    left-to-right accumulation, bit-identical) go through ``topk_cut``."""
    from lab_1806_vec_db_spark.index import ckernel

    codes = np.ascontiguousarray(codes)
    n, m = codes.shape
    use_c = ckernel.available()
    if use_c and sq is None:
        _, rows, d = ckernel.adc_topk(codes, ids, lut, sel, min(int(kk), n), round)
        return rows, d
    if use_c:
        summed = ckernel.adc_block(codes, lut, sel)  # (S × n)
    else:
        lsel = lut if sel is None else lut[sel]
        summed = np.zeros((lsel.shape[0], n))
        for g in range(m):
            summed += lsel[:, g, codes[:, g]]
    if sq is not None:
        # centroid self-dots are query-independent: one reconstructed
        # norm per row, shared by every query
        v2 = np.zeros(n)
        for g in range(m):
            v2 += sq[g, codes[:, g]]
        vnorm = np.sqrt(np.maximum(v2, 0.0))
        qs = qn if sel is None else qn[sel]
        summed = 1.0 - summed / np.maximum(vnorm[None, :] * qs[:, None], 1e-10)
    return topk_cut(summed.T, ids, kk, round)


def exact_rerank(
    vecs: np.ndarray,
    rows: np.ndarray,
    qmat: np.ndarray,
    qidx: np.ndarray,
    metric: str,
) -> np.ndarray:
    """The exact re-rank of the PQ and IVF+PQ serves
    (candidate_pair.rs:102-108): the 4-dp rounded exact distance of each
    candidate pair ``(qmat[qidx[j]], vecs[rows[j]])``. ``vecs`` is any
    row store (a task's buffered pool, an Arrow batch, the driver
    mirror) in any float dtype; only the rows the pairs reference are
    read, gathered and upcast to f64 (lossless) :data:`RERANK_STEP`
    rows at a time, so peak memory is one step whatever the store or
    pair count.

    Self-dots are taken once per referenced row, then per pair l2sqr is
    max(‖x‖² + ‖q‖² − 2·x·q, 0) — the clamp of ``kmeans._pairwise_dist``
    — and cosine 1 − x·q / max(‖x‖·‖q‖, 1e-10)."""
    rows = np.asarray(rows, dtype=np.int64)
    urows, inv = np.unique(rows, return_inverse=True)
    q64 = np.asarray(qmat, dtype=np.float64)
    q2 = np.einsum("ij,ij->i", q64, q64)
    qn = np.sqrt(q2)
    x2u = np.empty(urows.size)
    for s in range(0, urows.size, RERANK_STEP):
        xc = np.asarray(vecs[urows[s : s + RERANK_STEP]], dtype=np.float64)
        x2u[s : s + RERANK_STEP] = np.einsum("ij,ij->i", xc, xc)
    x2 = x2u[inv]
    ex = np.empty(rows.size)
    for s in range(0, rows.size, RERANK_STEP):
        sl = slice(s, s + RERANK_STEP)
        qi = qidx[sl]
        xg = np.asarray(vecs[rows[sl]], dtype=np.float64)
        ip = np.einsum("ij,ij->i", xg, q64[qi])
        if metric == "l2sqr":
            ex[sl] = np.maximum(x2[sl] + q2[qi] - 2.0 * ip, 0.0)
        else:
            ex[sl] = 1.0 - ip / np.maximum(np.sqrt(x2[sl]) * qn[qi], 1e-10)
    return np_round_half_up(ex)


def make_grouped_rerank_scan(
    spark,
    qids: np.ndarray,
    qmat: np.ndarray,
    metric: str,
    id_col: str,
    vec_col: str,
):
    """The two-wave re-rank closure of the PQ and IVF+PQ batch serves:
    the caller joins the ``(id, vec)`` frame against candidates GROUPED
    per id (``_qs`` = ``collect_list(query_id)``), so each candidate
    vector crosses Arrow exactly once no matter how many queries want
    it. Per-pair expansion happens here against the already-decoded
    block, through :func:`exact_rerank`; query vectors come from one
    small broadcast."""
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
        out_schema = knn_schema(id_col)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            sch = rb.schema
            # the grouped query lists come apart zero-copy: the list
            # column's offsets give per-id counts, its flattened child
            # IS the concatenated query ids
            qs = rb.column(sch.get_field_index("_qs"))
            cnt = np.diff(qs.offsets.to_numpy(zero_copy_only=False))
            if int(cnt.sum()) == 0:
                continue
            x = vec_matrix(rb.column(sch.get_field_index(vec_col)))
            bids = rb.column(sch.get_field_index(id_col)).to_numpy(
                zero_copy_only=False).astype(np.int64, copy=False)
            qflat = qs.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False)
            qi = bqorder[np.searchsorted(qsorted, qflat)]
            rows = np.repeat(np.arange(bids.size), cnt)
            yield result_batch(
                out_schema, query_id=bqids[qi], **{id_col: bids[rows]},
                dist=exact_rerank(x, rows, bqmat, qi, metric))

    return rerank


def fuse_rerank(frame: DataFrame, vec_col: str, dim: int) -> bool:
    """The one fused-vs-two-wave rule of the PQ and IVF+PQ serves: True
    when the codes ``frame`` carries ``vec_col`` and ``dim`` ≤
    :data:`FUSE_MAX_DIM`, so the exact re-rank runs inside the ADC scan
    (one scan, no re-rank join). Otherwise the serve runs two-wave: an
    ADC scan of ``(id, code)``, then a join back to the vectors. Both
    plans return identical rows. The decision is logged at DEBUG."""
    has_vec = vec_col in frame.columns
    fused = has_vec and dim <= FUSE_MAX_DIM
    _log.debug("fuse rule vec=%s dim=%d bound=%d plan=%s", has_vec, dim,
               FUSE_MAX_DIM, "fused" if fused else "two_wave")
    return fused


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
    driver-resident companion of the graph for the knn_pq combined
    path (hnsw_index.rs:672-696). At m bytes per row it is smaller than
    the graph's link arrays, so it fits wherever the plain tier's graph
    does (docs/SCALE.md)."""
    ids = np.asarray(ids, dtype=np.int64)
    pdf = pq.codes.select(pq.id_col, "code").toPandas()
    buf = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8).reshape(len(pdf), -1)
    codes = unpack_codes(buf, pq.m, pq.n_bits)
    code_ids = pdf[pq.id_col].to_numpy(dtype=np.int64)
    order = np.argsort(code_ids, kind="stable")
    pos = order[np.searchsorted(code_ids[order], ids)]
    if not np.array_equal(code_ids[pos], ids):
        raise ValueError("PQ codes table does not cover every index id")
    return np.ascontiguousarray(codes[pos])


class PQTable:
    """Trained codebooks + the encoded ``(id, code, vec)`` codes frame +
    the base table.

    ``codes`` carries the stored vectors next to the codes, so
    :meth:`search_batch` can exact-re-rank inside the ADC scan (see
    :func:`fuse_rerank`); readers that need only the codes project
    ``(id, code)``. A codes frame without the vector column (a
    directory written before the vectors were persisted) still loads
    and serves, on the two-wave plan."""

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
    ) -> None:
        self.codebooks = codebooks
        self.groups = groups
        self.n_bits = n_bits
        self.codes = codes
        self.base = base
        self.vec_col = vec_col
        self.id_col = id_col
        self.path = path
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

    @property
    def dim(self) -> int:
        return sum(size for _, size in self.groups)

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
        then encode the whole table distributedly into the cached
        ``(id, code, vec)`` codes frame, persisted under ``path`` when
        one is given."""
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

    def encode_df(self, df: DataFrame) -> DataFrame:
        """Distributed encode (pq_table.rs:66-91): broadcast codebooks,
        Arrow scan, per-group nearest-centroid argmin, pack to BINARY.
        Returns ``(id, code, vec)``: the stored vector column passes
        through unchanged (zero-copy Arrow column reuse)."""
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
                vec = rb.column(rb.schema.get_field_index(vec_col))
                x = vec_matrix(vec, dtype=np.float64)
                codes = np.empty((x.shape[0], len(groups)), dtype=np.uint8)
                for gi, (start, size) in enumerate(groups):
                    d = _pairwise_dist(x[:, start : start + size], codebooks[gi], "l2sqr")
                    codes[:, gi] = np.argmin(d, axis=1)
                yield pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.get_field_index(id_col)).cast(pa.int64()),
                     pa.array(pack_codes(codes, n_bits), type=pa.binary()), vec],
                    names=[id_col, "code", vec_col])

        vtype = df.schema[vec_col].dataType.simpleString()
        return df.select(id_col, vec_col).mapInArrow(
            encode, schema=f"{id_col} long, code binary, {vec_col} {vtype}")

    # ---- ADC (A8-A9) ------------------------------------------------------

    def adc_scan(self, query: Sequence[float], metric: str = "l2sqr") -> DataFrame:
        """Approximate distance for every encoded vector: broadcast the
        one-query lookup block, Arrow scan over the codes DataFrame,
        each batch scored whole by :func:`adc_tile`."""
        q = np.asarray(list(query), dtype=np.float64)
        lut, sq, qn = build_lookup_batch(q[None, :], self.codebooks, self.groups,
                                         self.n_bits, metric)
        spark = self.codes.sparkSession
        bc = spark.sparkContext.broadcast((lut, sq, qn, self.m, self.n_bits))
        id_col = self.id_col

        def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import binary_matrix

            blut, bsq, bqn, m, n_bits = bc.value
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                buf = binary_matrix(rb.column(rb.schema.get_field_index("code")))
                codes = unpack_codes(buf, m, n_bits)
                ids = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False)
                rows, d = adc_tile(codes, ids, blut, bsq, bqn, None, len(ids), False)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids[rows[0]], type=pa.int64()),
                     pa.array(d[0], type=pa.float64())],
                    names=[id_col, "dist"],
                )

        return self.codes.select(id_col, "code").mapInArrow(
            scan, schema=f"{id_col} long, dist double")

    # ---- search = ADC topk(ef) → exact re-rank topk(k) (Q5, A10) ---------

    def search(
        self,
        query: Sequence[float],
        k: int,
        ef: int,
        metric: str = "l2sqr",
        upper_bound: float | None = None,
    ) -> DataFrame:
        """knn_pq (flat_index.rs:84-104) for one query as ``(id, dist)``:
        :meth:`search_batch` over a one-row block."""
        return self.search_batch(
            np.asarray([query], dtype=np.float64), k, ef, metric,
            upper_bound=upper_bound,
        ).select(self.id_col, "dist")

    def search_batch(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        ef: int,
        metric: str = "l2sqr",
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Batch ADC: per-query lookup tensors broadcast in bounded
        chunks (≤ :data:`MAX_LUT_BYTES` each), one Arrow scan of the
        codes table per chunk emitting each TASK's top-ef per query by
        raw ADC (:func:`adc_tile` per Arrow batch into a
        :class:`operators.knn.TopkAccumulator`, so the emission is
        ef-bounded per task), the global ADC gate across partitions,
        then the exact re-rank.

        :func:`fuse_rerank` picks where the re-rank runs. Fused, each
        task re-ranks its own ef-bounded pool against the vectors riding
        the same Arrow batches, so the ADC scan is the only scan. Two-wave
        (dim above :data:`FUSE_MAX_DIM`, or a codes frame without
        vectors) scans ``(id, code)`` and joins the gated candidates
        back to the base table's vectors. The pool selection, tie
        handling, re-rank arithmetic and rounding are the same on both
        plans, so results are IDENTICAL.

        ``queries`` is a DataFrame or a driver-side matrix
        (:func:`operators.knn.collect_query_block`). The ADC gate, the
        re-rank wave and the final top-k are :func:`finish_adc`."""
        spark = self.codes.sparkSession
        block = collect_query_block(queries, qid_col, qvec_col, self.dim)
        if block is None:
            return empty_topk(spark, self.id_col)
        qids, qmat = block
        id_col = self.id_col
        vec_col = self.vec_col
        fused = fuse_rerank(self.codes, vec_col, self.dim)
        ef_ = max(int(ef), int(k))
        ksub = 1 << self.n_bits
        # bound each broadcast lookup tensor (default ~64 MB; dim 960 /
        # m=320: ~1.6k queries per chunk; small m → one chunk for all)
        chunk = max(256, int(MAX_LUT_BYTES // (self.m * ksub * 8)))
        n_parts = self.code_partitions
        cap, cap_vec = knn_ops.ACC_CAP_ROWS, knn_ops.ACC_VEC_BYTES
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

                bqids, blut3, bsq, bqn, m, n_bits, bqmat = bc.value
                fused_t = bqmat is not None
                out_schema = pa.schema(
                    [pa.field("query_id", pa.int64()),
                     pa.field(id_col, pa.int64()),
                     pa.field("adc", pa.float64())]
                    + ([pa.field("dist", pa.float64())] if fused_t else []))
                lut64 = np.ascontiguousarray(blut3, dtype=np.float64)
                acc = TopkAccumulator(ef_, cap, cap_vec)
                for rb in batches:
                    if rb.num_rows == 0:
                        continue
                    buf = binary_matrix(rb.column(rb.schema.get_field_index("code")))
                    codes = unpack_codes(buf, m, n_bits)
                    ids = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                        zero_copy_only=False)
                    # raw (unrounded) ADC pool cut, id tie-break
                    rows, adc = adc_tile(codes, ids, lut64, bsq, bqn, None, ef_, False)
                    args = (np.repeat(np.arange(len(bqids)), rows.shape[1]),
                            ids[rows].reshape(-1), adc.reshape(-1))
                    if fused_t:
                        # the accumulator copies the vectors of the rows
                        # it buffers, in the STORE dtype (exact_rerank
                        # upcasts per step, losslessly)
                        args += (ids, vec_matrix(
                            rb.column(rb.schema.get_field_index(vec_col))))
                    acc.add(*args)
                out = acc.result()
                if out is None:
                    return
                qx, ids, adc = out[:3]
                cols = {"query_id": bqids[qx], id_col: ids, "adc": adc}
                if fused_t:
                    # in-task exact re-rank of the pool: the same
                    # function, ops and rounding as the two-wave wave
                    cols["dist"] = exact_rerank(out[3], out[4], bqmat, qx, metric)
                yield result_batch(out_schema, **cols)

            return scan

        scan_src = self.codes.select(id_col, "code", *([vec_col] if fused else []))
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
