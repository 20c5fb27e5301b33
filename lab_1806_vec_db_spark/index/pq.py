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
- lookup tables are per-query, tiny, and broadcast (in
  :func:`lut_chunk` pieces); :func:`adc_list_scan`, the one ADC scan of
  the PQ and IVF+PQ batch serves (PQ is its one-list case), is an
  Arrow-batched lookup-sum (the SIMD loop of pq_table.rs:239-301):
  :func:`adc_tile`, the one ADC scorer (batch scans and the IVF+PQ
  driver mirror), scores a (rows × queries) tile and cuts each query's
  4-dp rounded top-ef (the compiled ``ckernel.adc_topk`` /
  ``adc_block`` kernels, or a numpy gather loop) into the task's
  ``operators.knn.TopkAccumulator``;
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

import functools
import json
import logging
import os
from typing import Callable, Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.kmeans import _pairwise_dist, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.operators.knn import (
    LIST_COL,
    QueryBlock,
    TopkAccumulator,
    _topk_per_query,
    collect_columns,
    collect_query_block,
    driver_side,
    driver_topk_merge,
    empty_topk,
    fast_topk_grouped,
    list_runs,
    lists_in,
    np_round_half_up,
    route_lists,
    take,
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


@functools.lru_cache(maxsize=1)
def _openblas_threads() -> tuple[Callable, Callable] | None:
    """(get, set) of the thread count of the OpenBLAS numpy ships in its
    wheel (``numpy.libs``), or None when numpy links another BLAS."""
    import ctypes
    import glob

    root = os.path.dirname(np.__file__)
    for path in sorted(glob.glob(os.path.join(root, "..", "numpy.libs", "libopenblas*"))
                       + glob.glob(os.path.join(root, ".libs", "libopenblas*"))):
        lib = ctypes.CDLL(path)  # numpy loaded it already: the same handle
        for suffix in ("64_", ""):
            get = getattr(lib, f"openblas_get_num_threads{suffix}", None)
            put = getattr(lib, f"openblas_set_num_threads{suffix}", None)
            if get is not None and put is not None:
                return get, put
    return None


def _fit_codebooks(
    sample: np.ndarray, groups: list[tuple[int, int]], ksub: int, seed: int
) -> list[np.ndarray]:
    """Per-group k-means fits (the rayon par_iter of pq_table.rs:141-191)
    on a thread pool over groups, one thread per 1024 sample rows up to
    ``min(os.cpu_count(), groups)``. Each group's fit keeps its own
    ``seed + gi`` stream, so the codebooks do not depend on the worker
    count; with the C toolchain each Lloyd step runs GIL-released
    (:func:`kmeans.fit_kmeans`).

    Concurrent multi-threaded OpenBLAS GEMMs are not reproducible: at a
    100k-row sample, pooled fits differed from each other and from the
    serial fit in ~1 group of 7. The pool therefore runs with numpy's
    OpenBLAS held at one thread (process-wide, restored after), which
    equals the serial fit and is also faster (100k × 128, 43 groups,
    4 cores: 2.0-2.2 s against 4.1-4.5 s with BLAS threads). Without
    that handle the groups fit one after another. Below 2048 rows
    threads do not pay (1k rows: 0.14 s pooled, 0.08 s serial).

    A group in the exactness regime (fewer distinct sub-vectors than
    ``ksub``) is padded with copies of its last centroid, so code values
    stay in range; the unused slots never win the argmin."""
    from concurrent.futures import ThreadPoolExecutor

    def fit(gi: int) -> np.ndarray:
        start, size = groups[gi]
        cb = fit_kmeans(sample[:, start : start + size], k=ksub,
                        metric="l2sqr", seed=seed + gi).centroids
        if cb.shape[0] < ksub:
            cb = np.concatenate([cb, np.repeat(cb[-1:], ksub - cb.shape[0], axis=0)])
        return cb

    workers = min(os.cpu_count() or 1, len(groups), sample.shape[0] // 1024)
    blas = _openblas_threads() if workers > 1 else None
    if blas is None:
        return [fit(gi) for gi in range(len(groups))]
    get, put = blas
    prev = get()
    put(1)
    try:
        with ThreadPoolExecutor(max_workers=workers) as tp:
            return list(tp.map(fit, range(len(groups))))
    finally:
        put(prev)


def adc_tile(
    codes: np.ndarray,
    ids: np.ndarray,
    lut: np.ndarray,
    sq: np.ndarray | None,
    qn: np.ndarray,
    sel: np.ndarray | None,
    kk: int,
) -> tuple[np.ndarray, np.ndarray]:
    """ADC-score one tile and cut each query's top-``kk`` by (score, id)
    on the 4-dp grid (pq_table.rs:239-301 lookup-sums): the candidate
    gate of every ADC serve. ``codes`` (n × m) uint8 are the tile's rows
    and ``ids`` their ids; ``lut`` the (Q × m × 2^b) f64 lookup block of
    :func:`build_lookup_batch` and ``sel`` the (S,) query rows scored
    (None = all Q). Cosine (``sq`` the (m × 2^b) centroid self-dots,
    ``qn`` the (Q,) query norms) turns the summed dots into
    1 − dot / max(‖v̂‖·‖q‖, 1e-10) with one reconstructed norm per row.
    Returns ``(rows, scores)``, the scores rounded, as
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
        _, rows, d = ckernel.adc_topk(codes, ids, lut, sel, min(int(kk), n), True)
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
    return topk_cut(summed.T, ids, kk, True)


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


def lut_chunk(m: int, n_bits: int) -> int:
    """Queries per ADC lookup block, the one chunk rule of the ADC scans
    and the IVF+PQ driver mirror: the most queries whose f64
    (Q × m × 2^b) lookup tensor fits :data:`MAX_LUT_BYTES`, at least 4
    (dim 128 / m=43 4-bit: ~12k queries; dim 960 / m=320: ~1.6k)."""
    return max(4, MAX_LUT_BYTES // (m * (1 << n_bits) * 8))


def adc_list_scan(
    frame: DataFrame,
    base: DataFrame,
    pq: "PQTable",
    block: QueryBlock,
    probes: np.ndarray | None,
    k: int,
    ef: int,
    metric: str,
    upper_bound: float | None,
    est_rows: int,
    *,
    tier: str,
) -> DataFrame:
    """The ADC batch scan of the PQ and IVF+PQ tiers, the ADC twin of
    ``operators.knn.exact_list_scan``: the codes ``frame`` (``id, code``
    plus ``cluster_id`` when ``probes`` is given, and ``vec`` when it
    carries the vectors) is read as lists, each scored only for the
    queries probing it (``knn.route_lists``: PQ passes no ``probes``,
    one list probed by every query; IVF+PQ its centroid probes).

    The query block is split into :func:`lut_chunk` pieces, each with
    its broadcast lookup tensor, routing and scan. Per Arrow batch,
    each (list run × probing queries) tile is cut to its 4-dp rounded
    top-``ef`` by (adc, id) (:func:`adc_tile`) into the task's
    :class:`operators.knn.TopkAccumulator`, whose floors
    (``knn.ACC_CAP_ROWS`` triples of ~24 B, and on the fused plan
    ``knn.ACC_VEC_BYTES`` of candidate vectors in the store dtype) bound
    per-task memory at max(floor, 1.5× the live set). :func:`fuse_rerank`
    picks where the exact re-rank runs: in the scan over the vectors
    riding the codes batches, or in a join wave against the probed
    lists' vectors of ``frame`` when it carries them, else ``base``.
    Both plans return identical rows. ``est_rows`` bounds the scan's
    emission for the merge gate; :func:`finish_adc` makes the global ADC
    gate, the re-rank wave and the exact top-k."""
    spark = frame.sparkSession
    qids, qmat = block
    id_col, vec_col, m, n_bits = pq.id_col, pq.vec_col, pq.m, pq.n_bits
    fused = fuse_rerank(frame, vec_col, pq.dim)
    ef = max(int(ef), int(k))
    cap, cap_vec = knn_ops.ACC_CAP_ROWS, knn_ops.ACC_VEC_BYTES

    def make_scan(bc):
        def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import (
                binary_matrix,
                result_batch,
                vec_matrix,
            )

            bqids, blists, blut3, bsq, bqn, bqmat = bc.value
            every = np.arange(len(bqids))
            lut64 = np.ascontiguousarray(blut3, dtype=np.float64)
            acc = TopkAccumulator(ef, cap, cap_vec)
            out_schema = pa.schema(
                [pa.field("query_id", pa.int64()),
                 pa.field(id_col, pa.int64()),
                 pa.field("adc", pa.float64())]
                + ([pa.field("dist", pa.float64())] if fused else []))
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                # zero-copy views over the Arrow batch: packed codes as
                # an (n, bytes) uint8 matrix, vectors flattened in place
                # (the accumulator copies, in the store dtype, only the
                # vectors of the candidates it buffers)
                sch = rb.schema
                codes_all = unpack_codes(
                    binary_matrix(rb.column(sch.get_field_index("code"))), m, n_bits)
                ids_all = rb.column(sch.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False)
                vec_all = (vec_matrix(rb.column(sch.get_field_index(vec_col)))
                           if fused else None)
                for sel, rows in list_runs(rb, blists):
                    ids = take(ids_all, rows)
                    top, adc = adc_tile(take(codes_all, rows), ids, lut64, bsq, bqn,
                                        sel, ef)
                    args = (np.repeat(every if sel is None else sel, top.shape[1]),
                            ids[top].reshape(-1), adc.reshape(-1))
                    if fused:
                        need = np.unique(top)
                        args += (ids[need],
                                 vec_all[need if rows is None else rows[need]])
                    acc.add(*args)
            out = acc.result()
            if out is None:
                return
            qx, ids, adc = out[:3]
            cols = {"query_id": bqids[qx], id_col: ids, "adc": adc}
            if fused:
                # exact re-rank of the task's surviving pool: the same
                # function and rounding as the two-wave plan
                cols["dist"] = exact_rerank(out[3], out[4], bqmat, qx, metric)
            yield result_batch(out_schema, **cols)

        return scan

    scan_cols = [id_col, "code"] + ([] if probes is None else [LIST_COL]) + (
        [vec_col] if fused else [])
    scan_schema = f"query_id long, {id_col} long, adc double" + (
        ", dist double" if fused else "")
    chunk = lut_chunk(m, n_bits)
    pieces, probed = [], set()
    for s in range(0, qids.size, chunk):
        src, by_list = route_lists(frame, None if probes is None else probes[s : s + chunk])
        probed.update(by_list or ())
        lut3, sq, qn = build_lookup_batch(
            qmat[s : s + chunk], pq.codebooks, pq.groups, n_bits, metric)
        bc = spark.sparkContext.broadcast(
            (qids[s : s + chunk], by_list, lut3, sq, qn,
             qmat[s : s + chunk] if fused else None))
        pieces.append(src.select(*scan_cols).mapInArrow(make_scan(bc), schema=scan_schema))
    approx = pieces[0]
    for p in pieces[1:]:
        approx = approx.unionByName(p)
    rerank_source = None
    if not fused:
        vecs = base
        if vec_col in frame.columns:
            vecs = frame if probes is None else frame.filter(lists_in(probed))
        rerank_source = (
            vecs.select(id_col, vec_col),
            make_grouped_rerank_scan(spark, qids, qmat, metric, id_col, vec_col),
        )
    return finish_adc(approx, int(k), ef, id_col, upper_bound, est_rows,
                      rerank_source, tier=tier)


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
        """Batch ADC (knn_pq, flat_index.rs:84-104): the table is one
        list, probed by every query, of :func:`adc_list_scan` — per-task
        4-dp rounded top-ef by ADC, the global ADC gate, the exact
        re-rank fused into the scan or in a join wave
        (:func:`fuse_rerank`), and the exact top-k.

        ``queries`` is a DataFrame or a driver-side matrix
        (:func:`operators.knn.collect_query_block`)."""
        block = collect_query_block(queries, qid_col, qvec_col, self.dim)
        if block is None:
            return empty_topk(self.codes.sparkSession, self.id_col)
        ef_ = max(int(ef), int(k))
        # each task emits at most ef rows per query
        return adc_list_scan(self.codes, self.base, self, block, None, k, ef_,
                             metric, upper_bound,
                             self.code_partitions * ef_ * block.qids.size,
                             tier="pq")
