"""HNSW graph index — chunked-parallel build + driver-side batched serving.

Reference semantics (/root/reference/src/index_algorithm/hnsw_index.rs):
- level sampling: ``floor(−ln U · 1/ln M)`` (hnsw_index.rs:112-119);
- chunked-parallel build (hnsw_index.rs:391-475 ``add_parallel``):
  sequential inserts until the graph is seeded, then adaptive chunks —
  every chunk node's candidates are computed against the FROZEN graph
  in parallel (beam width ``ef_construction`` per level), earlier chunk
  peers join the candidate set with exact distances
  (hnsw_index.rs:431-438), then a serial link phase connects the chunk;
- forward links capped at ``M`` even on level 0
  (hnsw_index.rs:226-233 connect_new_links);
- heuristic pruning: scan candidates ascending; keep v iff
  d(v, p) ≥ d(v, q) for every already-kept p (candidate_pair.rs:85-99);
- reverse-link shrink only on overflow: heuristic over ``limit+1``
  (hnsw_index.rs arrange_links);
- search: greedy descent to layer 0, then beam with width max(ef, k);
  results ascending (hnsw_index.rs:614-634, 258-330);
- ``knn_pq`` (hnsw_index.rs:672-696): the same traversal with PQ/ADC
  approximate distances, then exact re-rank of the ef candidates
  (candidate_pair.rs:102-108 pq_resort) — the reference's fastest
  published configuration.

Spark disposition (SURVEY §4): graph traversal is pointer-chasing and
per-query — not a relational dataflow. The faithful AND scale-correct
Spark design:

- **build**: the chunk candidate phase is embarrassingly parallel
  against a frozen graph; it runs driver-side on the compiled kernel
  fanned over threads (the rayon ``par_iter`` of hnsw_index.rs:413-442),
  or, without a toolchain, on the serial batched-numpy lockstep kernel
  (index/beam.py) — the fallback and test oracle. The link phase
  (``connect_new_links`` + ``arrange_links``) is compiled too: forward
  selection per chunk row (pool ∪ earlier chunk peers, trim, the
  diversity heuristic) fans over the same threads, then one serial
  GIL-released apply per level writes forward links and appends or
  shrinks reverse links in place on the live link arrays. The numpy
  link phase is the no-toolchain path and builds the same graph.
- **serve**: on the driver, against the one in-RAM graph, as the
  reference serves (hnsw_index.rs:614-634). A point query is one
  compiled-kernel call; a batch (``search_batch``, a DataFrame or a
  matrix block, read once by ``operators/knn.py::collect_query_block``)
  fans the block over a persistent thread pool — queries are the
  parallel axis, the reference's rayon loop (examples/bench.rs:414-417)
  — and returns a driver-built frame, so the only Spark job is the
  read of a DataFrame block. Without a toolchain the batched numpy
  kernel (index/beam.py) serves instead: it expands one frontier node
  per live query per wave, so each wave is a few large numpy gathers
  instead of per-query Python loops. Past one driver's memory the
  sharded tier (index/sharded.py) takes over.

Deviations (documented): reverse-link additions from one chunk are
applied per neighbor in a single batched shrink instead of one shrink
per edge — same heuristic, applied once over the union; and the
heuristic candidate list is trimmed to the nearest ``max(3·M, 48)`` entries
(the accept scan keeps at most M and virtually never reaches past the
nearest few dozen). Both keep the graph bidirectional and connected;
quality is gated by the recall tests.
"""

from __future__ import annotations

import json
import logging
import os
import time
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from lab_1806_vec_db_spark.index.beam import (
    ADCPairDist,
    ExactPairDist,
    beam_search_batch,
    greedy_descent_batch,
)
from lab_1806_vec_db_spark.operators.knn import (
    QueryBlock,
    collect_query_block,
    driver_topk_merge,
    empty_topk,
    filtered_topk_from_pool,
    np_round_half_up,
)

#: visited-bitmap budget per kernel call (bytes): bounds query-chunking
#: in search and node-chunking in build. Q_chunk × N bools ≤ this.
_VISITED_BUDGET = 256 * 1024 * 1024

#: knn_pq dispatch crossover: ADC steering pays only once the vector
#: matrix falls out of CPU cache. Measured at N=10k/dim=960/f32 (38 MB)
#: the exact compiled kernel beats the steered one at every ef
#: (BENCH_FULL.json matched grid: hnsw ef=120 0.034 ms/q vs hnsw_pq
#: ef=100 0.039 — the LUT build + code gather is pure overhead while
#: the f32 rows are cache-hot), while at N=1M (3.8 GB) steering is ~2×
#: faster (BENCH_1M.json; SCALE.md "code-shape trade": crossover
#: N ≳ 100k at dim 960). 256 MB sits ~2-4× past big-host L3, safely on
#: the steering-wins side of the measured boundary.
ADC_STEER_MIN_BYTES = 256 << 20

#: build insert-chunk cap: bounds the link phase's quadratic
#: peer-distance work while keeping enough nodes per chunk to
#: amortize the candidate-phase kernel launches
_CHUNK_CAP = int(os.environ.get("SPARK_GRAFT_CHUNK_CAP", "512"))

#: build phase profile (seconds), reset per _build_graph call and
#: surfaced as HNSWIndex.build_profile — the measured answer to "is the
#: 1M build candidate-bound (already parallel) or link-bound (serial
#: apply)?" (VERDICT r11 item 3). Accumulation is one perf_counter pair
#: per chunk/phase: noise-free at build granularity.
BUILD_PHASE: dict[str, float] = {"candidates": 0.0, "select": 0.0, "apply": 0.0}

_log = logging.getLogger("lab_1806_vec_db_spark")


def _release_pools(holder: dict) -> None:
    """weakref.finalize target for a dropped :class:`HNSWIndex`: shut
    down the serving thread pool it still owned. Module-level and
    closing only over the mutable holder dict — never the index — so
    the finalizer cannot keep the index (and its mmapped vectors)
    alive."""
    tp = holder.get("tpool")
    if tp is not None:
        tp.shutdown(wait=False)
        holder["tpool"] = None


class _Graph:
    """Plain-array graph state shared by build and serve.

    links[level] is an (n, cap) int32 array with -1 padding — flat
    arrays, not objects, so a saved graph is a few contiguous buffers
    and the compiled kernel reads them zero-copy (the analogue of the
    reference's compact link vectors, hnsw_index.rs:136-147)."""

    def __init__(self, n: int, m: int):
        self.M = m
        self.max0 = 2 * m  # layer-0 degree cap (max_m0, hnsw_index.rs:507)
        self.levels = np.zeros(n, dtype=np.int32)
        self.links: list[np.ndarray] = [np.full((n, self.max0), -1, dtype=np.int32)]
        self.counts: list[np.ndarray] = [np.zeros(n, dtype=np.int32)]
        self.entry = -1
        self.max_level = -1

    def ensure_level(self, level: int, n: int) -> None:
        while len(self.links) <= level:
            self.links.append(np.full((n, self.M), -1, dtype=np.int32))
            self.counts.append(np.zeros(n, dtype=np.int32))

    def neighbors(self, level: int, node: int) -> np.ndarray:
        return self.links[level][node, : self.counts[level][node]]

    def set_neighbors(self, level: int, node: int, neigh: Sequence[int]) -> None:
        cap = self.max0 if level == 0 else self.M
        neigh = list(neigh)[:cap]
        self.links[level][node, : len(neigh)] = neigh
        self.links[level][node, len(neigh) :] = -1
        self.counts[level][node] = len(neigh)


# ---------------------------------------------------------------------------
# build helpers (A11-A12): batched candidate phase + vectorized heuristic
# ---------------------------------------------------------------------------


def _pairwise_block(X: np.ndarray, metric: str) -> np.ndarray:
    """(B, T, d) stacked candidate blocks → (B, T, T) pairwise distances
    in one batched f64 GEMM — the bulk compute of the numpy link phase.
    f64 whatever the store's dtype, as the compiled link kernels
    accumulate, so both paths make the same heuristic decisions."""
    X = np.asarray(X, dtype=np.float64)
    G = X @ X.transpose(0, 2, 1)
    n2 = np.einsum("btd,btd->bt", X, X)
    if metric == "l2sqr":
        D = n2[:, :, None] + n2[:, None, :] - 2.0 * G
        return np.maximum(D, 0.0, out=D)
    nrm = np.sqrt(n2)
    denom = np.maximum(nrm[:, :, None] * nrm[:, None, :], 1e-10)
    return 1.0 - G / denom


def _heuristic_select_batch(d_q: np.ndarray, D: np.ndarray, cap: int) -> np.ndarray:
    """Vectorized diversity pruning (candidate_pair.rs:85-99) over B
    nodes at once.

    ``d_q`` (B, T): candidate→query distances ascending, inf padded.
    ``D`` (B, T, T): candidate↔candidate distances.
    Accepts per node exactly the sequential scan's set: v (ascending)
    iff d(v, p) ≥ d(v, q) for every already-accepted p — realized as a
    running min that only decreases, so one synchronized accept per
    step reproduces the scan order. Returns a (B, T) taken mask.
    """
    B, T = d_q.shape
    min_to = np.full((B, T), np.inf)
    taken = np.zeros((B, T), dtype=bool)
    counts = np.zeros(B, dtype=np.int64)
    for _ in range(cap):
        ok = (min_to >= d_q) & ~taken & np.isfinite(d_q)
        ok[counts >= cap] = False
        has = ok.any(axis=1)
        if not has.any():
            break
        j = ok.argmax(axis=1)
        b = np.nonzero(has)[0]
        taken[b, j[b]] = True
        counts[b] += 1
        # plain assignment: ``out=min_to[b]`` would write into the copy a
        # fancy index returns, silently disabling the pruning state
        min_to[b] = np.minimum(min_to[b], D[b, :, j[b]])
    return taken


def _forward_select(
    cat_d: np.ndarray,
    cat_id: np.ndarray,
    vecs: np.ndarray,
    metric: str,
    trim: int,
    cap: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Forward-link selection (connect_new_links, hnsw_index.rs:443-447)
    of the numpy link phase: order merged candidates by (dist, id), keep
    the nearest ``trim``, run the diversity heuristic, and pack the
    per-row selections to (R, cap) id/dist arrays padded with -1/inf."""
    R = cat_d.shape[0]
    big = np.iinfo(np.int64).max
    order = np.lexsort((np.where(cat_id < 0, big, cat_id), cat_d), axis=1)[:, :trim]
    cd = np.take_along_axis(cat_d, order, axis=1)
    cid = np.take_along_axis(cat_id, order, axis=1)
    # candidate↔candidate distances for the heuristic
    X = vecs[np.clip(cid, 0, None)]
    D = _pairwise_block(X, metric)
    taken = _heuristic_select_batch(cd, D, cap)
    sel_id = np.full((R, cap), -1, dtype=np.int64)
    sel_d = np.full((R, cap), np.inf)
    for r in range(R):
        t = np.nonzero(taken[r])[0]
        sel_id[r, : t.size] = cid[r, t]
        sel_d[r, : t.size] = cd[r, t]
    return sel_id, sel_d


def _spans(B: int, workers: int) -> list[tuple[int, int]]:
    """[s, e) row spans fanning a chunk's B rows over the build threads:
    at most ``workers`` spans of at least ~8 rows each."""
    w = max(1, min(workers, B // 8))
    bounds = np.linspace(0, B, w + 1).astype(int)
    return [(int(s), int(e)) for s, e in zip(bounds[:-1], bounds[1:]) if e > s]


def _c_chunk_candidates(
    g: "_Graph",
    cvecs: np.ndarray,
    cx2: np.ndarray,
    cxn: np.ndarray | None,
    metric: str,
    chunk: np.ndarray,
    ef_c: int,
    workers: int,
    tp,
) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Chunk candidate phase on the compiled kernel: the per-level
    link/count arrays are passed as LIVE zero-copy pointers (the graph
    is frozen for the duration of a chunk), the chunk fans out over the
    build's thread pool ``tp`` (the C call releases the GIL), and the
    result is the same ``{level: (rows, pool_ids, pool_dists)}``
    contract ``_chunk_candidates`` produces."""
    from lab_1806_vec_db_spark.index import ckernel

    nlv = min(len(g.links), g.max_level + 1)
    links = [np.ascontiguousarray(l, dtype=np.int32) for l in g.links[:nlv]]
    counts = [np.ascontiguousarray(c, dtype=np.int32) for c in g.counts[:nlv]]
    chunk = np.ascontiguousarray(chunk, dtype=np.int64)
    levels = np.ascontiguousarray(g.levels[chunk], dtype=np.int32)

    def run(span):
        s, e = span
        return ckernel.build_pools(
            cvecs, cx2, cxn, links, counts, g.entry, g.max_level, metric,
            chunk[s:e], levels[s:e], int(ef_c),
        )

    parts = list(tp.map(run, _spans(len(chunk), workers)))
    ids3 = np.concatenate([p[0] for p in parts], axis=0)
    d3 = np.concatenate([p[1] for p in parts], axis=0)
    out: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for L in range(nlv):
        rows = np.nonzero(levels >= L)[0]
        if rows.size:
            out[L] = (rows, ids3[rows, L], d3[rows, L])
    return out


def _chunk_candidates(
    links: list[np.ndarray],
    counts: list[np.ndarray],
    entry: int,
    max_level: int,
    pairdist,
    node_ids: np.ndarray,
    node_levels: np.ndarray,
    ef_c: int,
    n_nodes: int,
) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Frozen-graph candidate phase for one chunk (hnsw_index.rs:398-442):
    greedy-descend levels above each node's level, beam-search (width
    ``ef_construction``) each level at-or-below it.

    Returns {level: (row_sel, pool_ids, pool_dists)} where row_sel
    indexes into ``node_ids`` and pools are (R × ef) ascending."""
    C = len(node_ids)
    qsel = np.asarray(node_ids, dtype=np.int64)
    cur = np.full(C, entry, dtype=np.int64)
    cur_d = pairdist(qsel, cur)
    out: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for L in range(max_level, -1, -1):
        beam_rows = np.nonzero(node_levels >= L)[0]
        pass_rows = np.nonzero(node_levels < L)[0]
        if L > 0 and pass_rows.size:
            c2, d2 = greedy_descent_batch(
                links, counts, pairdist, cur[pass_rows], cur_d[pass_rows],
                L, L - 1, qsel=qsel[pass_rows],
            )
            cur[pass_rows], cur_d[pass_rows] = c2, d2
        if beam_rows.size:
            pid, pdist = beam_search_batch(
                links[L], pairdist, cur[beam_rows], cur_d[beam_rows],
                ef_c, n_nodes, qsel=qsel[beam_rows],
            )
            out[L] = (beam_rows, pid, pdist)
            ok = pid[:, 0] >= 0
            cur[beam_rows[ok]] = pid[ok, 0]
            cur_d[beam_rows[ok]] = pdist[ok, 0]
    return out


class HNSWIndex:
    """Chunk-parallel-built, driver-served HNSW graph."""

    def __init__(
        self,
        ids: np.ndarray,
        vecs: np.ndarray,
        graph: _Graph,
        metric: str,
        base: DataFrame | None = None,
        id_col: str = "id",
        path: str | None = None,
        ef_construction: int = 200,
    ) -> None:
        self.ids = ids
        self.vecs = vecs
        self.graph = graph
        self.metric = metric
        self.base = base
        self.id_col = id_col
        self.path = path
        self.ef_construction = int(ef_construction)
        self.dirty = False
        # (id(pq), aligned code matrix) — recomputed when the PQ table
        # changes or rows are added (the codes must cover every id)
        self._pq_cache: tuple | None = None  # (pq, pq.codes, aligned)
        # the serving thread pool is released deterministically when
        # the index object is dropped (e.g. VecDB cache invalidation),
        # not left to thread GC finalization: its worker threads pin
        # the C kernel's thread-local scratch (~10 MB/thread at 500k
        # rows). The finalizer closes over a mutable holder, never over
        # self (that would make the index immortal); close_pool() keeps
        # the holder in sync.
        import threading
        import weakref

        self._pool_holder: dict = {"tpool": None}
        self._pool_lock = threading.Lock()
        weakref.finalize(self, _release_pools, self._pool_holder)
        # flattened C-contiguous graph views for the compiled kernel
        # (ckernel.py); built lazily, invalidated by add_batch
        self._c_state: dict | None = None

    # ---- build (A11-A12, W4) ---------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        metric: str = "l2sqr",
        vec_col: str = "vec",
        id_col: str = "id",
        m: int = 16,
        ef_construction: int = 200,
        seed: int = 42,
        path: str | None = None,
        dtype=np.float64,
    ) -> "HNSWIndex":
        """``dtype=float32`` gives the reference's own serving precision
        (its vectors are f32) at half the memory traffic; float64 is the
        oracle-stable default."""
        # Arrow collect straight to flat numpy: zero per-row Python
        # objects on the driver — the vector column flattens in place
        # (functions/arrowvec.py) instead of materializing ~n ndarray
        # rows through pandas, which cost ~minutes of the 1M×960
        # build's untracked time. The rows are put in id order on the
        # driver (one stable argsort, skipped when already sorted): a
        # Spark orderBy would add a range-sampling job and a shuffle.
        from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix

        tbl = df.select(id_col, vec_col).toArrow()
        ids = tbl.column(0).combine_chunks().to_numpy(
            zero_copy_only=False).astype(np.int64, copy=False)
        col = tbl.column(1)
        del tbl
        if ids.size > 1 and (ids[1:] < ids[:-1]).any():
            order = np.argsort(ids, kind="stable")
            ids, col = ids[order], col.take(order)
        vecs = np.ascontiguousarray(vec_matrix(col, dtype=dtype))
        del col
        if vecs.size == 0:
            # empty table: dim is uninferable from zero rows — restore
            # the 1-D (0,) shape every consumer already handles (the
            # Arrow bridge returns (0, 0), which slipped past
            # add_batch's empty-graph guard and broke the first append)
            vecs = vecs.reshape(0)
        graph = cls._build_graph(vecs, metric, m, ef_construction, seed)
        obj = cls(ids, vecs, graph, metric, base=df, id_col=id_col, path=path,
                  ef_construction=ef_construction)
        obj.build_profile = dict(BUILD_PHASE)
        if path is not None:
            obj.save(path)
        return obj

    @staticmethod
    def _build_graph(
        vecs: np.ndarray,
        metric: str,
        m: int,
        ef_c: int,
        seed: int,
    ) -> _Graph:
        n = vecs.shape[0]
        for _k in BUILD_PHASE:
            BUILD_PHASE[_k] = 0.0
        g = _Graph(n, m)
        rng = np.random.default_rng(seed)
        ml = 1.0 / np.log(m)
        g.levels = np.floor(-np.log(rng.uniform(size=n)) * ml).astype(np.int32)
        if n == 0:
            return g
        ef_c = max(int(ef_c), 2 * m)  # reference clamp (hnsw_index.rs:508)
        HNSWIndex._insert_all(g, vecs, metric, np.arange(n, dtype=np.int64), ef_c)
        return g

    @staticmethod
    def _insert_all(
        g: _Graph,
        vecs: np.ndarray,
        metric: str,
        nodes: np.ndarray,
        ef_c: int,
    ) -> None:
        """Chunked insert loop shared by build and incremental add. With
        a toolchain the candidate phase and the link phase both run on
        the compiled kernels, fanned over one thread pool; without one,
        the serial numpy lockstep kernel and the numpy link phase — the
        same graph, the reference the tests compare against."""
        from concurrent.futures import ThreadPoolExecutor

        from lab_1806_vec_db_spark.index import ckernel

        n = vecs.shape[0]
        i = 0
        total = len(nodes)
        # node-chunk cap: visited bitmaps (C × n) stay under budget
        mem_cap = max(32, _VISITED_BUDGET // max(n, 1))
        use_c = ckernel.available()
        # SPARK_GRAFT_BUILD_WORKERS caps the build's thread fan-out —
        # needed when several builds run concurrently in one machine's
        # executor tasks (the sharded tier builds all sub-graphs at
        # once; ceil(cpus/concurrent tasks) each)
        workers = int(os.environ.get("SPARK_GRAFT_BUILD_WORKERS", "0")) \
            or (os.cpu_count() or 1)
        tp = None
        if use_c:
            cvecs = np.ascontiguousarray(vecs)
            cx2 = np.einsum("ij,ij->i", cvecs, cvecs)
            cxn = np.sqrt(cx2) if metric == "cosine" else None
            tp = ThreadPoolExecutor(max_workers=workers)
        else:
            pd_all = ExactPairDist(vecs, vecs, metric)
        _log.debug("hnsw build candidates=%s link=%s workers=%d reason=%s",
                   "c_threads" if use_c else "numpy",
                   "c" if use_c else "numpy",
                   workers if use_c else 1,
                   "toolchain" if use_c else "no_toolchain")
        try:
            while i < total:
                if g.entry < 0:
                    first = int(nodes[i])
                    g.ensure_level(int(g.levels[first]), n)
                    g.entry = first
                    g.max_level = int(g.levels[first])
                    i += 1
                    continue
                built = int(nodes[i])  # nodes are inserted in ascending order
                # mem_cap bounds the numpy kernel's (C × n) visited bitmaps;
                # the compiled kernel keeps one n-int visited array per
                # thread regardless of chunk width, so it skips the cap
                C = int(min(total - i, max(32, built // 2), _CHUNK_CAP,
                            total if use_c else mem_cap))
                chunk = nodes[i : i + C]
                top_chunk = int(g.levels[chunk].max())
                g.ensure_level(max(top_chunk, g.max_level), n)
                t_c = time.perf_counter()
                if use_c:
                    cands = _c_chunk_candidates(
                        g, cvecs, cx2, cxn, metric, chunk, ef_c, workers, tp
                    )
                else:
                    cands = _chunk_candidates(
                        g.links, g.counts, g.entry, g.max_level, pd_all,
                        chunk, g.levels[chunk], ef_c, n,
                    )
                BUILD_PHASE["candidates"] += time.perf_counter() - t_c
                if use_c:
                    HNSWIndex._c_link_chunk(g, cvecs, metric, chunk, cands,
                                            workers, tp)
                else:
                    HNSWIndex._link_chunk(g, vecs, metric, chunk, cands)
                # entry-point update (hnsw_index.rs:449-456)
                for idx in chunk:
                    if int(g.levels[idx]) > g.max_level:
                        g.max_level = int(g.levels[idx])
                        g.entry = int(idx)
                i += C
        finally:
            if tp is not None:
                tp.shutdown()

    @staticmethod
    def _c_link_chunk(
        g: _Graph,
        vecs: np.ndarray,
        metric: str,
        chunk: np.ndarray,
        cands: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
        workers: int,
        tp,
    ) -> None:
        """Compiled link phase (hnsw_index.rs:443-447): each level's
        forward selection (``ckernel.link_select``: pool ∪ earlier chunk
        peers, trim, heuristic) fanned over ``tp`` in row spans, then
        the serial in-place apply of forward and reverse links per level
        (``ckernel.link_apply``) on the live link/count arrays."""
        from lab_1806_vec_db_spark.index import ckernel

        trim = max(3 * g.M, 48)
        t_s = time.perf_counter()
        chunk = np.asarray(chunk, dtype=np.int64)
        sels: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        jobs = []
        for L, (rows, pid, pdist) in cands.items():
            nodes = chunk[rows]
            sel = np.empty((len(rows), g.M), dtype=np.int64)
            sels[L] = (nodes, sel)
            jobs += [(nodes, pid, pdist, span, sel)
                     for span in _spans(len(rows), workers)]
        def select(job):
            nodes, pid, pdist, span, sel = job
            ckernel.link_select(vecs, metric, nodes, pid, pdist, span, trim, sel)

        list(tp.map(select, jobs))
        BUILD_PHASE["select"] += time.perf_counter() - t_s
        t_a = time.perf_counter()
        for L, (nodes, sel) in sels.items():
            ckernel.link_apply(vecs, metric, g.links[L], g.counts[L], nodes, sel)
        BUILD_PHASE["apply"] += time.perf_counter() - t_a

    @staticmethod
    def _link_chunk(
        g: _Graph,
        vecs: np.ndarray,
        metric: str,
        chunk: np.ndarray,
        cands: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
    ) -> None:
        """Numpy link phase (hnsw_index.rs:443-447), the no-toolchain
        path and the reference of :meth:`_c_link_chunk`: merge chunk
        peers into the candidate pools, heuristic-select forward links
        (cap M, connect_new_links), then batched reverse-link shrink
        (arrange_links)."""
        m = g.M
        trim = max(3 * m, 48)
        t_s = time.perf_counter()
        # peer distances among chunk nodes (hnsw_index.rs:431-438)
        chunk = np.asarray(chunk, dtype=np.int64)
        Xc = vecs[chunk]
        peer_D = _pairwise_block(Xc[None, :, :], metric)[0]  # (C, C)
        # forward selection is pure per-row and GEMM-bound (the
        # candidate↔candidate distance blocks), so fan (level,
        # row-block) tasks over threads — BLAS releases the GIL; ~8
        # coarse blocks, as the select mixes GEMM with GIL-held index ops
        tasks: list[tuple[int, np.ndarray, np.ndarray, np.ndarray]] = []
        for L, (rows, pid, pdist) in cands.items():
            R = len(rows)
            # peer block: node rows[k] sees peers rows[j], j < k
            pD = peer_D[np.ix_(rows, rows)].copy()
            pD[np.triu_indices(R)] = np.inf  # self + later peers masked
            peer_ids = np.broadcast_to(chunk[rows][None, :], (R, R))
            cat_d = np.concatenate([pdist, pD], axis=1)
            cat_id = np.concatenate([pid, peer_ids], axis=1).astype(np.int64)
            cat_id = np.where(np.isfinite(cat_d), cat_id, -1)
            rows = np.asarray(rows, dtype=np.int64)
            blk = max(64, -(-len(rows) // 8))
            for s in range(0, len(rows), blk):
                tasks.append((L, rows[s:s + blk], cat_d[s:s + blk], cat_id[s:s + blk]))

        def run_sel(t):
            L, rows_b, cd, cid = t
            sel_id, sel_d = _forward_select(cd, cid, vecs, metric, trim, m)
            return L, rows_b, sel_id, sel_d

        if len(tasks) > 1 and (os.cpu_count() or 1) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=8) as tp:
                done = list(tp.map(run_sel, tasks))
        else:
            done = [run_sel(t) for t in tasks]
        sels: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
        for L in sorted({t[0] for t in done}):
            pieces = [t for t in done if t[0] == L]
            sels[L] = (
                np.concatenate([p[1] for p in pieces]),
                np.concatenate([p[2] for p in pieces], axis=0),
                np.concatenate([p[3] for p in pieces], axis=0),
            )
        BUILD_PHASE["select"] += time.perf_counter() - t_s
        t_a = time.perf_counter()
        HNSWIndex._apply_selected(g, vecs, metric, chunk, sels)
        BUILD_PHASE["apply"] += time.perf_counter() - t_a

    @staticmethod
    def _apply_selected(
        g: _Graph,
        vecs: np.ndarray,
        metric: str,
        chunk: np.ndarray,
        sels: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
    ) -> None:
        """Serial mutation phase: set forward links in insert order
        (rows ascend in chunk position), then the batched reverse-link
        shrink per level (arrange_links). The selection work feeding
        this is pure and runs parallel; only this apply touches the
        graph."""
        for L in sorted(sels.keys(), reverse=True):
            rows, sel_id, _sel_d = sels[L]
            limit = g.max0 if L == 0 else g.M
            rev: dict[int, list[int]] = {}
            for k in range(len(rows)):
                node = int(chunk[rows[k]])
                sel = sel_id[k][sel_id[k] >= 0]
                g.set_neighbors(L, node, sel.tolist())
                for p in sel.tolist():
                    rev.setdefault(int(p), []).append(node)
            HNSWIndex._apply_reverse(g, vecs, metric, L, limit, rev)

    @staticmethod
    def _apply_reverse(
        g: _Graph,
        vecs: np.ndarray,
        metric: str,
        L: int,
        limit: int,
        rev: dict[int, list[int]],
    ) -> None:
        """Reverse-link maintenance (arrange_links): append when the
        list fits; on overflow run the heuristic once over
        old ∪ additions — one batched shrink per neighbor per chunk
        instead of one per edge (documented deviation). Distances in
        f64, as :func:`_pairwise_block`."""
        overflow: list[tuple[int, np.ndarray]] = []
        for p, adds in rev.items():
            old = g.neighbors(L, p)
            merged = np.concatenate([old, np.asarray(adds, dtype=np.int64)])
            if merged.size <= limit:
                g.set_neighbors(L, p, merged.tolist())
            else:
                overflow.append((p, merged))
        if not overflow:
            return
        maxL = max(len(mg) for _, mg in overflow)
        B = len(overflow)
        mid = np.full((B, maxL), -1, dtype=np.int64)
        for b, (p, mg) in enumerate(overflow):
            mid[b, : len(mg)] = mg
        # d(·, p) for every merged entry: the ExactPairDist formulas
        X = vecs[np.clip(mid, 0, None)].astype(np.float64)
        P = vecs[np.asarray([p for p, _ in overflow])].astype(np.float64)
        ip = np.einsum("btd,bd->bt", X, P)
        x2 = np.einsum("btd,btd->bt", X, X)
        p2 = np.einsum("bd,bd->b", P, P)[:, None]
        if metric == "l2sqr":
            md = np.maximum(x2 + p2 - 2.0 * ip, 0.0)
        else:
            md = 1.0 - ip / np.maximum(np.sqrt(x2) * np.sqrt(p2), 1e-10)
        md[mid < 0] = np.inf
        order = np.lexsort((np.where(mid < 0, np.iinfo(np.int64).max, mid), md), axis=1)
        md = np.take_along_axis(md, order, axis=1)
        mid = np.take_along_axis(mid, order, axis=1)
        D = _pairwise_block(np.take_along_axis(X, order[:, :, None], axis=1), metric)
        taken = _heuristic_select_batch(md, D, limit)
        for b, (p, _) in enumerate(overflow):
            g.set_neighbors(L, p, mid[b][taken[b]].tolist())

    # ---- search (Q3 + the knn_pq combined path) ---------------------------

    def _c_views(self) -> dict:
        """Contiguous graph views for the compiled kernel —
        query-independent, cached until the graph changes. Link/count
        arrays are per-level views (zero-copy when already contiguous,
        which they are by construction)."""
        if self._c_state is None:
            from lab_1806_vec_db_spark.index import ckernel

            g = self.graph
            # serve-precision demotion: when the f64 store holds values
            # that are EXACTLY f32-representable (always true for data
            # read from parquet array<float> — the reference's own
            # storage type, scalar.rs), traverse in f32: half the
            # memory traffic and twice the SIMD width. The final top-k
            # distances are recomputed in f64 by casting the gathered
            # rows (exact — the values ARE f32), so the oracle contract
            # is unchanged AND no f64 contiguous copy is ever
            # materialized (at 1M × 960 that copy alone is 7.3 GB; a
            # loaded index's mmap is paged through once here, chunked).
            raw = self.vecs
            serve = None
            if raw.dtype == np.float64 and raw.shape[0] > 0:
                v32 = np.empty(raw.shape, dtype=np.float32)
                x2 = np.empty(raw.shape[0], dtype=np.float64)
                lossless = True
                step = max(1, (1 << 24) // max(raw.shape[1], 1))
                for s in range(0, raw.shape[0], step):
                    sl = slice(s, s + step)
                    chunk = np.asarray(raw[sl], dtype=np.float64)
                    v32[sl] = chunk
                    if not np.array_equal(v32[sl].astype(np.float64), chunk):
                        lossless = False
                        break
                    x2[sl] = np.einsum("ij,ij->i", chunk, chunk)
                if lossless:
                    serve = v32
            if serve is None:
                vecs = np.ascontiguousarray(raw)
                x2 = np.einsum("ij,ij->i", vecs, vecs)
                serve = vecs
                demoted = False
            else:
                vecs = serve  # rerank gathers cast rows to f64 (exact)
                demoted = True
            xn = np.sqrt(x2) if self.metric == "cosine" else None
            if demoted:
                s2 = x2.astype(np.float32)
                sn = np.sqrt(s2) if self.metric == "cosine" else None
            else:
                s2, sn = x2, xn
            links = [np.ascontiguousarray(l, dtype=np.int32) for l in g.links]
            counts = [np.ascontiguousarray(c, dtype=np.int32) for c in g.counts]
            self._c_state = {
                "vecs": vecs,
                "x2": x2,
                "xn": xn,
                "serve": serve,
                "demoted": demoted,
                "links": links,
                "counts": counts,
                "ctx": ckernel.SearchCtx(
                    serve, s2, sn, links, counts,
                    g.entry, g.max_level, self.metric, x2w=x2,
                ),
            }
        return self._c_state

    def _c_search(
        self, qmat: np.ndarray, k: int, ef: int, adc: ADCPairDist | None
    ) -> tuple[np.ndarray, np.ndarray]:
        """Compiled-kernel path of :meth:`_kernel_search` (identical
        contract: global ids, oracle rounding, -1/inf padding)."""
        st = self._c_views()
        ctx = st["ctx"]
        serve_t = st["serve"].dtype
        codes = lut = None
        if adc is not None:
            codes = np.ascontiguousarray(adc.codes)
            lut = np.ascontiguousarray(
                adc.lut_flat.reshape(qmat.shape[0], adc.m, adc.ksub),
                dtype=serve_t)
        pid, pd_ = ctx.search(
            np.ascontiguousarray(qmat, dtype=serve_t),
            int(k), ef, codes=codes, lut=lut,
        )
        safe = np.clip(pid, 0, None)
        valid = pid >= 0
        gids = np.where(valid, self.ids[safe], -1)
        if st["demoted"]:
            # f32 traversal of an f32-exact store: the kernel already
            # finalized the k winners' distances in widened f64
            # (ckernel wdist — exact on the stored values); only the
            # tie order remains to fix, because the kernel breaks ties
            # by LOCAL index while the contract breaks them by GLOBAL
            # id — a k-row lexsort, no distance math here
            d64 = np.where(valid, pd_, np.inf)
            big = np.iinfo(np.int64).max
            order = np.lexsort((np.where(valid, gids, big), d64), axis=1)
            gids = np.take_along_axis(gids, order, axis=1)
            pd_ = np.take_along_axis(d64, order, axis=1)
        return gids, np_round_half_up(pd_)

    def _kernel_search(
        self,
        qmat: np.ndarray,
        k: int,
        ef: int | None,
        adc: ADCPairDist | None = None,
        beam_width: int = 1,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batched search over the whole query block: greedy descent +
        layer-0 beam (hnsw_index.rs:614-634); with ``adc`` the traversal
        uses PQ approximate distances and the ef pool is exact-re-ranked
        (knn_pq, hnsw_index.rs:672-696 + pq_resort).

        Returns (ids (Q × k), dists (Q × k)) ascending, -1/inf padded —
        global ids, distances rounded to the oracle contract."""
        g = self.graph
        n = self.vecs.shape[0]
        Q = qmat.shape[0]
        k = int(k)
        ef_ = max(int(ef) if ef is not None else 2 * k, k)
        from lab_1806_vec_db_spark.index import ckernel

        if n > 0 and ckernel.available() and (
            adc is None or (self.metric == "l2sqr" and adc.sq_flat is None)
        ):
            return self._c_search(qmat, k, ef_, adc)
        exact = ExactPairDist(self.vecs, qmat, self.metric)
        pairdist = adc if adc is not None else exact
        out_id = np.full((Q, k), -1, dtype=np.int64)
        out_d = np.full((Q, k), np.inf)
        qcap = max(1, _VISITED_BUDGET // max(n, 1))
        big_id = np.iinfo(np.int64).max
        for s in range(0, Q, qcap):
            sel = np.arange(s, min(s + qcap, Q), dtype=np.int64)
            start = np.full(sel.size, g.entry, dtype=np.int64)
            start_d = pairdist(sel, start)
            cur, cur_d = greedy_descent_batch(
                g.links, g.counts, pairdist, start, start_d, g.max_level, 0, qsel=sel
            )
            pid, pdist = beam_search_batch(
                g.links[0], pairdist, cur, cur_d, ef_, n, qsel=sel,
                beam_width=beam_width,
            )
            if adc is not None:
                # exact re-rank of the ef pool (candidate_pair.rs:102-108)
                valid = pid >= 0
                rows, cols = np.nonzero(valid)
                rd = np.full(pid.shape, np.inf)
                rd[rows, cols] = exact(sel[rows], pid[rows, cols])
                order = np.lexsort((np.where(valid, pid, big_id), rd), axis=1)[:, :k]
                pid = np.take_along_axis(pid, order, axis=1)
                pdist = np.take_along_axis(rd, order, axis=1)
            else:
                pid, pdist = pid[:, :k], pdist[:, :k]
            w = pid.shape[1]
            out_id[sel, :w] = pid
            out_d[sel, :w] = pdist
        gids = np.where(out_id >= 0, self.ids[np.clip(out_id, 0, None)], -1)
        return gids, np_round_half_up(out_d)

    def _codes_for(self, pq) -> np.ndarray:
        """PQ codes aligned to this graph's id order (cached — they are
        query-independent; materializing them is a Spark action, so
        callers must do this once before any thread fan-out).
        Keyed by the pq OBJECT and its codes frame via ``is`` (strong
        refs): an id()-keyed entry could serve stale codes after gc id
        reuse or an in-place codes append."""
        from lab_1806_vec_db_spark.index.pq import aligned_codes

        c = self._pq_cache
        if c is None or c[0] is not pq or c[1] is not pq.codes:
            self._pq_cache = (pq, pq.codes, aligned_codes(pq, self.ids))
        return self._pq_cache[2]

    def _auto_steer_pq(self, pq, steer: bool | None):
        """knn_pq dispatch rule for the driver-side POINT serving
        paths (search_np / search_many / search_many_parallel):
        ``steer=None`` (auto) drops the ADC steering and serves the
        exact kernel while the vector matrix is cache-resident
        (< ADC_STEER_MIN_BYTES) — the contract is unchanged (the
        steered ef pool is exact-re-ranked anyway, so both paths
        return exact distances), recall can only improve, and the
        exact kernel is measured faster below the threshold because a
        point query pays the full LUT build for one traversal.
        ``steer=True`` forces the steered kernel (parity tests, forced
        A/Bs); ``steer=False`` disables it.

        The batch serve (search_batch) does NOT use this gate:
        there the LUT build amortizes over the whole query batch and
        steering wins at every measured scale — the asymmetry is
        documented there with the round-13 A/B numbers. A logical
        query can therefore see a different (never less exact)
        candidate set on the batch path than on a point path below
        the byte gate; both re-rank exactly."""
        if pq is None or steer is False:
            return None
        if steer is True:
            return pq
        return pq if self.vecs.nbytes >= ADC_STEER_MIN_BYTES else None

    def adc_for(self, pq, qmat: np.ndarray) -> ADCPairDist:
        """Per-query-block ADC distance backend for the knn_pq combined
        path: the aligned codes plus the per-query lookup tensors
        (pq_table.rs:195-224)."""
        from lab_1806_vec_db_spark.index.pq import build_lookup_batch

        codes = self._codes_for(pq)
        lut, sq, qn = build_lookup_batch(
            np.asarray(qmat, dtype=np.float64), pq.codebooks, pq.groups,
            pq.n_bits, self.metric,
            dtype=self.vecs.dtype,  # f32 index → f32 serving LUT
        )
        return ADCPairDist(codes, lut, sq, qn)

    def search_np(
        self, q: np.ndarray, k: int, ef: int | None, pq=None,
        steer: bool | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Single-query driver-side search (point-serve hot path).
        ``pq``: a trained PQTable → knn_pq (ADC-steered traversal +
        exact re-rank, hnsw_index.rs:672-696); ``steer``: None = auto
        (see _auto_steer_pq), True/False force/disable steering."""
        from lab_1806_vec_db_spark.index import ckernel

        pq = self._auto_steer_pq(pq, steer)
        n = self.vecs.shape[0]
        if pq is None and n > 0 and ckernel.available():
            # lean path: one staged foreign call + a k-row f64
            # finalization — the generic batch machinery costs more
            # than the traversal itself at nq=1
            st = self._c_views()
            ef_ = max(int(ef) if ef is not None else 2 * k, int(k))
            pid, pd_ = st["ctx"].search1(np.asarray(q, dtype=np.float64), int(k), ef_)
            if pid[-1] >= 0:  # full result: no padding to mask
                gid = self.ids[pid]
                if st["demoted"]:
                    # kernel finalized dists in widened f64 already;
                    # re-break ties by GLOBAL id (kernel used local)
                    order = np.lexsort((gid, pd_))
                    return gid[order], np_round_half_up(pd_[order])
                return gid.copy(), np_round_half_up(pd_)
            # padded result (k > reachable nodes): generic path below
        qmat = np.asarray(q, dtype=self.vecs.dtype)[None, :]
        adc = self.adc_for(pq, qmat) if pq is not None else None
        gids, dists = self._kernel_search(qmat, k, ef, adc=adc)
        keep = gids[0] >= 0
        return gids[0][keep], dists[0][keep]

    def search_many(
        self,
        qmat: np.ndarray,
        k: int,
        ef: int | None,
        adc: ADCPairDist | None = None,
        pq=None,
        beam_width: int = 1,
        steer: bool | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Driver-side batch search over a (Q × d) query block — the
        reference's bench regime (all queries against in-memory state)."""
        qmat = np.asarray(qmat, dtype=self.vecs.dtype)
        pq = self._auto_steer_pq(pq, steer)
        if adc is None and pq is not None:
            adc = self.adc_for(pq, qmat)
        return self._kernel_search(qmat, k, ef, adc=adc, beam_width=beam_width)

    # ---- thread-parallel driver serving (the rayon -t analogue) -----------

    def drop_pq(self) -> None:
        """Release the PQ-keyed serving cache. _codes_for keys by object
        identity with STRONG references (an id() key could alias after
        gc), which pins a retired PQ table and its codes DataFrame for
        the index's lifetime — long-lived indexes call this after
        swapping/discarding a PQ to shed that state."""
        self._pq_cache = None

    def close_pool(self) -> None:
        tp = getattr(self, "_tpool", None)
        if tp is not None:
            tp.shutdown(wait=True)
            self._tpool = None
        holder = getattr(self, "_pool_holder", None)
        if holder is not None:
            holder["tpool"] = None

    def _thread_pool(self, w: int):
        """Persistent thread pool for the compiled-kernel fan-out.

        MUST be persistent, not a with-block per call: the C kernel
        keeps its search scratch (visited epochs + candidate heap,
        ~10 MB/thread at 500k rows) in thread-locals so point-serve
        skips the malloc/page-fault cost. Fresh threads per call both
        defeat that reuse AND leak each dead thread's scratch — ~60 MB
        of RSS per batch call at 500k, measured — which evicts the
        mmapped vector pages and throttled the 1M bandwidth-bound
        serve rows 1.2-1.6× (round-8 A/B on a shared artifact)."""
        from concurrent.futures import ThreadPoolExecutor

        # concurrent batches share the pool: one creates it
        with self._pool_lock:
            tp = getattr(self, "_tpool", None)
            if tp is None or self._tpool_w != w:
                if tp is not None:
                    tp.shutdown(wait=True)
                tp = ThreadPoolExecutor(max_workers=w)
                self._tpool = tp
                self._tpool_w = w
                self._pool_holder["tpool"] = tp
        return tp

    def search_many_parallel(
        self,
        qmat: np.ndarray,
        k: int,
        ef: int | None,
        pq=None,
        workers: int | None = None,
        beam_width: int = 4,
        steer: bool | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batched driver-side search fanned over a persistent thread
        pool: queries are the parallel axis, and the compiled kernel
        releases the GIL, so threads share the graph and vectors with
        zero serialization. This is the in-memory serving regime the
        reference benches (a rayon par_iter over queries), and the body
        of :meth:`search_batch`.

        When the compiled kernel cannot serve the block (no toolchain,
        or cosine with PQ steering) or the block is too small to split,
        this is :meth:`search_many` — the serial path, same results."""
        from lab_1806_vec_db_spark.index import ckernel

        qmat = np.asarray(qmat, dtype=self.vecs.dtype)
        pq = self._auto_steer_pq(pq, steer)
        w = int(workers or os.cpu_count() or 1)
        if not ckernel.available():
            path, reason = "serial_numpy", "no_toolchain"
        elif pq is not None and self.metric != "l2sqr":
            path, reason = "serial_numpy", "cosine_steered"
        elif w <= 1 or qmat.shape[0] < 4 * w:
            path, reason = "serial_c", "small_block"
        else:
            path, reason = "c_threads", "toolchain"
        _log.debug("hnsw parallel serve path=%s reason=%s queries=%d workers=%d",
                   path, reason, qmat.shape[0], w if path == "c_threads" else 1)
        if path != "c_threads":
            # steer already resolved — don't re-apply the auto rule
            return self.search_many(qmat, k, ef, pq=pq, steer=pq is not None,
                                    beam_width=beam_width)
        # Spans are coarse (~2 per worker): per-span python setup
        # holds the GIL, so fine slicing serializes. The ADC lookup
        # tensor is built ONCE for the whole block (batched GEMM);
        # spans take zero-copy slices of it — a per-span LUT build
        # measured 4× slower end-to-end (320 np.stack/GEMM calls
        # per span serialize on the GIL).
        from lab_1806_vec_db_spark.index.pq import lut_span_builder

        adc = None
        lut_build = None
        if pq is not None:
            codes = self._codes_for(pq)
            lut_build = lut_span_builder(
                pq.codebooks, pq.groups, pq.n_bits, self.metric,
                dtype=self.vecs.dtype,
            )
            if lut_build is None:
                # non-uniform regime: one serial batched LUT build
                adc = self.adc_for(pq, qmat)
        self._c_views()  # build the cached views before fan-out
        Q = qmat.shape[0]
        k_ = int(k)
        ef_ = max(int(ef) if ef is not None else 2 * k_, k_)
        # ADC spans carry a per-span LUT build (GIL-held numpy set-up
        # between the GIL-released GEMM/traversal), so one span per
        # worker minimizes the serialized fraction — measured 38.9 ms
        # vs 54.2 ms for 2/worker at Q=1000. The exact path has no
        # per-span set-up and is bandwidth-bound; 2/worker balances.
        nspans = w if pq is not None else 2 * w
        bounds = np.linspace(0, Q, nspans + 1).astype(int)
        spans = [(s, e) for s, e in zip(bounds[:-1], bounds[1:]) if e > s]
        lut3 = (adc.lut_flat.reshape(Q, adc.m, adc.ksub)
                if adc is not None else None)

        def run_span(span):
            s, e = span
            sub = None
            if lut_build is not None:
                # GEMM + layout copy run here, GIL-released, so the
                # LUT cost spreads across the pool
                sub = ADCPairDist(codes, lut_build(qmat[s:e]), None, None)
            elif adc is not None:
                sub = ADCPairDist(adc.codes, lut3[s:e], None, None)
            return self._c_search(qmat[s:e], k_, ef_, sub)

        parts = list(self._thread_pool(w).map(run_span, spans))
        return (
            np.concatenate([p[0] for p in parts], axis=0),
            np.concatenate([p[1] for p in parts], axis=0),
        )

    def search(
        self,
        query: Sequence[float],
        k: int,
        ef: int | None = None,
        metric: str | None = None,
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Single-query convenience form returning a DataFrame shaped
        like the flat path (id, dist). Runs on the driver — serving a
        point query from in-memory state, the reference's latency model;
        no Spark job at all."""
        spark = self._spark()
        ids, dists = self.search_np(np.asarray(list(query)), k, ef)
        rows = [(int(i), float(d)) for i, d in zip(ids, dists)
                if upper_bound is None or d <= upper_bound]
        rows.sort(key=lambda t: (t[1], t[0]))
        return spark.createDataFrame(rows or [], f"{self.id_col} long, dist double")

    def search_filtered(
        self,
        query: Sequence[float],
        k: int,
        filtered_base: DataFrame,
        ef: int | None = None,
        oversample: int = 4,
        vec_col: str = "vec",
    ) -> DataFrame:
        """Metadata-filtered ANN for one query as ``(id, dist)``:
        :meth:`search_batch_filtered` over a one-row block, so a point
        query and a one-row batch return the same rows.

        Reference analogue: the subset-match pattern semantics
        (metadata_vec_table.rs:163-169) applied below search — the
        reference itself can only post-attach metadata to results (Q8,
        metadata_vec_table.rs:194-212), it cannot filter the search.
        Recall gate vs the exact filtered scan: tests/test_indexes.py;
        oracle equivalence at full beam: entry knn_hnsw_filtered."""
        return self.search_batch_filtered(
            np.asarray([query], dtype=np.float64), k, filtered_base, ef=ef,
            oversample=oversample, vec_col=vec_col,
        ).select(self.id_col, "dist")

    def search_batch_filtered(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        filtered_base: DataFrame,
        ef: int | None = None,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        oversample: int = 4,
        exact_fallback: bool = True,
        vec_col: str = "vec",
        fallback_margin: float = 1.0,
    ) -> DataFrame:
        """Oversample-and-filter: each query's max(ef, oversample·k)
        graph pool (:meth:`search_batch`'s serve, kept on the driver as
        columns) goes through the finisher every batch tier shares
        (operators/knn.py::filtered_topk_from_pool): the pool ids that
        pass the predicate keep k survivors per query, and queries the
        pool cannot fill are answered by the exact filtered scan. The
        block is read once."""
        spark = self._spark()
        block = collect_query_block(queries, qid_col, qvec_col, self.dim)
        if block is None:
            return empty_topk(spark, self.id_col, qid_col)
        pool_k = max(int(ef or 0), int(oversample) * int(k), int(k))
        pool = self._serve_block(block, pool_k, max(pool_k, int(ef or 0)))
        return filtered_topk_from_pool(
            pool, block, k, filtered_base, self.id_col, self.metric,
            vec_col, qid_col=qid_col, exact_fallback=exact_fallback,
            fallback_margin=fallback_margin, pool_k=pool_k,
        )

    @property
    def dim(self) -> int | None:
        """The vector width; None for an empty graph, whose width is
        unknown."""
        return self.vecs.shape[1] if self.vecs.ndim == 2 else None

    def _spark(self) -> SparkSession:
        # the session the builder made, also in a thread that did not
        # make it (the JVM's active session is thread-local)
        return (self.base.sparkSession if self.base is not None
                else SparkSession.active())

    def search_batch(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        ef: int | None = None,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
        pq=None,
        steer: bool | None = None,
    ) -> DataFrame:
        """Batch kNN served on the driver, the reference's in-process
        model (a rayon loop over queries against one in-RAM graph,
        bench.rs:414-417): the block, a DataFrame or a driver-side
        matrix, is read once (:func:`operators.knn.collect_query_block`,
        which checks its width and values), fanned over threads by
        :meth:`search_many_parallel`, and returned as a driver-built
        ``(qid_col, id, dist)`` frame. The only Spark jobs are the read
        of a DataFrame block that is not driver-local and, once per PQ
        codes frame, the read of the aligned codes (:meth:`_codes_for`).

        ``pq``: a trained PQTable → the knn_pq combined path: ADC
        distances steer the traversal, the ef pool is exact-re-ranked
        (hnsw_index.rs:672-696). Steering policy is DELIBERATELY
        asymmetric to the point paths (_auto_steer_pq): a batch steers
        whenever ``pq`` is given, at every scale, because the per-query
        LUT build amortizes over the whole block — the round-13
        interleaved A/B measured the auto-dropped exact kernel at 1.92 s
        vs 0.80 s steered on the cache-resident sf-suite row
        (hnsw_pq_ef120; OPTIMIZATION_r13.md), i.e. the point paths'
        byte gate inverts here. ``steer=False`` disables steering (then
        this is the plain exact-kernel serve); both variants
        exact-re-rank the ef pool, so distances are exact either way.
        PATH-DEPENDENCE CAVEAT: a point query served through
        ``search``/``search_np`` below ``ADC_STEER_MIN_BYTES`` traverses
        UNsteered, so the same logical query can return a (slightly)
        different candidate set there than on this always-steered batch
        path — recall of the steered batch is gated vs the exact serve
        in tests/test_indexes.py::test_hnsw_batch_steered_recall_floor."""
        spark = self._spark()
        block = collect_query_block(queries, qid_col, qvec_col, self.dim)
        if block is None:
            return empty_topk(spark, self.id_col, qid_col)
        pool = self._serve_block(block, k, ef, None if steer is False else pq)
        return driver_topk_merge(spark, *pool, int(k), self.id_col,
                                 upper_bound, qid_col)

    def _serve_block(
        self, block: QueryBlock, k: int, ef: int | None, pq=None,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """A checked block's per-query top-``k`` as driver columns
        (query id, id, dist): :meth:`search_many_parallel` with the
        batch steering rule (steer whenever ``pq`` is given) and beam
        width 1."""
        qids, qmat = block
        gids, dists = self.search_many_parallel(qmat, k, ef, pq=pq, steer=True,
                                                beam_width=1)
        rows, cols = np.nonzero(gids >= 0)
        return qids[rows], gids[rows, cols], dists[rows, cols]

    # ---- persistence (S8: hnsw_index.rs:644-670 saves links w/o vectors) --

    def save(self, path: str) -> None:
        import uuid

        os.makedirs(path, exist_ok=True)
        # vectors live in their OWN .npy so load() can mmap them:
        # executor-side shard caches (sharded.py:_cached_graph) then
        # page vectors on demand through the OS page cache — shared
        # across worker processes, near-zero reload after eviction —
        # instead of decompressing the whole matrix per cache miss.
        #
        # BOTH artifacts land in a fresh generation subdirectory and
        # meta.json (replaced atomically, below) is the ONLY commit
        # point — a reader refreshing between two independent root-file
        # renames could otherwise pair a new vector matrix with the
        # old graph (executor shard-cache refresh racing an append
        # flush). Readers holding the previous generation mmapped keep
        # their inodes alive through the cleanup unlink (POSIX).
        gen = f"gen-{len(self.ids)}-{uuid.uuid4().hex[:8]}"
        gen_dir = os.path.join(path, gen)
        os.makedirs(gen_dir, exist_ok=True)
        with open(os.path.join(gen_dir, "vecs.npy"), "wb") as f:
            # file handle: np.save would append ".npy" to a bare path
            np.save(f, self.vecs)
        with open(os.path.join(gen_dir, "graph.npz"), "wb") as f:
            # uncompressed: link/level ints decompress poorly anyway,
            # and the zip-inflate was the dominant shard-load cost
            np.savez(
                f,
                ids=self.ids,
                levels=self.graph.levels,
                **{f"links{g}": arr for g, arr in enumerate(self.graph.links)},
                **{f"counts{g}": arr for g, arr in enumerate(self.graph.counts)},
            )
        meta_tmp = os.path.join(path, "meta.json.tmp")
        with open(meta_tmp, "w") as f:
            # "n"/"gen" guarantee the meta bytes change on every append
            # flush — the sharded tier's executor cache keys on this
            # file's content hash (sharded.py:_cached_graph)
            json.dump({"metric": self.metric, "id_col": self.id_col, "m": self.graph.M,
                       "entry": int(self.graph.entry), "max_level": int(self.graph.max_level),
                       "n_levels": len(self.graph.links), "n": int(len(self.ids)),
                       "gen": gen, "ef_construction": self.ef_construction}, f)
        os.replace(meta_tmp, os.path.join(path, "meta.json"))
        # retire superseded generations (and any pre-generation root
        # artifacts): unlink is safe under active readers — their open
        # fds/mmaps pin the inodes; a reader still holding a STALE
        # meta retries through load()'s FileNotFoundError loop
        import shutil

        for d in os.listdir(path):
            full = os.path.join(path, d)
            if d.startswith("gen-") and d != gen and os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            elif d in ("vecs.npy", "graph.npz"):
                try:
                    os.remove(full)
                except OSError:
                    pass
        self.dirty = False

    @classmethod
    def load(cls, spark: SparkSession, path: str, base: DataFrame | None = None) -> "HNSWIndex":
        import time

        last_err: Exception | None = None
        for _attempt in range(8):
            try:
                with open(os.path.join(path, "meta.json")) as f:
                    meta = json.load(f)
                # generation layout: meta names the directory holding a
                # CONSISTENT (vecs, graph) pair; legacy artifacts keep
                # both files at the root
                base_dir = os.path.join(path, meta["gen"]) if meta.get("gen") else path
                npz = np.load(os.path.join(base_dir, "graph.npz"), allow_pickle=True)
                ids = npz["ids"]
                vecs_path = os.path.join(base_dir, "vecs.npy")
                if os.path.exists(vecs_path):
                    # mmap: queries page in only the vectors the beam
                    # visits; the OS page cache shares them across
                    # executor workers
                    vecs = np.load(vecs_path, mmap_mode="r")
                else:  # pre-round-6 artifact: vectors inline in the npz
                    vecs = np.asarray(npz["vecs"])
                if len(ids) != len(vecs):
                    # torn pairing can only arise from legacy layouts
                    # (two independent renames); re-read after a beat
                    raise FileNotFoundError(
                        f"vecs/graph length mismatch {len(vecs)} vs {len(ids)}"
                    )
                break
            except FileNotFoundError as e:
                # raced a concurrent save(): the generation we read
                # from meta was retired before we opened its files —
                # re-read meta (now pointing at the new generation)
                last_err = e
                time.sleep(0.05)
        else:
            raise RuntimeError(f"HNSWIndex.load: unstable artifacts at {path}: {last_err}")
        g = _Graph(len(ids), meta["m"])
        g.levels = npz["levels"]
        g.links = [npz[f"links{i}"] for i in range(meta["n_levels"])]
        g.counts = [npz[f"counts{i}"] for i in range(meta["n_levels"])]
        g.entry = meta["entry"]
        g.max_level = meta["max_level"]
        return cls(ids, vecs, g, meta["metric"], base=base, id_col=meta["id_col"],
                   path=path, ef_construction=meta.get("ef_construction", 200))

    # ---- incremental add (W4: hnsw_index.rs:538-572) ----------------------

    def add_batch(
        self,
        new_ids: np.ndarray,
        new_vecs: np.ndarray,
        seed: int = 43,
        ef_construction: int | None = None,
    ) -> None:
        """Incremental insert — the invariant the reference guarantees:
        adds do NOT invalidate the HNSW graph (README.md:45). Appends
        the new rows to the flat arrays, then runs the same chunked
        insert loop over them with the index's stored
        ``ef_construction`` (unless overridden). Marks the index dirty;
        persistence is the caller's save policy."""
        new_vecs = np.asarray(new_vecs, dtype=self.vecs.dtype)
        if self.vecs.ndim == 1 or (self.vecs.shape[0] == 0
                                   and self.vecs.shape[1] != new_vecs.shape[1]):
            # a graph built over an EMPTY table materializes vecs with
            # no rows to infer dim from — (0,) from build, (0, 0) from
            # an Arrow bridge; give it the first batch's width so the
            # concat below is well-formed
            self.vecs = np.empty((0, new_vecs.shape[1]), dtype=self.vecs.dtype)
        n_old = self.vecs.shape[0]
        vecs = np.concatenate([self.vecs, new_vecs], axis=0)
        ids = np.concatenate([self.ids, np.asarray(new_ids, dtype=np.int64)])
        n = vecs.shape[0]
        g = self.graph
        rng = np.random.default_rng(seed)
        ml = 1.0 / np.log(g.M)
        new_levels = np.floor(-np.log(rng.uniform(size=n - n_old)) * ml).astype(np.int32)
        g.levels = np.concatenate([g.levels, new_levels])
        for lv in range(len(g.links)):
            pad = np.full((n - g.links[lv].shape[0], g.links[lv].shape[1]), -1, dtype=np.int32)
            g.links[lv] = np.concatenate([g.links[lv], pad], axis=0)
            g.counts[lv] = np.concatenate(
                [g.counts[lv], np.zeros(n - g.counts[lv].shape[0], dtype=np.int32)]
            )
        self.vecs, self.ids = vecs, ids
        ef_c = max(int(ef_construction or self.ef_construction), 2 * g.M)
        HNSWIndex._insert_all(
            g, vecs, self.metric, np.arange(n_old, n, dtype=np.int64), ef_c
        )
        self._pq_cache = None  # aligned codes no longer cover every id
        self._c_state = None  # flattened views hold the pre-add graph
        self.dirty = True
