"""Batched multi-query HNSW traversal kernels — pure numpy, no Python
per-query loops.

Why this exists (round-3 performance work): the reference serves
queries with a rayon loop over an in-memory graph
(/root/reference/examples/bench.rs:414-417) where each search is a
tight compiled beam loop. A Python ``heapq`` transliteration of that
loop is interpreter-bound (~ms per query). The Spark-native answer is
to make *queries* the vector axis: every wave of the search expands one
frontier node per live query simultaneously, so each step is a handful
of large numpy gathers/GEMMs over all queries instead of thousands of
tiny ops per query. Semantics are the standard HNSW best-first beam
(hnsw_index.rs:258-330): a bounded pool of ``ef`` best-so-far
candidates per query, expand the nearest unexpanded one, terminate
when the nearest unexpanded is farther than the worst kept.

Two pair-distance backends (both batched over (query, node) pairs):

- :class:`ExactPairDist` — exact L2²/cosine against the full-precision
  vector block (flat_index.rs:48-57 forms, cached self-dots);
- :class:`ADCPairDist` — PQ asymmetric distance via per-query lookup
  tables (pq_table.rs:195-224): the distance function of the
  reference's fastest configuration, ``knn_pq`` on an HNSW graph
  (hnsw_index.rs:672-696).

The kernels are dtype-follow: float64 inputs give the oracle-stable
float64 distances the correctness harness hashes; float32 inputs give
the cache-friendly serving regime of the reference (its vectors are
f32, vec_set.rs).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "ExactPairDist",
    "ADCPairDist",
    "greedy_descent_batch",
    "beam_search_batch",
]


class ExactPairDist:
    """Batched exact distances for explicit (query_idx, node_idx) pairs.

    Precomputes per-node and per-query self-dots once (the reference's
    dist_cache, hnsw_index.rs:136-140); each call is two row-gathers and
    one fused multiply-sum over the pair list.
    """

    def __init__(self, vecs: np.ndarray, qmat: np.ndarray, metric: str) -> None:
        self.vecs = vecs
        self.q = np.asarray(qmat, dtype=vecs.dtype)
        self.metric = metric
        self.x2 = np.einsum("ij,ij->i", vecs, vecs)
        self.q2 = np.einsum("ij,ij->i", self.q, self.q)
        if metric == "cosine":
            self.xn = np.sqrt(self.x2)
            self.qn = np.sqrt(self.q2)

    def __call__(self, qidx: np.ndarray, nidx: np.ndarray) -> np.ndarray:
        v = self.vecs[nidx]
        qq = self.q[qidx]
        ip = np.einsum("ij,ij->i", v, qq)
        if self.metric == "l2sqr":
            d = self.x2[nidx] + self.q2[qidx] - 2.0 * ip
            return np.maximum(d, 0.0, out=d)
        denom = np.maximum(self.xn[nidx] * self.qn[qidx], 1e-10)
        return 1.0 - ip / denom

    def block(self, qidx: np.ndarray, nodes: np.ndarray) -> np.ndarray:
        """(Q',) query indices × (n',) node indices → (Q', n') matrix —
        used by the re-rank and ground-entry steps."""
        v = self.vecs[nodes]
        qq = self.q[qidx]
        ip = qq @ v.T
        if self.metric == "l2sqr":
            d = self.q2[qidx][:, None] + self.x2[nodes][None, :] - 2.0 * ip
            return np.maximum(d, 0.0, out=d)
        denom = np.maximum(self.qn[qidx][:, None] * self.xn[nodes][None, :], 1e-10)
        return 1.0 - ip / denom


class ADCPairDist:
    """Batched PQ asymmetric distances for (query_idx, node_idx) pairs.

    ``lut`` is the (Q × m × 2^n_bits) per-query sub-distance tensor
    (pq_table.rs:195-224); a pair distance is m table lookups summed —
    computed here as one flat ``np.take`` over precomputed addresses.
    For cosine the cached centroid self-dot tensor reconstructs the
    encoded vector's norm exactly as pq_table.rs:215-224.
    """

    def __init__(
        self,
        codes: np.ndarray,  # (N, m) uint8 unpacked codes
        lut: np.ndarray,  # (Q, m, ksub) per-query sub-distances / sub-dots
        sq: np.ndarray | None = None,  # (m, ksub) centroid self-dots (cosine)
        qnorms: np.ndarray | None = None,  # (Q,)
    ) -> None:
        self.codes = codes
        q, m, ksub = lut.shape
        self.m = m
        self.ksub = ksub
        self.lut_flat = np.ascontiguousarray(lut).reshape(-1)
        self.sq_flat = np.ascontiguousarray(sq).reshape(-1) if sq is not None else None
        self.qnorms = qnorms
        # int32 addresses: Q·m·ksub stays far below 2^31 for any block
        # this serves, and the (G × m) address temporaries are the pair
        # call's dominant memory traffic — int64 doubled it
        self.goff = (np.arange(m, dtype=np.int32) * ksub)[None, :]
        self.qstride = np.int32(m * ksub)

    def __call__(self, qidx: np.ndarray, nidx: np.ndarray) -> np.ndarray:
        c = self.codes[nidx].astype(np.int32, copy=False)  # (G, m)
        gaddr = c
        gaddr += self.goff
        addr = gaddr + (qidx.astype(np.int32) * self.qstride)[:, None]
        # accumulate in the lut's own dtype: f64 for the oracle-stable
        # path, f32 for the serving regime (the reference's SIMD sums f32)
        summed = np.take(self.lut_flat, addr).sum(axis=1, dtype=self.lut_flat.dtype)
        if self.sq_flat is None:
            return summed
        v2 = np.take(self.sq_flat, gaddr).sum(axis=1, dtype=np.float64)
        vnorm = np.sqrt(np.maximum(v2, 0.0))
        return 1.0 - summed / np.maximum(vnorm * self.qnorms[qidx], 1e-10)


def greedy_descent_batch(
    links: list[np.ndarray],
    counts: list[np.ndarray],
    pairdist,
    start: np.ndarray,
    start_d: np.ndarray,
    from_level: int,
    to_level: int,
    qsel: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """ef=1 greedy walk for all queries through levels
    ``from_level .. to_level+1`` (hnsw_index.rs:336-350, batched).

    ``qsel`` maps local rows → pairdist query indices (identity if None).
    Returns (cur, cur_d) at ``to_level``'s entry.
    """
    nq = start.shape[0]
    cur = start.astype(np.int64).copy()
    cur_d = start_d.copy()
    if qsel is None:
        qsel = np.arange(nq, dtype=np.int64)
    for level in range(from_level, to_level, -1):
        lv_links = links[level]
        active = np.ones(nq, dtype=bool)
        while active.any():
            act = np.nonzero(active)[0]
            nb = lv_links[cur[act]]  # (A, M) with -1 padding
            valid = nb >= 0
            rows, cols = np.nonzero(valid)
            if rows.size == 0:
                active[act] = False
                break
            dd = pairdist(qsel[act[rows]], nb[rows, cols])
            dmat = np.full(nb.shape, np.inf, dtype=np.float64)
            dmat[rows, cols] = dd
            bi = np.argmin(dmat, axis=1)
            ar = np.arange(act.size)
            bd = dmat[ar, bi]
            better = bd < cur_d[act]
            upd = act[better]
            cur[upd] = nb[better, bi[better]]
            cur_d[upd] = bd[better]
            active[act[~better]] = False
    return cur, cur_d


def beam_search_batch(
    links0: np.ndarray,
    pairdist,
    start: np.ndarray,
    start_d: np.ndarray,
    ef: int,
    n_nodes: int,
    qsel: np.ndarray | None = None,
    beam_width: int = 1,
) -> tuple[np.ndarray, np.ndarray]:
    """Layer-0 (single-level) best-first beam for all queries at once.

    Per wave, every live query expands its nearest unexpanded pool
    entry; fresh neighbors get batched distances and are merged back.
    Termination per query when the nearest unexpanded candidate is
    farther than the worst of a full pool (candidate_pair.rs:55-57).

    The pool is kept UNSORTED during the search: merges use
    ``argpartition`` (O(ef) per expansion, vs the O(ef log ef) per-wave
    sort of the naive form — the difference between linear and
    superlinear total cost in ef), the per-query worst is tracked
    incrementally, and all bookkeeping touches only still-live queries.
    One final (dist, id)-lexsort per query restores the ascending,
    deterministic order the oracle harness hashes.

    ``beam_width`` (B): expand up to B nearest unexpanded pool entries
    per wave instead of 1 — ~B× fewer waves, so per-wave fixed numpy
    cost amortizes over more work (the serving lever for the numpy
    path, whose cost is dominated by per-wave overhead on small query
    blocks). Termination is unchanged
    (nearest unexpanded vs pool worst), and entries beyond the worst
    are never expanded, so B>1 only ever *adds* explored candidates:
    recall is monotonically ≥ the B=1 search at equal ef, and full-ef
    exactness is preserved.

    Returns (pool_ids, pool_d): (Q × ef) ascending, -1 / inf padded.
    """
    nq = start.shape[0]
    ef = int(ef)
    if qsel is None:
        qsel = np.arange(nq, dtype=np.int64)
    max0 = links0.shape[1]
    pool_d = np.full((nq, ef), np.inf, dtype=np.float64)
    pool_id = np.full((nq, ef), -1, dtype=np.int64)
    expanded = np.zeros((nq, ef), dtype=bool)
    pool_d[:, 0] = start_d
    pool_id[:, 0] = start
    # per-query visited bitmap: Q × N bools. Bounded by the caller via
    # query chunking (see HNSWIndex._kernel_search) so this never
    # exceeds ~tens of MB even at large N.
    visited = np.zeros((nq, n_nodes), dtype=bool)
    visited[np.arange(nq), start] = True
    # per-query pool worst (inf while the pool has padding slots)
    worst = np.full(nq, np.inf, dtype=np.float64)
    alive = np.arange(nq, dtype=np.int64)
    B0 = max(1, min(int(beam_width), ef))
    while alive.size:
        # adaptive width: as queries finish, widen the beam so the last
        # stragglers don't pay one full wave of fixed numpy overhead per
        # single expansion (wave count is the serving cost driver; extra
        # expansions stay ≤ pool worst, so recall only goes up)
        B = max(1, min(int(B0 * nq / alive.size), ef, 16))
        pd_a = pool_d[alive]
        cand = np.where(expanded[alive] | (pool_id[alive] < 0), np.inf, pd_a)
        ar_a = np.arange(alive.size)[:, None]
        if B == 1:
            jB = np.argmin(cand, axis=1)[:, None]
        else:
            jB = np.argpartition(cand, B - 1, axis=1)[:, :B]
            ordB = np.argsort(cand[ar_a, jB], axis=1)  # ascending picks
            jB = jB[ar_a, ordB]
        cB = cand[ar_a, jB]
        best = cB[:, 0]
        keep = ~((best == np.inf) | (best > worst[alive]))
        alive = alive[keep]
        if alive.size == 0:
            break
        act = alive
        jB = jB[keep]
        cB = cB[keep]
        A = act.size
        # expand picks that are candidates (finite) and not beyond the
        # pool worst (a strict beam would never reach those)
        ok = np.isfinite(cB) & (cB <= worst[act, None])
        nodes = np.where(ok, pool_id[act[:, None], jB], 0)
        er, ec = np.nonzero(ok)
        expanded[act[er], jB[er, ec]] = True
        all_rows, all_cols, all_nodes = [], [], []
        for b in range(jB.shape[1]):
            nbb = links0[nodes[:, b]]  # (A, max0), -1 padded
            validb = (nbb >= 0) & ok[:, b : b + 1]
            seen = visited[act[:, None], np.where(validb, nbb, 0)]
            freshb = validb & ~seen
            r, c = np.nonzero(freshb)
            if r.size == 0:
                continue
            # mark immediately: chunk b+1 then sees chunk b's nodes as
            # visited, so one wave never pools a duplicate id
            visited[act[r], nbb[r, c]] = True
            all_rows.append(r)
            all_cols.append(b * max0 + c)
            all_nodes.append(nbb[r, c])
        if not all_rows:
            continue
        rows = np.concatenate(all_rows)
        cols = np.concatenate(all_cols)
        fnodes = np.concatenate(all_nodes)
        dd = pairdist(qsel[act[rows]], fnodes)
        width = jB.shape[1] * max0
        nd = np.full((A, width), np.inf, dtype=np.float64)
        nid = np.full((A, width), -1, dtype=np.int64)
        nd[rows, cols] = dd
        nid[rows, cols] = fnodes
        md = np.concatenate([pool_d[act], nd], axis=1)
        mid = np.concatenate([pool_id[act], nid], axis=1)
        mex = np.concatenate([expanded[act], np.zeros(nd.shape, dtype=bool)], axis=1)
        # keep the ef smallest, unordered (argpartition, not sort)
        part = np.argpartition(md, ef - 1, axis=1)[:, :ef]
        arp = np.arange(A)[:, None]
        new_pd = md[arp, part]
        pool_d[act] = new_pd
        pool_id[act] = mid[arp, part]
        expanded[act] = mex[arp, part]
        worst[act] = new_pd.max(axis=1)
    # final deterministic ascending order: (dist, id), padding at the tail
    big = np.iinfo(np.int64).max
    order = np.lexsort((np.where(pool_id < 0, big, pool_id), pool_d), axis=1)
    pool_d = np.take_along_axis(pool_d, order, axis=1)
    pool_id = np.take_along_axis(pool_id, order, axis=1)
    return pool_id, pool_d
