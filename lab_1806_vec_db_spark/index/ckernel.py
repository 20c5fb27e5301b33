"""Optional compiled HNSW traversal kernel (gcc + ctypes).

Why this exists: the reference serves a query as a tight compiled
best-first loop over an in-memory graph (hnsw_index.rs:258-330); its
published numbers (BASELINE.md) are ~0.04 ms/query. The lockstep numpy
kernel in ``beam.py`` amortizes interpreter overhead across a query
*batch*, but a single query still pays ~100 python-level waves — fine
for the Spark `mapInPandas` path, hopeless for point-serve latency.
This module compiles a ~300-line standard HNSW kernel set (greedy
upper-level descent + bounded-pool beam, the knn_pq ADC-steered
variant of hnsw_index.rs:672-696, a flat ADC scan, the build-time
multi-level candidate-pool search of hnsw_index.rs:398-442, the
build's link phase (forward selection and the in-place link apply of
connect_new_links / arrange_links), and the
Lloyd step and k-means++ fold of ``kmeans.fit_kmeans``) with the
system C compiler at first use and binds it via ctypes.

Design constraints honored:

- **Optional everywhere.** If no compiler/toolchain is present (or
  ``SPARK_GRAFT_NO_CKERNEL=1``), ``available()`` is False and every
  caller falls back to the numpy kernels — same semantics, slower.
  Executors on a foreign cluster without the cached .so simply compile
  their own copy (it's one gcc invocation) or fall back.
- **No external deps.** Only the system compiler and libc; the .so is
  cached under the user's tmp dir keyed by a hash of the source, so
  compilation happens once per machine, not per process.
- **Zero-copy graph access.** Level link/count arrays are passed as
  per-level pointers, not concatenated copies — the build path calls
  the kernel on the LIVE graph between chunk applies, and at N=1M a
  per-chunk concat would copy hundreds of MB.
- **Same contract as the numpy kernel.** Distances use the identical
  formulas (l2sqr: ``max(x2 + q2 - 2·ip, 0)``; cosine:
  ``1 - ip / max(|x||q|, 1e-10)``, flat_index.rs:48-57). Accumulation:
  the f64 unit keeps the strictly-sequential double sum (the order the
  DuckDB oracle comparisons were validated against); the f32 serving
  unit sums in 8 f32 lanes — the reference's own SIMD precision
  (its packed-f32 distance sums) and ~2x the widen-to-double loop.
  ADC sums in LUT precision. Ties order by
  (dist, local id) exactly like ``beam_search_batch``'s final lexsort,
  and outputs are -1 / inf padded. The ctypes calls release the GIL,
  so driver-side serving and the build candidate phase parallelize
  with plain threads.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile
import threading

import numpy as np

_C_COMMON = r"""
#include <stdlib.h>
#include <string.h>
#include <math.h>

typedef struct { double d; long id; } pair_t;

static int pair_cmp(const void *a, const void *b) {
    const pair_t *x = (const pair_t *)a, *y = (const pair_t *)b;
    if (x->d < y->d) return -1;
    if (x->d > y->d) return 1;
    if (x->id < y->id) return -1;
    if (x->id > y->id) return 1;
    return 0;
}

/* bounded max-heap (results, worst at root) and min-heap (candidates) */
static void heap_push(pair_t *h, long *sz, pair_t v, int is_max) {
    long i = (*sz)++;
    h[i] = v;
    while (i > 0) {
        long p = (i - 1) >> 1;
        int swap = is_max ? (h[i].d > h[p].d) : (h[i].d < h[p].d);
        if (!swap) break;
        pair_t t = h[p]; h[p] = h[i]; h[i] = t;
        i = p;
    }
}

static pair_t heap_pop(pair_t *h, long *sz, int is_max) {
    pair_t top = h[0];
    h[0] = h[--(*sz)];
    long i = 0;
    for (;;) {
        long l = 2 * i + 1, r = l + 1, m = i;
        if (l < *sz && (is_max ? (h[l].d > h[m].d) : (h[l].d < h[m].d))) m = l;
        if (r < *sz && (is_max ? (h[r].d > h[m].d) : (h[r].d < h[m].d))) m = r;
        if (m == i) break;
        pair_t t = h[m]; h[m] = h[i]; h[i] = t;
        i = m;
    }
    return top;
}

/* link-phase candidate: (dist to the base node, id, self term) */
typedef struct { double d; long id; double s; } lcand_t;

static int lcand_cmp(const void *a, const void *b) {
    const lcand_t *x = (const lcand_t *)a, *y = (const lcand_t *)b;
    if (x->d < y->d) return -1;
    if (x->d > y->d) return 1;
    return (x->id > y->id) - (x->id < y->id);
}

/* max-heap by lcand_cmp (root = worst kept) of the nearest `cap` */
static void lheap_offer(lcand_t *h, long *hs, long cap, lcand_t t) {
    long i;
    if (*hs < cap) {
        i = (*hs)++;
        h[i] = t;
        while (i > 0) {
            long p = (i - 1) >> 1;
            if (lcand_cmp(&h[i], &h[p]) <= 0) break;
            lcand_t x = h[p]; h[p] = h[i]; h[i] = x;
            i = p;
        }
        return;
    }
    if (lcand_cmp(&t, &h[0]) >= 0) return;
    h[0] = t;
    i = 0;
    for (;;) {
        long l = 2 * i + 1, r = l + 1, m = i;
        if (l < *hs && lcand_cmp(&h[l], &h[m]) > 0) m = l;
        if (r < *hs && lcand_cmp(&h[r], &h[m]) > 0) m = r;
        if (m == i) break;
        lcand_t x = h[m]; h[m] = h[i]; h[i] = x;
        i = m;
    }
}

typedef struct { long p; long seq; long node; } ledge_t;

static int ledge_cmp(const void *a, const void *b) {
    const ledge_t *x = (const ledge_t *)a, *y = (const ledge_t *)b;
    if (x->p != y->p) return (x->p > y->p) - (x->p < y->p);
    return (x->seq > y->seq) - (x->seq < y->seq);
}

/* (dist, id, tile-row) triple of the per-query top-k tile kernels */
typedef struct { double d; long id; long row; } trip_t;

/* The (d, id) order of np.lexsort((ids, d)): ascending d, ties by id,
 * NaN after every number (NaNs among themselves by id). A plain `<`
 * would let a NaN that entered the heap during the fill block every
 * later replacement. */
static int trip_lt(const trip_t *x, const trip_t *y) {
    if (x->d < y->d) return 1;
    if (x->d == y->d) return x->id < y->id;
    if (isnan(y->d)) return !isnan(x->d) || x->id < y->id;
    return 0;
}

static int trip_cmp(const void *a, const void *b) {
    const trip_t *x = (const trip_t *)a, *y = (const trip_t *)b;
    return trip_lt(x, y) ? -1 : (trip_lt(y, x) ? 1 : 0);
}

/* offer t to the bounded max-heap of the kk best triples (root = worst kept) */
static void topk_offer(trip_t *heap, long *hs, int kk, trip_t t) {
    if (*hs < kk) {
        long i = (*hs)++;
        heap[i] = t;
        while (i > 0) {
            long p = (i - 1) / 2;
            if (!trip_lt(&heap[p], &heap[i])) break;
            trip_t tmp = heap[p]; heap[p] = heap[i]; heap[i] = tmp;
            i = p;
        }
    } else if (kk > 0 && trip_lt(&t, &heap[0])) {
        heap[0] = t;
        long i = 0;
        for (;;) {
            long l = 2 * i + 1, r = l + 1, mx = i;
            if (l < *hs && trip_lt(&heap[mx], &heap[l])) mx = l;
            if (r < *hs && trip_lt(&heap[mx], &heap[r])) mx = r;
            if (mx == i) break;
            trip_t tmp = heap[mx]; heap[mx] = heap[i]; heap[i] = tmp;
            i = mx;
        }
    }
}

/* sort the kept triples and write one query's kk outputs, padded with
 * id = row = -1, d = HUGE_VAL past the kept count */
static void topk_emit(trip_t *heap, long hs, int kk,
                      long *oi, long *orw, double *od) {
    qsort(heap, (size_t)hs, sizeof(trip_t), trip_cmp);
    for (long i = 0; i < kk; i++) {
        int kept = i < hs;
        oi[i] = kept ? heap[i].id : -1;
        od[i] = kept ? heap[i].d : HUGE_VAL;
        orw[i] = kept ? heap[i].row : -1;
    }
}

/*
 * Per-query top-k over a dense precomputed distance tile: the bounded
 * max-heap by (optionally rounded d, id) — the kept set and order of
 * np_round_half_up + np.lexsort((ids, d))[:kk] — in one GIL-released
 * call (operators/knn.py::topk_cut is the only caller).
 *
 * dt: the (query s, candidate u) distance lives at dt[s*sq + u*su] —
 * (sq=n, su=1) for a C-contiguous (S x n) tile, (sq=1, su=S) for the
 * untransposed (n x S) tile the scan GEMM naturally produces (walking
 * a column streams n cache lines that consecutive queries re-hit, so
 * no transpose copy is ever paid).
 * ids: per-query candidate ids; ids_stride 0 shares one (n,) vector
 * across queries, n gives each query its own row. do_round applies
 * floor(v*1e4+0.5)/1e4 — the exact np_round_half_up operation.
 * Outputs (S x kk) ids, tile rows and distances,
 * padded id = row = -1 / d = HUGE_VAL past n.
 */
int dense_topk(
    const double *dt, long sq, long su, const long *ids, long ids_stride,
    long n, long S, int kk, int do_round,
    long *out_id, long *out_row, double *out_d)
{
    trip_t *heap = (trip_t *)malloc((size_t)(kk > 0 ? kk : 1) * sizeof(trip_t));
    if (!heap) return 1;
    for (long s = 0; s < S; s++) {
        const double *row = dt + (size_t)s * sq;
        const long *rid = ids + (size_t)s * ids_stride;
        long hs = 0;
        for (long u = 0; u < n; u++) {
            double v = row[(size_t)u * su];
            if (do_round) v = floor(v * 10000.0 + 0.5) / 10000.0;
            trip_t t = { v, rid[u], u };
            topk_offer(heap, &hs, kk, t);
        }
        topk_emit(heap, hs, kk, out_id + (size_t)s * kk,
                  out_row + (size_t)s * kk, out_d + (size_t)s * kk);
    }
    free(heap);
    return 0;
}

/*
 * k-means (index/kmeans.py::fit_kmeans). The caller forms the (n x k)
 * inner-product block with the same numpy matmul as the numpy path, so
 * every distance here is bit-identical to kmeans._pairwise_dist:
 * l2sqr max((x2 + c2) - 2ip, 0), with 2ip written ip + ip (exactly
 * 2ip, and nothing for the compiler to contract into an FMA), cosine
 * 1 - ip / max(|x||c|, 1e-10). xs / cs hold the rows' and centroids'
 * self-dots (l2sqr) or norms (cosine).
 */
static inline double km_dist(double xs, double cs, double ip, int metric) {
    if (metric == 0) {
        double v = (xs + cs) - (ip + ip);
        return v < 0.0 ? 0.0 : v;
    }
    double den = xs * cs;
    if (den < 1e-10) den = 1e-10;
    return 1.0 - ip / den;
}

/* Nearest centroid of each row: the first minimum wins and a NaN
 * beats every number, as np.argmin does. A row's k distances go to
 * buf first, so the metric branch leaves the inner loops and the
 * distance loop vectorizes. */
static void km_label(const double *ip, long n, int k, const double *xs,
                     const double *cs, int metric, double *buf, long *labels)
{
    for (long i = 0; i < n; i++) {
        const double *row = ip + (size_t)i * k;
        double x = xs[i];
        int nan = 0;
        if (metric == 0)
            for (int j = 0; j < k; j++) buf[j] = km_dist(x, cs[j], row[j], 0);
        else
            for (int j = 0; j < k; j++) buf[j] = km_dist(x, cs[j], row[j], 1);
        for (int j = 0; j < k; j++) nan |= buf[j] != buf[j];
        long bi = 0;
        if (nan) {
            while (buf[bi] == buf[bi]) bi++;
        } else {
            double best = buf[0];
            for (int j = 1; j < k; j++) {
                int lt = buf[j] < best;
                best = lt ? buf[j] : best;
                bi = lt ? j : bi;
            }
        }
        labels[i] = bi;
    }
}

/* np.add.reduce's contiguous inner loop (pairwise_sum): 8 partial sums
 * up to 128 values, split in halves above, over a[idx[i]]. */
static double km_pairwise(const double *a, const long *idx, long n, long st) {
    if (n < 8) {
        double r = 0.0;
        for (long i = 0; i < n; i++) r += a[idx[i] * st];
        return r;
    }
    if (n <= 128) {
        double r[8];
        long i;
        for (int j = 0; j < 8; j++) r[j] = a[idx[j] * st];
        for (i = 8; i < n - (n % 8); i += 8)
            for (int j = 0; j < 8; j++) r[j] += a[idx[i + j] * st];
        double res = ((r[0] + r[1]) + (r[2] + r[3])) + ((r[4] + r[5]) + (r[6] + r[7]));
        for (; i < n; i++) res += a[idx[i] * st];
        return res;
    }
    long n2 = n / 2;
    n2 -= n2 % 8;
    return km_pairwise(a, idx, n2, st) + km_pairwise(a, idx + n2, n - n2, st);
}

/*
 * One Lloyd step. Label each row by its (n x k) inner products ip,
 * then move each centroid to the mean of its rows, bit for bit
 * np.mean(x[labels == c], axis=0): the sum starts at 0.0 and adds the
 * rows in row order, then divides by the count. With d == 1 numpy
 * reduces the gathered column as one contiguous run, by the pairwise
 * scheme in bufsize-long chunks, so that case gathers each cluster's
 * row indices in row order and sums them the same way. An empty
 * cluster keeps its centroid in cent (k x d, updated in place). x is
 * (n x d) with a row stride of st values.
 */
int kmeans_step(const double *x, long n, int d, long st,
                const double *ip, const double *xs, const double *cs,
                int metric, int k, long bufsize, double *cent)
{
    long *labels = (long *)malloc((size_t)(n > 0 ? n : 1) * sizeof(long));
    long *counts = (long *)calloc((size_t)k + 1, sizeof(long));
    double *work = (double *)calloc((size_t)k * (d > 1 ? d : 1), sizeof(double));
    long *order = d == 1 ? (long *)malloc((size_t)(n > 0 ? n : 1) * sizeof(long)) : NULL;
    int rc = 0;
    if (!labels || !counts || !work || (d == 1 && !order)) { rc = 1; goto done; }
    km_label(ip, n, k, xs, cs, metric, work, labels);
    for (long i = 0; i < n; i++) counts[labels[i] + 1]++;
    if (d == 1) {
        for (int c = 0; c < k; c++) counts[c + 1] += counts[c];
        for (long i = 0; i < n; i++) order[counts[labels[i]]++] = i;
        /* counts[c] is now the end of cluster c's run */
        long lo = 0;
        for (int c = 0; c < k; c++) {
            long hi = counts[c];
            if (hi > lo) {
                double acc = 0.0;
                for (long s = lo; s < hi; s += bufsize) {
                    long m = hi - s < bufsize ? hi - s : bufsize;
                    acc += km_pairwise(x, order + s, m, st);
                }
                cent[c] = acc / (double)(hi - lo);
            }
            lo = hi;
        }
        goto done;
    }
    memset(work, 0, (size_t)k * d * sizeof(double));
    for (long i = 0; i < n; i++) {
        const double *xr = x + (size_t)i * st;
        double *sr = work + (size_t)labels[i] * d;
        for (int t = 0; t < d; t++) sr[t] += xr[t];
    }
    for (int c = 0; c < k; c++) {
        long cnt = counts[c + 1];
        if (cnt == 0) continue;
        for (int t = 0; t < d; t++)
            cent[(size_t)c * d + t] = work[(size_t)c * d + t] / (double)cnt;
    }
done:
    free(labels); free(counts); free(work); free(order);
    return rc;
}

/* One k-means++ seeding step: fold a new centroid's distances (from
 * its (n,) inner products) into min_d, with np.minimum's NaN rule
 * (first != 0 starts min_d from them), and write w = max(min_d, 0). */
int kmeans_pp_step(const double *ip, long n, const double *xs, double cs,
                   int metric, int first, double *min_d, double *w)
{
    for (long i = 0; i < n; i++) {
        double v = km_dist(xs[i], cs, ip[i], metric);
        if (!first) {
            double m = min_d[i];
            v = (m <= v || isnan(m)) ? m : v;
        }
        min_d[i] = v;
        w[i] = (v >= 0.0 || isnan(v)) ? v : 0.0;
    }
    return 0;
}

/* 1 when x (n x d, row stride st) holds more than k distinct rows
 * under float ==, else 0; the scan stops at the (k + 1)-th. rep holds
 * k + 1 row indices (scratch). */
int kmeans_exceeds_distinct(const double *x, long n, int d, long st,
                            long k, long *rep)
{
    long nrep = 0;
    for (long i = 0; i < n; i++) {
        const double *xr = x + (size_t)i * st;
        int seen = 0;
        for (long r = 0; r < nrep && !seen; r++) {
            const double *yr = x + (size_t)rep[r] * st;
            int t = 0;
            while (t < d && xr[t] == yr[t]) t++;
            seen = t == d;
        }
        if (seen) continue;
        if (nrep == k) return 1;
        rep[nrep++] = i;
    }
    return 0;
}
"""

# Per-dtype implementation; instantiated for float32 and float64 by
# textual substitution of VT/SUF (a single translation unit holds both).
_C_IMPL = r"""
#if ISFLOAT32
/* 8 independent lanes -> gcc -O3 vectorizes to packed f32 mul/add
 * without -ffast-math (each lane is its own reduction); f32
 * accumulation is the reference's own SIMD precision (its rayon/SIMD
 * distance sums are f32, distance/mod.rs). ~2x the f64-widening loop
 * on AVX2: 8 floats per register instead of 4 widened doubles. */
static inline double dot_SUF(const VT *a, const VT *b, int d) {
    VT lane[8] = {0, 0, 0, 0, 0, 0, 0, 0};
    int i = 0;
    for (; i + 8 <= d; i += 8)
        for (int l = 0; l < 8; l++) lane[l] += a[i + l] * b[i + l];
    double acc = ((double)lane[0] + lane[1] + lane[2] + lane[3])
               + ((double)lane[4] + lane[5] + lane[6] + lane[7]);
    for (; i < d; i++) acc += (double)a[i] * (double)b[i];
    return acc;
}
#else
/* f64 path: keep the strictly-sequential sum — it is the
 * oracle-stable order the DuckDB comparisons were validated against */
static inline double dot_SUF(const VT *a, const VT *b, int d) {
    double acc = 0.0;
    for (int i = 0; i < d; i++) acc += (double)a[i] * (double)b[i];
    return acc;
}
#endif

/* exact pair distance: same formula family as beam.ExactPairDist */
static inline double dist_SUF(
    const VT *vecs, const VT *x2, const VT *xn, int d, int metric,
    const VT *q, double q2, double qn, long u)
{
    double ip = dot_SUF(vecs + (size_t)u * d, q, d);
    if (metric == 0) {
        double dd = (double)x2[u] + q2 - 2.0 * ip;
        return dd > 0.0 ? dd : 0.0;
    }
    double denom = (double)xn[u] * qn;
    if (denom < 1e-10) denom = 1e-10;
    return 1.0 - ip / denom;
}

/* widened dot: f64 accumulation regardless of VT — the
 * exact-finalization precision. 8 independent f64 lanes (fixed,
 * deterministic order; vectorizes without -ffast-math) — the
 * contract is 4-decimal rounding, which absorbs summation-order
 * ulps just as it does between numpy's and DuckDB's orders. */
static inline double wdot_SUF(const VT *a, const VT *b, int d) {
    double lane[8] = {0, 0, 0, 0, 0, 0, 0, 0};
    int i = 0;
    for (; i + 8 <= d; i += 8)
        for (int l = 0; l < 8; l++)
            lane[l] += (double)a[i + l] * (double)b[i + l];
    double acc = ((lane[0] + lane[1]) + (lane[2] + lane[3]))
               + ((lane[4] + lane[5]) + (lane[6] + lane[7]));
    for (; i < d; i++) acc += (double)a[i] * (double)b[i];
    return acc;
}

/* exact pair distance in f64: the caller supplies the f64-exact
 * per-node self-dots (x2w — cached once per context; the stored VT
 * x2 may be f32), so only the ip dot is computed per pair */
static inline double wdist_SUF(
    const VT *vecs, const double *x2w, int d, int metric,
    const VT *q, double q2w, double qnw, long u)
{
    const VT *a = vecs + (size_t)u * d;
    double ip = wdot_SUF(a, q, d);
    if (metric == 0) {
        double dd = x2w[u] + q2w - 2.0 * ip;
        return dd > 0.0 ? dd : 0.0;
    }
    double denom = sqrt(x2w[u]) * qnw;
    if (denom < 1e-10) denom = 1e-10;
    return 1.0 - ip / denom;
}

/* ADC pair distance: m lookups summed (pq_table.rs:195-224; l2sqr).
 * Four independent accumulators in the LUT's own precision (the
 * reference's SIMD sums f32) + pointer stride instead of g*ksub:
 * the lookups are L1-resident, so ILP on the adds is what matters. */
static inline double adc_SUF(
    const unsigned char *codes, const VT *lut_q, int m, int ksub, long u)
{
    const unsigned char *cu = codes + (size_t)u * m;
    const VT *p = lut_q;
    /* 8 independent accumulators: the lookups are L1-resident, so the
     * limit is load-latency × chain depth — 8 in-flight loads cover the
     * ~4-cycle L1 latency at 2 loads/cycle (same reasoning as the
     * 8-lane exact-dot kernel). */
    VT a0 = 0, a1 = 0, a2 = 0, a3 = 0, a4 = 0, a5 = 0, a6 = 0, a7 = 0;
    int g = 0;
    for (; g + 8 <= m; g += 8) {
        a0 += p[cu[g]];
        a1 += p[ksub + cu[g + 1]];
        a2 += p[2 * ksub + cu[g + 2]];
        a3 += p[3 * ksub + cu[g + 3]];
        a4 += p[4 * ksub + cu[g + 4]];
        a5 += p[5 * ksub + cu[g + 5]];
        a6 += p[6 * ksub + cu[g + 6]];
        a7 += p[7 * ksub + cu[g + 7]];
        p += 8 * ksub;
    }
    VT acc = ((a0 + a1) + (a2 + a3)) + ((a4 + a5) + (a6 + a7));
    for (; g < m; g++) { acc += p[cu[g]]; p += ksub; }
    return (double)acc;
}

/* query context: exact (vecs/x2/xn/q) or ADC (codes/lut_q) */
typedef struct {
    const VT *vecs; const VT *x2; const VT *xn; int d; int metric;
    const VT *q; double q2; double qn;
    const unsigned char *codes; const VT *lut_q; int m; int ksub;
} qctx_SUF;

static inline double qdist_SUF(const qctx_SUF *c, long u) {
    if (c->lut_q)
        return adc_SUF(c->codes, c->lut_q, c->m, c->ksub, u);
    return dist_SUF(c->vecs, c->x2, c->xn, c->d, c->metric,
                    c->q, c->q2, c->qn, u);
}

/* start the cache fill for node v's distance operand (vector row or
 * ADC code row) a step ahead of its qdist — covers the DRAM latency of
 * the first lines; the hardware streamer follows for the rest */
static inline void qprefetch_SUF(const qctx_SUF *c, long v) {
    const char *p = c->lut_q
        ? (const char *)(c->codes + (size_t)v * c->m)
        : (const char *)(c->vecs + (size_t)v * c->d);
    __builtin_prefetch(p, 0, 3);
    __builtin_prefetch(p + 64, 0, 3);
    __builtin_prefetch(p + 128, 0, 3);
    __builtin_prefetch(p + 192, 0, 3);
}

/* greedy hill-climb at one level (hnsw_index.rs:244-256) */
static void greedy_SUF(
    const qctx_SUF *qc, const int *L, const int *C, int cap,
    long *cur, double *cur_d)
{
    int improved = 1;
    while (improved) {
        improved = 0;
        int cnt = C[*cur];
        const int *row = L + (size_t)(*cur) * cap;
        if (cnt > 0) qprefetch_SUF(qc, row[0]);
        for (int j = 0; j < cnt; j++) {
            long v = row[j];
            if (v < 0) break;
            if (j + 1 < cnt && row[j + 1] >= 0) qprefetch_SUF(qc, row[j + 1]);
            double dv = qdist_SUF(qc, v);
            if (dv < *cur_d) { *cur_d = dv; *cur = v; improved = 1; }
        }
    }
}

/* bounded-ef best-first beam at one level (hnsw_index.rs:258-330);
 * returns the pool size, pool content unordered in res[] */
static long beam_SUF(
    const qctx_SUF *qc, const int *L, const int *C, int cap,
    long start, double start_d, int ef,
    int *visit, int epoch, pair_t *cand, pair_t *res)
{
    long ncand = 0, nres = 0;
    visit[start] = epoch;
    pair_t seed = { start_d, start };
    heap_push(cand, &ncand, seed, 0);
    heap_push(res, &nres, seed, 1);
    while (ncand > 0) {
        pair_t c = heap_pop(cand, &ncand, 0);
        if (nres >= ef && c.d > res[0].d) break;
        int cnt = C[c.id];
        const int *row = L + (size_t)c.id * cap;
        if (cnt > 0) qprefetch_SUF(qc, row[0]);
        for (int j = 0; j < cnt; j++) {
            long v = row[j];
            if (v < 0) break;
            /* prefetch the next neighbor's operand while computing this
             * one's distance (unconditional — a visited neighbor's data
             * is usually cache-hot, so the wasted prefetch is cheap) */
            if (j + 1 < cnt && row[j + 1] >= 0) qprefetch_SUF(qc, row[j + 1]);
            if (visit[v] == epoch) continue;
            visit[v] = epoch;
            double dv = qdist_SUF(qc, v);
            if (nres < ef || dv < res[0].d) {
                pair_t p = { dv, v };
                heap_push(cand, &ncand, p, 0);
                heap_push(res, &nres, p, 1);
                if (nres > ef) heap_pop(res, &nres, 1);
            }
        }
    }
    return nres;
}

/*
 * Batched HNSW search, one query at a time inside C.
 *   metric: 0 = l2sqr, 1 = cosine (xn/qns must be non-NULL for cosine)
 *   links/counts: per-level pointers, caps[lv] row width, nlv levels
 *   codes/lut: non-NULL => ADC-steered traversal + exact re-rank of the
 *   ef pool (knn_pq, hnsw_index.rs:672-696 + candidate_pair pq_resort).
 * Outputs: out_ids (nq x k) local node indices, -1 padded;
 *          out_d   (nq x k) distances, HUGE_VAL padded.
 */
/* per-thread persistent search scratch (see allocation note below) */
static __thread int *tls_visit_SUF = 0;
static __thread pair_t *tls_cand_SUF = 0;
static __thread pair_t *tls_res_SUF = 0;
static __thread pair_t *tls_fin_SUF = 0;
static __thread long tls_n_SUF = -1;
static __thread int tls_ef_SUF = -1;
static __thread int tls_epoch_SUF = 0;

int hnsw_search_SUF(
    const VT *vecs, const VT *x2, const VT *xn, const double *x2w,
    long n, int d, int metric,
    const int **links, const int **counts, const int *caps, int nlv,
    long entry, int max_level,
    const VT *qs, const VT *q2s, const VT *qns, long nq,
    int k, int ef,
    const unsigned char *codes, const VT *lut, int m, int ksub,
    long *out_ids, double *out_d)
{
    if (n <= 0 || entry < 0) {
        for (long i = 0; i < nq * (long)k; i++) { out_ids[i] = -1; out_d[i] = HUGE_VAL; }
        return 0;
    }
    /* Thread-local scratch, persistent across calls: the cand buffer
     * is >128 KB for realistic n, which glibc malloc serves via
     * mmap/munmap — per-call page faults dominated point-serve
     * latency. The visited array stays valid across graphs because
     * the epoch counter is thread-monotonic (stale entries can never
     * equal a future epoch; overflow resets below). */
    int *visit; pair_t *cand; pair_t *res; pair_t *fin;
    {
        if (tls_n_SUF < n) {
            free(tls_visit_SUF); free(tls_cand_SUF);
            tls_visit_SUF = (int *)calloc((size_t)n, sizeof(int));
            tls_cand_SUF = (pair_t *)malloc(((size_t)n + 1) * sizeof(pair_t));
            tls_n_SUF = n; tls_epoch_SUF = 0;
        }
        if (tls_ef_SUF < ef) {
            free(tls_res_SUF); free(tls_fin_SUF);
            tls_res_SUF = (pair_t *)malloc(((size_t)ef + 2) * sizeof(pair_t));
            tls_fin_SUF = (pair_t *)malloc(((size_t)ef + 2) * sizeof(pair_t));
            tls_ef_SUF = ef;
        }
        visit = tls_visit_SUF; cand = tls_cand_SUF;
        res = tls_res_SUF; fin = tls_fin_SUF;
    }
    if (!visit || !cand || !res || !fin) {
        free(tls_visit_SUF); free(tls_cand_SUF);
        free(tls_res_SUF); free(tls_fin_SUF);
        tls_visit_SUF = 0; tls_cand_SUF = 0; tls_res_SUF = 0; tls_fin_SUF = 0;
        tls_n_SUF = -1; tls_ef_SUF = -1;
        return -1;
    }
    for (long qi = 0; qi < nq; qi++) {
        qctx_SUF qc = { vecs, x2, xn, d, metric,
                        qs + (size_t)qi * d, (double)q2s[qi],
                        qns ? (double)qns[qi] : 0.0,
                        codes, lut ? lut + (size_t)qi * m * ksub : 0, m, ksub };
        if (++tls_epoch_SUF == 0x7fffffff) {
            memset(visit, 0, (size_t)tls_n_SUF * sizeof(int));
            tls_epoch_SUF = 1;
        }
        int epoch = tls_epoch_SUF;
        long cur = entry;
        double cur_d = qdist_SUF(&qc, cur);
        for (int lv = max_level; lv >= 1; lv--)
            greedy_SUF(&qc, links[lv], counts[lv], caps[lv], &cur, &cur_d);
        long nres = beam_SUF(&qc, links[0], counts[0], caps[0],
                             cur, cur_d, ef, visit, epoch, cand, res);
        long nf = nres;
        for (long i = 0; i < nf; i++) fin[i] = res[i];
        double q2w = wdot_SUF(qc.q, qc.q, d);
        double qnw = metric == 1 ? sqrt(q2w) : 0.0;
        if (qc.lut_q) {
            /* exact re-rank of the whole ef pool
             * (candidate_pair.rs:102-108) in widened f64 */
            for (long i = 0; i < nf; i++)
                fin[i].d = wdist_SUF(vecs, x2w, d, metric, qc.q, q2w, qnw, fin[i].id);
        }
        qsort(fin, (size_t)nf, sizeof(pair_t), pair_cmp);
        long kk = nf < (long)k ? nf : (long)k;
        if (!qc.lut_q) {
            /* finalize only the k winners: traversal picked them in VT
             * precision; report their distances in exact f64 (for f64
             * stores this is a no-op up to summation order) */
            for (long i = 0; i < kk; i++)
                fin[i].d = wdist_SUF(vecs, x2w, d, metric, qc.q, q2w, qnw, fin[i].id);
            qsort(fin, (size_t)kk, sizeof(pair_t), pair_cmp);
        }
        long *oi = out_ids + (size_t)qi * k;
        double *od = out_d + (size_t)qi * k;
        for (int i = 0; i < k; i++) {
            if (i < kk) { oi[i] = fin[i].id; od[i] = fin[i].d; }
            else { oi[i] = -1; od[i] = HUGE_VAL; }
        }
    }
    /* scratch is thread-local and persistent — no frees here */
    return 0;
}

/*
 * Build-time candidate pools (hnsw_index.rs:398-442): for each chunk
 * node (a row of vecs), greedy-descend the levels above its own level,
 * then run an ef_construction beam at every level at-or-below it,
 * seeding each level with the previous level's best. Pools land in
 * (B x nlv x ef) out arrays in (dist, id) ascending order, -1/inf
 * padded; levels above a node's level stay untouched rows of -1.
 */
int hnsw_build_pools_SUF(
    const VT *vecs, const VT *x2, const VT *xn,
    long n, int d, int metric,
    const int **links, const int **counts, const int *caps, int nlv,
    long entry, int max_level,
    const long *node_ids, const int *node_levels, long B,
    int ef,
    long *out_ids, double *out_d)
{
    if (n <= 0 || entry < 0) return 0;
    int *visit = (int *)calloc((size_t)n, sizeof(int));
    pair_t *cand = (pair_t *)malloc(((size_t)n + 1) * sizeof(pair_t));
    pair_t *res = (pair_t *)malloc(((size_t)ef + 2) * sizeof(pair_t));
    if (!visit || !cand || !res) {
        free(visit); free(cand); free(res);
        return -1;
    }
    int epoch = 0;
    for (long b = 0; b < B; b++) {
        long u = node_ids[b];
        qctx_SUF qc = { vecs, x2, xn, d, metric,
                        vecs + (size_t)u * d, (double)x2[u],
                        xn ? (double)xn[u] : 0.0, 0, 0, 0, 0 };
        long cur = entry;
        double cur_d = qdist_SUF(&qc, cur);
        int lv = node_levels[b];
        for (int L = max_level; L > lv; L--)
            greedy_SUF(&qc, links[L], counts[L], caps[L], &cur, &cur_d);
        int top = lv < max_level ? lv : max_level;
        for (int L = top; L >= 0; L--) {
            if (++epoch == 0x7fffffff) { memset(visit, 0, (size_t)n * sizeof(int)); epoch = 1; }
            long nres = beam_SUF(&qc, links[L], counts[L], caps[L],
                                 cur, cur_d, ef, visit, epoch, cand, res);
            qsort(res, (size_t)nres, sizeof(pair_t), pair_cmp);
            long *oi = out_ids + ((size_t)b * nlv + L) * ef;
            double *od = out_d + ((size_t)b * nlv + L) * ef;
            for (int i = 0; i < ef; i++) {
                if (i < nres) { oi[i] = res[i].id; od[i] = res[i].d; }
                else { oi[i] = -1; od[i] = HUGE_VAL; }
            }
            if (nres > 0) { cur = res[0].id; cur_d = res[0].d; }
        }
    }
    free(visit); free(cand); free(res);
    return 0;
}

/*
 * Flat ADC scan (Flat+PQ rows of BASELINE.md): per query, ADC-score
 * every code row (pq_table.rs:239-301), keep the ef best in a bounded
 * max-heap, exact-re-rank those with full-precision l2sqr distances
 * (candidate_pair.rs pq_resort), emit top-k in (dist, id) order.
 */
int pq_flat_SUF(
    const VT *vecs, const VT *x2,
    long n, int d,
    const unsigned char *codes, const VT *lut, int m, int ksub,
    const VT *qs, const VT *q2s, long nq,
    int k, int ef,
    long *out_ids, double *out_d)
{
    pair_t *res = (pair_t *)malloc(((size_t)ef + 2) * sizeof(pair_t));
    pair_t *fin = (pair_t *)malloc(((size_t)ef + 2) * sizeof(pair_t));
    if (!res || !fin) { free(res); free(fin); return -1; }
    for (long qi = 0; qi < nq; qi++) {
        const VT *q = qs + (size_t)qi * d;
        double q2 = (double)q2s[qi];
        const VT *lut_q = lut + (size_t)qi * m * ksub;
        long nres = 0;
        for (long u = 0; u < n; u++) {
            double dv = adc_SUF(codes, lut_q, m, ksub, u);
            if (nres < ef) {
                pair_t p = { dv, u };
                heap_push(res, &nres, p, 1);
            } else if (dv < res[0].d) {
                pair_t p = { dv, u };
                heap_push(res, &nres, p, 1);
                heap_pop(res, &nres, 1);
            }
        }
        long nf = nres;
        for (long i = 0; i < nf; i++) {
            fin[i] = res[i];
            fin[i].d = dist_SUF(vecs, x2, 0, d, 0, q, q2, 0.0, fin[i].id);
        }
        qsort(fin, (size_t)nf, sizeof(pair_t), pair_cmp);
        long *oi = out_ids + (size_t)qi * k;
        double *od = out_d + (size_t)qi * k;
        for (int i = 0; i < k; i++) {
            if (i < nf) { oi[i] = fin[i].id; od[i] = fin[i].d; }
            else { oi[i] = -1; od[i] = HUGE_VAL; }
        }
    }
    free(res); free(fin);
    return 0;
}

/*
 * Block ADC scores (the IVF+PQ probed-cluster scan, index/ivfpq.py):
 * out[s][u] = sum over groups of lut[s] at codes[u] — the bare
 * lookup-sum for a (row-block × query-block) tile, no selection. The
 * LUT row is L1-resident (m * ksub entries), so this is the
 * memory-layout-optimal form of the scan the GEMM/one-hot expression
 * wastes 16x MACs on.
 */
int adc_block_SUF(
    const unsigned char *codes, long n, int m, int ksub,
    const VT *lut, const long *sel, long S,
    double *out)
{
    for (long s = 0; s < S; s++) {
        const VT *lut_q = lut + (size_t)(sel ? sel[s] : s) * m * ksub;
        double *o = out + (size_t)s * n;
        for (long u = 0; u < n; u++)
            o[u] = adc_SUF(codes, lut_q, m, ksub, u);
    }
    return 0;
}

/*
 * Block ADC + fused per-query top-k (index/pq.py::adc_tile, the PQ and
 * IVF+PQ scans and the IVF+PQ driver mirror): for each selected query,
 * score the tile, optionally round HALF-UP to 4 decimals
 * (floor(x*1e4+0.5)/1e4 — the exact operation np_round_half_up
 * performs), and keep the kk smallest by (score, id) with the bounded
 * max-heap of dense_topk. Everything the Python side would do per tile
 * under the GIL (round ufunc, 2-key lexsort, take_along_axis) happens
 * inside this one GIL-released call, so a thread pool actually scales.
 * Outputs are padded with id = row = -1 past the tile's row count.
 */
int adc_topk_SUF(
    const unsigned char *codes, const long *ids, long n, int m, int ksub,
    const VT *lut, const long *sel, long S,
    int kk, int do_round,
    long *out_id, long *out_row, double *out_d)
{
    trip_t *heap = (trip_t *)malloc((size_t)(kk > 0 ? kk : 1) * sizeof(trip_t));
    if (!heap) return 1;
    for (long s = 0; s < S; s++) {
        const VT *lut_q = lut + (size_t)(sel ? sel[s] : s) * m * ksub;
        long hs = 0;
        for (long u = 0; u < n; u++) {
            double v = adc_SUF(codes, lut_q, m, ksub, u);
            if (do_round) v = floor(v * 10000.0 + 0.5) / 10000.0;
            trip_t t = { v, ids[u], u };
            topk_offer(heap, &hs, kk, t);
        }
        topk_emit(heap, hs, kk, out_id + (size_t)s * kk,
                  out_row + (size_t)s * kk, out_d + (size_t)s * kk);
    }
    free(heap);
    return 0;
}

/*
 * ADC lookup-table build for the uniform-group l2sqr serving regime
 * (pq_table.rs:195-224): out[q][j][c] = ||q_j - C_{j,c}||^2 as the
 * direct sum of squared differences (>= 0 by construction, no clamp).
 * The numpy span builder spends more time in op dispatch and
 * temporaries than in its 15 MFLOP of arithmetic (m tiny GEMMs of
 * (q' x s)@(s x ksub), s ~ 3) and convoys on alloc/GIL when 32 spans
 * start at once; this loop is one GIL-released call per span.
 */
int adc_lut_SUF(
    const VT *qs, long nq, int d,
    const VT *cbs, int m, int ksub, int s,
    VT *out)
{
    (void)d;
    for (long qi = 0; qi < nq; qi++) {
        const VT *q = qs + (size_t)qi * m * s;
        VT *o = out + (size_t)qi * m * ksub;
        for (int j = 0; j < m; j++) {
            const VT *qj = q + (size_t)j * s;
            const VT *cj = cbs + (size_t)j * ksub * s;
            VT *oj = o + (size_t)j * ksub;
            for (int c = 0; c < ksub; c++) {
                const VT *cc = cj + (size_t)c * s;
                VT acc = 0;
                for (int t = 0; t < s; t++) {
                    VT diff = qj[t] - cc[t];
                    acc += diff * diff;
                }
                oj[c] = acc;
            }
        }
    }
    return 0;
}

/* ---- link phase (connect_new_links + arrange_links) ------------------
 * Every distance here accumulates in f64 (wdot), whatever VT is, so the
 * heuristic's comparisons match the numpy reference's f64 blocks
 * (hnsw._pairwise_block) up to summation-order ulps. A candidate's
 * "self term" is its self-dot (l2sqr) or norm (cosine), < 0 until
 * first needed. */
static inline double lself_SUF(const VT *vecs, int d, int metric, long u) {
    const VT *x = vecs + (size_t)u * d;
    double s = wdot_SUF(x, x, d);
    return metric == 0 ? s : sqrt(s);
}

/* d(a, b) from the self terms sa, sb: the _pairwise_block formulas */
static inline double ldist_SUF(const VT *vecs, int d, int metric,
                               long a, double sa, long b, double sb) {
    double ip = wdot_SUF(vecs + (size_t)a * d, vecs + (size_t)b * d, d);
    if (metric == 0) {
        double dd = sa + sb - 2.0 * ip;
        return dd > 0.0 ? dd : 0.0;
    }
    double denom = sa * sb;
    if (denom < 1e-10) denom = 1e-10;
    return 1.0 - ip / denom;
}

/* Diversity heuristic (candidate_pair.rs:85-99) over T candidates sorted
 * by (dist to the base node, id): v is kept iff no kept p has
 * d(v, p) < d(v, base), at most cap kept, non-finite entries skipped.
 * Pair distances are computed only when the scan needs them and the
 * inner loop stops at the first violation — no (T x T) block. Kept
 * entries are packed to the front of c in accept order; returns their
 * count. */
static long heur_core_SUF(const VT *vecs, int d, int metric,
                          lcand_t *c, long T, long cap) {
    long na = 0;
    for (long v = 0; v < T && na < cap; v++) {
        if (c[v].id < 0 || !isfinite(c[v].d)) continue;
        int ok = 1;
        for (long p = 0; p < na; p++) {
            if (c[v].s < 0.0) c[v].s = lself_SUF(vecs, d, metric, c[v].id);
            if (ldist_SUF(vecs, d, metric, c[v].id, c[v].s, c[p].id, c[p].s) < c[v].d) {
                ok = 0;
                break;
            }
        }
        if (ok) {
            if (c[v].s < 0.0) c[v].s = lself_SUF(vecs, d, metric, c[v].id);
            c[na++] = c[v];
        }
    }
    return na;
}

/* The heuristic alone over (R, T) rows sorted by (dist, id): sel_id /
 * sel_d (R, cap) get the kept entries in accept order, -1/inf padded
 * (the unit twin of hnsw._heuristic_select_batch). */
int heur_select_SUF(
    const VT *vecs, int d, int metric,
    const double *cd, const long *cid,   /* (R, T) row-major, sorted */
    long R, long T, long cap,
    long *sel_id, double *sel_d)          /* (R, cap), -1/inf padded */
{
    lcand_t *c = (lcand_t *)malloc((size_t)(T > 0 ? T : 1) * sizeof(lcand_t));
    if (!c) return 1;
    for (long r = 0; r < R; r++) {
        for (long v = 0; v < T; v++) {
            lcand_t x = { cd[r * T + v], cid[r * T + v], -1.0 };
            c[v] = x;
        }
        long na = heur_core_SUF(vecs, d, metric, c, T, cap);
        for (long j = 0; j < cap; j++) {
            sel_id[r * cap + j] = j < na ? c[j].id : -1;
            sel_d[r * cap + j] = j < na ? c[j].d : INFINITY;
        }
    }
    free(c);
    return 0;
}

/* Forward-link selection (connect_new_links, hnsw_index.rs:431-447) for
 * rows [s, e) of one level's chunk rows. Row r's candidates are its
 * build_pools pool (ascending by (dist, id), -1/inf padded) plus the
 * chunk peers before it at this level (nodes[0..r)) with exact
 * distances; the nearest `trim` by (dist, id) go through the heuristic
 * with at most `cap` kept. sel_id is the level's full (R, cap) output:
 * row r gets its kept ids in accept order, -1 padded, so concurrent
 * calls on disjoint spans share one buffer. */
int hnsw_link_select_SUF(
    const VT *vecs, int d, int metric,
    const long *nodes, long R,
    const long *pool_ids, const double *pool_d, long ef,   /* (R, ef) */
    long s, long e, long trim, long cap,
    long *sel_id)
{
    lcand_t *h = (lcand_t *)malloc((size_t)(trim > 0 ? trim : 1) * sizeof(lcand_t));
    double *ps = (double *)malloc((size_t)(e > 0 ? e : 1) * sizeof(double));
    if (!h || !ps) { free(h); free(ps); return 1; }
    for (long j = 0; j < e; j++) ps[j] = lself_SUF(vecs, d, metric, nodes[j]);
    for (long r = s; r < e; r++) {
        long hs = 0;
        /* the pool is sorted, so only its first `trim` can make the cut */
        for (long i = 0; i < ef && i < trim; i++) {
            long u = pool_ids[r * ef + i];
            double du = pool_d[r * ef + i];
            if (u < 0 || !isfinite(du)) continue;
            lcand_t x = { du, u, -1.0 };
            lheap_offer(h, &hs, trim, x);
        }
        for (long j = 0; j < r; j++) {
            lcand_t x = { ldist_SUF(vecs, d, metric, nodes[r], ps[r], nodes[j], ps[j]),
                          nodes[j], ps[j] };
            lheap_offer(h, &hs, trim, x);
        }
        qsort(h, (size_t)hs, sizeof(lcand_t), lcand_cmp);
        long na = heur_core_SUF(vecs, d, metric, h, hs, cap);
        for (long j = 0; j < cap; j++) sel_id[r * cap + j] = j < na ? h[j].id : -1;
    }
    free(h); free(ps);
    return 0;
}

/* The serial link apply of one level, in place on the live (n, cap)
 * link / (n,) count arrays: node r of `nodes` (chunk order) takes its
 * forward links sel_id[r] (accept order, -1 padded, m wide); then every
 * selected neighbor p takes the reverse links (arrange_links): appended
 * in insert order when old + additions fit `cap`, else the heuristic
 * over old ∪ additions sorted by (d(·, p), id), at most `cap` kept —
 * one shrink per neighbor per chunk. */
int hnsw_link_apply_SUF(
    const VT *vecs, int d, int metric,
    int *links, int *counts, long cap,
    const long *nodes, long R, const long *sel_id, long m)
{
    long E = 0;
    for (long r = 0; r < R; r++) {
        int *row = links + (size_t)nodes[r] * cap;
        long cnt = 0;
        for (long j = 0; j < m && j < cap; j++) {
            long u = sel_id[r * m + j];
            if (u < 0) break;
            row[cnt++] = (int)u;
        }
        for (long j = cnt; j < cap; j++) row[j] = -1;
        counts[nodes[r]] = (int)cnt;
        E += cnt;
    }
    ledge_t *ed = (ledge_t *)malloc((size_t)(E > 0 ? E : 1) * sizeof(ledge_t));
    lcand_t *c = (lcand_t *)malloc((size_t)(cap + R + 1) * sizeof(lcand_t));
    if (!ed || !c) { free(ed); free(c); return 1; }
    E = 0;
    for (long r = 0; r < R; r++)
        for (long j = 0; j < counts[nodes[r]]; j++) {
            ledge_t x = { links[(size_t)nodes[r] * cap + j], E, nodes[r] };
            ed[E++] = x;
        }
    qsort(ed, (size_t)E, sizeof(ledge_t), ledge_cmp);
    for (long a = 0, b; a < E; a = b) {
        long p = ed[a].p;
        for (b = a; b < E && ed[b].p == p; b++) ;
        int *row = links + (size_t)p * cap;
        long old = counts[p];
        if (old + (b - a) <= cap) {
            for (long t = a; t < b; t++) row[old + (t - a)] = (int)ed[t].node;
            counts[p] = (int)(old + (b - a));
            continue;
        }
        double sp = lself_SUF(vecs, d, metric, p);
        long T = 0;
        for (long t = 0; t < old + (b - a); t++) {
            long u = t < old ? row[t] : ed[a + t - old].node;
            double su = lself_SUF(vecs, d, metric, u);
            lcand_t x = { ldist_SUF(vecs, d, metric, u, su, p, sp), u, su };
            c[T++] = x;
        }
        qsort(c, (size_t)T, sizeof(lcand_t), lcand_cmp);
        long na = heur_core_SUF(vecs, d, metric, c, T, cap);
        for (long j = 0; j < cap; j++) row[j] = j < na ? (int)c[j].id : -1;
        counts[p] = (int)na;
    }
    free(ed); free(c);
    return 0;
}
"""


def _source() -> str:
    return (
        _C_COMMON
        + _C_IMPL.replace("ISFLOAT32", "1").replace("VT", "float").replace("SUF", "f32")
        + _C_IMPL.replace("ISFLOAT32", "0").replace("VT", "double").replace("SUF", "f64")
    )


_lock = threading.Lock()
_lib: ctypes.CDLL | None = None
_tried = False


def _load_validated(path: str) -> ctypes.CDLL | None:
    """dlopen + export check: a cache artifact with missing symbols
    (raced writer, interrupted build, disk-full tail) must read as
    'no kernel', never crash a later binder."""
    try:
        lib = ctypes.CDLL(path)
    except OSError:
        return None
    if (hasattr(lib, "hnsw_search_f64") and hasattr(lib, "hnsw_link_apply_f64")
            and hasattr(lib, "dense_topk") and hasattr(lib, "kmeans_step")):
        return lib
    return None


def _compile() -> ctypes.CDLL | None:
    src = _source()
    tag = hashlib.sha256(src.encode()).hexdigest()[:16]
    so_path = os.path.join(tempfile.gettempdir(), f"spark_graft_hnsw_{tag}.so")
    if os.path.exists(so_path):
        lib = _load_validated(so_path)
        if lib is not None:
            return lib
        # broken cached artifact — drop it and recompile below
        try:
            os.unlink(so_path)
        except OSError:
            pass
    # ALL scratch paths are pid-unique. The .c in particular must never
    # be shared: 32 executor workers hit first-use together, and a
    # worker re-truncating a shared .c while another's cc reads it
    # compiles an EMPTY/partial file into a symbol-less .so that then
    # atomically replaces the good one (observed in round 12: a 14 KB
    # zero-export .so in the cache crashed every later binder). The
    # fresh build is also LOADED from the pid-unique path — dlopen
    # caches by pathname, so re-loading so_path in a process that
    # already mapped the broken artifact would return the stale handle.
    cfile = so_path + f".{os.getpid()}.c"
    tmp_so = so_path + f".{os.getpid()}"
    cmd = ["cc", "-O3", "-march=native", "-shared", "-fPIC",
           "-o", tmp_so, cfile, "-lm"]
    try:
        with open(cfile, "w") as f:
            f.write(src)
        subprocess.run(cmd, check=True, capture_output=True, timeout=120)
        lib = _load_validated(tmp_so)
        if lib is not None:
            # publish for other processes; the rename keeps the inode
            # this process has mapped, so the handle stays valid.
            # Publishing is best-effort: a failed replace (cross-device
            # tmp, permission race) must not discard a validated build —
            # this process keeps its mapped handle either way
            try:
                os.replace(tmp_so, so_path)
            except OSError:
                pass
        return lib
    except (subprocess.SubprocessError, OSError):
        return None
    finally:
        for p in (cfile, tmp_so):
            try:
                os.unlink(p)
            except OSError:
                pass


_PP = ctypes.POINTER(ctypes.POINTER(ctypes.c_int))


def _bind(lib: ctypes.CDLL) -> None:
    for suf, vt in (("f32", ctypes.c_float), ("f64", ctypes.c_double)):
        vp = ctypes.POINTER(vt)
        ip = ctypes.POINTER(ctypes.c_int)
        lp = ctypes.POINTER(ctypes.c_long)
        dp = ctypes.POINTER(ctypes.c_double)
        fn = getattr(lib, f"hnsw_search_{suf}")
        fn.argtypes = [
            vp, vp, vp, dp,                               # vecs, x2, xn, x2w
            ctypes.c_long, ctypes.c_int, ctypes.c_int,    # n, d, metric
            _PP, _PP, ip, ctypes.c_int,                   # links, counts, caps, nlv
            ctypes.c_long, ctypes.c_int,                  # entry, max_level
            vp, vp, vp, ctypes.c_long,                    # qs, q2s, qns, nq
            ctypes.c_int, ctypes.c_int,                   # k, ef
            ctypes.c_char_p, vp, ctypes.c_int, ctypes.c_int,  # codes, lut, m, ksub
            lp, dp,
        ]
        fn.restype = ctypes.c_int
        bp = getattr(lib, f"hnsw_build_pools_{suf}")
        bp.argtypes = [
            vp, vp, vp,
            ctypes.c_long, ctypes.c_int, ctypes.c_int,
            _PP, _PP, ip, ctypes.c_int,
            ctypes.c_long, ctypes.c_int,
            lp, ip, ctypes.c_long,                        # node_ids, node_levels, B
            ctypes.c_int,                                 # ef
            lp, dp,
        ]
        bp.restype = ctypes.c_int
        pf = getattr(lib, f"pq_flat_{suf}")
        pf.argtypes = [
            vp, vp,                                       # vecs, x2
            ctypes.c_long, ctypes.c_int,                  # n, d
            ctypes.c_char_p, vp, ctypes.c_int, ctypes.c_int,  # codes, lut, m, ksub
            vp, vp, ctypes.c_long,                        # qs, q2s, nq
            ctypes.c_int, ctypes.c_int,                   # k, ef
            lp, dp,
        ]
        pf.restype = ctypes.c_int
        ab = getattr(lib, f"adc_block_{suf}")
        ab.argtypes = [
            ctypes.c_char_p, ctypes.c_long, ctypes.c_int, ctypes.c_int,  # codes, n, m, ksub
            vp, lp, ctypes.c_long,                                       # lut, sel, S
            dp,
        ]
        ab.restype = ctypes.c_int
        at = getattr(lib, f"adc_topk_{suf}")
        at.argtypes = [
            ctypes.c_char_p, lp, ctypes.c_long, ctypes.c_int, ctypes.c_int,  # codes, ids, n, m, ksub
            vp, lp, ctypes.c_long,                                           # lut, sel, S
            ctypes.c_int, ctypes.c_int,                                      # kk, do_round
            lp, lp, dp,                                                      # out_id, out_row, out_d
        ]
        at.restype = ctypes.c_int
        al = getattr(lib, f"adc_lut_{suf}")
        al.argtypes = [
            vp, ctypes.c_long, ctypes.c_int,              # qs, nq, d
            vp, ctypes.c_int, ctypes.c_int, ctypes.c_int,  # cbs, m, ksub, s
            vp,                                           # out
        ]
        al.restype = ctypes.c_int
        hs = getattr(lib, f"heur_select_{suf}")
        hs.argtypes = [
            vp, ctypes.c_int, ctypes.c_int,               # vecs, d, metric
            dp, lp,                                       # cd, cid
            ctypes.c_long, ctypes.c_long, ctypes.c_long,  # R, T, cap
            lp, dp,                                       # sel_id, sel_d
        ]
        hs.restype = ctypes.c_int
        ls = getattr(lib, f"hnsw_link_select_{suf}")
        ls.argtypes = [
            vp, ctypes.c_int, ctypes.c_int,               # vecs, d, metric
            lp, ctypes.c_long,                            # nodes, R
            lp, dp, ctypes.c_long,                        # pool_ids, pool_d, ef
            ctypes.c_long, ctypes.c_long,                 # s, e
            ctypes.c_long, ctypes.c_long,                 # trim, cap
            lp,                                           # sel_id
        ]
        ls.restype = ctypes.c_int
        la = getattr(lib, f"hnsw_link_apply_{suf}")
        la.argtypes = [
            vp, ctypes.c_int, ctypes.c_int,               # vecs, d, metric
            ip, ip, ctypes.c_long,                        # links, counts, cap
            lp, ctypes.c_long, lp, ctypes.c_long,         # nodes, R, sel_id, m
        ]
        la.restype = ctypes.c_int
    dt = lib.dense_topk
    lp = ctypes.POINTER(ctypes.c_long)
    dp = ctypes.POINTER(ctypes.c_double)
    dt.argtypes = [
        dp, ctypes.c_long, ctypes.c_long,      # dt, sq, su
        lp, ctypes.c_long,                     # ids, ids_stride
        ctypes.c_long, ctypes.c_long,          # n, S
        ctypes.c_int, ctypes.c_int,            # kk, do_round
        lp, lp, dp,                            # out_id, out_row, out_d
    ]
    dt.restype = ctypes.c_int
    vp = ctypes.c_void_p  # the k-means calls take raw buffer addresses
    lib.kmeans_step.argtypes = [
        vp, ctypes.c_long, ctypes.c_int, ctypes.c_long,  # x, n, d, st
        vp, vp, vp, ctypes.c_int,                        # ip, xs, cs, metric
        ctypes.c_int, ctypes.c_long, vp,                 # k, bufsize, cent
    ]
    lib.kmeans_pp_step.argtypes = [
        vp, ctypes.c_long, vp, ctypes.c_double,          # ip, n, xs, cs
        ctypes.c_int, ctypes.c_int, vp, vp,              # metric, first, min_d, w
    ]
    lib.kmeans_exceeds_distinct.argtypes = [
        vp, ctypes.c_long, ctypes.c_int, ctypes.c_long,  # x, n, d, st
        ctypes.c_long, vp,                               # k, rep
    ]
    for fn in (lib.kmeans_step, lib.kmeans_pp_step, lib.kmeans_exceeds_distinct):
        fn.restype = ctypes.c_int


def get_lib() -> ctypes.CDLL | None:
    global _lib, _tried
    if _lib is not None:
        return _lib
    if _tried or os.environ.get("SPARK_GRAFT_NO_CKERNEL") == "1":
        return _lib
    with _lock:
        if _lib is None and not _tried:
            lib = _compile()
            if lib is not None:
                try:
                    _bind(lib)
                except (AttributeError, OSError):
                    # cache artifact with missing exports that slipped
                    # past _compile's validation — compiled kernels are
                    # optional everywhere, so fall back, don't crash
                    lib = None
            _lib = lib
            _tried = True
    return _lib


def available() -> bool:
    return get_lib() is not None


def _ptr(a: np.ndarray | None, ctype):
    if a is None:
        return None
    return a.ctypes.data_as(ctypes.POINTER(ctype))


def level_ptrs(arrays: list[np.ndarray]):
    """Per-level int32 array pointers for the zero-copy graph access.
    Arrays must be C-contiguous (they are by construction; asserted) —
    the kernel reads them live, so no copies may be introduced here."""
    for a in arrays:
        assert a.dtype == np.int32 and a.flags["C_CONTIGUOUS"]
    ptrs = (ctypes.POINTER(ctypes.c_int) * len(arrays))(
        *[a.ctypes.data_as(ctypes.POINTER(ctypes.c_int)) for a in arrays]
    )
    return ptrs


class SearchCtx:
    """Prepared serve context for one (graph, vectors) snapshot: the
    query-independent ctypes argument prefix (data/graph pointers,
    caps, entry) is built once; each search only marshals the query
    block and output buffers. This is what makes single-query
    point-serve latency kernel-bound instead of wrapper-bound."""

    def __init__(
        self,
        vecs: np.ndarray,
        x2: np.ndarray,
        xn: np.ndarray | None,
        links: list[np.ndarray],
        counts: list[np.ndarray],
        entry: int,
        max_level: int,
        metric: str,
        x2w: np.ndarray | None = None,
    ) -> None:
        lib = get_lib()
        assert lib is not None
        f32 = vecs.dtype == np.float32
        self.dtype = vecs.dtype
        self._vt = ctypes.c_float if f32 else ctypes.c_double
        self._fn = getattr(lib, "hnsw_search_f32" if f32 else "hnsw_search_f64")
        self.metric = metric
        self._mnum = 0 if metric == "l2sqr" else 1
        caps = np.asarray([a.shape[1] for a in links], dtype=np.int32)
        # f64-exact per-node self-dots for the kernel's widened
        # finalization; derived from x2 when the store is already f64
        if x2w is None:
            x2w = (
                np.ascontiguousarray(x2, dtype=np.float64)
                if vecs.dtype == np.float64
                else np.einsum(
                    "ij,ij->i", vecs.astype(np.float64), vecs.astype(np.float64)
                )
            )
        x2w = np.ascontiguousarray(x2w, dtype=np.float64)
        # keep every array referenced for the pointers' lifetime
        self._keep = (vecs, x2, xn, x2w, list(links), list(counts), caps)
        self._head = (
            _ptr(vecs, self._vt), _ptr(x2, self._vt), _ptr(xn, self._vt),
            _ptr(x2w, ctypes.c_double),
            vecs.shape[0], vecs.shape[1], self._mnum,
            level_ptrs(links), level_ptrs(counts),
            _ptr(caps, ctypes.c_int), len(links),
            int(entry), int(max_level),
        )
        self._one: tuple | None = None  # single-query staging (lazy)

    def search(
        self,
        qs: np.ndarray,
        k: int,
        ef: int,
        codes: np.ndarray | None = None,
        lut: np.ndarray | None = None,
    ) -> tuple[np.ndarray, np.ndarray]:
        nq = qs.shape[0]
        q2s = np.einsum("ij,ij->i", qs, qs).astype(self.dtype, copy=False)
        qns = np.sqrt(q2s) if self._mnum == 1 else None
        out_ids = np.empty((nq, k), dtype=np.int64)
        out_d = np.empty((nq, k), dtype=np.float64)
        m = ksub = 0
        codes_p = lut_p = None
        if codes is not None and lut is not None:
            m = codes.shape[1]
            ksub = lut.shape[2]
            codes_p = codes.ctypes.data_as(ctypes.c_char_p)
            lut_p = _ptr(lut, self._vt)
        rc = self._fn(
            *self._head,
            _ptr(qs, self._vt), _ptr(q2s, self._vt), _ptr(qns, self._vt), nq,
            int(k), int(ef),
            codes_p, lut_p, m, ksub,
            _ptr(out_ids, ctypes.c_long), _ptr(out_d, ctypes.c_double),
        )
        if rc != 0:
            raise MemoryError("hnsw C kernel allocation failure")
        return out_ids, out_d

    def search1(
        self, q: np.ndarray, k: int, ef: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Single-query point-serve fast path (no ADC): the whole
        ctypes argument tuple — including query/self-dot/output buffer
        pointers — is assembled ONCE per (k, ef) and reused; each call
        only copies the 1×d query into the staging buffer and fires
        the foreign call. NOT thread-safe (per-ctx staging buffers);
        the threaded batch fan-out calls :meth:`search`, which stages
        nothing on the ctx.
        Returns views into the reused output buffers — callers must
        consume or copy before the next call."""
        d = q.shape[-1]
        st = self._one
        if st is None or st[0] != (k, ef, d):
            qbuf = np.empty((1, d), dtype=self.dtype)
            q2 = np.empty(1, dtype=self.dtype)
            qn = np.empty(1, dtype=self.dtype) if self._mnum == 1 else None
            oi = np.empty((1, k), dtype=np.int64)
            od = np.empty((1, k), dtype=np.float64)
            args = (
                *self._head,
                _ptr(qbuf, self._vt), _ptr(q2, self._vt), _ptr(qn, self._vt), 1,
                int(k), int(ef),
                None, None, 0, 0,
                _ptr(oi, ctypes.c_long), _ptr(od, ctypes.c_double),
            )
            st = ((k, ef, d), qbuf, q2, qn, oi, od, args)
            self._one = st
        _, qbuf, q2, qn, oi, od, args = st
        np.copyto(qbuf[0], q, casting="same_kind")
        s = float(qbuf[0] @ qbuf[0])
        q2[0] = s
        if qn is not None:
            qn[0] = s ** 0.5
        rc = self._fn(*args)
        if rc != 0:
            raise MemoryError("hnsw C kernel allocation failure")
        return oi[0], od[0]


def build_pools(
    vecs: np.ndarray,
    x2: np.ndarray,
    xn: np.ndarray | None,
    links: list[np.ndarray],
    counts: list[np.ndarray],
    entry: int,
    max_level: int,
    metric: str,
    node_ids: np.ndarray,     # (B,) int64 — chunk nodes (rows of vecs)
    node_levels: np.ndarray,  # (B,) int32
    ef: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Build-phase candidate pools over the LIVE graph: returns
    (ids (B × nlv × ef) int64, dists (B × nlv × ef) float64), rows
    for levels above a node's level filled with -1/inf."""
    lib = get_lib()
    assert lib is not None
    vt = ctypes.c_float if vecs.dtype == np.float32 else ctypes.c_double
    fn = getattr(
        lib, "hnsw_build_pools_f32" if vecs.dtype == np.float32 else "hnsw_build_pools_f64")
    n, d = vecs.shape
    B = node_ids.shape[0]
    nlv = len(links)
    mnum = 0 if metric == "l2sqr" else 1
    caps = np.asarray([a.shape[1] for a in links], dtype=np.int32)
    out_ids = np.full((B, nlv, ef), -1, dtype=np.int64)
    out_d = np.full((B, nlv, ef), np.inf, dtype=np.float64)
    node_ids = np.ascontiguousarray(node_ids, dtype=np.int64)
    node_levels = np.ascontiguousarray(node_levels, dtype=np.int32)
    rc = fn(
        _ptr(vecs, vt), _ptr(x2, vt), _ptr(xn, vt),
        n, d, mnum,
        level_ptrs(links), level_ptrs(counts), _ptr(caps, ctypes.c_int), nlv,
        int(entry), int(max_level),
        _ptr(node_ids, ctypes.c_long), _ptr(node_levels, ctypes.c_int), B,
        int(ef),
        _ptr(out_ids, ctypes.c_long), _ptr(out_d, ctypes.c_double),
    )
    if rc != 0:
        raise MemoryError("hnsw build-pools C kernel allocation failure")
    return out_ids, out_d


def adc_block(codes: np.ndarray, lut: np.ndarray, sel: np.ndarray | None = None) -> np.ndarray:
    """Compiled block ADC: codes (n × m) uint8 (unpacked), lut
    (Q × m × ksub) f32/f64 contiguous, optional ``sel`` (S,) int64
    picking query rows of ``lut`` → (S × n) float64 lookup-sums.
    Caller handles cosine normalization and masking."""
    lib = get_lib()
    assert lib is not None
    n, m = codes.shape
    _, m2, ksub = lut.shape
    S = lut.shape[0] if sel is None else sel.shape[0]
    assert m2 == m and codes.flags["C_CONTIGUOUS"] and lut.flags["C_CONTIGUOUS"]
    if sel is not None:
        sel = np.ascontiguousarray(sel, dtype=np.int64)
    vt = ctypes.c_float if lut.dtype == np.float32 else ctypes.c_double
    fn = getattr(lib, "adc_block_f32" if lut.dtype == np.float32 else "adc_block_f64")
    out = np.empty((S, n), dtype=np.float64)
    rc = fn(
        codes.ctypes.data_as(ctypes.c_char_p), n, m, ksub,
        _ptr(lut, vt),
        None if sel is None else _ptr(sel, ctypes.c_long),
        S,
        _ptr(out, ctypes.c_double),
    )
    assert rc == 0
    return out


def adc_topk(
    codes: np.ndarray,
    ids: np.ndarray,
    lut: np.ndarray,
    sel: np.ndarray | None,
    kk: int,
    do_round: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fused tile kernel: ADC lookup-sums (4-dp half-up rounded with
    ``do_round``) + per-query top-``kk`` by (score, id) — one
    GIL-released call. ``codes`` (n × m) uint8 unpacked, ``ids`` (n,)
    int64 (tie-break ids), ``lut`` (Q × m × ksub) f32/f64 contiguous,
    ``sel`` (S,) int64 query rows. Returns (ids, tile_rows, d), each
    (S × kk), padded with -1 / inf past the tile's row count.
    l2sqr-shaped sums only (cosine needs the normalization pass —
    callers use adc_block there)."""
    lib = get_lib()
    assert lib is not None
    n, m = codes.shape
    _, m2, ksub = lut.shape
    S = lut.shape[0] if sel is None else sel.shape[0]
    assert m2 == m and codes.flags["C_CONTIGUOUS"] and lut.flags["C_CONTIGUOUS"]
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    if sel is not None:
        sel = np.ascontiguousarray(sel, dtype=np.int64)
    vt = ctypes.c_float if lut.dtype == np.float32 else ctypes.c_double
    fn = getattr(lib, "adc_topk_f32" if lut.dtype == np.float32 else "adc_topk_f64")
    out_id = np.empty((S, kk), dtype=np.int64)
    out_row = np.empty((S, kk), dtype=np.int64)
    out_d = np.empty((S, kk), dtype=np.float64)
    rc = fn(
        codes.ctypes.data_as(ctypes.c_char_p),
        _ptr(ids, ctypes.c_long), n, m, ksub,
        _ptr(lut, vt),
        None if sel is None else _ptr(sel, ctypes.c_long),
        S, int(kk), 1 if do_round else 0,
        _ptr(out_id, ctypes.c_long), _ptr(out_row, ctypes.c_long),
        _ptr(out_d, ctypes.c_double),
    )
    assert rc == 0
    return out_id, out_row, out_d


def pq_flat(
    vecs: np.ndarray,   # (n, d) contiguous f32/f64 — exact re-rank base
    x2: np.ndarray,     # (n,) self-dots, same dtype
    codes: np.ndarray,  # (n, m) uint8 unpacked codes
    lut: np.ndarray,    # (nq, m, ksub), same dtype as vecs
    qs: np.ndarray,     # (nq, d) contiguous, same dtype
    k: int,
    ef: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Compiled Flat+PQ search (l2sqr): full ADC scan → top-ef →
    exact re-rank → top-k. Returns (ids (nq × k), dists (nq × k))."""
    lib = get_lib()
    assert lib is not None
    vt = ctypes.c_float if vecs.dtype == np.float32 else ctypes.c_double
    fn = getattr(lib, "pq_flat_f32" if vecs.dtype == np.float32 else "pq_flat_f64")
    n, d = vecs.shape
    nq = qs.shape[0]
    m = codes.shape[1]
    ksub = lut.shape[2]
    q2s = np.einsum("ij,ij->i", qs, qs).astype(vecs.dtype)
    out_ids = np.empty((nq, k), dtype=np.int64)
    out_d = np.empty((nq, k), dtype=np.float64)
    rc = fn(
        _ptr(vecs, vt), _ptr(x2, vt), n, d,
        codes.ctypes.data_as(ctypes.c_char_p), _ptr(lut, vt), m, ksub,
        _ptr(qs, vt), _ptr(q2s, vt), nq,
        int(k), min(int(ef), int(n)),
        _ptr(out_ids, ctypes.c_long), _ptr(out_d, ctypes.c_double),
    )
    if rc != 0:
        raise MemoryError("pq flat C kernel allocation failure")
    return out_ids, out_d


def dense_topk(
    dt: np.ndarray,
    ids: np.ndarray,
    kk: int,
    do_round: bool,
    queries_axis: int = 0,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Compiled per-query top-``kk`` over a dense f64 distance tile by
    (optionally 4-dp-rounded, id) — the exact kept set and order of
    ``np_round_half_up`` + ``np.lexsort((ids, d))[:kk]``, NaN last, one
    GIL-released call. ``dt`` is (S × n) with ``queries_axis=0`` or the
    scan GEMM's natural (n × S) with ``queries_axis=1`` — the kernel
    strides over either layout, so no transpose copy is ever paid.
    ``ids`` is (n,) shared across queries or (S × n) per query.
    Returns (ids, d, rows) each (S × kk): the kept ids, distances and
    tile rows, padded -1 / inf / -1 past the tile's row count."""
    lib = get_lib()
    assert lib is not None
    if dt.dtype != np.float64:
        dt = dt.astype(np.float64)
    if queries_axis == 0:
        dt = np.ascontiguousarray(dt)
        S, n = dt.shape
        sq, su = n, 1
    else:
        dt = dt if dt.flags["C_CONTIGUOUS"] else np.ascontiguousarray(dt)
        n, S = dt.shape
        sq, su = 1, S
    ids = np.ascontiguousarray(ids, dtype=np.int64)
    stride = 0 if ids.ndim == 1 else n
    out_id = np.empty((S, kk), dtype=np.int64)
    out_row = np.empty((S, kk), dtype=np.int64)
    out_d = np.empty((S, kk), dtype=np.float64)
    rc = lib.dense_topk(
        _ptr(dt, ctypes.c_double), sq, su,
        _ptr(ids, ctypes.c_long), stride,
        n, S, int(kk), 1 if do_round else 0,
        _ptr(out_id, ctypes.c_long), _ptr(out_row, ctypes.c_long),
        _ptr(out_d, ctypes.c_double),
    )
    assert rc == 0
    return out_id, out_d, out_row


def adc_lut(qspan: np.ndarray, cbs: np.ndarray) -> np.ndarray:
    """Uniform-group l2sqr ADC LUT for a query span: ``(q', m, 2^b)``
    sub-distance tensor from a prepped contiguous ``(m, ksub, s)``
    codebook tensor. One GIL-released C call — the thread-pool serve
    path builds its per-span LUT here with zero numpy temporaries.
    Caller guarantees: kernel available, ``qspan`` 2-D with
    ``d == m*s``, both operands the same f32/f64 dtype."""
    lib = get_lib()
    assert lib is not None
    m, ksub, s = cbs.shape
    vt = ctypes.c_float if cbs.dtype == np.float32 else ctypes.c_double
    fn = getattr(lib, "adc_lut_f32" if cbs.dtype == np.float32 else "adc_lut_f64")
    qs = np.ascontiguousarray(qspan, dtype=cbs.dtype)
    nq, d = qs.shape
    out = np.empty((nq, m, ksub), dtype=cbs.dtype)
    rc = fn(_ptr(qs, vt), nq, d, _ptr(cbs, vt), m, ksub, s, _ptr(out, vt))
    if rc != 0:
        raise MemoryError("adc lut C kernel failure")
    return out


def heur_select(cd: np.ndarray, cid: np.ndarray, vecs: np.ndarray,
                metric: str, cap: int) -> tuple[np.ndarray, np.ndarray]:
    """Diversity heuristic over (R, T) candidate rows sorted by (dist,
    id) — the C twin of hnsw._heuristic_select_batch with lazy f64 pair
    distances and early exit (no (R, T, T) distance block, no
    (R, T, d) gather), the core of :func:`link_select`. Returns
    (sel_id, sel_d) as (R, cap) arrays padded with -1/inf, packed in
    accept order."""
    vt, fn = _link_fn("heur_select", vecs, metric)
    cd64 = np.ascontiguousarray(cd, dtype=np.float64)
    cid64 = np.ascontiguousarray(cid, dtype=np.int64)
    R, T = cd64.shape
    sel_id = np.empty((R, int(cap)), dtype=np.int64)
    sel_d = np.empty((R, int(cap)), dtype=np.float64)
    rc = fn(_ptr(vecs, vt), vecs.shape[1], _KM_METRIC[metric],
            _ptr(cd64, ctypes.c_double), _ptr(cid64, ctypes.c_long),
            R, T, int(cap),
            _ptr(sel_id, ctypes.c_long), _ptr(sel_d, ctypes.c_double))
    if rc != 0:
        raise MemoryError("heur_select C kernel allocation failure")
    return sel_id, sel_d


def _link_fn(name: str, vecs: np.ndarray, metric: str):
    """(ctypes element type, bound ``{name}_f32|f64``) for the link-phase
    kernels, after checking what they read through raw pointers."""
    lib = get_lib()
    if lib is None:
        raise RuntimeError("compiled kernel unavailable")
    if (vecs.ndim != 2 or vecs.dtype not in (np.float32, np.float64)
            or not vecs.flags["C_CONTIGUOUS"]):
        raise ValueError("vecs must be a C-contiguous 2-D f32/f64 matrix")
    if metric not in _KM_METRIC:
        raise ValueError(f"unsupported metric {metric!r}")
    if vecs.dtype == np.float32:
        return ctypes.c_float, getattr(lib, f"{name}_f32")
    return ctypes.c_double, getattr(lib, f"{name}_f64")


def link_select(vecs: np.ndarray, metric: str, nodes: np.ndarray,
                pool_ids: np.ndarray, pool_d: np.ndarray, span: tuple[int, int],
                trim: int, sel_id: np.ndarray) -> None:
    """Forward-link selection of one level's chunk rows ``span`` = [s, e)
    into ``sel_id`` (R, cap), in place (hnsw_index.rs:431-447): row r
    merges its ``(pool_ids, pool_d)`` pool (R, ef), ascending by (dist,
    id), with the chunk peers ``nodes[:r]`` at exact distances, keeps
    the nearest ``trim`` by (dist, id), and runs the diversity
    heuristic; the kept ids land in accept order, -1 padded. Calls on
    disjoint spans may share ``sel_id`` from threads (GIL released)."""
    vt, fn = _link_fn("hnsw_link_select", vecs, metric)
    nodes = np.ascontiguousarray(nodes, dtype=np.int64)
    pool_ids = np.ascontiguousarray(pool_ids, dtype=np.int64)
    pool_d = np.ascontiguousarray(pool_d, dtype=np.float64)
    R = nodes.shape[0]
    s, e = int(span[0]), int(span[1])
    if (pool_ids.shape != pool_d.shape or pool_ids.ndim != 2
            or pool_ids.shape[0] != R or not 0 <= s <= e <= R):
        raise ValueError("link_select: pool / span shapes do not match the rows")
    if (sel_id.dtype != np.int64 or sel_id.ndim != 2 or sel_id.shape[0] != R
            or not sel_id.flags["C_CONTIGUOUS"] or not sel_id.flags["WRITEABLE"]):
        raise ValueError("sel_id must be a writeable C-contiguous (R, cap) int64 array")
    if (nodes.size and not 0 <= nodes.min() <= nodes.max() < vecs.shape[0]) or (
            pool_ids.size and pool_ids.max() >= vecs.shape[0]):
        raise ValueError("link_select: node id out of range")
    rc = fn(_ptr(vecs, vt), vecs.shape[1], _KM_METRIC[metric],
            _ptr(nodes, ctypes.c_long), R,
            _ptr(pool_ids, ctypes.c_long), _ptr(pool_d, ctypes.c_double),
            pool_ids.shape[1], s, e, int(trim), sel_id.shape[1],
            _ptr(sel_id, ctypes.c_long))
    if rc != 0:
        raise MemoryError("link_select C kernel allocation failure")


def link_apply(vecs: np.ndarray, metric: str, links: np.ndarray,
               counts: np.ndarray, nodes: np.ndarray, sel_id: np.ndarray) -> None:
    """Serial link apply of one level, in place on the live graph arrays
    ``links`` (n, cap) / ``counts`` (n,): ``nodes`` (chunk order) take
    their forward links ``sel_id`` (R, m), then each selected neighbor
    takes the reverse links — appended when they fit, else one
    heuristic shrink over old ∪ additions (arrange_links)."""
    vt, fn = _link_fn("hnsw_link_apply", vecs, metric)
    for a in (links, counts):
        if (a.dtype != np.int32 or not a.flags["C_CONTIGUOUS"]
                or not a.flags["WRITEABLE"]):
            raise ValueError("links/counts must be writeable C-contiguous int32 arrays")
    nodes = np.ascontiguousarray(nodes, dtype=np.int64)
    sel_id = np.ascontiguousarray(sel_id, dtype=np.int64)
    n = vecs.shape[0]
    if links.ndim != 2 or links.shape[0] != n or counts.shape != (n,):
        raise ValueError("links/counts do not cover the vector rows")
    if sel_id.ndim != 2 or sel_id.shape[0] != nodes.shape[0]:
        raise ValueError("link_apply: one selection row per node")
    if nodes.size and not 0 <= nodes.min() <= nodes.max() < n:
        raise ValueError("link_apply: node id out of range")
    if sel_id.size and sel_id.max() >= n:
        raise ValueError("link_apply: neighbor id out of range")
    rc = fn(_ptr(vecs, vt), vecs.shape[1], _KM_METRIC[metric],
            _ptr(links, ctypes.c_int), _ptr(counts, ctypes.c_int), links.shape[1],
            _ptr(nodes, ctypes.c_long), nodes.shape[0],
            _ptr(sel_id, ctypes.c_long), sel_id.shape[1])
    if rc != 0:
        raise MemoryError("link_apply C kernel allocation failure")


# ---- k-means (index/kmeans.py::fit_kmeans) ---------------------------------

_KM_METRIC = {"l2sqr": 0, "cosine": 1}


def _f64_rows(x: np.ndarray) -> tuple[np.ndarray, int]:
    """``x`` as a 2-D f64 block with contiguous rows, and its row stride
    in values: a column slice of a wider block (a PQ group) passes as
    is."""
    if x.ndim != 2:
        raise ValueError(f"expected a 2-D block, got shape {x.shape}")
    if x.dtype != np.float64 or x.strides[1] != 8 or x.strides[0] % 8:
        x = np.ascontiguousarray(x, dtype=np.float64)
    return x, x.strides[0] // 8


def _f64_buf(a: np.ndarray, shape: tuple[int, ...], out: bool = False) -> np.ndarray:
    """``a`` as a C-contiguous f64 buffer of ``shape``; an ``out``
    buffer the kernel writes must already be one."""
    if out and (a.dtype != np.float64 or not a.flags["C_CONTIGUOUS"]
                or not a.flags["WRITEABLE"]):
        raise ValueError("output buffer must be a writeable C-contiguous f64 array")
    a = np.ascontiguousarray(a, dtype=np.float64)
    if a.shape != shape:
        raise ValueError(f"expected shape {shape}, got {a.shape}")
    return a


def kmeans_step(x: np.ndarray, ip: np.ndarray, xs: np.ndarray, cs: np.ndarray,
                metric: str, centroids: np.ndarray) -> np.ndarray:
    """One Lloyd step in one GIL-released call. Each row of ``x`` goes
    to its nearest centroid by the ``kmeans._pairwise_dist`` formulas
    over its (n × k) inner products ``ip`` and the self terms ``xs`` /
    ``cs`` (self-dots for l2sqr, norms for cosine), the first minimum
    winning as with ``np.argmin``. Returns a new (k × d) array whose row
    c is the mean of the rows labelled c, bit for bit
    ``x[labels == c].mean(axis=0)``, or ``centroids[c]`` when none is."""
    lib = get_lib()
    assert lib is not None
    x, st = _f64_rows(x)
    n, d = x.shape
    cent = np.array(centroids, dtype=np.float64, order="C")
    k = cent.shape[0]
    if cent.shape != (k, d) or k < 1:
        raise ValueError(f"centroids of shape {cent.shape} for {d}-dim rows")
    ip = _f64_buf(ip, (n, k))
    xs, cs = _f64_buf(xs, (n,)), _f64_buf(cs, (k,))
    rc = lib.kmeans_step(x.ctypes.data, n, d, st, ip.ctypes.data,
                         xs.ctypes.data, cs.ctypes.data, _KM_METRIC[metric],
                         k, np.getbufsize(), cent.ctypes.data)
    if rc != 0:
        raise MemoryError("kmeans_step C kernel allocation failure")
    return cent


def kmeans_pp_step(ip: np.ndarray, xs: np.ndarray, cs: float, metric: str,
                   min_d: np.ndarray, w: np.ndarray, first: bool) -> None:
    """One k-means++ seeding step in place: fold a new centroid's
    distances (``ip`` its (n,) inner products, ``cs`` its self term)
    into ``min_d`` as ``np.minimum`` does (``first`` starts it), and
    write the draw weights ``max(min_d, 0)`` into ``w``."""
    lib = get_lib()
    assert lib is not None
    n = xs.shape[0]
    ip = _f64_buf(np.reshape(ip, -1), (n,))
    xs = _f64_buf(xs, (n,))
    min_d, w = _f64_buf(min_d, (n,), out=True), _f64_buf(w, (n,), out=True)
    lib.kmeans_pp_step(ip.ctypes.data, n, xs.ctypes.data, float(cs),
                       _KM_METRIC[metric], 1 if first else 0,
                       min_d.ctypes.data, w.ctypes.data)


def exceeds_distinct(x: np.ndarray, k: int) -> bool:
    """True when ``x`` holds more than ``k`` distinct rows (float ==);
    the scan stops at the (k + 1)-th, so on spread data it reads about
    k rows."""
    lib = get_lib()
    assert lib is not None
    x, st = _f64_rows(x)
    n, d = x.shape
    rep = np.empty(max(int(k), 0) + 1, dtype=np.int64)
    return bool(lib.kmeans_exceeds_distinct(
        x.ctypes.data, n, d, st, max(int(k), 0), rep.ctypes.data))
