"""Seeded k-means for index construction (IVF coarse quantizer, PQ
codebooks).

Reference semantics (/root/reference/src/index_algorithm/k_means.rs):
- k-means++ seeding: first centroid uniform, then each next centroid
  drawn with probability ∝ min distance to the already-chosen set
  (k_means.rs:61-87).
- Lloyd iterations: assign to nearest centroid, recompute per-cluster
  mean; an empty cluster keeps its old centroid; stop when the max
  centroid movement (L2²) drops below ``tol`` or ``max_iter`` is hit
  (k_means.rs:95-162).
- Training runs on a *sample* of the data (the reference trains PQ on
  ``len * train_proportion`` rows, metadata_vec_table.rs:133-137, and
  IVF on ``k_means_size`` rows) — so a driver-side numpy fit over a
  bounded sample is the faithful AND the scale-correct design: at
  100 TB you still train the codebook on ~10⁵ rows; only *assignment*
  must be distributed, and it is (broadcast centroids + Arrow scan,
  the Spark analogue of the rayon par-assign at k_means.rs:117-123).
- One fit path, in-process: with the C toolchain the Lloyd step and the
  k-means++ distance fold run as GIL-released ``ckernel`` calls over
  numpy's inner-product GEMM, so concurrent fits (the PQ codebook
  groups, ``pq._fit_codebooks``) share the driver's cores on plain
  threads; no fork. Without it the numpy loop runs, and it is the
  reference: both paths give the same centroids bit for bit.

Everything is seeded (numpy ``default_rng``) → deterministic across
runs, which the correctness harness relies on.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _self_terms(a: np.ndarray, metric: str) -> np.ndarray:
    """Per-row self terms of :func:`_pairwise_dist`: self-dots for
    l2sqr, norms for cosine."""
    s = np.einsum("ij,ij->i", a, a)
    if metric == "l2sqr":
        return s
    if metric == "cosine":
        return np.sqrt(s)
    raise ValueError(f"Invalid distance function: {metric}")


def _pairwise_dist(x: np.ndarray, c: np.ndarray, metric: str) -> np.ndarray:
    """(n × d) rows vs (k × d) centroids → (n × k) float64 distances.

    Same algebraic forms as the distance library (distance/mod.rs:51-69):
    L2² via the cached-dot identity, cosine with the 1e-10 floor.
    """
    ip = x @ c.T
    xs, cs = _self_terms(x, metric), _self_terms(c, metric)
    if metric == "l2sqr":
        d = xs[:, None] + cs[None, :] - 2.0 * ip
        np.maximum(d, 0.0, out=d)
        return d
    return 1.0 - ip / np.maximum(xs[:, None] * cs[None, :], 1e-10)


def kmeans_pp_init(x: np.ndarray, k: int, rng: np.random.Generator, metric: str) -> np.ndarray:
    """k-means++ seeding (k_means.rs:61-87): first pick uniform, then
    each next ∝ min-distance-to-chosen (D weighting, as the reference
    weights by the raw distance, not D²).

    With the C toolchain one GIL-released call per pick folds the last
    centroid's distances into the running minimum; the inner products
    and the ``rng`` draws stay in numpy, so the picks are the numpy
    path's, bit for bit."""
    from lab_1806_vec_db_spark.index import ckernel

    n = x.shape[0]
    chosen = np.empty((k, x.shape[1]), dtype=np.float64)
    first = int(rng.integers(0, n))
    chosen[0] = x[first]
    if ckernel.available():
        xs = _self_terms(x, metric)
        min_d, w = np.empty(n), np.empty(n)

        def fold(c: np.ndarray, start: bool) -> np.ndarray:
            ckernel.kmeans_pp_step(x @ c.T, xs, _self_terms(c, metric)[0],
                                   metric, min_d, w, start)
            return w
    else:
        min_d = np.empty(n)

        def fold(c: np.ndarray, start: bool) -> np.ndarray:
            d_new = _pairwise_dist(x, c, metric)[:, 0]
            np.minimum(d_new if start else min_d, d_new, out=min_d)
            return np.maximum(min_d, 0.0)

    for i in range(1, k):
        weights = fold(chosen[i - 1 : i], i == 1)
        total = weights.sum()
        if total <= 0:
            idx = int(rng.integers(0, n))
        else:
            idx = int(rng.choice(n, p=weights / total))
        chosen[i] = x[idx]
    return chosen


@dataclass
class KMeansModel:
    """Fitted centroids + the metric they were fitted under."""

    centroids: np.ndarray  # (k, dim) float64
    metric: str

    @property
    def k(self) -> int:
        return int(self.centroids.shape[0])

    # -- driver-side ops (centroids are always driver/broadcast-resident,
    #    like the reference's in-memory centroid VecSet) ------------------

    def assign(self, x: np.ndarray) -> np.ndarray:
        """Nearest-centroid id per row (k_means.rs:40-57 find_nearest)."""
        return np.argmin(_pairwise_dist(np.asarray(x, dtype=np.float64), self.centroids, self.metric), axis=1)

    def rank_centroids(self, q: np.ndarray, n: int) -> np.ndarray:
        """Top-n nearest centroid ids for a query — multi-probe ranking
        (k_means.rs:174-191 find_n_nearest)."""
        d = _pairwise_dist(np.asarray(q, dtype=np.float64)[None, :], self.centroids, self.metric)[0]
        n = min(n, self.k)
        return np.argsort(d, kind="stable")[:n]

    def rank_centroids_batch(self, q: np.ndarray, n: int) -> np.ndarray:
        """(m × dim) queries → (m × n) probed centroid ids."""
        d = _pairwise_dist(np.asarray(q, dtype=np.float64), self.centroids, self.metric)
        n = min(n, self.k)
        return np.argsort(d, axis=1, kind="stable")[:, :n]

    # -- distributed assignment (A4: the Spark analogue of the rayon
    #    par-assign, ivf_index.rs:88-96) ----------------------------------

    def assign_df(self, df: DataFrame, vec_col: str = "vec", out_col: str = "cluster_id") -> DataFrame:
        """Distributed cluster assignment: broadcast centroids, Arrow
        scan, numpy argmin per batch. No shuffle — a map-only stage."""
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast((self.centroids, self.metric))
        cols = df.columns

        def assign_batches(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix

            centroids, metric = bc.value
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                # the vector column flattens zero-copy; every other
                # column passes through untouched as Arrow buffers
                x = vec_matrix(rb.column(rb.schema.get_field_index(vec_col)),
                               dtype=np.float64)
                cid = np.argmin(_pairwise_dist(x, centroids, metric), axis=1)
                yield rb.append_column(
                    pa.field(out_col, pa.int32(), nullable=False),
                    pa.array(cid.astype(np.int32), type=pa.int32()),
                )

        schema = T.StructType(list(df.schema.fields) + [T.StructField(out_col, T.IntegerType(), False)])
        return df.mapInArrow(assign_batches, schema=schema).select(*cols, out_col)


def fit_kmeans(
    x: np.ndarray,
    k: int,
    metric: str = "l2sqr",
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
) -> KMeansModel:
    """Lloyd's algorithm with k-means++ seeding (k_means.rs:95-162).

    ``x`` is the (sampled) training block — bounded by design, see
    module docstring. Dedup-aware: k is clamped to the number of
    distinct rows so the exactness regime (#distinct ≤ k) yields one
    centroid per distinct vector (pq_table.rs:324-372 relies on this).

    With the C toolchain each Lloyd step is numpy's inner-product GEMM
    plus one GIL-released call that labels the rows and re-averages the
    clusters (:func:`ckernel.kmeans_step`), and ``np.unique`` runs only
    when a scan finds at most k distinct rows. The numpy loop is the
    reference: both give the same centroids, bit for bit
    (tests/test_indexes.py pins it).
    """
    from lab_1806_vec_db_spark.index import ckernel

    x = np.asarray(x, dtype=np.float64)
    k = int(k)
    compiled = ckernel.available()
    distinct = None  # more than k distinct rows: no exactness regime
    if not (compiled and ckernel.exceeds_distinct(x, k)):
        distinct = np.unique(x, axis=0)
        k = min(k, distinct.shape[0])
    rng = np.random.default_rng(seed)
    if distinct is not None and k == distinct.shape[0]:
        # exactness regime: every distinct vector is its own centroid
        return KMeansModel(centroids=distinct.copy(), metric=metric)
    centroids = kmeans_pp_init(x, k, rng, metric)
    xs = _self_terms(x, metric) if compiled else None
    for _ in range(max_iter):
        if compiled:
            new_centroids = ckernel.kmeans_step(
                x, x @ centroids.T, xs, _self_terms(centroids, metric),
                metric, centroids)
        else:
            labels = np.argmin(_pairwise_dist(x, centroids, metric), axis=1)
            new_centroids = centroids.copy()  # empty cluster keeps old centroid
            for c in range(k):
                mask = labels == c
                if mask.any():
                    new_centroids[c] = x[mask].mean(axis=0)
        move = np.max(np.einsum("ij,ij->i", centroids - new_centroids, centroids - new_centroids))
        centroids = new_centroids
        if move < tol:
            break
    return KMeansModel(centroids=centroids, metric=metric)


def sample_key(id_col: str, seed: int = 42):
    """Seeded pseudo-random sort key: md5 of ``"<seed>:<id>"``. Unlike
    ``F.rand`` (whose per-partition XORShift stream is Spark-internal),
    md5 is engine-portable — DuckDB reproduces the identical key with
    ``md5(<seed> || ':' || CAST(id AS VARCHAR))``, which is what lets
    the ``vec_random_sample`` registry entry carry a full value-hash
    oracle instead of a rows-only check."""
    return F.md5(F.concat_ws(":", F.lit(str(int(seed))), F.col(id_col).cast("string")))


def sample_rows(
    df: DataFrame, n: int, vec_col: str = "vec", id_col: str = "id", seed: int = 42
) -> np.ndarray:
    """Deterministic training sample (A1, vec_set.rs:154-163): order by a
    seeded hash key of the id, take n. ``orderBy(key).limit(n)`` is a
    TakeOrderedAndProject — k-bounded, no full sort, no full shuffle.
    The rows come back as one Arrow table and leave it as one (n × dim)
    f64 matrix, with no per-row objects on the driver."""
    from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix

    tbl = (
        df.select(vec_col, sample_key(id_col, seed).alias("__sk"))
        .orderBy("__sk")
        .limit(int(n))
        .select(vec_col)
        .toArrow()
    )
    return vec_matrix(tbl.column(vec_col), dtype=np.float64)
