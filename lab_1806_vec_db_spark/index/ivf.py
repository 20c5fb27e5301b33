"""IVF (inverted-file) index — the most Spark-native of the reference's
three index structures.

Reference semantics (/root/reference/src/index_algorithm/ivf_index.rs):
- build: k-means over (a sample of) the vectors, then assign every
  vector to its nearest centroid — the per-cluster inverted lists
  (ivf_index.rs:88-96, k_means.rs:117-123);
- search: rank centroids by distance to the query, scan the union of
  the ``n_probes`` nearest clusters, keep top-k (ivf_index.rs:132-155,
  k_means.rs:174-191). The reference reuses the ``ef`` search knob as
  ``n_probes`` (dynamic_index.rs:85-90).

Spark mapping — the inverted list IS the partition layout:
- the clustered table is persisted as Parquet **partitioned by
  ``cluster_id``** → probing n clusters is *partition pruning*: the
  scan never touches the other k − n directories. At 100 TB that is
  the difference between reading 100 TB and reading n/k of it.
- centroids are tiny (k × dim) and live driver-side / broadcast,
  exactly like the reference's in-memory centroid VecSet.
- batch search: route each query to its n_probes clusters on the
  driver; ``operators.knn.exact_list_scan``, the flat tier's scan with
  the clusters as its lists, scores a base row only for the queries
  that probe its cluster (no all-pairs blow-up), in the flat scan's f64
  arithmetic, and the only wide step is the k-bounded global cut
  (``merge_topk``). Probing every cluster is the flat scan
  (ivf_index.rs:166-235's equivalence gate).
"""

from __future__ import annotations

import json
import os
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.kmeans import KMeansModel, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.operators.knn import (
    collect_query_block,
    empty_topk,
    exact_list_scan,
)


class IVFIndex:
    """Coarse-quantized index: seeded k-means centroids + a
    cluster-partitioned copy of the table."""

    def __init__(
        self,
        model: KMeansModel,
        clustered: DataFrame,
        vec_col: str = "vec",
        id_col: str = "id",
        path: str | None = None,
    ) -> None:
        self.model = model
        self.clustered = clustered  # base columns + cluster_id
        self.vec_col = vec_col
        self.id_col = id_col
        self.path = path

    # ---- build (A2-A4) ----------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        k: int = 128,
        metric: str = "l2sqr",
        vec_col: str = "vec",
        id_col: str = "id",
        train_size: int = 10_000,
        seed: int = 42,
        path: str | None = None,
        store_vec_dtype: str | None = None,
    ) -> "IVFIndex":
        """Fit the coarse quantizer on a bounded sample (k_means_size in
        the reference's bench configs), assign the full table
        distributedly, and persist the cluster-partitioned layout.

        ``store_vec_dtype="float32"`` serves the probed scan from f32
        vectors — the reference's own serving precision (vec_set.rs
        stores f32) — halving the bytes every probe reads from DISK and
        the index's parquet/cache footprint. The cast is applied BEFORE
        sampling, so the quantizer fit, the assignment, and the stored
        vectors all see the same f32-rounded values (the whole pipeline
        stays SQL-reproducible via a double→float4→double prelude).
        The scan upcasts each batch and scores it in f64, so the answer
        is the flat scan's over the f32-rounded values. Regime note
        (measured, BENCH_AUDIT_r12.md §3): the win is the IO-bound serve
        — parquet probes at 100 TB, memory-tight caches. With the
        clustered frame fully pinned in executor memory the f32 layout
        is ~1.5× SLOWER than f64: the scan pays a full upcast copy per
        Arrow batch while the halved bytes save nothing. Pick by where
        the bytes come from."""
        if store_vec_dtype not in (None, "float32", "float64"):
            raise ValueError(f"Unsupported store_vec_dtype: {store_vec_dtype}")
        vec_type = {"float32": "array<float>", "float64": "array<double>",
                    None: None}[store_vec_dtype]
        if vec_type is not None and \
                df.schema[vec_col].dataType.simpleString() != vec_type:
            df = df.withColumn(vec_col, F.col(vec_col).cast(vec_type))
        sample = sample_rows(df, train_size, vec_col=vec_col, id_col=id_col, seed=seed)
        model = fit_kmeans(sample, k=k, metric=metric, seed=seed)
        clustered = model.assign_df(df, vec_col=vec_col, out_col="cluster_id")
        if path is not None:
            spark = df.sparkSession
            os.makedirs(path, exist_ok=True)
            # partitioned-by-cluster layout: probe = partition pruning.
            # One shuffle on cluster_id first, so each cluster is one
            # task's one file (IVFPQIndex._write_codes has the numbers
            # and the skew trade-off)
            clustered.repartition("cluster_id").write.mode(
                "overwrite"
            ).partitionBy("cluster_id").parquet(os.path.join(path, "data"))
            np.save(os.path.join(path, "centroids.npy"), model.centroids)
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump({"metric": metric, "vec_col": vec_col, "id_col": id_col, "k": model.k}, f)
            clustered = spark.read.parquet(os.path.join(path, "data"))
        return cls(model, clustered, vec_col=vec_col, id_col=id_col, path=path)

    def persist_data(self, storage_level=None,
                     cluster_layout: bool = True) -> "IVFIndex":
        """Pin the clustered frame executor-side for the serving loop —
        the plain-IVF twin of ``IVFPQIndex.persist_codes``. With
        ``cluster_layout`` (default) the pin is preceded by ONE range
        repartition on ``(cluster_id, id)`` + in-partition sort, so
        each task scores contiguous cluster runs: a pathless build
        leaves rows in base order (clusters interleaved), which hands
        the probe scan ~128 sliver tiles per Arrow fragment —
        thousands of tiny GEMM + lexsort passes per serve instead of
        one per (cluster-run × probing-queries). Range (not hash)
        partitioning, WITH the id in the key, because k-means clusters
        are skewed: at 1M/960 one cluster held 13% of the table, so
        any whole-cluster placement (hash bins or one-cluster-per-
        partition) leaves a straggler task that IS the serve wall
        clock (measured 4.9× mean under hash — the approx wave ran
        3× the balanced layout). Range on the composite key splits big
        clusters at id boundaries and packs small ones, bounding every
        task near |rows|/n_part; per-fragment candidate emission stays
        correct under any split (per-task top-ef ⊆ global top-ef).
        The on-disk partitionBy(cluster_id) layout keeps whole-cluster
        directories — ``load()``-ed indexes get re-balanced here too."""
        from pyspark import StorageLevel

        df = self.clustered
        if cluster_layout:
            n_part = int(df.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "32"))
            df = df.repartitionByRange(
                n_part, "cluster_id", self.id_col
            ).sortWithinPartitions("cluster_id", self.id_col)
        self.clustered = df.persist(
            storage_level or StorageLevel.MEMORY_AND_DISK)
        self.clustered.count()
        return self

    def unpersist_data(self) -> None:
        try:
            self.clustered.unpersist()
        except Exception:
            pass

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        """S8 parity: reload the index without rebuilding
        (ivf_index.rs:109-130 save/load split)."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        centroids = np.load(os.path.join(path, "centroids.npy"))
        model = KMeansModel(centroids=centroids, metric=meta["metric"])
        clustered = spark.read.parquet(os.path.join(path, "data"))
        return cls(model, clustered, vec_col=meta["vec_col"], id_col=meta["id_col"], path=path)

    # ---- search (Q4, Q9, Q10) --------------------------------------------

    def search(
        self,
        query: Sequence[float],
        k: int,
        n_probes: int = 4,
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Single-query IVF kNN (ivf_index.rs:132-155) as ``(id, dist)``:
        :meth:`search_batch` over a one-row block."""
        return self.search_batch(
            np.asarray([query], dtype=np.float64), k, n_probes,
            upper_bound=upper_bound,
        ).select(self.id_col, "dist")

    def search_batch(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        n_probes: int = 4,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Batch IVF kNN: each query scans only its own probed clusters.
        The n_probes nearest centroids of each query are ranked on the
        driver (the centroid set is tiny), and
        :func:`operators.knn.exact_list_scan` scores each probed cluster
        for the queries probing it, the flat scan's f64 arithmetic.
        Scored pairs ≈ |Q| · n_probes/k · |base| — the pruning ratio of
        the reference, distributed; with n_probes = k the result is the
        flat scan's.

        ``queries`` is a DataFrame or a driver-side matrix
        (:func:`operators.knn.collect_query_block`)."""
        block = collect_query_block(queries, qid_col, qvec_col,
                                    self.model.centroids.shape[1])
        if block is None:
            return empty_topk(self.clustered.sparkSession, self.id_col)
        probes = self.model.rank_centroids_batch(block.qmat, n_probes)
        return exact_list_scan(self.clustered, block, probes, k, self.model.metric,
                               self.id_col, self.vec_col, upper_bound, tier="ivf")

    def assign(self, df: DataFrame) -> DataFrame:
        """Q9 as a DataFrame op: nearest-centroid id per row."""
        return self.model.assign_df(df, vec_col=self.vec_col, out_col="cluster_id")
