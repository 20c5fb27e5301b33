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
- batch search: explode each query into its n_probes (query,
  cluster_id) probe rows, broadcast-join against the clustered base on
  ``cluster_id`` — base rows are scored only for the queries that probe
  their cluster, no all-pairs blow-up, and the only shuffle is the
  k-bounded per-query top-k window.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.kmeans import (
    KMeansModel,
    _pairwise_dist,
    fit_kmeans,
    sample_rows,
)
from lab_1806_vec_db_spark.operators.knn import (
    collect_query_block,
    empty_topk,
    merge_topk,
    np_round_half_up,
    round_dist,
)
from lab_1806_vec_db_spark.functions.distance import dist_expr


def group_probes(probes: np.ndarray) -> dict[int, np.ndarray]:
    """cluster_id → int64 array of the query indices probing it, built
    with one argsort instead of the |Q|·n_probes python append loop
    (round-14: at the 1000×111 bench shape the dict-of-lists loop plus
    its per-broadcast pickle of 111k boxed ints cost ~0.1 s per serve;
    numpy arrays group in ~1 ms and pickle as binary buffers)."""
    nq, n_probes = probes.shape
    qi = np.repeat(np.arange(nq, dtype=np.int64), n_probes)
    cc = np.asarray(probes, dtype=np.int64).reshape(-1)
    order = np.argsort(cc, kind="stable")  # stable → per-cluster query
    cc_s, qi_s = cc[order], qi[order]      # order matches the old loop
    ucc, starts = np.unique(cc_s, return_index=True)
    bounds = np.r_[starts[1:], cc_s.size]
    return {int(c): qi_s[s:e] for c, s, e in zip(ucc, starts, bounds)}


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
        Distances still accumulate in f64; they carry f32 input error
        (~1e-7 relative), an occasional last-decimal flip under the
        4-dp contract, so the oracle-checked default stays full
        precision. Regime note (measured, BENCH_AUDIT_r12.md §3): the
        win is the IO-bound serve — parquet probes at 100 TB, memory-
        tight caches. With the clustered frame fully pinned in executor
        memory the f32 layout is ~1.5× SLOWER than f64: the scan pays a
        full upcast copy per Arrow batch while the halved bytes save
        nothing. Pick by where the bytes come from."""
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
            # partitioned-by-cluster layout: probe = partition pruning
            clustered.write.mode("overwrite").partitionBy("cluster_id").parquet(
                os.path.join(path, "data")
            )
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
        payload_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Single-query IVF kNN (ivf_index.rs:132-155): rank centroids on
        the driver (they are driver-resident, like the reference), then a
        cluster-pruned flat scan. ``cluster_id.isin(...)`` prunes
        partitions when the layout is persisted partitioned."""
        q = np.asarray(list(query), dtype=np.float64)
        probed = [int(c) for c in self.model.rank_centroids(q, n_probes)]
        qlit = F.lit([float(x) for x in q]).cast("array<double>")
        payload = list(payload_cols) if payload_cols is not None else [self.id_col]
        scored = (
            self.clustered.filter(F.col("cluster_id").isin(probed))
            .select(
                *payload,
                round_dist(dist_expr(F.col(self.vec_col), qlit, self.model.metric)).alias("dist"),
            )
        )
        out = scored.orderBy(F.col("dist").asc(), F.col(self.id_col).asc()).limit(k)
        if upper_bound is not None:
            out = out.filter(F.col("dist") <= F.lit(float(upper_bound)))
        return out

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        n_probes: int = 4,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
        compute_dtype: str | None = None,
    ) -> DataFrame:
        """Batch IVF kNN: each query scans only its own probed clusters.

        Plan: queries → (query_id, cluster_id, qv) probe rows (driver
        ranking over the tiny centroid set) → broadcast-join with the
        clustered base on ``cluster_id`` → Arrow-batched distance → per
        query top-k. Scored rows ≈ |Q| · n_probes/k · |base| — the
        pruning ratio of the reference, distributed.

        ``compute_dtype``: numeric precision of the scan's distance
        GEMM. ``None`` (auto) follows the STORE dtype — an f32 layout
        is served with f32 arithmetic end-to-end, the reference's own
        serving precision (distance/mod.rs:43-51 sums f32; accumulation
        order is the BLAS kernel's, as the reference's is its SIMD
        lanes'), and the scan touches the Arrow buffer zero-copy with
        no upcast copy per batch — round-12 measured the per-batch f64
        upcast making the f32 layout ~1.5× SLOWER than f64 in the
        memory-cached regime. ``"float64"`` forces full-precision
        arithmetic over the stored values (bit-compatible with the
        DuckDB oracles; what the 4-dp contract was validated against).
        Distances are rounded on the 4-dp grid in f64 either way; f32
        arithmetic can flip a rounded last decimal on near-ties, so
        forced-f64 remains the choice where oracle hash-equality
        matters. The single-query path computes JVM-side in f64 over
        the stored values regardless (Catalyst expression).

        The global cut is :func:`operators.knn.merge_topk`."""
        spark = queries.sparkSession
        block = collect_query_block(queries, qid_col, qvec_col)
        if block is None:
            return empty_topk(spark, self.id_col)
        qids, qmat = block
        probes = self.model.rank_centroids_batch(qmat, n_probes)  # (m, n_probes)
        # cluster_id -> int64 array of the query indices probing it
        by_cluster = group_probes(np.asarray(probes))
        if compute_dtype not in (None, "float32", "float64"):
            raise ValueError(f"Unsupported compute_dtype: {compute_dtype}")
        bc = spark.sparkContext.broadcast((qids, qmat, by_cluster, self.model.metric))
        vec_col, id_col = self.vec_col, self.id_col
        k_ = int(k)
        cdt = compute_dtype

        def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            from lab_1806_vec_db_spark.functions.arrowvec import (
                knn_schema,
                result_batch,
                vec_matrix,
            )
            from lab_1806_vec_db_spark.index import ckernel
            from lab_1806_vec_db_spark.operators.knn import local_topk_grouped

            bqids, bq, bclusters, metric = bc.value
            use_c = ckernel.available()
            out_schema = knn_schema(id_col)
            # task-level candidate accumulator: a cluster arrives as
            # ~10k-row Arrow FRAGMENTS; emitting a top-k per fragment
            # multiplies the merge-window shuffle by the fragmentation
            # factor. Buffer fragment top-ks, prune to the per-query
            # top-k in-task (same (dist, id) order as the global
            # window, so the final result is identical), emit once.
            acc_q: list[np.ndarray] = []
            acc_i: list[np.ndarray] = []
            acc_d: list[np.ndarray] = []
            n_buf = 0

            def _compact():
                nonlocal acc_q, acc_i, acc_d, n_buf
                qx = np.concatenate(acc_q)
                ids_a = np.concatenate(acc_i)
                d_a = np.concatenate(acc_d)
                keep = local_topk_grouped(qx, ids_a, d_a, k_)
                qx, ids_a, d_a = qx[keep], ids_a[keep], d_a[keep]
                acc_q, acc_i, acc_d = [qx], [ids_a], [d_a]
                n_buf = ids_a.size
                return qx, ids_a, d_a

            bqc = None  # query block in the compute dtype (cast once per task)
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                # zero-copy views: the vector column flattens in place;
                # compute-dtype auto (cdt None) keeps the STORE dtype so
                # an f32 layout is scanned with no per-batch upcast copy
                # (see the docstring); no pandas round-trip
                x_all = vec_matrix(rb.column(rb.schema.get_field_index(vec_col)),
                                   dtype=np.dtype(cdt) if cdt else None)
                if bqc is None or bqc.dtype != x_all.dtype:
                    bqc = np.ascontiguousarray(bq, dtype=x_all.dtype)
                ids_all = rb.column(rb.schema.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False)
                cl_all = rb.column(rb.schema.get_field_index("cluster_id")).to_numpy(
                    zero_copy_only=False)
                for cid in np.unique(cl_all):
                    sel = bclusters.get(int(cid))
                    if sel is None or len(sel) == 0:
                        continue
                    rows = np.nonzero(cl_all == cid)[0]
                    x = x_all[rows]
                    d = _pairwise_dist(x, bqc[sel], metric)
                    ids = ids_all[rows]
                    kk = min(k_, d.shape[0])
                    if use_c:
                        # compiled (rounded d, id) heap — bit-identical
                        # set and order to the round+lexsort below, no
                        # full-column sort, GIL released (round-14; the
                        # rounding grid stays f64 whatever the GEMM
                        # precision). kk ≤ rows here, so no padding.
                        oi, od = ckernel.dense_topk(
                            d.astype(np.float64, copy=False),
                            np.ascontiguousarray(ids, dtype=np.int64),
                            kk, do_round=True, queries_axis=1)
                        acc_q.append(np.repeat(
                            np.asarray(sel, dtype=np.int64), kk))
                        acc_i.append(oi.reshape(-1))
                        acc_d.append(od.reshape(-1))
                        n_buf += kk * len(sel)
                        if n_buf > 2_000_000:
                            _compact()
                        continue
                    # the 4-dp rounding grid stays f64 whatever the
                    # GEMM precision (the k×n distance matrix is tiny
                    # next to the vectors it came from)
                    d = np_round_half_up(d.astype(np.float64, copy=False))
                    order_ids = np.broadcast_to(ids[:, None], d.shape)
                    top = np.lexsort((order_ids, d), axis=0)[:kk, :]
                    acc_q.append(np.repeat(np.asarray(sel, dtype=np.int64), kk))
                    acc_i.append(ids[top].T.reshape(-1))
                    acc_d.append(np.take_along_axis(d, top, axis=0).T.reshape(-1))
                    n_buf += kk * len(sel)
                if n_buf > 2_000_000:
                    _compact()
            if not acc_q or n_buf == 0:
                return
            qx, ids_a, d_a = _compact()
            yield result_batch(out_schema,
                               query_id=bqids[qx], **{id_col: ids_a}, dist=d_a)

        probed_any = sorted(by_cluster.keys())
        src = self.clustered.filter(F.col("cluster_id").isin(probed_any)).select(
            id_col, vec_col, "cluster_id"
        )
        scored = src.mapInArrow(
            scan, schema=f"query_id long, {id_col} long, dist double"
        )
        try:
            n_parts = src.rdd.getNumPartitions()
        except Exception:
            n_parts = None
        # the in-task compaction emits at most k rows per (query, task)
        est_rows = None if n_parts is None else len(qids) * k_ * n_parts
        return merge_topk(scored, k_, id_col, upper_bound, est_rows, tier="ivf")

    def assign(self, df: DataFrame) -> DataFrame:
        """Q9 as a DataFrame op: nearest-centroid id per row."""
        return self.model.assign_df(df, vec_col=self.vec_col, out_col="cluster_id")
