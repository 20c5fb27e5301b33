"""Sharded HNSW — the >50 M-row serving tier (docs/SCALE.md "HNSW
(latency serving)").

The plain tier (index/hnsw.py) serves one graph on the driver and tops
out where that graph no longer fits it (~50 M rows × 16 links ≈ 3.2 GB
of links). Past that, this module
implements the layout SCALE.md promises: **IVF over graph shards** —
k-means centroids route rows to spatially-coherent shards, each shard
carries its own HNSW sub-graph built *inside an executor task*, and a
query probes only the few shards whose centroids are nearest.

Relation to the reference: the reference is single-node in-memory
(vec_set.rs:18-19) and keeps one graph per table (hnsw_index.rs), so
this tier is beyond parity — but the probing scheme is the reference's
own IVF shape (ivf_index.rs:132-155 find_n_nearest → per-cluster scan)
with the per-cluster flat scan replaced by a per-shard graph walk.

Scale shape:
- **Build**: one map-only assignment pass (broadcast centroids), one
  shuffle on shard_id, then every shard builds its sub-graph in
  parallel inside `applyInPandas` — no graph ever visits the driver.
  A shard must fit one executor's memory: that is the sizing rule
  (n_shards ≈ N / plain-tier capacity), not a scalability limit.
- **Serve**: the query block is read once on the driver
  (operators/knn.py::collect_query_block) and routed there (the
  centroid matrix is tiny); only (query index, shard_id) rows, up to
  n_probes per query, go into ONE shuffle keyed by shard_id, with the
  block broadcast; each task loads its shard graph once
  (executor-local cache) and answers all its queries; the global cut
  is ``merge_topk`` — the merge gate the scan tiers share.
- **Storage**: `path` must be visible to all executors (local FS in
  local mode; a shared filesystem / object store on a cluster —
  exactly where the table's Parquet already lives).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from lab_1806_vec_db_spark.index.hnsw import HNSWIndex
from lab_1806_vec_db_spark.index.kmeans import KMeansModel, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.operators.knn import (
    QueryBlock,
    collect_query_block,
    empty_topk,
    filtered_topk_from_pool,
    merge_topk,
)

#: executor-local cache of loaded shard graphs, keyed by shard dir.
#: Bounded FIFO: a task set serving a probe workload touches at most a
#: few shards; the cap keeps a long-lived executor from accumulating
#: every shard it ever served.
_GRAPH_CACHE: dict[tuple[str, int], HNSWIndex] = {}
#: default 2, not "all shards": each worker PROCESS keeps its own cache,
#: so the worst case is workers × cap × graph-size resident at once —
#: at 1M rows / 8 shards / 32 workers a cap of 8 admits ~150 GB and
#: OOM-killed the JVM in testing; 2 bounds it at ~⅛ of that while still
#: covering the common two-shards-per-task routing.
_GRAPH_CACHE_CAP = int(os.environ.get("SPARK_GRAFT_SHARD_CACHE", "2"))


def _cached_graph(shard_dir: str) -> HNSWIndex:
    # version-aware key: a flushed append rewrites the shard's meta.json,
    # so its CONTENT invalidates whatever a long-lived worker cached.
    # Content hash, not mtime: several shared filesystems report
    # whole-second mtimes, and a load + flush inside the same second
    # would leave the worker serving the pre-append graph forever.
    # (meta.json carries entry/max_level/n_levels, which change with
    # every graph-altering flush; it is tens of bytes, so hashing it
    # per call is free next to the graph load it guards.)
    import hashlib

    with open(os.path.join(shard_dir, "meta.json"), "rb") as f:
        ver = hashlib.md5(f.read()).hexdigest()
    key = (shard_dir, ver)
    idx = _GRAPH_CACHE.get(key)
    if idx is None:
        idx = HNSWIndex.load(None, shard_dir)
        if _GRAPH_CACHE_CAP > 0:
            while len(_GRAPH_CACHE) >= _GRAPH_CACHE_CAP:
                _GRAPH_CACHE.pop(next(iter(_GRAPH_CACHE)))
            _GRAPH_CACHE[key] = idx
    return idx


def _shard_dir(path: str, sid: int) -> str:
    return os.path.join(path, f"shard_{sid:05d}")


class ShardedHNSWIndex:
    """Centroid-routed collection of per-shard HNSW graphs."""

    def __init__(
        self,
        model: KMeansModel,
        path: str,
        metric: str,
        id_col: str = "id",
        m: int = 16,
        ef_construction: int = 200,
        shard_counts: dict[int, int] | None = None,
        max_committed_id: int = -1,
    ) -> None:
        self.model = model
        self.path = path
        self.metric = metric
        self.id_col = id_col
        self.m = m
        self.ef_construction = int(ef_construction)
        self.shard_counts = dict(shard_counts or {})
        #: largest id covered by the last durable root-meta flush —
        #: crash-recovery scans only ids above it (absorb_tail)
        self.max_committed_id = int(max_committed_id)
        self._meta_dirty = False
        #: driver-side lazily-loaded shards (point-serve path + appends)
        self._driver_shards: dict[int, HNSWIndex] = {}

    # ---- build -----------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        n_shards: int,
        metric: str = "l2sqr",
        vec_col: str = "vec",
        id_col: str = "id",
        m: int = 16,
        ef_construction: int = 200,
        train_size: int = 10_000,
        seed: int = 42,
        build_workers: int | None = None,
    ) -> "ShardedHNSWIndex":
        """Fit the router on a bounded sample, assign rows map-only,
        build every sub-graph executor-side in one `applyInPandas`
        stage (one shuffle on shard_id, graphs never on the driver)."""
        spark = df.sparkSession
        sample = sample_rows(df, train_size, vec_col=vec_col, id_col=id_col, seed=seed)
        model = fit_kmeans(sample, n_shards, metric=metric, seed=seed)
        assigned = model.assign_df(df.select(id_col, vec_col), vec_col=vec_col,
                                   out_col="shard_id")

        os.makedirs(path, exist_ok=True)
        bc = spark.sparkContext.broadcast(
            (path, metric, vec_col, id_col, m, ef_construction, seed, build_workers)
        )

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            p, met, vcol, icol, mm, efc, sd, bw = bc.value
            if bw:
                # cap each concurrent task's candidate-phase thread
                # fan-out so S simultaneous sub-graph builds don't
                # oversubscribe one machine S× (local mode / dense
                # executor packing); set here because reused Python
                # workers don't re-read the driver's env
                os.environ["SPARK_GRAFT_BUILD_WORKERS"] = str(int(bw))
            sid = int(pdf["shard_id"].iloc[0])
            ids = pdf[icol].to_numpy().astype(np.int64, copy=False)
            order = np.argsort(ids, kind="stable")  # deterministic insert order
            ids = ids[order]
            vecs = np.asarray(pdf[vcol].to_list(), dtype=np.float64)[order]
            graph = HNSWIndex._build_graph(vecs, met, mm, efc, sd + sid)
            shard = HNSWIndex(ids, vecs, graph, met, base=None, id_col=icol,
                              ef_construction=efc)
            shard.save(_shard_dir(p, sid))
            return pd.DataFrame({"shard_id": [sid], "n": [len(ids)],
                                 "mx": [int(ids.max()) if len(ids) else -1]})

        stats = (
            assigned.groupBy("shard_id")
            .applyInPandas(build_shard, schema="shard_id int, n long, mx long")
            .collect()
        )
        shard_counts = {int(r["shard_id"]): int(r["n"]) for r in stats}
        max_id = max((int(r["mx"]) for r in stats), default=-1)
        obj = cls(model, path, metric, id_col=id_col, m=m,
                  ef_construction=ef_construction, shard_counts=shard_counts,
                  max_committed_id=max_id)
        obj._save_meta()
        return obj

    # ---- persistence -----------------------------------------------------

    def _save_meta(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        np.savez_compressed(os.path.join(self.path, "router.npz"),
                            centroids=self.model.centroids)
        with open(os.path.join(self.path, "meta.json"), "w") as f:
            json.dump({
                "kind": "sharded_hnsw", "metric": self.metric,
                "id_col": self.id_col, "m": self.m,
                "ef_construction": self.ef_construction,
                "shard_counts": {str(k): v for k, v in self.shard_counts.items()},
                "max_committed_id": self.max_committed_id,
            }, f)
        self._meta_dirty = False

    def save(self, path: str | None = None) -> None:
        """Flush root metadata plus any dirty driver-loaded shard
        graphs (the append path dirty-marks, VecDB's force_save/close
        flushes — the same deferred policy as the plain tier)."""
        if path is not None and path != self.path:
            raise ValueError("sharded index artifacts are bound to their build path")
        for sid, shard in self._driver_shards.items():
            if shard.dirty:
                shard.save(_shard_dir(self.path, sid))
        self._save_meta()

    @property
    def dirty(self) -> bool:
        return self._meta_dirty or any(s.dirty for s in self._driver_shards.values())

    @classmethod
    def load(cls, spark: SparkSession | None, path: str,
             base: DataFrame | None = None) -> "ShardedHNSWIndex":
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        npz = np.load(os.path.join(path, "router.npz"))
        model = KMeansModel(centroids=np.asarray(npz["centroids"], dtype=np.float64),
                            metric=meta["metric"])
        shard_counts = {int(k): v for k, v in meta["shard_counts"].items()}
        obj = cls(model, path, meta["metric"], id_col=meta["id_col"],
                  m=meta["m"], ef_construction=meta["ef_construction"],
                  shard_counts=shard_counts,
                  max_committed_id=int(meta.get("max_committed_id", -1)))
        if "max_committed_id" not in meta:
            # an artifact written before the watermark: its largest
            # shard id, read one shard at a time and dirty-marked so the
            # next save persists it
            for sid, n in shard_counts.items():
                if n:
                    ids = HNSWIndex.load(None, _shard_dir(path, sid)).ids
                    obj.max_committed_id = max(obj.max_committed_id, int(ids.max()))
            obj._meta_dirty = True
        return obj

    # ---- serve: point (driver-side latency path) -------------------------

    def _driver_shard(self, sid: int) -> HNSWIndex:
        shard = self._driver_shards.get(sid)
        if shard is None:
            shard = HNSWIndex.load(None, _shard_dir(self.path, sid))
            self._driver_shards[sid] = shard
        return shard

    def search_np(self, q: np.ndarray, k: int, ef: int | None = None,
                  n_probes: int = 4) -> tuple[np.ndarray, np.ndarray]:
        """Zero-Spark-job point serve: rank centroids, walk the probed
        shard graphs, merge — the reference's latency model with the
        graph swapped for its nearest shards."""
        q = np.asarray(q, dtype=np.float64)
        ids_all, d_all = [], []
        for sid in self.model.rank_centroids(q, n_probes):
            sid = int(sid)
            if self.shard_counts.get(sid, 0) == 0:
                continue
            ids, dists = self._driver_shard(sid).search_np(q, k, ef)
            ids_all.append(ids)
            d_all.append(dists)
        if not ids_all:
            return np.empty(0, dtype=np.int64), np.empty(0)
        ids = np.concatenate(ids_all)
        dists = np.concatenate(d_all)
        order = np.lexsort((ids, dists))[:k]
        return ids[order], dists[order]

    # ---- serve: batch (driver routing, one shuffle on shard_id) ---------

    def search_batch_filtered(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        filtered_base: DataFrame,
        ef: int | None = None,
        n_probes: int = 4,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        oversample: int = 4,
        exact_fallback: bool = True,
        vec_col: str = "vec",
        fallback_margin: float = 1.0,
    ) -> DataFrame:
        """Batch filtered ANN on the >50 M sharded tier: the routed
        per-shard pool (:meth:`search_batch`'s plan) produces each
        query's max(ef, oversample·k) candidates, then the shared
        finisher (operators/knn.py::filtered_topk_from_pool) matches the
        pool against the predicate-filtered scan and answers starved
        queries exactly — the same contract as the plain-graph and
        IVF+PQ tiers, so filtered search survives the tier switch. The
        block is read once and handed to both; a pool the merge gate
        finishes on the driver reaches the finisher as driver columns,
        never as a frame that Spark would join again."""
        block = collect_query_block(queries, qid_col, qvec_col,
                                    self.model.centroids.shape[1])
        if block is None:
            return empty_topk(SparkSession.active(), self.id_col, qid_col)
        pool_k = max(int(ef or 0), int(oversample) * int(k), int(k))
        pool = self._routed_topk(block, pool_k, max(pool_k, int(ef or 0)),
                                 n_probes, qvec_col, qid_col, None, columns=True)
        return filtered_topk_from_pool(
            pool, block, k, filtered_base, self.id_col, self.metric,
            vec_col, qid_col=qid_col, exact_fallback=exact_fallback,
            fallback_margin=fallback_margin, pool_k=pool_k,
        )

    def search_batch(
        self,
        queries: DataFrame | np.ndarray | QueryBlock,
        k: int,
        ef: int | None = None,
        n_probes: int = 4,
        qvec_col: str = "vec",
        qid_col: str = "query_id",
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Read the block once (:func:`operators.knn.collect_query_block`)
        and rank its centroids on the driver → a local frame of
        (query index, shard_id) rows for the live probed shards, with
        the block broadcast → ONE shuffle on shard_id → each task serves
        its shard from the executor-local graph cache (shards do not fit
        the driver) → the global cut (:func:`operators.knn.merge_topk`,
        k rows per routed pair)."""
        return self._routed_topk(queries, k, ef, n_probes, qvec_col, qid_col,
                                 upper_bound)

    def _routed_topk(
        self,
        queries: DataFrame | np.ndarray | QueryBlock,
        k: int,
        ef: int | None,
        n_probes: int,
        qvec_col: str,
        qid_col: str,
        upper_bound: float | None,
        columns: bool = False,
    ) -> DataFrame | tuple[np.ndarray, np.ndarray, np.ndarray]:
        """:meth:`search_batch`'s plan. With ``columns`` a driver-side
        cut stays as driver columns (``merge_topk(columns=True)``), so
        the filtered finisher matches the pool by id instead of joining
        a driver-local frame in Spark."""
        # executors serve from the on-disk shard files: flush any
        # dirty driver-side shards first so appended rows (and shards
        # newly materialized by add_batch) are visible — without this,
        # batch results silently miss appends until force_save, and a
        # brand-new shard has no directory to load at all
        if self.dirty:
            self.save()
        # the session the builder made, also in a thread that did not
        # make it (the JVM's active session is thread-local)
        spark = SparkSession.active()
        block = collect_query_block(queries, qid_col, qvec_col,
                                    self.model.centroids.shape[1])
        if block is None:
            return empty_topk(spark, self.id_col, qid_col)
        qids, qmat = block
        probes = self.model.rank_centroids_batch(qmat, int(n_probes))
        live = [sid for sid, n in self.shard_counts.items() if n > 0]
        qx, col = np.nonzero(np.isin(probes, live))
        routed = spark.createDataFrame(pa.table({
            "qx": pa.array(qx, pa.int64()),
            "shard_id": pa.array(probes[qx, col], pa.int32()),
        }))
        bc = spark.sparkContext.broadcast((qids, qmat, self.path))
        id_col = self.id_col
        ef_ = ef
        k_ = int(k)

        def serve(pdf: pd.DataFrame) -> pd.DataFrame:
            bqids, bqmat, root = bc.value
            shard = _cached_graph(_shard_dir(root, int(pdf["shard_id"].iloc[0])))
            qx = pdf["qx"].to_numpy()
            gids, dists = shard.search_many(bqmat[qx], k_, ef_)
            rows, cols = np.nonzero(gids >= 0)
            return pd.DataFrame({qid_col: bqids[qx[rows]],
                                 id_col: gids[rows, cols],
                                 "dist": dists[rows, cols]})

        per_shard = routed.groupBy("shard_id").applyInPandas(
            serve, schema=f"{qid_col} long, {id_col} long, dist double"
        )
        return merge_topk(per_shard, k_, id_col, upper_bound, qx.size * k_,
                          tier="sharded", qid_col=qid_col, columns=columns)

    def absorb_tail(self, cand_ids: np.ndarray, cand_vecs: np.ndarray,
                    seed: int = 43) -> int:
        """Crash-window repair: given every table row with id above the
        last durably committed watermark, insert exactly the ones whose
        target shard does NOT already contain them (a crash between
        shard flushes and the root-meta flush leaves some shards ahead
        of the recorded counts — membership-checking prevents the
        double-insert a count-based repair would do). Also reconciles
        ``shard_counts`` with the loaded artifacts. Returns the number
        of rows actually inserted."""
        cand_ids = np.asarray(cand_ids, dtype=np.int64)
        cand_vecs = np.asarray(cand_vecs, dtype=np.float64)
        if cand_ids.size == 0:
            return 0
        labels = self.model.assign(cand_vecs)
        miss_ids, miss_vecs = [], []
        for sid in np.unique(labels):
            mask = labels == sid
            sid = int(sid)
            if os.path.isdir(_shard_dir(self.path, sid)) or sid in self._driver_shards:
                shard = self._driver_shard(sid)
                present = np.isin(cand_ids[mask], shard.ids)
                if self.shard_counts.get(sid, 0) != len(shard.ids):
                    # artifact is ahead of the recorded count (the
                    # crash window): trust the artifact
                    self.shard_counts[sid] = len(shard.ids)
                    self._meta_dirty = True
            else:
                present = np.zeros(int(mask.sum()), dtype=bool)
            if (~present).any():
                miss_ids.append(cand_ids[mask][~present])
                miss_vecs.append(cand_vecs[mask][~present])
        n_inserted = 0
        if miss_ids:
            ins_ids = np.concatenate(miss_ids)
            self.add_batch(ins_ids, np.concatenate(miss_vecs), seed=seed)
            n_inserted = int(ins_ids.size)
        if cand_ids.size:
            new_max = int(cand_ids.max())
            if new_max > self.max_committed_id:
                self.max_committed_id = new_max
                self._meta_dirty = True
        return n_inserted

    # ---- incremental add (W4 on the sharded tier) ------------------------

    def add_batch(self, new_ids: np.ndarray, new_vecs: np.ndarray,
                  seed: int = 43) -> None:
        """Route each new row to its nearest shard and graph-insert it
        there; shards are dirty-marked and flushed by save() — adds
        never invalidate the index (the reference's invariant,
        README.md:45). Loading one shard on the driver is the same
        memory envelope as the plain tier's whole graph."""
        new_vecs = np.asarray(new_vecs, dtype=np.float64)
        new_ids = np.asarray(new_ids, dtype=np.int64)
        labels = self.model.assign(new_vecs)
        for sid in np.unique(labels):
            mask = labels == sid
            sid = int(sid)
            if self.shard_counts.get(sid, 0) == 0:
                # empty shard: materialize a fresh sub-graph for it
                graph = HNSWIndex._build_graph(
                    new_vecs[mask], self.metric, self.m, self.ef_construction,
                    seed + sid)
                shard = HNSWIndex(new_ids[mask], new_vecs[mask], graph,
                                  self.metric, base=None, id_col=self.id_col,
                                  ef_construction=self.ef_construction)
                shard.dirty = True
                self._driver_shards[sid] = shard
            else:
                self._driver_shard(sid).add_batch(new_ids[mask], new_vecs[mask],
                                                  seed=seed)
            self.shard_counts[sid] = self.shard_counts.get(sid, 0) + int(mask.sum())
        if new_ids.size:
            self.max_committed_id = max(self.max_committed_id, int(new_ids.max()))
            self._meta_dirty = True
