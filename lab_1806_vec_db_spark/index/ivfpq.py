"""IVF+PQ combined index — the canonical 100 TB serving layout.

The reference pairs its coarse index with PQ only through the HNSW+PQ
``knn_pq`` path (hnsw_index.rs:672-696); at distributed scale the same
idea composes with IVF instead of a graph: the coarse quantizer prunes
*partitions*, PQ prunes *bytes*. This module is that composition,
beyond-reference but built from the repo's two existing reference-parity
layers (ivf.rs semantics via index/ivf.py, pq_table.rs semantics via
index/pq.py):

- **build**: fit the IVF coarse quantizer (k-means, k_means.rs:117-123)
  and the PQ codebooks (pq_table.rs:141-191) on the same seeded sample
  key; encode every row; store ``(id, code, cluster_id)`` persisted
  **partitioned by cluster_id**. At 100 TB the codes table is ~m/dim·¼
  the size of the raw vectors (4-bit codes) and a probe touches only
  n_probes/k of its directories — both pruning axes multiply.
- **search_batch** (and ``search``, which runs it over a one-row
  block): centroids are ranked driver-side (they are tiny, exactly the
  reference's in-memory centroid VecSet) and ``pq.adc_list_scan``, the
  flat PQ tier's scan with the clusters as its lists, runs one
  partition-pruned scan in which each codes partition scores a row
  only for the queries that probe its cluster (``pq.adc_tile`` per
  cluster run, pq_table.rs:239-301 lookup-sum, 4-dp rounded top-ef),
  then the global ADC gate, the exact re-rank (``pq.exact_rerank``,
  candidate_pair.rs:102-108: fused in the scan, or an Arrow-batched
  join wave) and the top-k cut. With one centroid it is the PQ tier's
  serve. The driver-local mirror (``enable_local_serve``) runs the same
  tile cut and re-rank over a thread pool with no Spark job.

Plan shape at scale: one pruned scan of the codes table (no shuffle),
one ef·|Q|-bounded shuffle for the merge window, one broadcast join for
the re-rank. Nothing driver-side grows with the table.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index.kmeans import KMeansModel, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.index.pq import (
    PQTable,
    adc_list_scan,
    adc_tile,
    build_lookup_batch,
    exact_rerank,
    lut_chunk,
    pq_groups,
    unpack_codes,
    _fit_codebooks,
)
from lab_1806_vec_db_spark.operators.knn import (
    collect_query_block,
    driver_topk_merge,
    empty_topk,
    filtered_topk_from_pool,
    group_probes,
)


class IVFPQIndex:
    """Coarse k-means router + PQ codes co-partitioned by cluster."""

    def __init__(
        self,
        model: KMeansModel,
        pq: PQTable,
        codes_clustered: DataFrame,
        base: DataFrame,
        vec_col: str = "vec",
        id_col: str = "id",
        path: str | None = None,
    ) -> None:
        self.model = model
        self.pq = pq
        self.codes_clustered = codes_clustered  # id, code, cluster_id
        self.base = base
        self.vec_col = vec_col
        self.id_col = id_col
        self.path = path
        self._appends = 0
        # driver-local serve mirror (enable_local_serve): codes +
        # f32 vectors grouped by cluster, for zero-Spark-job point and
        # small-batch queries — the distributed tier's point-serve twin
        self._local: dict | None = None
        self._local_enabled = False
        self._local_stale = False
        # executor-side codes pin (persist_codes): storage level to
        # re-apply after every codes-frame swap, and the frame it is
        # currently applied to (so the stale pin can be released)
        self._codes_storage = None
        self._codes_pinned: DataFrame | None = None
        self._codes_layout = False  # cluster-grouped pin (persist_codes)

    # ---- executor-side serve cache ----------------------------------------

    def persist_codes(self, storage_level=None,
                      cluster_layout: bool = True) -> "IVFPQIndex":
        """Pin the codes frame executor-side (default
        ``MEMORY_AND_DISK``) so repeated distributed serves read cached
        Arrow batches instead of re-listing and re-decoding parquet per
        query batch. The pin survives append / compact / crash-settle
        (each codes-frame swap re-applies it and releases the stale
        one). Block-manager caching is per-partition and spills to
        executor disk — on a cluster this pins only each executor's
        share, NOT a driver copy (the driver-side twin with different
        trade-offs is ``enable_local_serve``). Call ``unpersist_codes``
        to release.

        ``cluster_layout`` (default True) RANGE-repartitions the
        pinned frame on ``(cluster_id, id)`` and sorts within
        partitions ONCE before caching. A pathless build leaves codes
        in base-row order — clusters interleaved — so every ~10k-row
        Arrow fragment hands the probe scan slivers of ALL clusters:
        thousands of tiny (rows × queries) ADC tiles per serve, each
        clamping its per-query cut to the sliver height and
        over-emitting into the task accumulator (round-13 wave-A
        profile: the approx scan ran 4× the driver mirror on identical
        FLOPs from exactly this). The id rides in the range key
        because k-means clusters are SKEWED — whole-cluster placement
        (hash bins, or one cluster per partition) leaves a straggler
        task holding the biggest cluster that becomes the serve wall
        clock (round-13 layout experiment at 1M/960: hash skew 4.9×
        mean, approx wave 15.3 s vs 4.9 s balanced). Range on the
        composite key splits big clusters at id boundaries and packs
        small ones near |rows|/n_part per task; per-cluster-run tiles
        stay big, and candidate emission is correct under any row
        split (per-task top-ef is a superset filter of the global
        gate). One shuffle here is amortized over every subsequent
        serve."""
        from pyspark import StorageLevel

        self._codes_storage = storage_level or StorageLevel.MEMORY_AND_DISK
        self._codes_layout = bool(cluster_layout)
        self._repersist_codes(materialize=True)
        return self

    def unpersist_codes(self) -> None:
        self._codes_storage = None
        if self._codes_pinned is not None:
            try:
                self._codes_pinned.unpersist()
            except Exception:
                pass
            self._codes_pinned = None

    def _repersist_codes(self, materialize: bool = False) -> None:
        """Re-apply the executor pin to the CURRENT codes frame after a
        swap. The previous pinned frame is released after the new pin
        is in place; if the new frame's lineage reads the old one (the
        append-union path), the worst case is one recompute from
        parquet at the next action — never a wrong result."""
        if self._codes_storage is None:
            return
        prev = self._codes_pinned
        if getattr(self, "_codes_layout", False):
            # balance contiguous cluster runs across tasks before
            # pinning (see persist_codes): RANGE-partition on
            # (cluster_id, id) at 2× the session's shuffle width,
            # id-sorted within each partition so fragment boundaries
            # stay deterministic. Range with the id in the key — not
            # hash on cluster_id — because k-means clusters are
            # skewed: at 1M/960 one cluster held 13% of the table and
            # hash binning left a 4.9×-mean straggler task that was
            # the whole approx-wave wall clock (3× the balanced
            # layout, round-13 layout experiment). Splitting a cluster
            # across tasks is harmless: per-task top-ef emission is a
            # superset filter of the global gate under any row split.
            # Applied to the CURRENT frame at every swap — the shuffle
            # runs once per pin/append-swap, not per serve.
            spark = self.codes_clustered.sparkSession
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions",
                                        "32"))
            self.codes_clustered = self.codes_clustered.repartitionByRange(
                n_part, "cluster_id", self.id_col
            ).sortWithinPartitions("cluster_id", self.id_col)
        self.codes_clustered = self.codes_clustered.persist(self._codes_storage)
        self._codes_pinned = self.codes_clustered
        if materialize:
            self.codes_clustered.count()
        if prev is not None and prev is not self.codes_clustered:
            # the cache manager matches by canonicalized plan: when the
            # old and new frames are both reads of the SAME directory
            # (the pinned-append path), unpersisting the old one would
            # drop the shared cache entry — including the pin we just
            # placed. Release only plans that are genuinely different.
            try:
                same = prev._jdf.queryExecution().analyzed().sameResult(
                    self.codes_clustered._jdf.queryExecution().analyzed()
                )
            except Exception:
                # if the py4j probe itself fails, assume SAME and keep
                # the old entry: leaking one stale pin is cheaper than
                # unpersisting a shared plan and silently dropping the
                # pin just placed (recompute-from-parquet regression)
                same = True
            if not same:
                try:
                    prev.unpersist()
                except Exception:
                    pass

    # ---- build ------------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        k_coarse: int = 128,
        m: int | None = None,
        n_bits: int = 4,
        metric: str = "l2sqr",
        vec_col: str = "vec",
        id_col: str = "id",
        train_size: int = 10_000,
        seed: int = 42,
        path: str | None = None,
        dim: int | None = None,
        store_vec_dtype: str | None = None,
    ) -> "IVFPQIndex":
        """One seeded sample trains both quantizers; one distributed
        pass assigns + encodes every row (map-only — cluster argmin and
        PQ argmin ride the same Arrow batch).

        ``store_vec_dtype="float32"`` stores the travelling re-rank
        vector at f32 — the reference's own serving precision
        (vec_set.rs stores f32) — halving the vector bytes the fused
        re-rank ships through Arrow per query batch. Exact distances
        then carry f32 input error (~1e-5 relative at dim≈1000, i.e.
        an occasional last-decimal flip under the 4-dp contract), so
        the oracle-checked default stays full precision."""
        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        if store_vec_dtype not in (None, "float32", "float64"):
            raise ValueError(f"Unsupported store_vec_dtype: {store_vec_dtype}")
        vec_type = {"float32": "array<float>", "float64": "array<double>",
                    None: None}[store_vec_dtype]
        sample = sample_rows(df, train_size, vec_col=vec_col, id_col=id_col, seed=seed)
        model = fit_kmeans(sample, k=k_coarse, metric=metric, seed=seed)
        mm = -(-dim // 3) if m is None else int(m)
        groups = pq_groups(dim, mm)
        codebooks = _fit_codebooks(sample, groups, 1 << n_bits, seed)
        pq = PQTable(codebooks, groups, n_bits, codes=None, base=df,  # type: ignore[arg-type]
                     vec_col=vec_col, id_col=id_col)
        codes_clustered = cls._assign_encode(df, model, pq, vec_col, id_col,
                                             vec_type=vec_type)
        if path is not None:
            spark = df.sparkSession
            os.makedirs(path, exist_ok=True)
            cls._write_codes(codes_clustered, os.path.join(path, "codes"), id_col)
            np.save(os.path.join(path, "centroids.npy"), model.centroids)
            np.savez(os.path.join(path, "codebooks.npz"),
                     **{f"g{gi}": cb for gi, cb in enumerate(codebooks)})
            with open(os.path.join(path, "meta.json"), "w") as f:
                json.dump({"metric": metric, "vec_col": vec_col, "id_col": id_col,
                           "k": model.k, "groups": groups, "n_bits": n_bits,
                           "dim": dim}, f)
            codes_clustered = spark.read.parquet(os.path.join(path, "codes"))
        pq.codes = codes_clustered.select(id_col, "code")
        idx = cls(model, pq, codes_clustered, df, vec_col=vec_col, id_col=id_col,
                  path=path)
        if path is not None:
            # seed the durable codes watermark (max encoded id) — the
            # append path advances it after every completed codes write
            row = codes_clustered.agg(F.max(id_col)).first()[0]
            idx._write_watermark(-1 if row is None else int(row))
        return idx

    @classmethod
    def load(cls, spark: SparkSession, path: str, base: DataFrame) -> "IVFPQIndex":
        """S8 parity: reopen without re-training/encoding. Recovery runs
        in three layers, cheapest first:

        1. a crashed codes-directory swap is completed/rolled back
           (``_recover_codes_swap`` — the two-rename window in settle
           and compact is not atomic on its own);
        2. a pending append marker left by a crashed ``add_batch`` is
           settled (drop the possibly-partial code rows, re-encode that
           id range from ``base``) so the codes table is exactly one row
           per base row again — partial codes silently shrink the
           candidate pool, duplicate codes double-rank ids;
        3. the durable codes watermark closes the post-commit gap: base
           rows above it (a crash landed the base append but never
           started the codes write, so no marker exists) are re-encoded
           (``_codes_tail_sync``). Costs one max(id) footer-cheap agg
           per reopen."""
        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        model = KMeansModel(centroids=np.load(os.path.join(path, "centroids.npy")),
                            metric=meta["metric"])
        npz = np.load(os.path.join(path, "codebooks.npz"))
        codebooks = [npz[f"g{gi}"] for gi in range(len(meta["groups"]))]
        cls._recover_codes_swap(os.path.join(path, "codes"))
        codes_clustered = spark.read.parquet(os.path.join(path, "codes"))
        pq = PQTable(codebooks, [tuple(g) for g in meta["groups"]], meta["n_bits"],
                     codes=codes_clustered.select(meta["id_col"], "code"), base=base,
                     vec_col=meta["vec_col"], id_col=meta["id_col"])
        idx = cls(model, pq, codes_clustered, base, vec_col=meta["vec_col"],
                  id_col=meta["id_col"], path=path)
        idx._settle_pending_codes()
        idx._codes_tail_sync()
        return idx

    @staticmethod
    def _write_codes(codes: DataFrame, dest: str, id_col: str) -> None:
        """The layout of every full codes write (build, settle, compact):
        one shuffle on ``cluster_id`` hands each cluster to one task, so
        each ``cluster_id=*`` directory holds one file, id-sorted so its
        row groups carry tight id min/max stats. Written from the one
        task that held a whole table, 64 cluster files took ~2 s on a
        10k-row build; the shuffle costs one more job and took the write
        to ~0.9 s (4 cores). Skew is a build-time cost only: the largest
        cluster is one task's file (at 1M/960 one cluster held 13% of
        the rows, see ``IVFIndex.persist_data``), while unpinned serves
        split files by row group and pinned serves re-range as before.
        The batch-sized append (``add_batch``) keeps its plain write."""
        codes.repartition("cluster_id").sortWithinPartitions(
            "cluster_id", id_col
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(dest)

    @staticmethod
    def _assign_encode(df: DataFrame, model: KMeansModel, pq: PQTable,
                       vec_col: str, id_col: str,
                       vec_type: str | None = None) -> DataFrame:
        """Single map-only pass producing (id, code, vec, cluster_id).

        The raw vector travels WITH its code into the cluster-partitioned
        layout: parquet is columnar, so the ADC probe scan (which selects
        only id+code) still reads ~m/dim·¼ of the bytes, while the exact
        re-rank can fetch candidate vectors from the PROBED directories
        only — instead of a full scan of the unpartitioned base table,
        which at RAM-resident scale cost as much as the raw-IVF scan the
        PQ stage was supposed to undercut.

        ``vec_type`` (e.g. ``"array<float>"``) stores the travelling
        vector at that precision instead of the input's — appends and
        crash repairs pass the CURRENT codes schema so the layout stays
        dtype-consistent."""
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(
            (model.centroids, model.metric, pq.codebooks, pq.groups, pq.n_bits)
        )
        if vec_type is not None and \
                df.schema[vec_col].dataType.simpleString() != vec_type:
            df = df.withColumn(vec_col, F.col(vec_col).cast(vec_type))
        vec_t = df.schema[vec_col].dataType.simpleString()

        def enc(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import vec_matrix
            from lab_1806_vec_db_spark.index.kmeans import _pairwise_dist
            from lab_1806_vec_db_spark.index.pq import pack_codes

            cents, metric, codebooks, groups, n_bits = bc.value
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                # the travelling vector column passes through as Arrow
                # buffers; only the f64 working copy is materialized
                x = vec_matrix(rb.column(rb.schema.get_field_index(vec_col)),
                               dtype=np.float64)
                cid = np.argmin(_pairwise_dist(x, cents, metric), axis=1)
                codes = np.empty((x.shape[0], len(groups)), dtype=np.uint8)
                for gi, (start, size) in enumerate(groups):
                    d = _pairwise_dist(x[:, start : start + size], codebooks[gi], "l2sqr")
                    codes[:, gi] = np.argmin(d, axis=1)
                yield pa.RecordBatch.from_arrays(
                    [rb.column(rb.schema.get_field_index(id_col)).cast(pa.int64()),
                     pa.array(pack_codes(codes, n_bits), type=pa.binary()),
                     rb.column(rb.schema.get_field_index(vec_col)),
                     pa.array(cid.astype(np.int32), type=pa.int32())],
                    names=[id_col, "code", vec_col, "cluster_id"],
                )

        return df.select(id_col, vec_col).mapInArrow(
            enc, schema=f"{id_col} long, code binary, {vec_col} {vec_t}, cluster_id int"
        )

    # ---- incremental append (W4 for the distributed tier) -----------------

    # durability protocol for the codes table (the distributed twin of
    # VecDB's append crash protocol):
    #   marker    — pending_append.json names the id range whose codes
    #               may have landed partially; written BEFORE the codes
    #               append, cleared after (covers crashes DURING a write);
    #   watermark — codes_watermark.json holds the max id whose codes
    #               are durably complete; advanced only AFTER a codes
    #               write finishes (covers crashes BEFORE a write ever
    #               started: base committed, marker never written);
    #   swap      — directory rewrites go tmp → old → live with _SUCCESS
    #               as the completeness sentinel; _recover_codes_swap
    #               completes or rolls back a crash inside the window.
    # Re-encoding is bit-identical (frozen quantizers), so every repair
    # path is idempotent.

    def _watermark_path(self) -> str:
        return os.path.join(self.path, "codes_watermark.json")

    def _read_watermark(self) -> int | None:
        try:
            with open(self._watermark_path()) as f:
                return int(json.load(f)["max_id"])
        except (OSError, ValueError, KeyError):
            return None

    def _write_watermark(self, max_id: int) -> None:
        p = self._watermark_path()
        with open(p + ".tmp", "w") as f:
            json.dump({"max_id": int(max_id)}, f)
        os.replace(p + ".tmp", p)

    @staticmethod
    def _recover_codes_swap(codes_path: str) -> None:
        """Complete (or roll back) a directory swap a crash interrupted:
        the two-rename window in ``_settle_pending_codes``/``compact``
        (live → __old, then __tmp → live) can leave NO directory at the
        live path. ``_SUCCESS`` (written by Spark's committer) proves
        the tmp dir is a complete rewrite — promote it; otherwise the
        __old dir is the untouched pre-swap state — restore it (the
        still-present marker makes settle re-run)."""
        import shutil

        tmp, old = codes_path + "__tmp", codes_path + "__old"
        if os.path.isdir(codes_path):
            return
        if os.path.isdir(tmp) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.replace(tmp, codes_path)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            os.replace(old, codes_path)
            shutil.rmtree(tmp, ignore_errors=True)

    def _codes_tail_sync(self) -> None:
        """Re-encode base rows above the durable codes watermark — the
        codes-table twin of ``VecDB._hnsw_tail_sync``. This closes the
        one crash window the pending marker cannot see: base append
        committed (idempotency token recorded, so the redelivered epoch
        no-ops) but ``add_batch`` crashed before writing its marker —
        without the watermark those rows would be missing from IVF+PQ
        search results forever. Rows between the watermark and the
        codes max (crash after the codes write but before the watermark
        advance) are dropped and re-encoded bit-identically, so the
        sync never duplicates."""
        if self.path is None:
            return
        wm = self._read_watermark()
        if wm is None:
            # legacy artifact predating the watermark: initialize from
            # the codes table itself (settle already ran, so codes are
            # exactly one row per covered base row)
            row = self.codes_clustered.agg(F.max(self.id_col)).first()[0]
            wm = -1 if row is None else int(row)
            self._write_watermark(wm)
        row = self.base.agg(F.max(self.id_col)).first()[0]
        base_max = -1 if row is None else int(row)
        if base_max <= wm:
            return
        marker = os.path.join(self.path, "pending_append.json")
        with open(marker + ".tmp", "w") as f:
            json.dump({"lo": wm + 1, "hi": base_max + 1}, f)
        os.replace(marker + ".tmp", marker)
        # settle drops any code rows already in the range and re-encodes
        # the whole range from base, then advances the watermark
        self._settle_pending_codes()

    def _settle_pending_codes(self) -> None:
        """Repair a crashed codes append (the IVF+PQ twin of VecDB's
        append crash protocol): the marker names the id range whose
        codes may have landed partially (or, under an external retry,
        twice). Drop every code row in the range via a tmp-dir rewrite
        + two-rename swap (the swap window itself is covered by
        ``_recover_codes_swap``), re-encode those ids from ``base``
        (frozen quantizers → bit-identical codes), clear the marker,
        and advance the watermark over the repaired range."""
        if self.path is None:
            return
        codes_path = os.path.join(self.path, "codes")
        self._recover_codes_swap(codes_path)
        marker = os.path.join(self.path, "pending_append.json")
        if not os.path.exists(marker):
            return
        import shutil

        with open(marker) as f:
            pend = json.load(f)
        lo, hi = int(pend["lo"]), int(pend["hi"])
        spark = self.base.sparkSession
        # stale-session guard (the table-repair twin documents why,
        # db/vecdb.py::_settle_pending): a cached codes relation must
        # not stand in for the directory's real content during repair
        spark.catalog.refreshByPath(codes_path)
        in_range = (F.col(self.id_col) >= lo) & (F.col(self.id_col) < hi)
        kept = spark.read.parquet(codes_path).filter(~in_range)
        redo = self._assign_encode(
            self.base.filter(in_range), self.model, self.pq,
            self.vec_col, self.id_col,
            vec_type=kept.schema[self.vec_col].dataType.simpleString(),
        )
        tmp = codes_path + "__tmp"
        self._write_codes(kept.unionByName(redo.select(*kept.columns)), tmp,
                          self.id_col)
        old = codes_path + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(codes_path, old)
        os.replace(tmp, codes_path)
        shutil.rmtree(old, ignore_errors=True)
        spark.catalog.refreshByPath(codes_path)
        os.remove(marker)
        wm = self._read_watermark()
        if wm is None or hi - 1 > wm:
            self._write_watermark(hi - 1)
        self.codes_clustered = spark.read.parquet(codes_path)
        self.pq.codes = self.codes_clustered.select(self.id_col, "code")
        self._repersist_codes()
        if self._local_enabled:
            self._local = None  # mid-range rows changed: full rebuild

    def add_batch(self, df_new: DataFrame) -> None:
        """Append rows without rebuilding: the quantizers are FROZEN
        (standard IVF+PQ practice — k-means centroids and PQ codebooks
        are trained once; appends are encoded with them), so an append
        is one map-only assign+encode pass over the new rows plus an
        append-mode partitioned write. No O(N) rewrite — the new files
        land inside their clusters' existing directories, the exact
        shape the reference's incremental HNSW insert has on the
        broadcast tier (hnsw_index.rs:538-572), transplanted to the
        partition layout.

        Drift caveat (documented, matching the reference's own
        behavior of never re-training on insert): heavy appends far
        from the training distribution degrade recall until the next
        rebuild; the quantizers are not updated in place."""
        # the exact re-rank joins candidates against ``base`` — it MUST
        # cover the appended ids or their candidates silently drop
        if not set(self.base.columns) <= set(df_new.columns):
            raise ValueError(
                "add_batch needs the new rows to carry the base table's columns "
                f"({self.base.columns}) so the re-rank base stays complete; "
                "refresh .base yourself if the table lives elsewhere"
            )
        enc = self._assign_encode(
            df_new, self.model, self.pq, self.vec_col, self.id_col,
            # appended rows must match the stored vector dtype or the
            # union/write would widen the layout mid-table
            vec_type=self.codes_clustered.schema[self.vec_col]
            .dataType.simpleString(),
        )
        # materialize the encoded batch ONCE (executor-memory
        # checkpoint), then both the durable write and the in-memory
        # union read the same materialized rows: no re-running the
        # assign+encode mapInPandas lineage on every subsequent query
        # between compactions, and no silent divergence between what
        # was written and what is served if df_new's source is
        # non-deterministic
        enc = enc.localCheckpoint(eager=True)
        if self.path is not None:
            self._settle_pending_codes()  # a prior crashed append, if any
            # pending marker BEFORE the codes append (the same
            # reserve→write→clear protocol as VecDB appends): a crash
            # mid-write is repaired at the next load()/add_batch()
            lohi = enc.agg(
                F.min(self.id_col).alias("lo"), F.max(self.id_col).alias("hi")
            ).first()
            marker = os.path.join(self.path, "pending_append.json")
            if lohi["lo"] is not None:
                with open(marker + ".tmp", "w") as f:
                    json.dump({"lo": int(lohi["lo"]), "hi": int(lohi["hi"]) + 1}, f)
                os.replace(marker + ".tmp", marker)
            enc.write.mode("append").partitionBy("cluster_id").parquet(
                os.path.join(self.path, "codes")
            )
            if lohi["lo"] is not None:
                os.remove(marker)
                # advance the durable watermark AFTER the completed
                # write (a crash in between is repaired by the tail
                # sync's drop-and-re-encode — idempotent)
                wm = self._read_watermark()
                hi_id = int(lohi["hi"])
                if wm is None or hi_id > wm:
                    self._write_watermark(hi_id)
            # serve from an in-memory union rather than re-listing the
            # whole codes directory per append (a streaming ingest at
            # one batch per trigger would otherwise pay an O(files)
            # listing every micro-batch); collapse the union lineage
            # back to one clean scan every 16 appends
            self._appends += 1
            if self._codes_storage is not None:
                # a PINNED codes cache cannot take the frozen-listing
                # union: the append write auto-refreshes cached plans
                # on its output path (InsertIntoHadoopFsRelation →
                # refreshByPath), so the pinned left branch re-lists
                # the directory — which now includes the appended
                # files — and the union double-counts the batch
                # (observed: 250+50 append served 350 rows). Re-read
                # the directory instead (it already covers the batch)
                # and move the pin. Cost: O(files) listing per append
                # while pinned — compact() on a cadence if streaming.
                self.codes_clustered = df_new.sparkSession.read.parquet(
                    os.path.join(self.path, "codes")
                )
                self._repersist_codes()
            elif self._appends % 16 == 0:
                self.codes_clustered = df_new.sparkSession.read.parquet(
                    os.path.join(self.path, "codes")
                )
            else:
                self.codes_clustered = self.codes_clustered.unionByName(
                    enc.select(*self.codes_clustered.columns)
                )
        else:
            self.codes_clustered = self.codes_clustered.unionByName(enc)
            # path=None: no directory to re-list, so the union is safe
            # with a pin too — it stays on the (still-referenced) left
            # branch and the checkpointed encode rides alongside
        self.pq.codes = self.codes_clustered.select(self.id_col, "code")
        self.base = self.base.unionByName(df_new.select(*self.base.columns))
        if self._local_enabled:
            # the mirror tail-refreshes lazily at the next local serve
            # (VecDB ids are monotonic, so the gap is exactly id > max)
            self._local_stale = True

    def compact(self) -> None:
        """Rewrite the codes layout in one pass — the opt-in answer to
        append-mode small-file growth (each append adds a file per
        touched cluster directory; thousands of micro-batches make the
        probe scans listing-bound). O(N) by design, like any compaction;
        run it on a maintenance cadence, not per batch."""
        if self.path is None:
            return
        spark = self.codes_clustered.sparkSession
        live = os.path.join(self.path, "codes")
        tmp = live + "__tmp"
        self._write_codes(spark.read.parquet(live), tmp, self.id_col)
        import shutil

        # same crash-covered two-rename swap as settle: a crash inside
        # the window is completed/rolled back by _recover_codes_swap
        old = live + "__old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(live, old)
        os.replace(tmp, live)
        shutil.rmtree(old, ignore_errors=True)
        spark.catalog.refreshByPath(live)
        self.codes_clustered = spark.read.parquet(live)
        self.pq.codes = self.codes_clustered.select(self.id_col, "code")
        self._repersist_codes()

    # ---- driver-local serve (the distributed tier's point-query twin) -----
    #
    # The partition-pruned Spark path is the 100 TB layout, but every
    # query pays the per-job scheduling floor (~ms), which dwarfs the
    # actual ADC math for point queries (BENCH_FULL matched grid:
    # ivfpq 1.6-10.9 ms/q vs 0.02-0.18 for the driver-side graph tier).
    # When the codes (+ f32 vectors for the exact re-rank) fit a driver
    # memory cap, mirror them once and serve point/batch queries with
    # the SAME semantics — per-cluster rounded ADC top-ef, global gate,
    # exact re-rank, rounded top-k — entirely driver-side: the compiled
    # lookup-sum kernel (ckernel.adc_block) releases the GIL, so a
    # thread pool tiles (cluster × probing-queries) across cores with
    # zero Spark jobs. This is the reference's own latency model
    # (flat_index.rs:84-104 serves from RAM); the distributed path
    # remains the default and the only path above the cap.

    def enable_local_serve(self, max_bytes: int = 8 << 30) -> bool:
        """Build the driver-local mirror when it fits ``max_bytes``
        (codes m B/row + f32 vectors 4·dim B/row + ids). Returns False
        — and every query stays on the distributed path — when the
        table is too large or the codes layout lacks the vector column
        needed for the local exact re-rank."""
        if self.vec_col not in self.codes_clustered.columns:
            self._local_denied = True  # callers stop re-probing per query
            return False
        n = self.codes_clustered.count()
        if n * (self.pq.m + 4 * self.pq.dim + 12) > int(max_bytes):
            self._local_denied = True
            return False
        self._local = None
        self._local_enabled = True
        self._local_stale = False
        self._local_pull(full=True)
        return True

    def _local_pull(self, full: bool) -> None:
        """(Re)build or tail-extend the mirror: one Arrow collect of
        (id, code, cluster_id, vec) — above the cached max id on a tail
        refresh — then regroup rows by cluster (sorted arrays +
        searchsorted starts, so a probe is a contiguous slice)."""
        sel = self.codes_clustered.select(
            self.id_col, "code", "cluster_id", self.vec_col
        )
        old = None if full else self._local
        if old is not None:
            sel = sel.filter(F.col(self.id_col) > int(old["max_id"]))
        pdf = sel.toPandas()
        if len(pdf):
            buf = np.frombuffer(b"".join(pdf["code"]), dtype=np.uint8)
            codes = unpack_codes(
                buf.reshape(len(pdf), -1), self.pq.m, self.pq.n_bits
            )
            ids = pdf[self.id_col].to_numpy().astype(np.int64, copy=False)
            cl = pdf["cluster_id"].to_numpy().astype(np.int32, copy=False)
            vecs = np.asarray(pdf[self.vec_col].to_list(), dtype=np.float32)
        else:
            ids = np.empty(0, dtype=np.int64)
            cl = np.empty(0, dtype=np.int32)
            codes = np.empty((0, self.pq.m), dtype=np.uint8)
            vecs = np.empty((0, self.pq.dim), dtype=np.float32)
        if old is not None:
            ids = np.concatenate([old["ids"], ids])
            cl = np.concatenate([old["cl"], cl])
            codes = np.concatenate([old["codes"], codes], axis=0)
            vecs = np.concatenate([old["vecs"], vecs], axis=0)
        order = np.argsort(cl, kind="stable")
        cl = cl[order]
        k_clusters = int(self.model.centroids.shape[0])
        starts = np.searchsorted(cl, np.arange(k_clusters + 1))
        self._local = {
            "ids": np.ascontiguousarray(ids[order]),
            "cl": cl,
            "codes": np.ascontiguousarray(codes[order]),
            "vecs": np.ascontiguousarray(vecs[order]),
            "starts": starts,
            "max_id": int(ids.max()) if ids.size else -1,
        }
        self._local_stale = False

    def _local_state(self) -> dict | None:
        if not self._local_enabled:
            return None
        if self._local is None:
            self._local_pull(full=True)
        elif self._local_stale:
            self._local_pull(full=False)
        return self._local

    def _search_local(
        self,
        qmat: np.ndarray,
        k: int,
        n_probes: int,
        ef: int,
        metric: str,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Driver-side batch kNN over the mirror, bit-identical to the
        distributed two-pass plan: per-cluster ADC → 4-dp rounded
        per-cluster top-ef (id tie-break, :func:`index.pq.adc_tile`) →
        global rounded top-ef → exact re-rank (:func:`index.pq.
        exact_rerank`) → rounded top-k. Returns flat (qidx, ids, dists)
        triples, ascending per query. The batch is chunked so the f64
        lookup tensor stays under ``pq.MAX_LUT_BYTES`` — the same budget
        the distributed path applies per broadcast — so a 200k-query
        batch never allocates a multi-GB LUT on the driver regardless of
        the mirror cap."""
        from concurrent.futures import ThreadPoolExecutor

        from lab_1806_vec_db_spark.index import ckernel

        L = self._local
        assert L is not None
        nq = qmat.shape[0]
        chunk = lut_chunk(self.pq.m, self.pq.n_bits)
        if nq > chunk:
            qs_p, is_p, ds_p = [], [], []
            for s in range(0, nq, chunk):
                q_, i_, d_ = self._search_local(
                    qmat[s : s + chunk], k, n_probes, ef, metric)
                qs_p.append(q_ + s)
                is_p.append(i_)
                ds_p.append(d_)
            return (
                np.concatenate(qs_p), np.concatenate(is_p),
                np.concatenate(ds_p),
            )
        ef_ = max(int(ef), int(k))
        probes = self.model.rank_centroids_batch(qmat, n_probes)
        by_cluster = group_probes(np.asarray(probes))
        lut3, sq, qn = build_lookup_batch(
            qmat, self.pq.codebooks, self.pq.groups, self.pq.n_bits, metric
        )
        lut64 = np.ascontiguousarray(lut3, dtype=np.float64)

        def run_tile(cid: int, s: int, e: int, qlo: int, qhi: int):
            sel = np.asarray(by_cluster[cid][qlo:qhi], dtype=np.int64)
            ids = L["ids"][s:e]
            # one GIL-released C call per l2sqr tile (ckernel.adc_topk)
            # — per-tile round/lexsort ufunc passes held the GIL and
            # serialized the pool (22 s → ~1 s at the worst-skew N=1M
            # shape)
            rows, d = adc_tile(L["codes"][s:e], ids, lut64, sq, qn, sel, ef_)
            return (np.repeat(sel, rows.shape[1]), ids[rows].reshape(-1),
                    d.reshape(-1), (rows + s).reshape(-1))

        # tile = (cluster, QUERY-chunk): k-means clusters are SKEWED, and
        # a popular cluster draws both more rows and more probing
        # queries — one giant (cluster × all-queries) tile on a single
        # thread was the whole critical path at N=1M. Chunking the
        # QUERY axis (not the rows) keeps the pool balanced while each
        # tile still sees the cluster's FULL row range, so per-tile
        # top-kk is exactly the per-cluster top-kk — candidate volume
        # stays n_probes·kk per query (a row-chunk variant inflated it
        # by the chunk count and drowned the finalize), and the tile's
        # LUT slice (a few queries × m·2^b) stays cache-resident.
        budget_pairs = 2_000_000
        tiles: list[tuple[int, int, int, int, int]] = []
        for cid in sorted(by_cluster):
            s, e = int(L["starts"][cid]), int(L["starts"][cid + 1])
            if s == e:
                continue
            nq_c = len(by_cluster[cid])
            step_q = max(4, budget_pairs // max(1, e - s))
            for qlo in range(0, nq_c, step_q):
                tiles.append((cid, s, e, qlo, min(qlo + step_q, nq_c)))
        if len(tiles) > 1 and ckernel.available():
            workers = min(len(tiles), os.cpu_count() or 4)
            with ThreadPoolExecutor(max_workers=workers) as tp:
                parts = list(tp.map(lambda t: run_tile(*t), tiles))
        else:
            parts = [run_tile(*t) for t in tiles]
        if not parts:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.float64))
        qidx, cids, adc, rowp = (np.concatenate(c) for c in zip(*parts))
        # fully vectorized finalize (a per-query Python loop ran 1000
        # small numpy ops per query and serialized the batch): ONE
        # global (qid, adc_r, id) sort ranks every candidate inside its
        # query segment; the gate keeps rank < ef; the gated pairs are
        # re-ranked in one exact_rerank call straight off the mirror
        # rows (gathered a step at a time, never as one copy); a
        # second global sort cuts rank < k. (q, id) pairs are unique — a
        # row belongs to exactly one cluster and a query probes distinct
        # clusters — so the strict (adc_r, id) order matches the
        # distributed plan's gate.
        order = np.lexsort((cids, adc, qidx))
        qidx, cids, rowp = qidx[order], cids[order], rowp[order]
        bounds = np.searchsorted(qidx, np.arange(nq + 1))
        rank = np.arange(qidx.size) - bounds[qidx]
        gate = rank < ef_
        qg, ig, rg = qidx[gate], cids[gate], rowp[gate]
        ex = exact_rerank(L["vecs"], rg, qmat, qg, metric)
        order2 = np.lexsort((ig, ex, qg))
        qs2, is2, ds2 = qg[order2], ig[order2], ex[order2]
        b2 = np.searchsorted(qs2, np.arange(nq + 1))
        rank2 = np.arange(qs2.size) - b2[qs2]
        keep = rank2 < int(k)
        return qs2[keep], is2[keep], ds2[keep]

    # ---- search -----------------------------------------------------------

    def search(
        self,
        query: Sequence[float],
        k: int,
        n_probes: int = 4,
        ef: int = 64,
        metric: str | None = None,
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Single-query IVF+PQ as ``(id, dist)``: :meth:`search_batch`
        over a one-row block (the driver mirror when enabled)."""
        return self.search_batch(
            np.asarray([query], dtype=np.float64), k, n_probes, ef, metric,
            upper_bound=upper_bound,
        ).select(self.id_col, "dist")

    def search_filtered(
        self,
        query: Sequence[float],
        k: int,
        filtered_base: DataFrame,
        n_probes: int = 4,
        ef: int = 64,
        oversample: int = 4,
    ) -> DataFrame:
        """Metadata-filtered ANN for one query as ``(id, dist)``:
        :meth:`search_batch_filtered` over a one-row block (its pool
        from the driver mirror when enabled)."""
        return self.search_batch_filtered(
            np.asarray([query], dtype=np.float64), k, filtered_base,
            n_probes=n_probes, ef=ef, oversample=oversample,
        ).select(self.id_col, "dist")

    def search_batch_filtered(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        filtered_base: DataFrame,
        n_probes: int = 4,
        ef: int = 64,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        oversample: int = 4,
        exact_fallback: bool = True,
        fallback_margin: float = 1.0,
    ) -> DataFrame:
        """Oversample-and-filter: each query's max(ef, oversample·k)
        ADC + re-rank pool (:meth:`search_batch`) goes through the shared
        finisher (operators/knn.py::filtered_topk_from_pool)."""
        pool_k = max(int(ef), int(oversample) * int(k), int(k))
        pool = self.search_batch(
            queries, k=pool_k, n_probes=n_probes, ef=pool_k,
            qid_col=qid_col, qvec_col=qvec_col,
        )
        return filtered_topk_from_pool(
            pool, queries, k, filtered_base, self.id_col, self.model.metric,
            self.vec_col, qid_col=qid_col, qvec_col=qvec_col,
            exact_fallback=exact_fallback, fallback_margin=fallback_margin,
            pool_k=pool_k, dim=self.pq.dim,
        )

    def search_batch(
        self,
        queries: DataFrame | np.ndarray,
        k: int,
        n_probes: int = 4,
        ef: int = 64,
        metric: str | None = None,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Batch IVF+PQ: the driver mirror when enabled, else
        :func:`index.pq.adc_list_scan` with the clusters as its lists —
        one pruned scan of the codes table in which each partition
        scores a row only for the queries probing its cluster (LUT
        gather, no raw vectors touched), then the global ADC gate, the
        exact re-rank and the final top-k. Per-task memory is the scan's
        accumulator floors; Python workers are per-core, so the
        executor-wide footprint multiplies by concurrent task slots (the
        result set is identical at any floor).

        ``queries`` is a DataFrame or a driver-side matrix
        (:func:`operators.knn.collect_query_block`)."""
        metric = metric or self.model.metric
        spark = self.codes_clustered.sparkSession
        block = collect_query_block(queries, qid_col, qvec_col, self.pq.dim)
        if block is None:
            return empty_topk(spark, self.id_col, qid_col)
        qids, qmat = block
        id_col = self.id_col
        ef_ = max(int(ef), int(k))

        if self._local_state() is not None:
            # driver-mirror batch serve: the (cluster × probing-queries)
            # tiling of _search_local through the GIL-releasing compiled
            # kernel on a thread pool, its result a driver-built local
            # frame whose collect() runs no job — the serve's only job
            # is a DataFrame block's collect (none for a matrix block)
            qq, ii, dd = self._search_local(qmat, int(k), int(n_probes), ef_, metric)
            return driver_topk_merge(spark, qids[qq], ii, dd, int(k), id_col,
                                     upper_bound, qid_col)

        probes = self.model.rank_centroids_batch(qmat, n_probes)
        # ×2: per-task emission is ef per (query, TASK), and the
        # balanced range pin splits big clusters across ~2 tasks on
        # average (measured 1.8× raw-emission inflation at 1M/8p with
        # the pin at shuffle width), so the emission runs ~2× the
        # |Q|·n_probes·ef ideal
        out = adc_list_scan(self.codes_clustered, self.base, self.pq, block, probes,
                            int(k), ef_, metric, upper_bound,
                            len(qids) * int(n_probes) * ef_ * 2, tier="ivfpq")
        if qid_col != "query_id":
            out = out.withColumnRenamed("query_id", qid_col)
        return out
