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
- **search**: rank centroids driver-side (they are tiny, exactly the
  reference's in-memory centroid VecSet), partition-pruned ADC scan of
  the probed clusters only (pq_table.rs:239-301 lookup-sum), top-ef by
  rounded approximate distance, then one broadcast join back to the
  base table for the exact re-rank (candidate_pair.rs:102-108).
- **search_batch**: per-query probe sets share one scan — each codes
  partition scores a row only for the queries that probe its cluster,
  per-partition top-ef, k-bounded window merge, Arrow-batched re-rank.

Plan shape at scale: one pruned scan of the codes table (no shuffle),
one ef·|Q|-bounded shuffle for the merge window, one broadcast join for
the re-rank. Nothing driver-side grows with the table.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import dist_expr
from lab_1806_vec_db_spark.index.ivf import group_probes
from lab_1806_vec_db_spark.index.kmeans import KMeansModel, fit_kmeans, sample_rows
from lab_1806_vec_db_spark.index.pq import (
    PQTable,
    build_lookup_batch,
    finish_adc,
    make_grouped_rerank_scan,
    pq_groups,
    unpack_codes,
    _fit_codebooks,
)
from lab_1806_vec_db_spark.operators.knn import (
    collect_query_block,
    empty_topk,
    np_round_half_up,
    round_dist,
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
            # id-sorted within each task → per-file row groups carry
            # tight id min/max stats inside every cluster directory
            # (zero extra shuffle; sort is per task)
            codes_clustered.sortWithinPartitions(
                "cluster_id", id_col
            ).write.mode("overwrite").partitionBy("cluster_id").parquet(
                os.path.join(path, "codes")
            )
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
        kept.unionByName(redo.select(*kept.columns)).write.mode(
            "overwrite"
        ).partitionBy("cluster_id").parquet(tmp)
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
        spark.read.parquet(live).repartition(
            "cluster_id"
        ).sortWithinPartitions(
            "cluster_id", self.id_col
        ).write.mode("overwrite").partitionBy("cluster_id").parquet(tmp)
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
        dim = sum(size for _, size in self.pq.groups)
        if n * (self.pq.m + 4 * dim + 12) > int(max_bytes):
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
            dim = sum(size for _, size in self.pq.groups)
            ids = np.empty(0, dtype=np.int64)
            cl = np.empty(0, dtype=np.int32)
            codes = np.empty((0, self.pq.m), dtype=np.uint8)
            vecs = np.empty((0, dim), dtype=np.float32)
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
        max_lut_bytes: int = 64 << 20,
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Driver-side batch kNN over the mirror, bit-identical to the
        distributed two-pass plan: per-cluster ADC → 4-dp rounded
        per-cluster top-ef (id tie-break) → global rounded top-ef →
        exact f64 re-rank (same formula as index/pq.py::
        make_rerank_scan) → rounded top-k. Returns flat (qidx, ids,
        dists) triples, ascending per query. The batch is chunked so
        the f64 lookup tensor stays under ``max_lut_bytes`` — the same
        budget the distributed path applies per broadcast — so a
        200k-query batch never allocates a multi-GB LUT on the driver
        regardless of the mirror cap."""
        from concurrent.futures import ThreadPoolExecutor

        from lab_1806_vec_db_spark.index import ckernel

        L = self._local
        assert L is not None
        nq = qmat.shape[0]
        lut_chunk = max(
            4, int(max_lut_bytes) // (self.pq.m * (1 << self.pq.n_bits) * 8)
        )
        if nq > lut_chunk:
            qs_p, is_p, ds_p = [], [], []
            for s in range(0, nq, lut_chunk):
                q_, i_, d_ = self._search_local(
                    qmat[s : s + lut_chunk], k, n_probes, ef, metric,
                    max_lut_bytes,
                )
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
        use_c = ckernel.available()
        m = self.pq.m

        def run_tile(cid: int, s: int, e: int, qlo: int, qhi: int):
            sel = np.asarray(by_cluster[cid][qlo:qhi], dtype=np.int64)
            codes_sub = L["codes"][s:e]
            ids = L["ids"][s:e]
            if use_c and sq is None:
                # fused l2sqr tile: score + round + per-query top-kk all
                # inside one GIL-released C call (ckernel.adc_topk) —
                # the separate round/lexsort/gather ufunc passes held
                # the GIL per tile and serialized the pool (measured:
                # 22 s → ~1 s at the worst-skew N=1M shape)
                kk = min(ef_, e - s)
                oid, orow, od = ckernel.adc_topk(codes_sub, ids, lut64, sel, kk)
                return (
                    np.repeat(sel, kk),
                    oid.reshape(-1),
                    od.reshape(-1),
                    (orow + s).reshape(-1),
                )
            if use_c:
                summed = ckernel.adc_block(codes_sub, lut64, sel)  # (S × n_c)
            else:
                summed = np.zeros((sel.size, e - s))
                lsel = lut3[sel]
                for g in range(m):
                    summed += lsel[:, g, codes_sub[:, g]]
            if sq is not None:  # cosine: normalize like the batch scan
                v2 = np.zeros(e - s)
                for g in range(m):
                    v2 += sq[g, codes_sub[:, g]]
                vnorm = np.sqrt(np.maximum(v2, 0.0))
                summed = 1.0 - summed / np.maximum(
                    vnorm[None, :] * qn[sel][:, None], 1e-10
                )
            summed = np_round_half_up(summed)
            kk = min(ef_, e - s)
            idm = np.broadcast_to(ids[None, :], summed.shape)
            top = np.lexsort((idm, summed), axis=1)[:, :kk]
            return (
                np.repeat(sel, kk),
                np.take_along_axis(idm, top, axis=1).reshape(-1),
                np.take_along_axis(summed, top, axis=1).reshape(-1),
                (top + s).reshape(-1),  # columns ARE positions s..e
            )

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
        if len(tiles) > 1 and use_c:
            workers = min(len(tiles), os.cpu_count() or 4)
            with ThreadPoolExecutor(max_workers=workers) as tp:
                parts = [
                    p for p in tp.map(lambda t: run_tile(*t), tiles)
                    if p is not None
                ]
        else:
            parts = [p for p in (run_tile(*t) for t in tiles) if p is not None]
        if not parts:
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.empty(0, np.float64))
        qidx = np.concatenate([p[0] for p in parts])
        cids = np.concatenate([p[1] for p in parts])
        adc = np.concatenate([p[2] for p in parts])
        rowp = np.concatenate([p[3] for p in parts])
        # fully vectorized finalize (a per-query Python loop ran 1000
        # small numpy ops per query and serialized the batch): ONE
        # global (qid, adc_r, id) sort ranks every candidate inside its
        # query segment; the gate keeps rank < ef; one batched gather +
        # row-dot re-ranks every gated pair; a second global sort cuts
        # rank < k. (q, id) pairs are unique — a row belongs to exactly
        # one cluster and a query probes distinct clusters — so the
        # strict (adc_r, id) order matches the distributed plan's gate.
        q64 = np.asarray(qmat, dtype=np.float64)
        q2 = np.einsum("ij,ij->i", q64, q64)
        qn2 = np.sqrt(q2)
        order = np.lexsort((cids, adc, qidx))
        qidx, cids, rowp = qidx[order], cids[order], rowp[order]
        bounds = np.searchsorted(qidx, np.arange(nq + 1))
        rank = np.arange(qidx.size) - bounds[qidx]
        gate = rank < ef_
        qg, ig, rg = qidx[gate], cids[gate], rowp[gate]
        # bounded (pairs × dim) gather — the same 16k-row step the
        # distributed fused scan uses: one unchunked gather at
        # ef=200 × |Q|=1000 materialized 2.3 GB of f64 temporaries and
        # the allocator/page faults cost more than the math
        ex = np.empty(qg.size)
        step = 16384
        for s0 in range(0, qg.size, step):
            sl = slice(s0, min(s0 + step, qg.size))
            xs = L["vecs"][rg[sl]].astype(np.float64)
            ip = np.einsum("ij,ij->i", xs, q64[qg[sl]])
            x2s = np.einsum("ij,ij->i", xs, xs)
            if metric == "l2sqr":
                ex[sl] = x2s + q2[qg[sl]] - 2.0 * ip
            else:
                ex[sl] = 1.0 - ip / np.maximum(
                    np.sqrt(x2s) * qn2[qg[sl]], 1e-10
                )
        ex = np_round_half_up(ex)
        order2 = np.lexsort((ig, ex, qg))
        qs2, is2, ds2 = qg[order2], ig[order2], ex[order2]
        b2 = np.searchsorted(qs2, np.arange(nq + 1))
        rank2 = np.arange(qs2.size) - b2[qs2]
        keep = rank2 < int(k)
        return qs2[keep], is2[keep], ds2[keep]

    # ---- search -----------------------------------------------------------

    def _use_fused_rerank(self, n_probes: int, ef: int,
                          override: bool | None) -> bool:
        """Fuse the exact re-rank into the probe scan when the extra
        in-scan work is cheap. The fused plan computes exact distances
        for n_probes·ef candidates PER QUERY (each probed partition
        contributes its own top-ef to the global gate) instead of the
        global ef — it removes a whole second scan + join. The dim≤256
        rule re-held at the balanced range pin across the whole probe
        sweep (committed docs/BENCH_1M_IVF_AB_r13.json: at 1M/dim 960,
        fused 21.8/28.1 ms/q vs two-pass 9.1/14.6 at 8p/32p ef=200 —
        the per-candidate vector buffering scales with dim and loses
        at every (n_probes, ef) point measured, so the rule stays
        keyed on dim alone). Measured
        calibration (bench.py): at dim=64 fusing wins across the whole
        probe sweep (suite ivfpq 1.77→1.31 s); at dim=960 it LOSES at
        every config (3.1→5.0 s at the narrowest, 3.7× at the widest) —
        the per-candidate Arrow-list→numpy conversion and (pairs × dim)
        gather scale with dim, so the auto rule keys on dim. In the
        disk-bound regime the avoided second scan dwarfs the gather, so
        callers there should pass ``fuse_rerank=True`` explicitly."""
        if self.vec_col not in self.codes_clustered.columns:
            if override:
                raise ValueError(
                    "fuse_rerank=True needs the vec column on the codes "
                    "layout, which this IVF+PQ index does not carry."
                )
            return False
        if override is not None:
            return override
        dim = sum(size for _, size in self.pq.groups)
        return dim <= 256

    def _rerank_source(self, probed: Sequence[int]) -> DataFrame:
        """Vector source for the exact re-rank: the cluster-partitioned
        codes table itself when it carries the vec column (partition
        pruning → only probed directories are read; columnar pruning
        keeps the ADC scan from ever touching these bytes), else the
        unpartitioned base table (legacy/in-memory layouts)."""
        if self.vec_col in self.codes_clustered.columns:
            return (
                self.codes_clustered
                .filter(F.col("cluster_id").isin([int(c) for c in probed]))
                .select(self.id_col, self.vec_col)
            )
        return self.base.select(self.id_col, self.vec_col)

    def search(
        self,
        query: Sequence[float],
        k: int,
        n_probes: int = 4,
        ef: int = 64,
        metric: str | None = None,
        upper_bound: float | None = None,
        payload_cols: Sequence[str] | None = None,
        fuse_rerank: bool | None = None,
    ) -> DataFrame:
        """Single-query IVF+PQ: partition-pruned ADC scan of the probed
        clusters, rounded top-ef candidate gate, exact re-rank top-k.
        ``fuse_rerank``: None = auto (see _use_fused_rerank)."""
        metric = metric or self.model.metric
        q = np.asarray(list(query), dtype=np.float64)
        if (
            self._local_state() is not None
            and (payload_cols is None or list(payload_cols) == [self.id_col])
        ):
            # zero-Spark-job point serve from the driver mirror — same
            # probes, gates, rounding, and tie-breaks as the plan below
            _, ids_r, d_r = self._search_local(
                q[None, :], int(k), int(n_probes), max(int(ef), int(k)), metric
            )
            rows = [
                (int(i), float(d)) for i, d in zip(ids_r, d_r)
                if upper_bound is None or d <= float(upper_bound)
            ]
            return self.codes_clustered.sparkSession.createDataFrame(
                rows or [], f"{self.id_col} long, dist double"
            )
        probed = [int(c) for c in self.model.rank_centroids(q, n_probes)]
        lut, sq, qnorm = self.pq.build_lookup(q, metric)
        spark = self.codes_clustered.sparkSession
        id_col = self.id_col
        fused = self._use_fused_rerank(n_probes, max(int(ef), int(k)), fuse_rerank)
        bc = spark.sparkContext.broadcast(
            (lut, sq, qnorm, self.pq.m, self.pq.n_bits, q if fused else None, metric)
        )
        vec_col = self.vec_col

        def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import (
                binary_matrix,
                vec_matrix,
            )

            blut, bsq, bqnorm, m, n_bits, bq, bmetric = bc.value
            ef_local = max(int(ef), int(k))
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                sch = rb.schema
                buf = binary_matrix(rb.column(sch.get_field_index("code")))
                codes = unpack_codes(buf, m, n_bits)
                d = PQTable._adc_scores(codes, blut, bsq, bqnorm)
                ids = rb.column(sch.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False)
                if bq is None:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(ids, type=pa.int64()),
                         pa.array(d, type=pa.float64())],
                        names=[id_col, "dist"],
                    )
                    continue
                # fused exact re-rank: the raw vectors sit in the SAME
                # row group, so compute exact distances for this
                # partition's ADC top-ef candidates here — the global
                # ADC gate still applies at the merge, so results are
                # identical to the two-pass plan, minus a whole scan
                adc_r = np_round_half_up(d)
                kk = min(ef_local, len(ids))
                top = np.lexsort((ids, adc_r))[:kk]
                vec_all = vec_matrix(rb.column(sch.get_field_index(vec_col)))
                x = np.asarray(vec_all[top], dtype=np.float64)
                ip = x @ bq
                x2 = np.einsum("ij,ij->i", x, x)
                if bmetric == "l2sqr":
                    ex = x2 + float(bq @ bq) - 2.0 * ip
                else:
                    qn_ = float(bq @ bq) ** 0.5
                    ex = 1.0 - ip / np.maximum(np.sqrt(x2) * qn_, 1e-10)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids[top], type=pa.int64()),
                     pa.array(adc_r[top], type=pa.float64()),
                     pa.array(np_round_half_up(ex), type=pa.float64())],
                    names=[id_col, "adc_r", "dist"],
                )

        pruned = self.codes_clustered.filter(F.col("cluster_id").isin(probed))
        payload = list(payload_cols) if payload_cols is not None else [id_col]
        if fused:
            cand = (
                pruned.select(id_col, "code", vec_col)
                .mapInArrow(scan, schema=f"{id_col} long, adc_r double, dist double")
                .orderBy(F.col("adc_r").asc(), F.col(id_col).asc())
                .limit(max(int(ef), int(k)))
            )
            rer = (
                cand.select(id_col, "dist")
                .orderBy(F.col("dist").asc(), F.col(id_col).asc())
                .limit(int(k))
            )
        else:
            cand = (
                pruned.select(id_col, "code")
                .mapInArrow(scan, schema=f"{id_col} long, dist double")
                .select(id_col, round_dist(F.col("dist")).alias("adc_r"))
                .orderBy(F.col("adc_r").asc(), F.col(id_col).asc())
                .limit(max(int(ef), int(k)))
                .select(id_col)
            )
            qlit = F.lit([float(x) for x in q]).cast("array<double>")
            rer = (
                self._rerank_source(probed).join(F.broadcast(cand), id_col)
                .select(id_col,
                        round_dist(dist_expr(F.col(self.vec_col), qlit, metric)).alias("dist"))
                .orderBy(F.col("dist").asc(), F.col(id_col).asc())
                .limit(int(k))
            )
        extra = [c for c in payload if c != id_col]
        if extra:
            # metadata attach on the k-bounded result only (Q8): the
            # k rows broadcast INTO the base scan, never the reverse
            rer = (
                self.base.select(id_col, *extra).join(F.broadcast(rer), id_col)
                .select(*payload, "dist")
                .orderBy(F.col("dist").asc(), F.col(id_col).asc())
            )
        if upper_bound is not None:
            rer = rer.filter(F.col("dist") <= F.lit(float(upper_bound)))
        return rer

    def search_filtered(
        self,
        query: Sequence[float],
        k: int,
        filtered_base: DataFrame,
        n_probes: int = 4,
        ef: int = 64,
        oversample: int = 4,
    ) -> DataFrame:
        """Metadata-filtered ANN on the distributed tier, oversample-
        and-filter: the ADC + exact-re-rank pool of size
        max(ef, oversample·k) is semi-joined against the caller's
        predicate-filtered base (the predicate pushes into the parquet
        scan; only the pool broadcasts), top-k of the survivors.
        Escalation: round 2 probes EVERY cluster with a 4× pool; if the
        pool still can't fill k (very selective predicates), the exact
        filtered scan answers — never a silent under-fill while matches
        exist. The HNSW twin (hnsw.py search_filtered) documents the
        scale argument; here the pool stage additionally keeps IVF's
        partition pruning."""
        from lab_1806_vec_db_spark.operators import knn as knn_ops

        spark = filtered_base.sparkSession
        id_col = self.id_col
        k_clusters = int(self.model.centroids.shape[0])
        ef_i = max(int(ef), int(oversample) * int(k), int(k))
        probes = int(n_probes)
        # selectivity-aware dispatch (the HNSW twin documents the
        # rationale, hnsw.py::search_filtered): a predicate that leaves
        # ≤ pool-width rows would pay pool + full-probe escalation +
        # the exact fallback anyway — the limit-probe below terminates
        # early when the predicate is NOT selective, so the fast path
        # stays cheap and the selective path skips straight to exact.
        n_f = filtered_base.select(id_col).limit(ef_i + 1).count()
        if n_f <= ef_i:
            return knn_ops.knn(
                filtered_base, [float(x) for x in query], int(k),
                metric=self.model.metric, vec_col=self.vec_col, id_col=id_col,
            )
        for last in (False, True):
            pool = self.search(query, k=ef_i, n_probes=probes, ef=ef_i)
            rows = (
                filtered_base.select(id_col)
                .join(F.broadcast(pool), id_col)
                .orderBy(F.col("dist").asc(), F.col(id_col).asc())
                .limit(int(k))
                .collect()
            )
            if len(rows) >= int(k) or (last and probes >= k_clusters):
                if len(rows) >= int(k):
                    return spark.createDataFrame(rows, f"{id_col} long, dist double")
                break
            probes, ef_i = k_clusters, ef_i * 4
        return knn_ops.knn(
            filtered_base, [float(x) for x in query], int(k),
            metric=self.model.metric, vec_col=self.vec_col, id_col=id_col,
        )

    def search_batch_filtered(
        self,
        queries: DataFrame,
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
        """Batch filtered ANN on the distributed tier: one
        partition-pruned ADC + re-rank pass produces each query's
        max(ef, oversample·k) pool, then the shared finisher
        (operators/knn.py::filtered_topk_from_pool) joins it against
        the predicate-filtered scan and answers starved queries
        exactly (``fallback_margin`` > 1 also escalates thin-
        intersection queries — see the finisher's contract)."""
        from lab_1806_vec_db_spark.operators.knn import filtered_topk_from_pool

        pool_k = max(int(ef), int(oversample) * int(k), int(k))
        pool = self.search_batch(
            queries, k=pool_k, n_probes=n_probes, ef=pool_k,
            qid_col=qid_col, qvec_col=qvec_col,
        )
        return filtered_topk_from_pool(
            pool, queries, k, filtered_base, self.id_col, self.model.metric,
            self.vec_col, qid_col=qid_col, qvec_col=qvec_col,
            exact_fallback=exact_fallback, fallback_margin=fallback_margin,
            pool_k=pool_k,
        )

    def search_batch(
        self,
        queries: DataFrame,
        k: int,
        n_probes: int = 4,
        ef: int = 64,
        metric: str | None = None,
        qid_col: str = "query_id",
        qvec_col: str = "vec",
        upper_bound: float | None = None,
        max_lut_bytes: int = 64 << 20,
        fuse_rerank: bool | None = None,
        acc_cap_rows: int = 2_000_000,
        acc_vec_bytes: int = 256 << 20,
    ) -> DataFrame:
        """Batch IVF+PQ: one pruned scan of the codes table; each
        partition scores a row only for the queries probing its
        cluster (LUT gather, no raw vectors touched), keeps its top-ef
        per query; the global ADC gate, the exact re-rank and the final
        top-k are :func:`index.pq.finish_adc`.

        ``acc_cap_rows`` / ``acc_vec_bytes`` are the compaction FLOORS
        of the per-task candidate accumulator (see the closure note):
        a compaction fires when the buffer exceeds the threshold, and
        the threshold then resets to max(floor, 1.5× the live set) —
        geometric, so a live set larger than the floor (wide probes ×
        high ef × high dim) compacts amortized-O(log) times instead of
        per batch. Worst-case per-task memory is therefore
        max(``acc_cap_rows``, 1.5× live candidates) triples (~24 B
        each) plus, on the fused plan only, max(``acc_vec_bytes``,
        1.5× live candidate-vector bytes) in the STORE dtype. Python
        workers are per-core, so the executor-wide footprint multiplies
        by concurrent task slots — size the floors down on memory-tight
        executors (the result set is identical at any setting)."""
        metric = metric or self.model.metric
        spark = queries.sparkSession
        block = collect_query_block(queries, qid_col, qvec_col)
        if block is None:
            return empty_topk(spark, self.id_col, qid_col)
        qids, qmat = block
        id_col = self.id_col
        ef_ = max(int(ef), int(k))

        if self._local_state() is not None:
            # driver-mirror batch serve: the (cluster × probing-queries)
            # tiling below, run through the GIL-releasing compiled
            # kernel on a thread pool — zero Spark jobs
            qq, ii, dd = self._search_local(
                qmat, int(k), int(n_probes), ef_, metric,
                max_lut_bytes=max_lut_bytes,
            )
            keep = (
                np.ones(dd.size, dtype=bool)
                if upper_bound is None else dd <= float(upper_bound)
            )
            rows = sorted(
                (
                    (int(qids[q_]), int(i_), float(d_))
                    for q_, i_, d_ in zip(qq[keep], ii[keep], dd[keep])
                ),
                key=lambda t: (t[0], t[2], t[1]),
            )
            out = spark.createDataFrame(
                rows or [], f"query_id long, {id_col} long, dist double"
            )
            if qid_col != "query_id":
                out = out.withColumnRenamed("query_id", qid_col)
            return out

        fused = self._use_fused_rerank(n_probes, ef_, fuse_rerank)
        vec_col = self.vec_col

        def make_scan(bc):
          def scan(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            import pyarrow as pa

            from lab_1806_vec_db_spark.functions.arrowvec import (
                binary_matrix,
                result_batch,
                vec_matrix,
            )
            from lab_1806_vec_db_spark.index import ckernel

            bqids, bclusters, blut3, bsq, bqn, m, n_bits, bqmat, bmetric = bc.value
            ksub = 1 << n_bits
            fused_t = bqmat is not None
            if fused_t:
                bq2 = np.einsum("ij,ij->i", bqmat, bqmat)
                bqnorm2 = np.sqrt(bq2)
            # Per-(cluster, probing-queries) tile through the compiled
            # lookup-sum kernel — the FLOP-minimal form: only probed
            # (row, query) pairs are scored, m adds each, LUT rows
            # L1-resident. A one-hot GEMM over all queries measured
            # 16× the MACs · k/n_probes× the pairs (both slower);
            # python-level gather loops lose ~10× to interpreter
            # overhead. Falls back to the numpy loop when no cc exists.
            use_c = ckernel.available()
            lut64 = np.ascontiguousarray(blut3, dtype=np.float64)

            # Per-TASK candidate accumulator. Arrow hands a cluster to
            # this closure as ~10k-row FRAGMENTS; emitting a top-kk per
            # fragment multiplied the shuffle input and the fused exact
            # re-rank by the fragmentation factor (measured 18× at 200k
            # rows). Buffer every fragment's rounded-ADC top-kk,
            # periodically prune to the per-query top-ef (one
            # vectorized grouped rank), exact-re-rank only the
            # end-of-task survivors, emit ONE frame per task. The
            # output SET is identical: a candidate pruned here has
            # ≥ ef better same-query candidates inside this task, so
            # the downstream global ADC gate could never keep it.
            acc_q: list[np.ndarray] = []  # query index into bqids/bqmat
            acc_i: list[np.ndarray] = []  # candidate id
            acc_d: list[np.ndarray] = []  # rounded ADC distance
            vec_i: list[np.ndarray] = []  # fused: candidate row ids
            vec_x: list[np.ndarray] = []  # fused: candidate vectors
            n_buf = 0
            n_vbytes = 0  # fused: buffered candidate-vector bytes
            cap = int(acc_cap_rows)
            vbytes = int(acc_vec_bytes)
            # GEOMETRIC compaction thresholds. The configured caps are
            # the floor; when a compaction cannot shrink the buffer
            # below its cap (the per-task LIVE candidate set simply
            # exceeds it — e.g. 1M/960-dim at 32 probes holds ~200k
            # live candidates vs a 256 MB/65k-row vector budget), the
            # threshold grows to 1.5× the post-compaction size instead
            # of re-firing on every batch. Round-12 measured that
            # per-batch re-sort thrash blowing the fused plan up 3×
            # over two-pass at wide probes; with geometric growth total
            # compaction work is amortized O(live·log) and the memory
            # worst case is 1.5× the live set — which any correct plan
            # must hold anyway.
            cap_dyn = cap
            vbytes_dyn = vbytes

            def _topef(qx, ids, adc):
                # per-query top-ef by (rounded adc, id) — the same
                # total order the global gate's window applies
                from lab_1806_vec_db_spark.operators.knn import local_topk_grouped

                return local_topk_grouped(qx, ids, adc, ef_)

            def _compact():
                nonlocal acc_q, acc_i, acc_d, vec_i, vec_x
                nonlocal n_buf, n_vbytes, cap_dyn, vbytes_dyn
                qx = np.concatenate(acc_q)
                ids = np.concatenate(acc_i)
                adc = np.concatenate(acc_d)
                keep = _topef(qx, ids, adc)
                qx, ids, adc = qx[keep], ids[keep], adc[keep]
                acc_q, acc_i, acc_d = [qx], [ids], [adc]
                n_buf = ids.size
                cap_dyn = max(cap, n_buf + (n_buf >> 1))
                if fused_t and vec_i:
                    vi = np.concatenate(vec_i)
                    vx = np.concatenate(vec_x) if len(vec_x) > 1 else vec_x[0]
                    sel = np.isin(vi, np.unique(ids))
                    vec_i, vec_x = [vi[sel]], [np.ascontiguousarray(vx[sel])]
                    n_vbytes = vec_x[0].nbytes
                    vbytes_dyn = max(vbytes, n_vbytes + (n_vbytes >> 1))
                return qx, ids, adc

            out_schema = pa.schema(
                [pa.field("query_id", pa.int64()),
                 pa.field(id_col, pa.int64()),
                 pa.field("adc", pa.float64())]
                + ([pa.field("dist", pa.float64())] if fused_t else []))
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                # zero-copy views over the Arrow batch: packed codes as
                # an (n, bytes) uint8 matrix, vectors flattened in place
                # — no pandas materialization of either column
                sch = rb.schema
                buf = binary_matrix(rb.column(sch.get_field_index("code")))
                codes_all = unpack_codes(buf, m, n_bits)
                ids_all = rb.column(sch.get_field_index(id_col)).to_numpy(
                    zero_copy_only=False)
                cl_all = rb.column(sch.get_field_index("cluster_id")).to_numpy(
                    zero_copy_only=False)
                vec_all = (
                    vec_matrix(rb.column(sch.get_field_index(vec_col)))
                    if fused_t else None
                )
                for cid in np.unique(cl_all):
                    sel = bclusters.get(int(cid))
                    if sel is None or len(sel) == 0:
                        continue
                    rows = np.nonzero(cl_all == cid)[0]
                    codes_sub = np.ascontiguousarray(codes_all[rows])
                    ids = ids_all[rows]
                    sel_arr = np.asarray(sel, dtype=np.int64)
                    kk = min(ef_, codes_sub.shape[0])
                    # 4-dp rounded candidate gate with id tie-break —
                    # the SAME cut the single-query path applies
                    # (round_dist over adc_r), so batch == single on
                    # near-tie boundaries
                    if use_c and bsq is None:
                        # fused C tile: ADC sums + rounding + per-query
                        # top-kk by (rounded, id) in ONE GIL-released
                        # call — the same kernel the driver-local
                        # mirror runs (_search_local), so the executor
                        # threads sharing this Python worker stay
                        # parallel instead of serializing on the
                        # GIL-held round/lexsort/gather ufunc passes
                        oid, orow, od = ckernel.adc_topk(
                            codes_sub,
                            np.ascontiguousarray(ids, dtype=np.int64),
                            lut64, sel_arr, kk,
                        )
                        out_ids = oid.reshape(-1)
                        out_adc = od.reshape(-1)
                        flat_rows = orow.reshape(-1)
                    else:
                        if use_c:
                            summed = ckernel.adc_block(
                                codes_sub, lut64, sel_arr
                            ).T  # (n_c × |sel|)
                        else:
                            summed = np.zeros((codes_sub.shape[0], len(sel)))
                            lsel = blut3[sel]
                            for g in range(m):
                                summed += lsel[:, g, codes_sub[:, g]].T
                        if bsq is not None:
                            v2 = np.zeros(codes_sub.shape[0])
                            for g in range(m):
                                v2 += bsq[g, codes_sub[:, g]]
                            vnorm = np.sqrt(np.maximum(v2, 0.0))
                            summed = 1.0 - summed / np.maximum(
                                vnorm[:, None] * bqn[sel][None, :], 1e-10
                            )
                        summed = np_round_half_up(summed)
                        idm = np.broadcast_to(ids[:, None], summed.shape)
                        top = np.lexsort((idm, summed), axis=0)[:kk, :]
                        out_ids = np.take_along_axis(idm, top, axis=0).T.reshape(-1)
                        out_adc = np.take_along_axis(summed, top, axis=0).T.reshape(-1)
                        flat_rows = top.T.reshape(-1)
                    acc_q.append(np.repeat(sel_arr, kk))
                    acc_i.append(out_ids)
                    acc_d.append(out_adc)
                    n_buf += out_ids.size
                    if fused_t:
                        # buffer the fragment's candidate vectors (each
                        # row lives in exactly one fragment, so ids are
                        # unique across the buffer) in the STORE dtype —
                        # buffering f32 layouts at f64 doubled the
                        # buffer bytes and halved the effective vector
                        # budget; the lossless f64 upcast happens per
                        # chunk in the final re-rank instead
                        need = np.unique(flat_rows)
                        vec_i.append(ids[need])
                        grab = np.ascontiguousarray(vec_all[rows[need]])
                        vec_x.append(grab)
                        n_vbytes += grab.nbytes
                if n_buf > cap_dyn or n_vbytes > vbytes_dyn:
                    _compact()
            if not acc_q or n_buf == 0:
                return
            qx, ids, adc = _compact()
            out_qid = bqids[qx]
            if not fused_t:
                yield result_batch(out_schema,
                                   query_id=out_qid, **{id_col: ids}, adc=adc)
                return
            # fused exact re-rank over ONLY the surviving candidates
            # (vectors were buffered per fragment): the f64 upcast is
            # per chunk and lossless, so the ops and rounding match the
            # per-fragment form and results stay bit-identical to the
            # two-pass plan
            vi = np.concatenate(vec_i)
            vx = np.concatenate(vec_x) if len(vec_x) > 1 else vec_x[0]
            o = np.argsort(vi, kind="stable")
            vi_s, vx_s = vi[o], vx[o]
            pos = np.searchsorted(vi_s, ids)
            # per-UNIQUE-vector squared norms once, gathered per pair
            x2u = np.empty(vx_s.shape[0])
            ex = np.empty(ids.size)
            step = 16384  # bound every (rows × dim) gather/upcast
            for s0 in range(0, vx_s.shape[0], step):
                sl = slice(s0, s0 + step)
                xc = np.asarray(vx_s[sl], dtype=np.float64)
                x2u[sl] = np.einsum("ij,ij->i", xc, xc)
            for s0 in range(0, ids.size, step):
                sl = slice(s0, s0 + step)
                xg = np.asarray(vx_s[pos[sl]], dtype=np.float64)
                ip = np.einsum("ij,ij->i", xg, bqmat[qx[sl]])
                x2 = x2u[pos[sl]]
                if bmetric == "l2sqr":
                    ex[sl] = x2 + bq2[qx[sl]] - 2.0 * ip
                else:
                    ex[sl] = 1.0 - ip / np.maximum(
                        np.sqrt(x2) * bqnorm2[qx[sl]], 1e-10
                    )
            yield result_batch(out_schema, query_id=out_qid, **{id_col: ids},
                               adc=adc, dist=np_round_half_up(ex))
          return scan

        # bound each broadcast lookup tensor (same ≤64 MB budget as
        # PQTable.search_batch): queries are processed in chunks, each
        # with its own probe routing, pruned scan, and broadcast
        ksub = 1 << self.pq.n_bits
        chunk = max(4, int(max_lut_bytes) // (self.pq.m * ksub * 8))
        pieces = []
        all_probed: set[int] = set()
        for s in range(0, len(qids), chunk):
            qmat_c = qmat[s : s + chunk]
            probes = self.model.rank_centroids_batch(qmat_c, n_probes)
            by_cluster = group_probes(np.asarray(probes))
            all_probed.update(by_cluster.keys())
            lut3, sq, qn = build_lookup_batch(
                qmat_c, self.pq.codebooks, self.pq.groups, self.pq.n_bits, metric
            )
            bc = spark.sparkContext.broadcast(
                (qids[s : s + chunk], by_cluster, lut3, sq, qn,
                 self.pq.m, self.pq.n_bits,
                 qmat_c if fused else None, metric)
            )
            probed_any = sorted(by_cluster.keys())
            scan_cols = [id_col, "code", "cluster_id"] + ([vec_col] if fused else [])
            scan_schema = f"query_id long, {id_col} long, adc double" + (
                ", dist double" if fused else "")
            pieces.append(
                self.codes_clustered.filter(F.col("cluster_id").isin(probed_any))
                .select(*scan_cols)
                .mapInArrow(make_scan(bc), schema=scan_schema)
            )
        approx = pieces[0]
        for p in pieces[1:]:
            approx = approx.unionByName(p)
        rerank_source = None if fused else (
            self._rerank_source(sorted(all_probed)),
            make_grouped_rerank_scan(spark, qids, qmat, metric, id_col, vec_col),
        )
        # ×2: per-task emission is ef per (query, TASK), and the
        # balanced range pin splits big clusters across ~2 tasks on
        # average (measured 1.8× raw-emission inflation at 1M/8p with
        # the pin at shuffle width), so the emission runs ~2× the
        # |Q|·n_probes·ef ideal
        out = finish_adc(approx, int(k), ef_, id_col, upper_bound,
                         len(qids) * int(n_probes) * ef_ * 2, rerank_source,
                         tier="ivfpq")
        if qid_col != "query_id":
            out = out.withColumnRenamed("query_id", qid_col)
        return out
