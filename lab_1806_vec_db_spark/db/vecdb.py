"""VecDB — the reference's Python-facing database manager
(/root/reference/lab_1806_vec_db.pyi, src/database/mod.rs,
src/pyo3/mod.rs), re-expressed on Spark.

Mapping of the reference's machinery onto Spark:

- directory of tables + ``brief.toml`` catalog (database/mod.rs:57-143)
  → directory of Parquet table dirs + a ``brief.json`` catalog holding
  dim / dist / row count / index state / next_id;
- bincode whole-table autosave (thread_save.rs) → Parquet writes are
  durable on action; mutations rewrite via tmp-dir + atomic rename
  (the reference's own tmp-file+copy pattern, thread_save.rs:10-21);
- exclusive fs lock per dir (database/mod.rs:21-30) → ``fcntl.flock``
  on ``db.lock``, raising on a second manager (examples/
  test_try_lock.py:3-4);
- positional ordinals + swap_remove (vec_set.rs:131-137) → stable
  monotonic ``id`` column (ordinals never escape the reference's API,
  so semantics are preserved);
- table schema: ``(id LONG, vec ARRAY<FLOAT>, metadata MAP<STRING,
  STRING>, norm DOUBLE)`` — ``norm`` is the reference's per-vector
  distance cache materialized at write time (hnsw_index.rs:251-254).

Index-invalidation state machine (metadata_vec_table.rs:64-81,163-187;
README.md:22,45):

    add / batch_add   → PQ cleared, HNSW kept
    delete (pattern)  → PQ cleared, HNSW cleared
    build_* if built  → no-op
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import threading
from collections.abc import Sequence
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import DISTANCES, cast_vec_expr, norm_expr
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.session import get_spark

try:
    import fcntl
except ImportError:  # non-POSIX: degrade to advisory marker file
    fcntl = None

TABLE_SCHEMA = "id long, vec array<float>, metadata map<string,string>"

#: typed tables (S2): exactly f32 and u8, like the reference
#: (scalar.rs:117-119); u8 stores as smallint (no unsigned byte in Spark)
DATA_TYPES = {"float32": "float", "uint8": "smallint"}
#: rows a graph tail sync absorbs per insert batch; a longer tail is
#: range-sorted and streamed (``VecDB._hnsw_tail_sync``)
TAIL_CHUNK_ROWS = 65536


def _table_schema(data_type: str) -> str:
    return f"id long, vec array<{DATA_TYPES[data_type]}>, metadata map<string,string>"


def _cast_u8(x: float) -> int:
    """Saturating, NaN→0, truncate-toward-zero (scalar.rs:20-37)."""
    if x != x:  # NaN
        return 0
    return int(min(max(x, 0.0), 255.0))


def _is_plain_hnsw(idx) -> bool:
    """True for the plain single-graph index (knn_pq's
    ADC-steered traversal requires it); False for None or the sharded
    tier (index/sharded.py), which serves through its routed paths."""
    if idx is None:
        return False
    from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

    return not isinstance(idx, ShardedHNSWIndex)


def _ivfpq_probes(meta: dict[str, Any]) -> int:
    """The IVF+PQ serving probe count recorded at build time."""
    return (meta.get("ivfpq_params") or {}).get("n_probes", 8)


def _locked_per_table(fn):
    """Serialize a (self, key, ...) method on the table's own reentrant
    lock — the Spark-side shape of the reference's per-table scoped
    RwLock (database/mod.rs:283-290): writers and index-mutating paths
    on the SAME table serialize; threads on distinct tables proceed in
    parallel. The catalog-level brief writes are separately serialized
    by ``VecDB._mu``."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, key, *a, **kw):
        with self._tlock(key):
            return fn(self, key, *a, **kw)

    return wrapper


def sanitize_key(key: str) -> str:
    """Map a table key to a safe filename: keep [A-Za-z0-9_-], cap at 32
    chars (database/mod.rs:36-45); collisions get a ``_N`` suffix at
    registration time (database/mod.rs:83-106)."""
    safe = re.sub(r"[^A-Za-z0-9_-]", "_", key)[:32]
    return safe or "table"


class VecDB:
    """Parity implementation of ``lab_1806_vec_db.VecDB`` (pyi surface)
    plus the batch entry points a Spark engine naturally adds
    (``table_df``, ``batch_search``)."""

    def __init__(self, dir: str, spark: SparkSession | None = None) -> None:
        self.dir = os.path.abspath(dir)
        os.makedirs(self.dir, exist_ok=True)
        os.makedirs(os.path.join(self.dir, "tables"), exist_ok=True)
        self.spark = spark or get_spark("vecdb")
        self._lock_fh = open(os.path.join(self.dir, "db.lock"), "w")
        if fcntl is not None:
            try:
                fcntl.flock(self._lock_fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError as e:  # second manager on the same dir
                self._lock_fh.close()
                raise RuntimeError(f"Failed to acquire lock on {self.dir}") from e
        self._brief_path = os.path.join(self.dir, "brief.json")
        self._brief: dict[str, Any] = {"tables": {}}
        if os.path.exists(self._brief_path):
            with open(self._brief_path) as f:
                self._brief = json.load(f)
        self._cached: dict[str, DataFrame] = {}
        self._indexes: dict[str, dict[str, Any]] = {}
        # catalog mutex: the reference scopes a RwLock per table plus a
        # map lock for the catalog (database/mod.rs:283-290, its
        # concurrency test drives two writer threads on two tables,
        # database/mod.rs:543-610). Our per-table state is independent
        # Parquet dirs + index artifacts, so threads on DISTINCT tables
        # only ever contend on the shared brief — this reentrant lock
        # serializes the brief's read-modify-write + file replace (two
        # unsynchronized writers interleave on brief.json.tmp) and the
        # force_save iteration. Same-table writers serialize through
        # the same lock at the reserve/commit points, so id ranges are
        # never double-assigned.
        self._mu = threading.RLock()
        self._tlocks: dict[str, threading.RLock] = {}
        # auto-compaction policy: streaming/bulk appends leave one file
        # per micro-batch per partition; force_save() self-heals any
        # table whose file count exceeds auto_compact_factor × the
        # id-range-clustered target (ceil(len / compact_rows_per_file)).
        # Set auto_compact=False to keep compaction a manual call.
        self.auto_compact = True
        self.auto_compact_factor = 8
        self.compact_rows_per_file = 4_000_000
        # driver-local IVF+PQ serve policy, exposed as a setting (like
        # auto_compact) instead of being decided silently inside the
        # query path: the first point query against an IVF+PQ table
        # mirrors up to local_serve_max_bytes of codes + f32 vectors to
        # the driver (index/ivfpq.py:enable_local_serve) and collects
        # the table's metadata map. Set local_serve=False to keep every
        # query on the distributed partition-pruned path (memory-tight
        # drivers), or tune the cap for bigger/smaller driver heaps.
        self.local_serve = True
        self.local_serve_max_bytes = 8 << 30
        # executor-side codes pin for the distributed IVF+PQ serve
        # (index/ivfpq.py:persist_codes): opt-in like local_serve —
        # pinning claims block-manager memory per executor, which is a
        # deployment decision, not a query-path one. When True, every
        # IVF+PQ index this manager builds or loads keeps its codes
        # frame MEMORY_AND_DISK so repeated batch serves skip the
        # parquet re-list + re-decode. Trade-off: a pinned index takes
        # the directory-re-read append path (persist_codes docstring),
        # so each append invalidates the whole cached frame — under
        # high-frequency streaming ingest leave this off (or compact on
        # a cadence); it pays off in read-heavy serving.
        self.executor_cache = False
        # settle any append that crashed mid-flight in a previous
        # manager: a crashed ``_rewrite`` swap is completed/rolled back
        # first (directory checks only — zero jobs), then the brief's
        # pending marker names the reserved id range, so repair is one
        # filter job per CRASHED table (zero jobs on a clean open)
        for key, meta in self._brief["tables"].items():
            self._recover_table_swap(key)
            if meta.get("pending_rewrite"):
                self._settle_rewrite(key)
            if meta.get("pending_append"):
                self._settle_pending(key)

    # ---- catalog ---------------------------------------------------------

    def _tlock(self, key: str) -> threading.RLock:
        """Per-table reentrant lock (created under the catalog mutex;
        only the lock OBJECT fetch holds ``_mu`` — never the table
        operation itself, so there is no lock-order inversion)."""
        with self._mu:
            return self._tlocks.setdefault(key, threading.RLock())

    def _save_brief(self) -> None:
        with self._mu:
            tmp = self._brief_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._brief, f, indent=1)
            os.replace(tmp, self._brief_path)  # atomic, thread_save.rs:10-21

    def _meta(self, key: str) -> dict[str, Any]:
        try:
            return self._brief["tables"][key]
        except KeyError:
            raise KeyError(f"Table not found: {key}") from None

    def _table_path(self, key: str) -> str:
        return os.path.join(self.dir, "tables", self._meta(key)["filename"])

    def create_table_if_not_exists(
        self, key: str, dim: int, dist: str = "cosine", data_type: str = "float32"
    ) -> bool:
        if dist not in DISTANCES:
            raise ValueError(f"Invalid distance function: {dist}")
        if data_type not in DATA_TYPES:
            raise ValueError(f"Invalid data type: {data_type} (float32/uint8)")
        with self._mu:
            return self._create_table_locked(key, dim, dist, data_type)

    def _create_table_locked(
        self, key: str, dim: int, dist: str, data_type: str
    ) -> bool:
        if key in self._brief["tables"]:
            return False
        fname = sanitize_key(key)
        taken = {t["filename"] for t in self._brief["tables"].values()}
        if fname in taken:
            i = 1
            while f"{fname}_{i}" in taken:
                i += 1
            fname = f"{fname}_{i}"
        self._brief["tables"][key] = {
            "filename": fname,
            "dim": int(dim),
            "dist": dist,
            "data_type": data_type,
            "len": 0,
            "next_id": 0,
            "has_hnsw": False,
            "has_pq": False,
            "pq_params": None,
            "hnsw_params": None,
        }
        empty = self.spark.createDataFrame([], _table_schema(data_type)).withColumn(
            "norm", F.lit(None).cast("double")
        )
        empty.write.mode("overwrite").parquet(os.path.join(self.dir, "tables", fname))
        self._save_brief()
        return True

    def delete_table(self, key: str) -> bool:
        # per-table lock FIRST, catalog mutex second — the same
        # tlock→_mu order every writer uses (batch_add holds tlock and
        # takes _mu at reserve/commit), so a drop can neither deadlock
        # against an in-flight append nor race it: the rmtree waits for
        # the writer's parquet write to finish instead of deleting the
        # directory out from under it (which left an orphaned table dir
        # and a _commit_append failing on the missing brief entry).
        # Mirrors the reference's per-table scoped lock on remove
        # (database/mod.rs:283-290).
        with self._tlock(key):
            with self._mu:
                if key not in self._brief["tables"]:
                    return False
                self.remove_cached_table(key)
                path = self._table_path(key)
                self._drop_index_artifacts(key)
                del self._brief["tables"][key]
                shutil.rmtree(path, ignore_errors=True)
                self._save_brief()
                return True

    def get_all_keys(self) -> list[str]:
        return list(self._brief["tables"].keys())

    def contains_key(self, key: str) -> bool:
        return key in self._brief["tables"]

    def get_len(self, key: str) -> int:
        return int(self._meta(key)["len"])

    def get_dim(self, key: str) -> int:
        return int(self._meta(key)["dim"])

    def get_dist(self, key: str) -> str:
        return str(self._meta(key)["dist"])

    def get_data_type(self, key: str) -> str:
        return str(self._meta(key).get("data_type", "float32"))

    # ---- table cache (S5: database/mod.rs:340-357,400-413) ---------------

    def table_df(self, key: str) -> DataFrame:
        """The table as a DataFrame (lazy-loaded + Spark-cached handle)."""
        if key not in self._cached:
            self._meta(key)
            self._cached[key] = self.spark.read.parquet(self._table_path(key)).cache()
        return self._cached[key]

    def get_cached_tables(self) -> list[str]:
        return list(self._cached.keys())

    def contains_cached(self, key: str) -> bool:
        return key in self._cached

    def remove_cached_table(self, key: str) -> None:
        df = self._cached.pop(key, None)
        if df is not None:
            df.unpersist()

    def _invalidate_cache(self, key: str) -> None:
        self.remove_cached_table(key)
        self._indexes.get(key, {}).pop("_mdmap", None)

    def _metadata_map(self, key: str) -> dict[int, dict[str, str]]:
        """Driver-resident id→metadata map for the point-serve fast
        path — the reference keeps ALL metadata in RAM
        (metadata_vec_table.rs:15), so this is the same envelope as the
        driver-built HNSW graph; invalidated on every write."""
        cache = self._indexes.setdefault(key, {})
        if "_mdmap" not in cache:
            rows = self.table_df(key).select("id", "metadata").collect()
            cache["_mdmap"] = {int(r["id"]): dict(r["metadata"] or {}) for r in rows}
        return cache["_mdmap"]

    # ---- append crash protocol ---------------------------------------------
    #
    # Every append reserves its id range DURABLY before the parquet
    # write (the vecdb twin of the TextIndex pending-marker protocol,
    # operators/search.py:textindex_add_documents):
    #
    #   1. reserve : next_id advances to start+n and a pending marker
    #                {lo, hi} lands in the brief — one atomic brief write;
    #   2. append  : the batch writes to parquet;
    #   3. commit  : len advances, the marker clears, and (when the
    #                caller passed one) the batch's idempotency token is
    #                recorded — one atomic brief write.
    #
    # A crash between 1 and 3 leaves the marker behind; _settle_pending
    # (run at open and on entry to every append) drops any rows the
    # half-finished append landed in [lo, hi) and keeps next_id at the
    # reserved value. Ids therefore SKIP after a crash but can never be
    # assigned twice — the stale-next_id duplicate-id corruption the
    # round-8 review flagged is structurally impossible. Index
    # absorption runs AFTER commit, outside the marker window: a crash
    # there is the already-handled graph-lags-table case (_get_index
    # tail repair / _hnsw_tail_sync), never a base-table repair.

    def _settle_pending(self, key: str) -> None:
        """Repair a crashed append. The pending marker proves the brief
        was never committed for that batch, so ``len`` still excludes
        it; any rows inside the reserved range are partial output of
        the crashed parquet job and are dropped."""
        meta = self._meta(key)
        pending = meta.get("pending_append")
        if not pending:
            return
        lo, hi = int(pending["lo"]), int(pending["hi"])
        # drop any stale session state for the path FIRST: a cached
        # table_df (e.g. pinned by an index build) makes a fresh
        # read.parquet(path) resolve to the cached in-memory relation —
        # the repair would then judge (and rewrite!) a pre-crash
        # snapshot instead of the directory's real content
        self.spark.catalog.refreshByPath(self._table_path(key))
        df = self.spark.read.parquet(self._table_path(key))
        in_range = (F.col("id") >= lo) & (F.col("id") < hi)
        if df.filter(in_range).limit(1).count():
            self._rewrite(key, df.filter(~in_range))
            # the crashed rows never reached len, but recount from the
            # rewritten footers so len is exact even if a previous
            # crash overlapped
            meta["len"] = self.spark.read.parquet(self._table_path(key)).count()
        meta["pending_append"] = None
        self._save_brief()
        self._invalidate_cache(key)

    def _reserve_append(self, key: str, n: int) -> int:
        """Step 1: durably burn ids [next_id, next_id+n); returns the
        range start. Locked read-modify-write: two threads appending to
        the same table each get a disjoint range."""
        with self._mu:
            meta = self._meta(key)
            start = int(meta["next_id"])
            meta["next_id"] = start + n
            meta["pending_append"] = {"lo": start, "hi": start + n}
            self._save_brief()
            return start

    def _commit_append(self, key: str, n: int, token: str | None) -> None:
        """Step 3: the batch is fully in parquet — advance len, clear
        the marker, record the idempotency token (capped log; a
        streaming sink only ever replays its most recent epochs)."""
        with self._mu:
            meta = self._meta(key)
            meta["len"] += n
            meta["pending_append"] = None
            if token is not None:
                log = list(meta.get("absorbed_batches") or [])
                log.append(token)
                meta["absorbed_batches"] = log[-64:]
            self._save_brief()

    # ---- DML (W1-W3) ------------------------------------------------------

    def add(self, key: str, vec: list[float], metadata: dict[str, str]) -> None:
        """Insert one row (database/mod.rs:425-432). Clears PQ, keeps
        HNSW (metadata_vec_table.rs:64-68)."""
        self.batch_add(key, [vec], [metadata])

    @_locked_per_table
    def batch_add(
        self,
        key: str,
        vec_list: list[list[float]],
        metadata_list: list[dict[str, str]],
        idempotency_token: str | None = None,
    ) -> None:
        """Bulk insert (database/mod.rs:435-450) — one Parquet append,
        Spark's native bulk path. ``idempotency_token`` gives the
        list-based path the same replayed-batch no-op contract as
        :meth:`batch_add_df` (the reference API has no such concept —
        the kwarg is optional and additive)."""
        meta = self._meta(key)
        if idempotency_token is not None and idempotency_token in (
            meta.get("absorbed_batches") or []
        ):
            return
        if len(vec_list) != len(metadata_list):
            raise ValueError("Length mismatch between vec_list and metadata_list")
        dim = meta["dim"]
        for v in vec_list:
            if len(v) != dim:
                raise ValueError("Dimension mismatch")
        if not vec_list:
            return
        self._settle_pending(key)
        data_type = meta.get("data_type", "float32")
        if data_type == "uint8":
            # saturating NaN→0 cast on ingest (vec_set.rs:142-149 to_type)
            conv = lambda v: [_cast_u8(float(x)) for x in v]  # noqa: E731
        else:
            conv = lambda v: [float(x) for x in v]  # noqa: E731
        start = self._reserve_append(key, len(vec_list))
        rows = [
            (start + i, conv(v), {str(a): str(b) for a, b in md.items()})
            for i, (v, md) in enumerate(zip(vec_list, metadata_list))
        ]
        df = self.spark.createDataFrame(rows, _table_schema(data_type)).withColumn(
            "norm", norm_expr("vec")
        )
        df.write.mode("append").parquet(self._table_path(key))
        self._commit_append(key, len(rows), idempotency_token)
        # write invalidates PQ, never HNSW (README.md:22,45) — the HNSW
        # graph absorbs the new rows incrementally (hnsw_index.rs:538-572)
        self._clear_pq_state(key)
        self._clear_ivf_state(key)
        if meta.get("has_ivfpq"):
            # the IVF+PQ tier absorbs appends incrementally: frozen
            # quantizers encode the new rows, the partitioned codes
            # table gets an O(batch) append — no rebuild, no O(N)
            # rewrite (the distributed-tier twin of the HNSW
            # incremental insert below)
            ivfpq = self._get_index(key, "ivfpq")
            if ivfpq is not None:
                ivfpq.add_batch(df)
                ivfpq.base = self.spark.read.parquet(self._table_path(key))
            else:
                self._clear_ivfpq_state(key)
        # a live HNSW graph deliberately lags the table: _hnsw_tail_sync
        # absorbs the new rows at the next serve or force_save, in id
        # order — ONE absorption discipline for both ingest paths, so
        # the "missing rows are exactly the largest ids" invariant the
        # sync relies on always holds. (The graph artifact itself is
        # flushed once at force_save()/close(), not per append — the
        # reference's dirty-mark + deferred-flush shape,
        # thread_save.rs:97-114, 60 s cadence.)
        self._save_brief()
        self._invalidate_cache(key)

    @_locked_per_table
    def batch_add_df(
        self,
        key: str,
        df: DataFrame,
        vec_col: str = "vec",
        meta_cols: Sequence[str] = (),
        idempotency_token: str | None = None,
    ) -> int:
        """DataFrame-native bulk insert — the scale path of
        :meth:`batch_add`: the rows NEVER hop through the driver
        (``batch_add`` is the reference's list-based API,
        database/mod.rs:435-450; this is its distributed twin for
        streaming micro-batches and bulk loads).

        Contiguous ids are assigned from ``next_id`` without a global
        sort or shuffle: the batch is pinned with an eager checkpoint
        (stable partitioning), then ``monotonically_increasing_id``'s
        (partition << 33 | local) encoding plus one tiny per-partition
        count job yields ``id = next_id + partition_offset + local`` —
        two jobs, both map-only, offsets broadcast. The pin is a
        reliable ``checkpoint()`` when the session has a checkpoint dir
        configured, else ``localCheckpoint`` — executor-LOCAL blocks,
        so losing an executor mid-append fails the batch
        non-recoverably; streaming retries it (covered by the pending
        marker + idempotency token below), bulk loaders that need
        executor-loss tolerance should ``spark.sparkContext.
        setCheckpointDir(...)`` first.

        Durability: ids are RESERVED in the brief before the parquet
        append and the batch commits with a second brief write (see the
        append crash protocol above) — a crash anywhere in between is
        repaired, never double-assigned. ``idempotency_token`` makes a
        redelivered batch (foreachBatch is at-least-once) a no-op: a
        token found in the table's committed-batch log returns 0
        without touching anything, giving exactly-once table content
        under streaming retries.

        The dim check runs executor-side (``raise_error`` inside the
        stamp projection). Metadata values are stringified with Spark's
        ``cast("string")`` (booleans render ``true``, not Python's
        ``True``); NULLs are normalized to the string ``"None"`` so the
        table content matches :meth:`batch_add`'s ``str(None)`` exactly
        — pattern filters behave identically on both ingest paths.
        Index absorption: PQ/IVF invalidate, IVF+PQ absorbs the stamped
        FRAME executor-side (frozen quantizers, O(batch) partitioned
        append). A live HNSW graph is NOT touched here — the graph
        deliberately lags the table and ``_hnsw_tail_sync`` absorbs the
        gap (chunked, bounded driver memory) at the next serve or
        ``force_save``, so the streaming ingest loop moves ZERO vectors
        through the driver on any tier. Returns the number of rows
        appended."""
        meta = self._meta(key)
        if idempotency_token is not None and idempotency_token in (
            meta.get("absorbed_batches") or []
        ):
            return 0
        self._settle_pending(key)
        dim = meta["dim"]
        data_type = meta.get("data_type", "float32")

        checked = F.when(
            F.size(F.col(vec_col)) == dim, F.col(vec_col)
        ).otherwise(
            F.raise_error(
                F.lit(f"Dimension mismatch: expected dim={dim} in table {key!r}")
            )
        )
        if data_type == "uint8":
            # saturating NaN→0 cast on ingest (vec_set.rs:142-149)
            vec_out = cast_vec_expr(checked, "u8").cast("array<smallint>")
        else:
            vec_out = cast_vec_expr(checked, "f32")
        if meta_cols:
            pairs: list[F.Column] = []
            for c in meta_cols:
                # coalesce: NULL → "None", matching batch_add's str(None)
                pairs += [
                    F.lit(str(c)),
                    F.coalesce(F.col(c).cast("string"), F.lit("None")),
                ]
            mmap = F.create_map(*pairs)
        else:
            mmap = F.expr("map()").cast("map<string,string>")

        staged = df.select(
            vec_out.alias("vec"),
            mmap.alias("metadata"),
            F.monotonically_increasing_id().alias("_mid"),
        )
        # pin partitioning + _mid values across the two jobs below:
        # reliable checkpoint when configured (survives executor loss),
        # executor-local blocks otherwise
        if self.spark.sparkContext.getCheckpointDir() is not None:
            staged = staged.checkpoint(eager=True)
        else:
            staged = staged.localCheckpoint(eager=True)
        pid = F.shiftrightunsigned(F.col("_mid"), 33)
        counts = (
            staged.groupBy(pid.alias("_pid"))
            .agg(F.count("*").alias("_c"))
            .collect()
        )
        if not counts:
            return 0
        offs, acc = [], 0
        for r in sorted(counts, key=lambda r: r["_pid"]):
            offs.append((int(r["_pid"]), acc))
            acc += int(r["_c"])
        off_df = self.spark.createDataFrame(offs, "_pid long, _off long")
        local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
        start = self._reserve_append(key, acc)
        stamped = (
            staged.withColumn("_pid", pid)
            .join(F.broadcast(off_df), "_pid")
            .select(
                (F.lit(start) + F.col("_off") + local).alias("id"),
                "vec",
                "metadata",
            )
            .withColumn("norm", norm_expr("vec"))
        )
        stamped.write.mode("append").parquet(self._table_path(key))
        self._commit_append(key, acc, idempotency_token)
        self._clear_pq_state(key)
        self._clear_ivf_state(key)
        if meta.get("has_ivfpq"):
            ivfpq = self._get_index(key, "ivfpq")
            if ivfpq is not None:
                ivfpq.add_batch(stamped)
                ivfpq.base = self.spark.read.parquet(self._table_path(key))
            else:
                self._clear_ivfpq_state(key)
        # a live HNSW graph (either tier) is left to lag: _hnsw_tail_sync
        # absorbs [start, start+acc) at the next serve or force_save —
        # zero (id, vec) driver transfer inside the ingest loop
        self._save_brief()
        self._invalidate_cache(key)
        return acc

    @staticmethod
    def _pattern_pred(pattern: dict[str, str]):
        """Metadata subset-match: ∀(k,v)∈pattern, metadata[k]==v
        (metadata_vec_table.rs:163-169). ``eqNullSafe`` so a missing key
        is FALSE, not NULL — otherwise ``~pred`` silently drops the
        non-matching rows too (SQL three-valued logic)."""
        pred = F.lit(True)
        for k, v in pattern.items():
            pred = pred & F.col("metadata").getItem(k).eqNullSafe(F.lit(str(v)))
        return pred

    @_locked_per_table
    def delete(self, key: str, pattern: dict[str, str]) -> int:
        """Delete rows whose metadata subset-matches ``pattern``
        (metadata_vec_table.rs:163-187). Clears HNSW and PQ. Returns
        the number of rows deleted (the Rust core returns this count;
        the PyO3 layer drops it — we keep it, callers may ignore).

        Single pass over the data: the anti-filtered table is written
        once; the kept count comes from the written Parquet footers
        (metadata-only scan), not a second full job."""
        meta = self._meta(key)
        df = self.spark.read.parquet(self._table_path(key))
        keep = df.filter(~self._pattern_pred(pattern))
        # durable rewrite marker BEFORE the swap (the delete twin of the
        # append pending-marker): a crash anywhere between the first
        # rename and the brief update below leaves the directory fixed
        # by _recover_table_swap but the BRIEF unknowing — len stale and
        # live index artifacts still covering deleted rows. The marker
        # makes the next open re-derive len from the parquet and clear
        # the derived indexes (_settle_rewrite).
        with self._mu:
            meta["pending_rewrite"] = {"clear_indexes": True}
            self._save_brief()
        self._rewrite(key, keep)
        kept = self.spark.read.parquet(self._table_path(key)).count()
        deleted = meta["len"] - kept
        with self._mu:
            if deleted:
                meta["len"] = kept
                self._clear_pq_state(key)
                self._clear_hnsw_state(key)
                self._clear_ivf_state(key)
                self._clear_ivfpq_state(key)
            meta["pending_rewrite"] = None
            self._save_brief()
        return deleted

    def _rewrite(self, key: str, df: DataFrame) -> None:
        """Table replace: write tmp dir, two-rename swap
        (thread_save.rs:10-21). The swap window itself (live renamed to
        __old, crash before __tmp lands) is not atomic — a crash inside
        it is completed/rolled back by ``_recover_table_swap`` at the
        next open."""
        path = self._table_path(key)
        tmp = path + "__tmp"
        df.write.mode("overwrite").parquet(tmp)
        self._invalidate_cache(key)
        old = path + "__old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(path):
            os.replace(path, old)
        os.replace(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        # invalidate Spark's session-level state for the path (cached
        # relations + file-status listings): readers created after the
        # swap must see the rewritten directory, not a stale snapshot
        self.spark.catalog.refreshByPath(path)

    def _settle_rewrite(self, key: str) -> None:
        """A delete/compact crashed inside its rewrite window: the
        DIRECTORY was already completed or rolled back by
        ``_recover_table_swap``, but which side landed is unknowable
        from the brief — so re-derive ``len`` from the parquet footers
        and, for a delete (``clear_indexes``), conservatively drop the
        derived indexes: a promoted rewrite means they cover deleted
        rows (serving ghosts); a rolled-back one just costs a rebuild.
        Compaction rewrites carry ``clear_indexes=False`` — row content
        is identical on both sides, so the indexes stay."""
        meta = self._meta(key)
        marker = meta.get("pending_rewrite") or {}
        meta["len"] = self.spark.read.parquet(self._table_path(key)).count()
        if marker.get("clear_indexes"):
            self._clear_pq_state(key)
            self._clear_hnsw_state(key)
            self._clear_ivf_state(key)
            self._clear_ivfpq_state(key)
        meta["pending_rewrite"] = None
        self._save_brief()
        self._invalidate_cache(key)

    def _recover_table_swap(self, key: str) -> None:
        """Complete (or roll back) a ``_rewrite`` swap a crash
        interrupted: ``_SUCCESS`` (Spark's committer sentinel) proves
        the __tmp dir is a complete rewrite — promote it; otherwise the
        __old dir is the untouched pre-swap table — restore it."""
        path = self._table_path(key)
        tmp, old = path + "__tmp", path + "__old"
        if os.path.isdir(path):
            return
        if os.path.isdir(tmp) and os.path.exists(os.path.join(tmp, "_SUCCESS")):
            os.replace(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
        elif os.path.isdir(old):
            os.replace(old, path)
            shutil.rmtree(tmp, ignore_errors=True)

    # ---- read path (Q1-Q8, S7) --------------------------------------------

    def search(
        self,
        key: str,
        query: list[float],
        k: int,
        ef: int | None = None,
        upper_bound: float | None = None,
    ) -> list[tuple[dict[str, str], float]]:
        """Single-query kNN returning ascending ``(metadata, distance)``
        (database/mod.rs:492-506). The tier is :meth:`batch_search`'s
        (:meth:`_tier`, metadata_vec_table.rs:201-205); the query is
        then served on the driver or by that tier's batch plan:

        - HNSW (plain or sharded) — the graph search on the driver, with
          beam ef; with PQ built too and ``ef`` given, ``knn_pq``'s
          ADC-steered traversal + exact re-rank (hnsw_index.rs:672-696);
        - IVF+PQ with the driver mirror (``local_serve``) — the mirror's
          serve, bit-identical to the distributed plan;
        - otherwise (flat, PQ, IVF, IVF+PQ without the mirror) — the
          tier's batch plan over a one-row query matrix, so a point query
          and a one-row ``batch_search`` get the same rows. IVF reads
          ``ef`` as ``n_probes`` in both (dynamic_index.rs:85-90); flat
          ignores it (dynamic_index.rs:77).

        Metadata: the driver serves read the table's driver-resident map
        (:meth:`_metadata_map`); the batch plans look it up for the
        returned ids only (:meth:`_driver_result`)."""
        meta = self._meta(key)
        if len(query) != meta["dim"]:
            raise ValueError("Dimension mismatch")
        q = np.asarray([query], dtype=np.float64)
        # collect_query_block's rule, inline: this is the point hot path
        if not np.isfinite(q).all():
            raise ValueError("Non-finite query value (NaN or inf)")
        tier, idx, pq = self._tier(key, meta, ef)
        if tier == "hnsw_pq":
            ids, dists = idx.search_np(q[0], k, ef, pq=pq)
        elif tier == "hnsw":
            ids, dists = idx.search_np(q[0], k, ef)
        elif tier == "ivfpq" and self._ivfpq_mirror(idx):
            # the mirror's own serve, not _batch_plan: the batch route's
            # local result frame costs ~24 ms a query (median 39.4 vs
            # 15.0 ms, 10k × 128, local[4] on a 4-core host; same rows)
            _, ids, dists = idx._search_local(
                q, int(k), _ivfpq_probes(meta), max(int(ef), int(k)),
                idx.model.metric,
            )
        else:
            # Row collect: the plan's result is a driver-built local
            # frame, which collect() reads with no Spark job (toArrow
            # would run one)
            rows = self._batch_plan(key, meta, tier, idx, pq, q, k, ef,
                                    upper_bound).collect()
            ids, dists = [r["id"] for r in rows], [r["dist"] for r in rows]
            return self._driver_result(key, ids, dists, k, upper_bound,
                                       full_map=False)
        return self._driver_result(key, ids, dists, k, upper_bound)

    def _ivfpq_mirror(self, ivfpq) -> bool:
        """Whether a point query on ``ivfpq`` is served from its driver
        mirror: with ``local_serve`` on, the first such query builds the
        mirror when it fits ``local_serve_max_bytes``."""
        if not self.local_serve:
            return False
        if not ivfpq._local_enabled and not getattr(ivfpq, "_local_denied", False):
            ivfpq.enable_local_serve(self.local_serve_max_bytes)
        return ivfpq._local_state() is not None

    def _driver_result(
        self, key: str, ids, dists, k: int, upper_bound: float | None,
        full_map: bool = True,
    ) -> list[tuple[dict[str, str], float]]:
        """The :meth:`search` result of a serve's ``(ids, dists)``: the
        threshold applied, ascending by distance, at most ``k``, with
        metadata attached. It comes from the table's driver map when
        ``full_map`` (the driver serves, which hold driver state of the
        table's size anyway) or when the map is already built; otherwise
        one Spark job looks up the ≤ k returned ids, so a scan tier
        never pulls the whole table's metadata onto the driver."""
        hits = sorted(
            ((int(i), float(d)) for i, d in zip(ids, dists)
             if upper_bound is None or float(d) <= upper_bound),
            key=lambda t: t[1],
        )[:k]
        if full_map or "_mdmap" in self._indexes.get(key, {}):
            md = self._metadata_map(key)
        elif hits:
            rows = (
                self.table_df(key).filter(F.col("id").isin([i for i, _ in hits]))
                .select("id", "metadata").collect()
            )
            md = {int(r["id"]): dict(r["metadata"] or {}) for r in rows}
        else:
            md = {}
        return [(md.get(i, {}), d) for i, d in hits]

    def search_filtered(
        self,
        key: str,
        query: list[float],
        k: int,
        pattern: dict[str, str],
        upper_bound: float | None = None,
        ef: int | None = None,
    ) -> list[tuple[dict[str, str], float]]:
        """Metadata-filtered kNN returning ascending ``(metadata,
        distance)``: the subset-match predicate (the reference's
        delete-pattern semantics, metadata_vec_table.rs:163-169) applied
        BELOW the distance computation — non-matching rows are pruned by
        the scan (map-type predicate; with metadata promoted to
        top-level parquet columns it reaches PushedFilters,
        tests/test_plans.py shows the shape). Beyond-reference: the
        reference can attach metadata to results (Q8) but cannot prune
        the search space by it.

        The query is :meth:`batch_search_filtered` over a one-row query
        matrix, so a point query and a one-row batch get the same rows;
        metadata is looked up for the returned ids only
        (:meth:`_driver_result`)."""
        meta = self._meta(key)
        if len(query) != meta["dim"]:
            raise ValueError("Dimension mismatch")
        # Row collect: the plan's result is a driver-built local frame,
        # which collect() reads with no Spark job
        rows = self.batch_search_filtered(
            key, np.asarray([query], dtype=np.float64), k, pattern,
            upper_bound, ef,
        ).collect()
        return self._driver_result(key, [r["id"] for r in rows],
                                   [r["dist"] for r in rows], k, upper_bound,
                                   full_map=False)

    def batch_search_filtered(
        self,
        key: str,
        queries: DataFrame | np.ndarray,
        k: int,
        pattern: dict[str, str],
        upper_bound: float | None = None,
        ef: int | None = None,
    ) -> DataFrame:
        """Batch form of :meth:`search_filtered`: queries ``(query_id,
        vec)`` (a DataFrame, or a driver-side matrix) → ``(query_id, id,
        dist)`` over the rows matching ``pattern``. The one filtered
        ladder; the predicate prunes the base table first, then:

        - ``ef`` + HNSW (plain or sharded) → the graph's oversample-and-
          filter plan (``search_batch_filtered``: pool → filtered join →
          exact scan for starved queries), after the tail sync;
        - ``ef`` + IVF+PQ → the same plan over the ADC pool, with the
          build-time probe count and the driver mirror when
          :meth:`_ivfpq_mirror` allows it;
        - else the exact flat batch scan of the filtered rows."""
        meta = self._meta(key)
        df = self.table_df(key).filter(self._pattern_pred(pattern))
        cols = {"qid_col": "query_id", "qvec_col": "vec"}
        out = None
        if ef is not None:
            hnsw = self._get_index(key, "hnsw") if meta["has_hnsw"] else None
            ivfpq = self._get_index(key, "ivfpq") if meta.get("has_ivfpq") else None
            if hnsw is not None:
                self._hnsw_tail_sync(key, hnsw)
                out = hnsw.search_batch_filtered(queries, k, df, ef=ef, **cols)
            elif ivfpq is not None:
                self._ivfpq_mirror(ivfpq)
                out = ivfpq.search_batch_filtered(
                    queries, k, df, n_probes=_ivfpq_probes(meta), ef=ef, **cols)
        if out is None:
            return knn_ops.knn_batch(
                df, queries, k, metric=meta["dist"], vec_col="vec", id_col="id",
                upper_bound=upper_bound, dim=meta["dim"], **cols,
            )
        if upper_bound is not None:
            out = out.filter(F.col("dist") <= F.lit(float(upper_bound)))
        return out

    def batch_search(
        self,
        key: str,
        queries: DataFrame,
        k: int,
        ef: int | None = None,
        upper_bound: float | None = None,
    ) -> DataFrame:
        """Spark-native batch form: a DataFrame of queries
        ``(query_id, vec)`` → ``(query_id, id, dist)``, served by the
        tier :meth:`_tier` picks — the same tier :meth:`search` uses."""
        meta = self._meta(key)
        tier, idx, pq = self._tier(key, meta, ef)
        return self._batch_plan(key, meta, tier, idx, pq, queries, k, ef,
                                upper_bound)

    def _tier(self, key: str, meta: dict[str, Any], ef: int | None):
        """The one tier-precedence ladder of :meth:`search` and
        :meth:`batch_search` (metadata_vec_table.rs:201-205), as
        ``(tier, index, pq)``:

        - ``ef`` + PQ built → ``knn_pq`` on the live index: ``"hnsw_pq"``
          (single-graph HNSW built too: ADC-steered traversal + exact
          re-rank, with ``pq`` the table) or else ``"pq"`` (flat ADC +
          re-rank);
        - HNSW built → ``"hnsw"`` (graph beam with ef);
        - ``ef`` + IVF+PQ built → ``"ivfpq"`` (cluster-pruned ADC with the
          build-time probe default);
        - ``ef`` + IVF built → ``"ivf"`` (ef probes);
        - else ``"flat"`` (the exact scan; index None)."""
        pq = self._get_index(key, "pq") if meta["has_pq"] else None
        hnsw = self._get_index(key, "hnsw") if meta["has_hnsw"] else None
        if hnsw is not None:
            # absorb any appended rows the live graph hasn't seen (a
            # driver-side count check — zero jobs when current)
            self._hnsw_tail_sync(key, hnsw)
        if ef is not None and pq is not None:
            if _is_plain_hnsw(hnsw):
                return "hnsw_pq", hnsw, pq
            return "pq", pq, None
        if hnsw is not None:
            return "hnsw", hnsw, None
        if ef is not None:
            for tier, flag in (("ivfpq", "has_ivfpq"), ("ivf", "has_ivf")):
                idx = self._get_index(key, tier) if meta.get(flag) else None
                if idx is not None:
                    return tier, idx, None
        return "flat", None, None

    def _batch_plan(
        self, key: str, meta: dict[str, Any], tier: str, idx, pq,
        queries, k: int, ef: int | None, upper_bound: float | None,
    ) -> DataFrame:
        """The batch plan of the tier :meth:`_tier` picked, over
        ``queries`` (a DataFrame, or a driver-side matrix on the scan
        tiers) → ``(query_id, id, dist)``."""
        cols = {"qid_col": "query_id", "qvec_col": "vec",
                "upper_bound": upper_bound}
        if tier == "hnsw_pq":
            return idx.search_batch(queries, k, ef=ef, pq=pq, **cols)
        if tier == "hnsw":
            return idx.search_batch(queries, k, ef=ef, **cols)
        if tier == "pq":
            return idx.search_batch(queries, k, ef=ef, metric=meta["dist"], **cols)
        if tier == "ivfpq":
            return idx.search_batch(queries, k, n_probes=_ivfpq_probes(meta),
                                    ef=ef, **cols)
        if tier == "ivf":
            return idx.search_batch(queries, k, n_probes=ef, **cols)
        return knn_ops.knn_batch(
            self.table_df(key), queries, k, metric=meta["dist"], vec_col="vec",
            id_col="id", dim=meta["dim"], **cols,
        )

    def table_file_count(self, key: str) -> int:
        """Number of parquet data files backing the table — the
        small-files health metric streaming ingest degrades (one file
        per micro-batch per partition)."""
        path = self._table_path(key)
        return sum(
            1
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )

    @_locked_per_table
    def compact_table(self, key: str, rows_per_file: int = 4_000_000) -> int:
        """Rewrite the table into id-range-clustered files of
        ~``rows_per_file`` rows (the default targets ≈100 MB files for
        a 64-dim f32 table). Streaming/bulk appends leave one file per
        micro-batch per partition — at 100 TB that is millions of tiny
        files, and every scan pays their open/footer cost — so
        compaction is maintenance any append-heavy table needs
        (Delta/Iceberg OPTIMIZE; the reference never hits this because
        it rewrites one monolithic bincode blob per save,
        thread_save.rs). ``repartitionByRange`` on id keeps files
        id-clustered, so the tail-sync ordered read and any id-range
        probe prune by footer min/max. Row content is untouched:
        indexes stay valid, ids stay stable. Returns the file count
        after compaction. Crash-safe via the same tmp-dir + atomic
        rename as delete (``_rewrite``)."""
        meta = self._meta(key)
        self._settle_pending(key)
        n = max(int(meta["len"]), 1)
        parts = max(1, -(-n // int(rows_per_file)))
        df = self.spark.read.parquet(self._table_path(key))
        # same rewrite marker as delete, but compaction changes no row
        # content: whichever side of the swap survives a crash, ids and
        # len are identical and every live index stays valid — so the
        # settle re-derives len (a no-op check) and KEEPS the indexes.
        with self._mu:
            meta["pending_rewrite"] = {"clear_indexes": False}
            self._save_brief()
        self._rewrite(key, df.repartitionByRange(parts, F.col("id")))
        with self._mu:
            meta["pending_rewrite"] = None
            self._save_brief()
        # live indexes captured a pre-compaction file listing in their
        # ``base`` DataFrame — point them at the rewritten directory or
        # their next base scan reads deleted files
        fresh = self.spark.read.parquet(self._table_path(key))
        for idx in self._indexes.get(key, {}).values():
            if hasattr(idx, "base"):
                idx.base = fresh
        return self.table_file_count(key)

    def extract_data(self, key: str) -> list[tuple[list[float], dict[str, str]]]:
        """Dump the whole table (metadata_vec_table.rs:215-222), id order."""
        rows = self.table_df(key).orderBy("id").select("vec", "metadata").collect()
        return [([float(x) for x in r["vec"]], dict(r["metadata"] or {})) for r in rows]

    # ---- index DDL (§3.3) --------------------------------------------------

    def _index_path(self, key: str, kind: str) -> str:
        return os.path.join(self.dir, "tables", self._meta(key)["filename"] + "_" + kind)

    def _drop_index_artifacts(self, key: str) -> None:
        self._indexes.pop(key, None)
        meta = self._brief["tables"].get(key)
        if meta:
            for suffix in ("_ivf", "_pq", "_hnsw", "_ivfpq"):
                shutil.rmtree(
                    os.path.join(self.dir, "tables", meta["filename"] + suffix),
                    ignore_errors=True,
                )

    def _clear_pq_state(self, key: str) -> None:
        meta = self._meta(key)
        if meta["has_pq"]:
            meta["has_pq"] = False
            meta["pq_params"] = None
        self._indexes.get(key, {}).pop("pq", None)
        shutil.rmtree(self._index_path(key, "pq"), ignore_errors=True)

    def _clear_hnsw_state(self, key: str) -> None:
        meta = self._meta(key)
        if meta["has_hnsw"]:
            meta["has_hnsw"] = False
            meta["hnsw_params"] = None
        self._indexes.get(key, {}).pop("hnsw", None)
        shutil.rmtree(self._index_path(key, "hnsw"), ignore_errors=True)

    def _clear_ivf_state(self, key: str) -> None:
        meta = self._meta(key)
        if meta.get("has_ivf"):
            meta["has_ivf"] = False
            meta["ivf_params"] = None
        self._indexes.get(key, {}).pop("ivf", None)
        shutil.rmtree(self._index_path(key, "ivf"), ignore_errors=True)

    def _clear_ivfpq_state(self, key: str) -> None:
        meta = self._meta(key)
        if meta.get("has_ivfpq"):
            meta["has_ivfpq"] = False
            meta["ivfpq_params"] = None
        self._indexes.get(key, {}).pop("ivfpq", None)
        shutil.rmtree(self._index_path(key, "ivfpq"), ignore_errors=True)

    @_locked_per_table
    def _hnsw_tail_sync(self, key: str, idx, force: bool = False) -> None:
        """Absorb table rows the HNSW graph hasn't seen — the one place
        vectors cross to the driver for the plain tier, moved OUT
        of the ingest loop: DataFrame-native appends (``batch_add_df``,
        streaming micro-batches) leave the graph lagging and this sync
        runs at the next serve / ``force_save`` / artifact load,
        amortizing the pull across any number of micro-batches.

        The lag check is driver-side arithmetic (``len`` vs rows
        indexed) — ZERO Spark jobs when the graph is current, so the
        point-serve fast path stays job-free. The pull absorbs
        :data:`TAIL_CHUNK_ROWS`-row chunks, and a tail longer than one
        streams through ``toLocalIterator``: driver memory is bounded no
        matter how far the graph lags (a bulk load can defer
        millions of rows without OOMing the driver). Appends are
        id-ordered and deletes clear the index, so the missing rows are
        exactly those above a bound: the graph's largest id on the
        plain tier, the durable watermark on the sharded tier, which
        membership-checks per shard (``force=True`` at load time runs
        the watermark probe even when counts look current — a crash
        BETWEEN shard flushes and the root-meta flush leaves counts
        overcounting). Both read the tail with one ``id > bound``
        filter."""
        from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

        meta = self._meta(key)
        is_sharded = isinstance(idx, ShardedHNSWIndex)
        rows_indexed = (
            sum(idx.shard_counts.values()) if is_sharded else len(idx.ids)
        )
        n_missing = int(meta["len"]) - rows_indexed
        if n_missing <= 0 and not (is_sharded and force):
            return
        if is_sharded:
            bound = int(idx.max_committed_id)
        else:
            bound = int(idx.ids.max()) if len(idx.ids) else -1
        # the tail is absorbed in ASCENDING id order: an interrupted sync
        # then leaves the graph holding a contiguous prefix of the tail,
        # so the next sync's bound still finds exactly the rest. The tail
        # holds the n_missing rows (on the sharded tier the watermark and
        # the counts flush together): one that fits a chunk is read by
        # one parallel scan and sorted here; a longer one is range-sorted
        # (a sampling job and a shuffle more), so toLocalIterator holds
        # one partition at a time
        tail = self.table_df(key).filter(F.col("id") > bound).select("id", "vec")
        chunk = TAIL_CHUNK_ROWS
        if n_missing > chunk:
            rows = tail.orderBy("id").toLocalIterator(prefetchPartitions=True)
        else:
            rows = sorted(tail.collect(), key=lambda r: r["id"])
        seed = 43 + int(meta["next_id"])
        ids_buf: list[int] = []
        vec_buf: list[list[float]] = []

        def _flush(i: int) -> None:
            if not ids_buf:
                return
            ids = np.asarray(ids_buf, dtype=np.int64)
            vecs = np.asarray(
                [[float(x) for x in v] for v in vec_buf], dtype=np.float64
            )
            if is_sharded:
                idx.absorb_tail(ids, vecs, seed=seed + i)
            else:
                idx.add_batch(ids, vecs, seed=seed + i)
            ids_buf.clear()
            vec_buf.clear()

        i = 0
        for r in rows:
            ids_buf.append(int(r["id"]))
            vec_buf.append(r["vec"])
            if len(ids_buf) >= chunk:
                _flush(i)
                i += 1
        _flush(i)

    @_locked_per_table
    def _get_index(self, key: str, kind: str):
        """Lazy-load a persisted index artifact (S8: the reference's
        save-without-vec-set / load-with-external-vec-set pattern,
        index_algorithm/mod.rs:143-148) — indexes survive restart."""
        idx = self._indexes.setdefault(key, {})
        if kind in idx:
            return idx[kind]
        path = self._index_path(key, kind)
        if not os.path.isdir(path):
            return None
        if kind == "hnsw":
            with open(os.path.join(path, "meta.json")) as f:
                artifact_kind = json.load(f).get("kind")
            if artifact_kind == "sharded_hnsw":
                from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

                idx[kind] = ShardedHNSWIndex.load(self.spark, path)
            else:
                from lab_1806_vec_db_spark.index.hnsw import HNSWIndex

                idx[kind] = HNSWIndex.load(self.spark, path, base=self.table_df(key))
            # crash-window / deferred-append recovery: appends land in
            # parquet durably but the graph flush defers to force_save —
            # a kill (or a DataFrame-native append stream) leaves a graph
            # missing the tail of the table; absorb it on load and
            # dirty-mark so the next flush persists the repair. (The
            # reference papers over the same window with a 60 s
            # background saver, thread_save.rs — this closes it exactly.)
            # force=True: the sharded tier's watermark probe must run
            # even when counts look current.
            self._hnsw_tail_sync(key, idx[kind], force=True)
        elif kind == "pq":
            from lab_1806_vec_db_spark.index.pq import PQTable

            idx[kind] = PQTable.load(self.spark, path, base=self.table_df(key))
        elif kind == "ivf":
            from lab_1806_vec_db_spark.index.ivf import IVFIndex

            idx[kind] = IVFIndex.load(self.spark, path)
        elif kind == "ivfpq":
            from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

            idx[kind] = IVFPQIndex.load(self.spark, path, base=self.table_df(key))
            if self.executor_cache:
                idx[kind].persist_codes()
        return idx.get(kind)

    @_locked_per_table
    def build_hnsw_index(
        self,
        key: str,
        ef_construction: int | None = None,
        sharded: bool | None = None,
        n_shards: int | None = None,
    ) -> None:
        """Build the graph ANN index; no-op when already built
        (metadata_vec_table.rs:84-98). Persisted under
        ``tables/<name>_hnsw`` so it survives restart.

        Tier switch (docs/SCALE.md serving tiers): tables above
        ``SPARK_GRAFT_HNSW_BROADCAST_CAP`` (default 50 M rows; the name
        dates from a broadcast serve) get the sharded layout —
        per-shard sub-graphs built executor-side + a centroid router
        (index/sharded.py) — instead of one driver-built, driver-served
        graph. ``sharded=True/False`` forces the tier; ``n_shards``
        defaults to len/cap so each sub-graph stays within the plain
        tier's envelope."""
        meta = self._meta(key)
        if meta["has_hnsw"]:
            return
        cap = int(os.environ.get("SPARK_GRAFT_HNSW_BROADCAST_CAP", "50000000"))
        use_sharded = sharded if sharded is not None else meta["len"] > cap
        if use_sharded:
            from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

            shards = n_shards or max(2, math.ceil(meta["len"] / max(cap, 1)))
            idx = ShardedHNSWIndex.build(
                self.table_df(key), self._index_path(key, "hnsw"),
                n_shards=shards, metric=meta["dist"], vec_col="vec",
                id_col="id", ef_construction=ef_construction or 200,
            )
            params = {"ef_construction": ef_construction or 200,
                      "sharded": True, "n_shards": shards}
        else:
            from lab_1806_vec_db_spark.index.hnsw import HNSWIndex

            idx = HNSWIndex.build(
                self.table_df(key), metric=meta["dist"], vec_col="vec", id_col="id",
                ef_construction=ef_construction or 200,
                path=self._index_path(key, "hnsw"),
            )
            params = {"ef_construction": ef_construction or 200}
        self._indexes.setdefault(key, {})["hnsw"] = idx
        meta["has_hnsw"] = True
        meta["hnsw_params"] = params
        self._save_brief()

    @_locked_per_table
    def build_ivf_index(
        self, key: str, k: int = 128, train_size: int = 10_000
    ) -> None:
        """Spark-native extension: cluster-partitioned IVF layout
        (ivf_index.rs:88-96 — the inverted list IS the partition
        layout). Not part of the reference's PyO3 surface, but its IVF
        index is (ivf_index.rs), and this is the scale path."""
        meta = self._meta(key)
        if meta.get("has_ivf"):
            return
        from lab_1806_vec_db_spark.index.ivf import IVFIndex

        idx = IVFIndex.build(
            self.table_df(key), k=k, metric=meta["dist"], vec_col="vec", id_col="id",
            train_size=train_size, path=self._index_path(key, "ivf"),
        )
        self._indexes.setdefault(key, {})["ivf"] = idx
        meta["has_ivf"] = True
        meta["ivf_params"] = {"k": k, "train_size": train_size}
        self._save_brief()

    def has_ivf_index(self, key: str) -> bool:
        return bool(self._meta(key).get("has_ivf"))

    @_locked_per_table
    def build_ivfpq_index(
        self,
        key: str,
        k_coarse: int = 128,
        m: int | None = None,
        n_bits: int = 4,
        train_size: int = 10_000,
        n_probes: int = 8,
    ) -> None:
        """Spark-native extension: the IVF+PQ combined serving tier
        (index/ivfpq.py) — coarse clusters prune partitions, 4-bit
        codes prune bytes. The batch throughput path for tables above
        the HNSW broadcast bound; ``n_probes`` is the serving default
        recorded with the index (the reference keeps serving knobs in
        its per-index config the same way, t_bench.toml)."""
        meta = self._meta(key)
        if meta.get("has_ivfpq"):
            return
        from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

        idx = IVFPQIndex.build(
            self.table_df(key), k_coarse=k_coarse, m=m, n_bits=n_bits,
            metric=meta["dist"], vec_col="vec", id_col="id",
            train_size=train_size, path=self._index_path(key, "ivfpq"),
            dim=meta["dim"],
        )
        if self.executor_cache:
            idx.persist_codes()
        self._indexes.setdefault(key, {})["ivfpq"] = idx
        meta["has_ivfpq"] = True
        meta["ivfpq_params"] = {"k_coarse": k_coarse, "m": m, "n_bits": n_bits,
                                "train_size": train_size, "n_probes": n_probes}
        self._save_brief()

    def has_ivfpq_index(self, key: str) -> bool:
        return bool(self._meta(key).get("has_ivfpq"))

    def clear_ivfpq_index(self, key: str) -> None:
        self._clear_ivfpq_state(key)
        self._save_brief()

    def clear_hnsw_index(self, key: str) -> None:
        """Downgrade to flat, keeping vectors (metadata_vec_table.rs:100-106)."""
        self._clear_hnsw_state(key)
        self._save_brief()

    def has_hnsw_index(self, key: str) -> bool:
        return bool(self._meta(key)["has_hnsw"])

    @_locked_per_table
    def build_pq_table(
        self,
        key: str,
        train_proportion: float | None = None,
        n_bits: int | None = None,
        m: int | None = None,
    ) -> None:
        """Train PQ on a sample; no-op when already built
        (metadata_vec_table.rs:112-152). Validation matches the
        reference exactly. Deviation (documented): the reference
        silently forces n_bits=4 even when 8 is requested
        (metadata_vec_table.rs:140 — the validated value is unused);
        we honor the requested n_bits.
        """
        meta = self._meta(key)
        if meta["has_pq"]:
            return
        if meta["len"] == 0:
            raise ValueError("Cannot build PQ table on an empty table")
        tp = 0.1 if train_proportion is None else float(train_proportion)
        if not (0.0 < tp < 1.0):
            raise ValueError("train_proportion must be in (0.0, 1.0)")
        nb = 4 if n_bits is None else int(n_bits)
        if nb not in (4, 8):
            raise ValueError("n_bits must be 4 or 8")
        dim = meta["dim"]
        mm = math.ceil(dim / 3) if m is None else int(m)
        if not (1 <= mm <= dim):
            raise ValueError("m must be in 1..=dim")
        from lab_1806_vec_db_spark.index.pq import PQTable

        idx = PQTable.train(
            self.table_df(key), dim=dim, m=mm, n_bits=nb,
            train_proportion=tp, vec_col="vec", id_col="id",
            path=self._index_path(key, "pq"),
        )
        self._indexes.setdefault(key, {})["pq"] = idx
        meta["has_pq"] = True
        meta["pq_params"] = {"train_proportion": tp, "n_bits": nb, "m": mm}
        self._save_brief()

    def clear_pq_table(self, key: str) -> None:
        self._clear_pq_state(key)
        self._save_brief()

    def has_pq_table(self, key: str) -> bool:
        return bool(self._meta(key)["has_pq"])

    def force_save(self) -> None:
        """Flush the catalog plus any dirty in-memory index artifacts
        (parity with database/mod.rs:514-521; the reference's background
        saver flushes dirty indexes on the same call path,
        thread_save.rs:97-114). Table writes are already durable on
        action; only incrementally-updated indexes defer their save.
        Snapshots the index map under the catalog lock so a concurrent
        writer thread (add/delete on another table) cannot mutate the
        dict mid-iteration."""
        with self._mu:
            snapshot = [
                (key, list(kinds.items()))
                for key, kinds in self._indexes.items()
                if key in self._brief["tables"]
            ]
        for key, kinds in snapshot:
            # per-table lock: a concurrent writer thread appending to
            # this table must not race the tail-sync/flush (force_save
            # flushes EVERY table, including ones other threads own)
            with self._tlock(key):
                if key not in self._brief["tables"]:
                    continue  # dropped since the snapshot
                for kind, idx in kinds:
                    if kind.startswith("_"):
                        continue  # driver-side caches, not persistable indexes
                    if kind == "hnsw":
                        # fold in any deferred appends before the flush so
                        # the persisted graph covers the whole table
                        self._hnsw_tail_sync(key, idx)
                    if getattr(idx, "dirty", False):
                        idx.save(self._index_path(key, kind))
        if self.auto_compact:
            # table-health maintenance as POLICY, not a callable the
            # operator has to remember: append-heavy (streaming) tables
            # accumulate one file per micro-batch per partition and
            # every scan pays their open/footer cost — when the count
            # exceeds the factor × the id-range-clustered target,
            # force_save folds the compaction in (ids untouched, so
            # live indexes stay valid). The reference never needs this
            # (one bincode blob per save, thread_save.rs:10-21); at
            # 100 TB it is the OPTIMIZE step every lake table runs.
            with self._mu:
                keys = list(self._brief["tables"])
            for key in keys:
                with self._tlock(key):
                    if key not in self._brief["tables"]:
                        continue
                    n = max(int(self._meta(key)["len"]), 1)
                    target = -(-n // int(self.compact_rows_per_file))
                    if self.table_file_count(key) > self.auto_compact_factor * target:
                        self.compact_table(key, self.compact_rows_per_file)
        self._save_brief()

    def close(self) -> None:
        self.force_save()
        for k in list(self._cached):
            self.remove_cached_table(k)
        if fcntl is not None and not self._lock_fh.closed:
            fcntl.flock(self._lock_fh, fcntl.LOCK_UN)
        if not self._lock_fh.closed:
            self._lock_fh.close()

    def __enter__(self) -> "VecDB":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
