"""The benchmark's workloads: closed-loop clients of the public ``VecDB`` API.

``VecDB`` is an in-process library whose callers block on every call, so
each workload is one closed-loop client with no arrival queue.

- ``point-write``: an HNSW table (default M/ef_construction), warmed by
  two unrecorded write cycles after the build. The window is a run of
  write cycles: append a staged batch with ``batch_add_df``, self-query one
  appended row (the first read after a write takes the miss path: the
  write invalidated the table cache and metadata map and left the graph
  lagging), a block of sequential ``search(k=10, ef=64)`` over held-out
  queries, then ``force_save``. The block's reads are the reference's
  latency regime (zero Spark jobs; work in ``db.vecdb`` dispatch and
  metadata attach, ``index.hnsw`` and the driver-side ``index.ckernel``);
  spreading them over the whole window averages out the host's
  second-to-second speed changes. No Spark scan tier runs.
- ``batch-scan``: turns of ``batch_search(...).collect()`` over the four
  scan tiers (flat, IVF, PQ, IVF+PQ) plus ``batch_search_filtered`` on a
  ``cat`` predicate, each tier once per turn. The work is in Spark
  scheduling, Arrow decode, the executor kernels and the driver merge;
  there is no driver-side HNSW.

Every operation is checked against exact numpy ground truth made by
``gen.py``; a failed check or a raised error counts as one failed op.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

K = 10
POINT_EF = 64
# lowest acceptable mean recall@10 of one checked op, per serving path
RECALL_FLOOR = {"hnsw": 0.9, "ivf": 0.6, "pq": 0.4, "ivfpq": 0.4}
DIST_TOL = 1.5e-4          # two 4-decimal roundings of one f64 distance


def recall(found: list, truth: np.ndarray) -> float:
    return len(set(found) & set(truth.tolist())) / K


class Workload:
    """Shared state and bookkeeping; subclasses define ``prepare`` (ingest
    and index build), ``open`` (one set-up repetition) and ``round`` (one
    unit of measured work; returns False when inputs run out)."""

    name = ""
    searches_per_op = 1  # point searches inside one "search" op

    def __init__(self, spark, data_dir: str, work_dir: str, rec=None) -> None:
        from lab_1806_vec_db_spark.db.vecdb import VecDB

        self.VecDB = VecDB
        self.spark = spark
        self.data = data_dir
        self.dbdir = os.path.join(work_dir, "db")
        self.rec = rec
        with open(os.path.join(data_dir, "manifest.json")) as f:
            self.m = json.load(f)
        self.queries = np.load(os.path.join(data_dir, "queries.npy"))
        self.query_lists = self.queries.tolist()  # search() takes lists
        self.db = None
        self.tracing = False
        self.phase = "plain"
        # phase ("plain", "traced" or "warmup") -> metric -> samples
        self.samples: dict[str, dict[str, list[float]]] = {}
        self.recalls: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.round_no = 0

    # ---- bookkeeping -----------------------------------------------------

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(self.phase, {}).setdefault(metric, []).append(value)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {self.name}: {what}", file=sys.stderr)
        return ok

    @contextlib.contextmanager
    def op(self, name: str):
        """One operation: under a traced round, its own Spark job group.
        An exception fails the op and the run continues."""
        try:
            if self.tracing:
                with self.rec.op(name) as r:
                    yield r
            else:
                yield {}
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.check(False, f"{name} raised")

    def ingest(self, key: str, path: str) -> int:
        self.db.create_table_if_not_exists(key, self.m["dim"])
        return self.db.batch_add_df(key, self.spark.read.parquet(path),
                                    vec_col="vec", meta_cols=["cat", "doc"])

    def reopen(self) -> None:
        if self.db is not None:
            self.db.close()
        self.db = self.VecDB(self.dbdir, self.spark)

    def close(self) -> None:
        if self.db is not None:
            self.db.close()
            self.db = None

    def point_search(self, key: str, q: list[float]) -> list[tuple[dict, float]]:
        return self.db.search(key, q, K, ef=POINT_EF)


class BatchScan(Workload):
    name = "batch-scan"
    # tier -> (table, ef); IVF reads ef as n_probes, IVF+PQ probes 16
    # (set at build) and keeps an ef=80 ADC pool, PQ keeps ef=80. A table
    # serves one index tier (VecDB dispatch picks PQ before IVF+PQ before
    # IVF), so the four tiers need three tables.
    TIERS = {"flat": ("a", None), "ivf": ("b", 16), "pq": ("a", 80),
             "ivfpq": ("c", 80), "filtered": ("a", None)}

    def prepare(self) -> float:
        self.reopen()
        base = os.path.join(self.data, "base.parquet")
        for key in ("a", "b", "c"):
            self.ingest(key, base)
        t0 = time.perf_counter()
        # 64 lists keep ~156 rows per list at 10k rows
        self.db.build_pq_table("a")
        self.db.build_ivf_index("b", k=64)
        self.db.build_ivfpq_index("c", k_coarse=64, n_probes=16)
        build_s = time.perf_counter() - t0
        tbl = pq.read_table(base, columns=["vec", "cat", "doc"])
        self.base = np.stack(tbl.column("vec").to_numpy(zero_copy_only=False))
        self.cats = np.asarray([int(c[1:]) for c in tbl.column("cat").to_pylist()])
        t = np.load(os.path.join(self.data, "truth.npz"))
        self.truth, self.truth_d = t["ids"], t["dist"]
        t = np.load(os.path.join(self.data, "truth_cat.npz"))
        self.truth_cat, self.truth_cat_d = t["ids"], t["dist"]
        # table row id -> generator doc id, per table
        self.id2doc = {}
        for key in ("a", "b", "c"):
            rows = self.db.table_df(key).selectExpr("id", "metadata['doc'] AS doc").collect()
            self.id2doc[key] = {int(r["id"]): int(r["doc"]) for r in rows}
        self.qdf = self.spark.read.parquet(os.path.join(self.data, "queries.parquet")).cache()
        self.qdf.count()
        self.q1 = self.qdf.limit(1).cache()
        self.q1.count()
        return build_s

    def _call(self, tier: str, queries, cat: int):
        key, ef = self.TIERS[tier]
        if tier == "filtered":
            return self.db.batch_search_filtered(key, queries, K, {"cat": f"c{cat}"})
        return self.db.batch_search(key, queries, K, ef=ef)

    def open(self) -> None:
        """First call of each tier; the filtered op reuses the flat
        tier's table cache and scan, so it loads nothing new."""
        self.reopen()
        for tier in ("flat", "ivf", "pq", "ivfpq"):
            self._call(tier, self.q1, 0).collect()

    def round(self) -> bool:
        """One turn: each tier's batch op once, so every round carries the
        same mix of tiers; the filtered op's ``cat`` advances per turn."""
        cat = self.round_no % 10
        for tier in self.TIERS:
            with self.op(tier) as r:
                t0 = time.perf_counter()
                df = self._call(tier, self.qdf, cat)
                t1 = time.perf_counter()
                rows = df.collect()
                t2 = time.perf_counter()
                r["results"] = len(rows)
                self.add(f"plan_s.{tier}", t1 - t0)
                self.add(f"collect_s.{tier}", t2 - t1)
                self.add(f"batch_s.{tier}", t2 - t0)
                self.add("batch_s", t2 - t0)
                self._verify(tier, rows, cat)
        return True

    def _verify(self, tier: str, rows, cat: int) -> None:
        key = self.TIERS[tier][0]
        id2doc = self.id2doc[key]
        nq = len(self.queries)
        found: list[list[tuple[float, int]]] = [[] for _ in range(nq)]
        for r in rows:
            found[int(r["query_id"])].append((float(r["dist"]), id2doc[int(r["id"])]))
        if tier == "filtered":
            truth, truth_d, allowed = self.truth_cat[cat], self.truth_cat_d[cat], cat
        else:
            truth, truth_d, allowed = self.truth, self.truth_d, None
        rec = [recall([d for _, d in sorted(f)], truth[q]) for q, f in enumerate(found)]
        self.recalls.setdefault(tier, []).extend(rec)
        if tier in ("flat", "filtered"):
            self.check(all(self._exact(q, sorted(f), truth_d[q], allowed)
                           for q, f in enumerate(found)), f"{tier} not exact top-10")
        else:
            self.check(float(np.mean(rec)) >= RECALL_FLOOR[tier],
                       f"{tier} recall {np.mean(rec):.3f}")

    def _exact(self, q: int, found: list[tuple[float, int]], truth_d: np.ndarray,
               allowed: int | None) -> bool:
        """Exact top-10 up to ties: the returned distances are the true
        top-10 distances and each returned row really is at its distance."""
        if len(found) != K:
            return False
        dists = np.asarray([d for d, _ in found])
        docs = np.asarray([doc for _, doc in found])
        if allowed is not None and np.any(self.cats[docs] != allowed):
            return False
        x = self.base[docs].astype(np.float64)
        qv = self.queries[q].astype(np.float64)
        true = 1.0 - x @ qv / np.maximum(np.linalg.norm(x, axis=1) * np.linalg.norm(qv), 1e-10)
        return bool(np.all(np.abs(dists - truth_d) <= DIST_TOL)
                    and np.all(np.abs(true - dists) <= DIST_TOL))


class PointWrite(Workload):
    name = "point-write"
    # the first write cycles of a run are slower (cold ingest and miss
    # paths); these run before the window, so the window's cycles are alike
    WARM_WRITES = 2

    def prepare(self) -> float:
        self.reopen()
        self.ingest("w", os.path.join(self.data, "base.parquet"))
        t = np.load(os.path.join(self.data, "truth_writes.npz"))
        self.truth, self.self_rows = t["ids"], t["self_rows"]
        self.searches_per_op = self.m["reads"]
        self.writes = 0
        t0 = time.perf_counter()
        self.db.build_hnsw_index("w")
        build_s = time.perf_counter() - t0
        self.phase = "warmup"
        for _ in range(self.WARM_WRITES):
            self.write_cycle()
        self.phase = "plain"
        return build_s

    def open(self) -> None:
        self.reopen()
        self.point_search("w", self.query_lists[0])

    def round(self) -> bool:
        if self.writes >= self.m["batches"]:
            return False
        self.write_cycle()
        return True

    def read_block(self, j: int) -> None:
        """``reads`` searches after write ``j``, latency of each recorded;
        the read blocks of all cycles spread the samples over the window."""
        reads, nq = self.m["reads"], len(self.queries)
        got = []
        with self.op("search") as r:
            for i in range(reads):
                q = (j * reads + i) % nq
                t0 = time.perf_counter()
                res = self.point_search("w", self.query_lists[q])
                self.add("point_ms", (time.perf_counter() - t0) * 1e3)
                got.append(recall([int(md["doc"]) for md, _ in res], self.truth[j][q]))
            r["results"] = reads * K
        self.recalls.setdefault("hnsw", []).extend(got)
        self.check(bool(got) and float(np.mean(got)) >= RECALL_FLOOR["hnsw"],
                   f"hnsw recall {np.mean(got):.3f} after {self.writes} writes")

    def write_cycle(self) -> None:
        """Append batch j, read it back, a block of reads, force_save."""
        j = self.writes
        self.writes += 1
        path = os.path.join(self.data, "writes", f"b{j}.parquet")
        batch = pq.read_table(path).slice(int(self.self_rows[j]), 1)
        self_vec = batch.column("vec")[0].as_py()
        self_doc = int(batch.column("doc")[0].as_py())
        rows = self.m["batch_rows"]
        t_round = time.perf_counter()
        before = self.db.get_len("w")
        with self.op("batch_add_df"):
            t0 = time.perf_counter()
            n = self.db.batch_add_df("w", self.spark.read.parquet(path),
                                     vec_col="vec", meta_cols=["cat", "doc"])
            self.add("ingest_rows_per_s", n / (time.perf_counter() - t0))
            self.check(n == rows and self.db.get_len("w") == before + rows,
                       f"get_len {before} -> {self.db.get_len('w')} after +{rows}")
        with self.op("search_first") as r:
            t0 = time.perf_counter()
            res = self.point_search("w", self_vec)
            self.add("read_after_write_ms", (time.perf_counter() - t0) * 1e3)
            r["results"] = len(res)
            self.check(any(int(md["doc"]) == self_doc and d <= 1e-6 for md, d in res),
                       f"appended doc {self_doc} not found at distance 0")
        self.read_block(j)
        with self.op("force_save"):
            t0 = time.perf_counter()
            self.db.force_save()
            self.add("force_save_s", time.perf_counter() - t0)
        self.add("cycle_s", time.perf_counter() - t_round)


WORKLOADS = {w.name: w for w in (PointWrite, BatchScan)}
