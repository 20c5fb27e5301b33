"""Traced-run recorder: spans around module functions, Spark accounting per op.

Layers are timed only from outside the library:

- ``Recorder.install()`` replaces each public function listed in
  ``wrap_targets`` with a wrapper that records a span (name, start, end,
  parent) and restores the original on ``uninstall()``. A wrapper goes on
  the name the caller looks up, so ``fit_kmeans`` is patched in every
  module that imported it by name.
- ``Recorder.op(name)`` brackets one benchmark operation. It sets a Spark
  job group, and ``spark_summary()`` later reads that group's jobs and
  stages from ``sc.statusTracker()`` and the status store. Each group's job
  count is cross-checked against the driver's total job-id delta.

Executor-side kernels run in Python workers and are not wrapped; they
show up in the ``spark.executor_*`` figures. Spans stay in memory and are
written out by ``dump()`` when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import time

import numpy as np

# (module, attribute path, span name). Classmethods and instance methods
# are patched on their class. ``COUNT_ARG`` names the positional argument
# whose length a span also records.
WRAP_TARGETS = [
    ("lab_1806_vec_db_spark.db.vecdb", "VecDB.search", "vecdb.search"),
    ("lab_1806_vec_db_spark.db.vecdb", "VecDB.batch_search", "vecdb.batch_search"),
    ("lab_1806_vec_db_spark.db.vecdb", "VecDB.batch_search_filtered",
     "vecdb.batch_search_filtered"),
    ("lab_1806_vec_db_spark.db.vecdb", "VecDB.batch_add_df", "vecdb.batch_add_df"),
    ("lab_1806_vec_db_spark.db.vecdb", "VecDB.force_save", "vecdb.force_save"),
    ("lab_1806_vec_db_spark.db.vecdb", "VecDB.compact_table", "vecdb.compact_table"),
    ("lab_1806_vec_db_spark.index.hnsw", "HNSWIndex.build", "hnsw.build"),
    ("lab_1806_vec_db_spark.index.hnsw", "HNSWIndex.search_np", "hnsw.search_np"),
    ("lab_1806_vec_db_spark.index.hnsw", "HNSWIndex.add_batch", "hnsw.add_batch"),
    ("lab_1806_vec_db_spark.index.hnsw", "HNSWIndex.save", "hnsw.save"),
    ("lab_1806_vec_db_spark.index.ckernel", "SearchCtx.search1", "ckernel.search1"),
    ("lab_1806_vec_db_spark.operators.knn", "knn_batch", "knn.knn_batch"),
    ("lab_1806_vec_db_spark.index.kmeans", "fit_kmeans", "kmeans.fit_kmeans"),
    ("lab_1806_vec_db_spark.index.ivf", "fit_kmeans", "kmeans.fit_kmeans"),
    ("lab_1806_vec_db_spark.index.pq", "fit_kmeans", "kmeans.fit_kmeans"),
    ("lab_1806_vec_db_spark.index.ivfpq", "fit_kmeans", "kmeans.fit_kmeans"),
    ("lab_1806_vec_db_spark.index.ivf", "IVFIndex.build", "ivf.build"),
    ("lab_1806_vec_db_spark.index.ivf", "IVFIndex.search_batch", "ivf.search_batch"),
    ("lab_1806_vec_db_spark.index.pq", "PQTable.train", "pq.train"),
    ("lab_1806_vec_db_spark.index.pq", "PQTable.search_batch", "pq.search_batch"),
    ("lab_1806_vec_db_spark.index.ivfpq", "IVFPQIndex.build", "ivfpq.build"),
    ("lab_1806_vec_db_spark.index.ivfpq", "IVFPQIndex.search_batch",
     "ivfpq.search_batch"),
]
COUNT_ARG = {"hnsw.add_batch": 1}  # new_ids, after self


class Recorder:
    """Spans and Spark op accounting for one traced benchmark run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # name, t0, t1, parent (index or None)
        self.ops: list[dict] = []    # name, group, t0, t1, job-id delta
        self.counts: dict[str, list[int]] = {}
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    # ---- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        self.spans.append({"name": name, "t0": time.perf_counter(), "t1": None,
                           "parent": self._stack[-1] if self._stack else None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["t1"] = time.perf_counter()

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            if name in COUNT_ARG:
                self.counts.setdefault(name, []).append(len(a[COUNT_ARG[name]]))
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def install(self) -> None:
        if self._saved:
            return
        for mod_name, path, name in WRAP_TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            raw = inspect.getattr_static(owner, attr)
            if isinstance(raw, classmethod):
                new = classmethod(self._wrapper(raw.__func__, name))
            else:
                new = self._wrapper(raw, name)
            self._saved.append((owner, attr, raw))
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, raw = self._saved.pop()
            setattr(owner, attr, raw)

    def span_summary(self) -> dict[str, dict]:
        """Per span name: call count, median and total duration, median
        self time (duration minus the union of its children's intervals)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["t1"] is None:
                continue
            dur = s["t1"] - s["t0"]
            rec = out.setdefault(s["name"], {"durs": [], "selfs": []})
            rec["durs"].append(dur)
            rec["selfs"].append(dur - union_length(children.get(i, [])))
        return {
            name: {"n": len(r["durs"]), "median_s": float(np.median(r["durs"])),
                   "sum_s": float(np.sum(r["durs"])),
                   "self_median_s": float(np.median(r["selfs"]))}
            for name, r in out.items()
        }

    # ---- Spark accounting ------------------------------------------------

    def _total_jobs(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().numTotalJobs())

    @contextlib.contextmanager
    def op(self, name: str):
        """One benchmark operation under its own Spark job group; also a
        span, so library spans nest under it. The caller sets the yielded
        record's ``results`` to the number of result rows."""
        group = f"perfbench-{len(self.ops)}"
        rec = {"name": name, "group": group, "results": 0,
               "jobs_before": self._total_jobs()}
        self.sc.setJobGroup(group, name)
        rec["t0"] = time.perf_counter()
        rec["wall0_ms"] = time.time() * 1000.0
        try:
            with self.span("op." + name):
                yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall1_ms"] = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs_after"] = self._total_jobs()
            self.ops.append(rec)

    def spark_summary(self) -> dict[str, dict]:
        """Per op name, means per call of: jobs, stages and tasks run,
        failed tasks, job wall, executor run and CPU time, shuffle bytes,
        input records per result row, and the driver gap (op wall minus the
        union of its jobs' intervals). ``ungrouped_jobs`` counts jobs the
        job-id delta saw but the group did not (jobs started from threads
        that did not inherit the group)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store, gw = self.sc.statusTracker(), jsc.statusStore(), self.sc._gateway
        out: dict[str, dict] = {}
        for rec in self.ops:
            acc = out.setdefault(rec["name"], dict.fromkeys(
                ("calls", "jobs", "stages", "tasks", "failed_tasks", "job_wall_s",
                 "executor_run_s", "executor_cpu_s", "shuffle_bytes",
                 "input_records", "results", "driver_gap_s", "ungrouped_jobs"), 0.0))
            acc["calls"] += 1
            acc["results"] += rec["results"]
            jids = list(tracker.getJobIdsForGroup(rec["group"]))
            acc["jobs"] += len(jids)
            acc["ungrouped_jobs"] += max(
                0, rec["jobs_after"] - rec["jobs_before"] - len(jids))
            intervals = []
            for jid in jids:
                info = tracker.getJobInfo(jid)
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    a = jd.submissionTime().get().getTime()
                    b = jd.completionTime().get().getTime()
                    acc["job_wall_s"] += (b - a) / 1000.0
                    intervals.append((max(a, rec["wall0_ms"]), min(b, rec["wall1_ms"])))
                for sid in (info.stageIds if info is not None else []):
                    seq = store.stageData(sid, False, gw.jvm.java.util.ArrayList(),
                                          False, gw.new_array(gw.jvm.double, 0))
                    for i in range(seq.size()):
                        st = seq.apply(i)
                        if str(st.status()) == "SKIPPED":
                            continue
                        acc["stages"] += 1
                        acc["tasks"] += st.numTasks()
                        acc["failed_tasks"] += st.numFailedTasks()
                        acc["executor_run_s"] += st.executorRunTime() / 1e3
                        acc["executor_cpu_s"] += st.executorCpuTime() / 1e9
                        acc["shuffle_bytes"] += st.shuffleWriteBytes()
                        acc["input_records"] += st.inputRecords()
            wall_ms = rec["wall1_ms"] - rec["wall0_ms"]
            acc["driver_gap_s"] += max(0.0, wall_ms - union_length(intervals)) / 1000.0
        for acc in out.values():
            calls, results = acc.pop("calls"), acc.pop("results")
            inputs = acc.pop("input_records")
            for key in acc:
                acc[key] /= calls
            acc["input_records_per_result"] = inputs / results if results else 0.0
            acc["calls"] = calls
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
