"""Seeded VecDB benchmark on ``local[4]``.

Run from the repository root:

    python3 perfbench/run.py --workload point-write --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py``): ``point-write`` and ``batch-scan``.
One run:

1. ``gen.py`` writes the seeded inputs and exact ground truth, in its own
   process, while the JVM starts.
2. Spark starts (``local[4]``); the workload ingests its table(s) through
   ``batch_add_df`` and builds its indexes (``index_build_s``).
3. Set-up is repeated ``SETUP_REPS`` times (``setup_s`` is the median): a
   fresh ``VecDB`` handle on the stored tables plus the first call of each
   op, which loads the table, index artifacts and metadata map.
4. The closed loop runs rounds for ``--seconds``; every op is checked
   against the ground truth, and a failed check counts as a failed op.

With ``--trace 1`` set-ups and rounds alternate between untraced and
traced (span wrappers plus Spark job-group accounting, ``tracer.py``); the
run prints the per-layer metrics and the traced-minus-untraced difference
of ``setup_s`` and of the loop's end-to-end metrics. Other lines of output are the host stamp and
every named metric with unit, median, tail percentile and sample count;
the last line is the JSON result. Spans and the full report go to
``.perfbench_work/out/``. ``--size tiny`` is the seconds-long smoke size
used by ``test_smoke.py``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = 4
SETUP_REPS = 3
TIERS = ("flat", "ivf", "pq", "ivfpq", "filtered")
SPARK_OPS = ("search", "search_first", "batch_add_df", "force_save") + TIERS
SPARK_FIELDS = ("jobs", "stages", "tasks", "job_wall_s", "executor_run_s",
                "executor_cpu_s", "shuffle_bytes", "input_records_per_result",
                "driver_gap_s")
# the end-to-end metrics every workload reports (unit, better)
END_TO_END = {
    "setup_s": "s",
    "index_build_s": "s",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "recall_at_10": "fraction",
    "driver_rss_mb": "MB",
}
LOOP_METRICS = ("query_p50_ms", "queries_per_s")


def tail(values: list[float]) -> tuple[str, float] | None:
    """The highest of p99/p95/p90/p75 with at least 10 samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", float(np.percentile(values, p))
    return None


def timing(values: list[float], unit: str) -> dict:
    out = {"value": float(np.median(values)), "unit": unit, "n": len(values)}
    t = tail(values)
    if t:
        out["tail"] = {"pct": t[0], "value": t[1]}
    return out


def host_stamp(root: str, spark, ckernel_ok: bool) -> dict:
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                                capture_output=True).stdout.strip() or None
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "lab_1806_vec_db_spark", "**", "*.py"),
                                 recursive=True)):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, root).encode() + b"\0" + f.read())
    with open("/proc/meminfo") as f:
        ram_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"commit": commit, "source_sha256": h.hexdigest()[:16],
            "local_width": CPUS, "cpu_count": os.cpu_count(),
            "ram_gb": round(ram_kb / 2**20, 1), "spark": spark.version,
            "ckernel_available": ckernel_ok}


def loop_metrics(wl, phase: str) -> dict:
    """``query_p50_ms`` and ``queries_per_s`` of the measured loop.

    batch-scan: per-query time of the median batch op (every round is a
    whole turn of the five ops, so the tiers weigh equally), and queries
    served over the time spent in batch ops. point-write: latency of the
    reads after each write's read-back, and their throughput (searches over
    the time spent in them; one closed-loop client, so one over the mean
    latency). The write path's figures are printed but not gated here:
    their run-to-run spread on a shared host exceeds any allowed bound."""
    s = wl.samples.get(phase, {})
    out = {}
    if wl.name == "batch-scan":
        nq = len(wl.queries)
        if s.get("batch_s"):
            ops = s["batch_s"]
            out["query_p50_ms"] = timing([v * 1e3 / nq for v in ops], "ms")
            out["queries_per_s"] = {"value": nq * len(ops) / sum(ops), "unit": "1/s",
                                    "n": len(ops)}
        return out
    if s.get("point_ms"):
        ms = s["point_ms"]
        out["query_p50_ms"] = timing(ms, "ms")
        out["queries_per_s"] = {"value": 1e3 * len(ms) / sum(ms), "unit": "1/s", "n": len(ms)}
    return out


def named_metrics(wl, setups: list[float], build_s: float, rss_mb: float) -> dict:
    """Every end-to-end metric the workload serves, under its own name."""
    s = wl.samples.get("plain", {})
    out = {"setup_s": timing(setups, "s"),
           "index_build_s": {"value": build_s, "unit": "s", "n": 1},
           **loop_metrics(wl, "plain")}
    if "point_ms" in s:
        pt = timing(s["point_ms"], "ms")
        out["point_p50_ms"] = pt
        if "tail" in pt:
            out["point_p99_ms"] = {"value": pt["tail"]["value"], "unit": "ms",
                                   "n": pt["n"], "pct": pt["tail"]["pct"]}
    for tier in TIERS:
        if s.get(f"batch_s.{tier}"):
            secs = s[f"batch_s.{tier}"]
            out[f"batch_qps.{tier}"] = {"value": len(wl.queries) / float(np.median(secs)),
                                        "unit": "queries/s", "n": len(secs)}
    for name, unit in (("ingest_rows_per_s", "rows/s"),
                       ("read_after_write_ms", "ms"), ("force_save_s", "s"),
                       ("cycle_s", "s")):
        if s.get(name):
            out[name.replace("_ms", "_p50_ms")] = timing(s[name], unit)
    if wl.recalls:
        means = {op: float(np.mean(v)) for op, v in wl.recalls.items()}
        out["recall_at_10"] = {"value": min(means.values()), "unit": "fraction",
                               "n": sum(len(v) for v in wl.recalls.values()),
                               "per_op": means}
    out["failed_frac"] = {"value": wl.failed / max(wl.attempted, 1), "unit": "fraction",
                          "n": wl.attempted}
    out["driver_rss_mb"] = {"value": rss_mb, "unit": "MB", "n": 1}
    return out


def per_layer_metrics(wl, rec, session_s: float,
                      setups: dict[str, list[float]]) -> dict[str, float]:
    spans = rec.span_summary()
    ops = rec.spark_summary()

    def med(name: str, scale: float = 1.0) -> float:
        return spans[name]["median_s"] * scale if name in spans else 0.0

    def total(name: str) -> float:
        return spans[name]["sum_s"] if name in spans else 0.0

    def per_call(op: str, field: str, div: float = 1.0) -> float:
        return ops[op][field] / div if op in ops else 0.0

    out = {
        "session.get_spark.s": session_s,
        "vecdb.search.ms": med("vecdb.search", 1e3),
        "vecdb.search.self_ms": (spans["vecdb.search"]["self_median_s"] * 1e3
                                 if "vecdb.search" in spans else 0.0),
        "vecdb.search.spark_jobs": per_call("search", "jobs", wl.searches_per_op),
        "hnsw.search_np.ms": med("hnsw.search_np", 1e3),
        "ckernel.search1.ms": med("ckernel.search1", 1e3),
        "hnsw.build.s": total("hnsw.build"),
        "hnsw.add_batch.s": med("hnsw.add_batch"),
        "hnsw.add_batch.rows": (float(np.median(rec.counts["hnsw.add_batch"]))
                                if rec.counts.get("hnsw.add_batch") else 0.0),
        "hnsw.save.s": med("hnsw.save"),
        "vecdb.batch_add_df.s": med("vecdb.batch_add_df"),
        "vecdb.batch_add_df.spark_jobs": per_call("batch_add_df", "jobs"),
        "vecdb.search.first_after_write.spark_jobs": per_call("search_first", "jobs"),
        "vecdb.force_save.s": med("vecdb.force_save"),
        "vecdb.compact_table.s": med("vecdb.compact_table"),
        "kmeans.fit_kmeans.s": total("kmeans.fit_kmeans"),
        "pq.train.s": total("pq.train"),
        "ivf.build.s": total("ivf.build"),
        "ivfpq.build.s": total("ivfpq.build"),
    }
    s = wl.samples.get("traced", {})
    for tier in TIERS:
        for part in ("plan_s", "collect_s"):
            v = s.get(f"{part}.{tier}")
            out[f"batch.{part}.{tier}"] = float(np.median(v)) if v else 0.0
    for field in SPARK_FIELDS:
        for op in SPARK_OPS:
            out[f"spark.{field}.{op}"] = per_call(op, field)
    out["spark.failed_tasks"] = sum(o["failed_tasks"] * o["calls"] for o in ops.values())
    out["spark.ungrouped_jobs"] = sum(o["ungrouped_jobs"] * o["calls"] for o in ops.values())
    out["trace.overhead.setup_s"] = (float(np.median(setups["traced"]))
                                     - float(np.median(setups["plain"])))
    plain, traced = loop_metrics(wl, "plain"), loop_metrics(wl, "traced")
    for m in LOOP_METRICS:
        out[f"trace.overhead.{m}"] = (traced[m]["value"] - plain[m]["value"]
                                      if m in plain and m in traced else 0.0)
    return out


def set_tracing(wl, rec, on: bool) -> None:
    """Switch the span wrappers and the workload's op accounting; a no-op
    in an untraced run."""
    if rec is None:
        return
    wl.tracing = on
    wl.phase = "traced" if on else "plain"
    if on:
        rec.install()
    else:
        rec.uninstall()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and so its Python workers)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "lab_1806_vec_db_spark")):
        print("perfbench: run from the repository root (lab_1806_vec_db_spark/ "
              "not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS  # noqa: E402 - needs the paths above

    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "data"):
        os.makedirs(os.path.join(work, d))
    for d in (out_dir, os.path.join(base, "tmp")):
        os.makedirs(d, exist_ok=True)
    # keep every file Spark, the JVM, Python and the C kernel cache write
    # inside the checkout; the kernel cache outlives the run, so the
    # kernel compiles once per checkout, as it does once per host in use
    os.environ["TMPDIR"] = os.path.join(base, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                       "-XX:-UsePerfData")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    # the generator runs in its own process, alongside the JVM start
    data = os.path.join(work, "data")
    gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"),
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--out", data, "--size", args.size])
    try:
        t0 = time.perf_counter()
        from lab_1806_vec_db_spark import get_spark
        from lab_1806_vec_db_spark.index import ckernel

        spark = get_spark("perfbench", cpus=CPUS)
        session_s = time.perf_counter() - t0
    finally:
        gen.wait(timeout=170)
    try:
        if gen.returncode != 0:
            raise RuntimeError(f"gen.py failed with exit code {gen.returncode}")
        ckernel_ok = ckernel.available()
        rec = None
        if args.trace:
            from tracer import Recorder

            rec = Recorder(spark)
            rec.install()
        wl = WORKLOADS[args.workload](spark, data, work, rec)
        phases = {"start_s": time.perf_counter() - t0}
        build_s = wl.prepare()
        phases["prepare_s"] = time.perf_counter() - t0 - sum(phases.values())
        # traced runs alternate plain and traced set-ups and rounds, so the
        # difference of the two is the tracing overhead
        setups: dict[str, list[float]] = {"plain": [], "traced": []}
        for i in range(SETUP_REPS * (2 if rec else 1)):
            set_tracing(wl, rec, i % 2 == 1)
            t = time.perf_counter()
            wl.open()
            setups[wl.phase].append(time.perf_counter() - t)
        phases["setup_s"] = time.perf_counter() - t0 - sum(phases.values())
        start = time.perf_counter()
        while time.perf_counter() - start < args.seconds:
            set_tracing(wl, rec, wl.round_no % 2 == 1)
            if not wl.round():
                break
            wl.round_no += 1
        set_tracing(wl, rec, False)
        phases["measure_s"] = time.perf_counter() - start
        wl.close()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        named = named_metrics(wl, setups["plain"], build_s, rss_mb)
        layers = per_layer_metrics(wl, rec, session_s, setups) if rec is not None else {}
        host = host_stamp(root, spark, ckernel_ok)
    finally:
        stop_spark(spark)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "size": args.size, "host": host, "attempted": wl.attempted,
              "failed": wl.failed, "phases": phases, "metrics": named,
              "per_layer": layers, "samples": wl.samples}
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    if rec is not None:
        rec.dump(os.path.join(out_dir, tag + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    print("host " + json.dumps(host))
    print("phases " + json.dumps({k: round(v, 3) for k, v in phases.items()}))
    for name, m in named.items():
        t = m.get("tail")
        extra = f", {t['pct']} {t['value']:.6g}" if t else ""
        print(f"metric {name} = {m['value']:.6g} {m['unit']} (median, n={m['n']}{extra})")
    for name, v in layers.items():
        print(f"layer {name} = {v:.6g}")
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": named[k]["value"], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": wl.failed == 0, "attempted": wl.attempted,
                      "failed": wl.failed, "metrics": metrics}))
    return 0


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, read off its name."""
    part = name.split(".")[1] if name.startswith(("spark.", "batch.")) else name.split(".")[-1]
    return {"s": "s", "ms": "ms", "self_ms": "ms", "plan_s": "s", "collect_s": "s",
            "job_wall_s": "s", "executor_run_s": "s", "executor_cpu_s": "s",
            "driver_gap_s": "s", "shuffle_bytes": "bytes", "setup_s": "s", "query_p50_ms": "ms",
            "queries_per_s": "1/s"}.get(part, "count")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("point-write", "batch-scan"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return run(ap.parse_args())


if __name__ == "__main__":
    sys.exit(main())
