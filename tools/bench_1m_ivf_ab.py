"""Quiet-host 1M/960-dim A/B for the IVF tiers (VERDICT r11 items 1+2).

Runs in a FRESH JVM that builds nothing but the IVF/IVF+PQ indexes (the
round-11 audit showed a JVM that had just built HNSW+sharded tiers
inflates Spark-job rows specifically), on the same cached v4 fixture as
BENCH_1M.json:

1. IVF+PQ distributed serve (persist_codes, f32 store) vs the
   driver-local mirror at 8p/ef200 and 32p/ef200 (+ the ef=40 points),
   asserting identical id sets — the <=1.5x gate of VERDICT item 1;
2. plain IVF with f64 in-memory vectors (the committed BENCH_1M config)
   vs the round-12 `store_vec_dtype="float32"` layout at the same
   probes — VERDICT item 2's >=1.5x-at-identical-recall gate.

Usage: python tools/bench_1m_ivf_ab.py [out.json]
"""
from __future__ import annotations

import json
import os
import sys
import time

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
os.environ.setdefault("SPARK_GRAFT_MAX_RESULT", "0")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow.parquet as pq_  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from lab_1806_vec_db_spark import get_spark  # noqa: E402

N = 1_000_000
DIM = 960
K = 10
RUNS = 3
GT_DIR = os.environ.get("BENCH_GT_DIR", "/tmp/spark_graft_gt")
FIXTURE = os.path.join(GT_DIR, f"matched_base_{N}_v4.parquet")
GIST_TEST = "/root/reference/data/gist_test.bin"


def _timed(fn, runs=RUNS):
    best = None
    rows = None
    for _ in range(runs):
        t0 = time.time()
        rows = fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    return best, rows


def _ids_by_query(rows):
    got: dict[int, set[int]] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    return got


def _recall(got, gt):
    return float(np.mean([len(got.get(i, set()) & gt[i]) / len(gt[i])
                          for i in range(len(gt))]))


def main() -> None:
    assert os.path.exists(FIXTURE), f"fixture missing: {FIXTURE} (run bench.py BENCH_MATCHED_N={N} once)"
    from bench import _exact_gt, host_calibration  # noqa: E402

    spark = get_spark("bench_1m_ivf_ab", cpus=32)
    out: dict = {"n": N, "dim": DIM, "fixture": FIXTURE, "rows": []}
    # host-speed stamps at both ends of the window, recorded as measured
    out["calibration_start"] = host_calibration()

    queries = np.fromfile(GIST_TEST, dtype=np.float32).reshape(-1, DIM).astype(np.float64)
    n_q = queries.shape[0]

    t0 = time.time()
    tbl = pq_.read_table(FIXTURE, columns=["embedding"])
    base = np.asarray(tbl.column("embedding").combine_chunks().flatten()
                      .to_numpy(zero_copy_only=False)).reshape(-1, DIM)
    del tbl
    gt = _exact_gt(base, queries, K)
    del base
    import gc
    gc.collect()
    out["gt_sec"] = round(time.time() - t0, 1)

    bdf = spark.read.parquet(FIXTURE).coalesce(32).cache()
    bdf.count()
    qpdf = pd.DataFrame({"query_id": np.arange(n_q, dtype=np.int64),
                         "embedding": list(queries)})
    qdf = spark.createDataFrame(qpdf, schema="query_id long, embedding array<double>")
    del qpdf
    qdf = qdf.coalesce(32).cache()
    qdf.count()

    # ---- IVF+PQ: distributed vs local mirror --------------------------
    from lab_1806_vec_db_spark.index import pq as pq_mod
    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

    t0 = time.time()
    ivfpq = IVFPQIndex.build(
        bdf, k_coarse=128, m=DIM // 3, n_bits=4, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=1000, dim=DIM,
        store_vec_dtype="float32",
    )
    ivfpq.persist_codes()
    out["build_ivfpq_sec"] = round(time.time() - t0, 1)

    # INTERLEAVED legs (round-13): the dist/local ratio is the gate,
    # and this host family drifts 1.4×+ within minutes — sequential
    # blocks put the drift INSIDE the ratio. Per config, alternate
    # distributed / local-mirror / fused legs (the mirror toggled via
    # _local_enabled between legs) and take best-of-RUNS per mode, so
    # both sides of every ratio sample the same minutes.
    assert ivfpq.enable_local_serve(max_bytes=12 << 30)

    fuse_max_dim = pq_mod.FUSE_MAX_DIM

    def _leg(mode, p, e):
        ivfpq._local_enabled = mode == "local"
        # dim 960 serves two-wave by the fuse rule; the fused leg lifts
        # the rule's dim bound for its own serve only
        pq_mod.FUSE_MAX_DIM = DIM if mode == "fused" else fuse_max_dim
        t0 = time.time()
        try:
            rows = ivfpq.search_batch(qdf, k=K, n_probes=p, ef=e,
                                      qvec_col="embedding").collect()
        finally:
            pq_mod.FUSE_MAX_DIM = fuse_max_dim
        return time.time() - t0, rows

    dist_ids: dict = {}
    for n_probes in (8, 32):
        for ef in (40, 200):
            modes = ("dist", "local") if ef == 40 else ("dist", "local",
                                                        "fused")
            best: dict = {}
            got: dict = {}
            for _ in range(RUNS):
                for mode in modes:
                    dt, rows = _leg(mode, n_probes, ef)
                    if mode not in best or dt < best[mode]:
                        best[mode] = dt
                        got[mode] = _ids_by_query(rows)
            dist_ids[(n_probes, ef)] = got["dist"]
            name = {"dist": "ivfpq_k128", "local": "ivfpq_k128_local",
                    "fused": "ivfpq_k128_fused"}
            for mode in modes:
                rec = {"name": name[mode], "n_probes": n_probes, "ef": ef,
                       "ms_per_query": round(best[mode] / n_q * 1000.0, 4),
                       "recall_at_10": round(_recall(got[mode], gt), 4)}
                if mode == "local":
                    rec["ids_match_distributed"] = got["local"] == got["dist"]
                if mode == "fused":
                    rec["ids_match_twopass"] = got["fused"] == got["dist"]
                out["rows"].append(rec)
                print(rec, flush=True)
    ivfpq._local = None
    ivfpq._local_enabled = False
    ivfpq.unpersist_codes()
    del ivfpq
    gc.collect()

    # ---- plain IVF: f64 in-memory vs f32 store ------------------------
    # BENCH_1M_SKIP_IVF=1 → ivfpq-only run (faster re-measure loop)
    from lab_1806_vec_db_spark.index.ivf import IVFIndex

    ivf_tags = () if os.environ.get("BENCH_1M_SKIP_IVF") == "1" else (
        ("ivf_k128", {}), ("ivf_k128_f32", {"store_vec_dtype": "float32"}))
    ivfs = {}
    for tag, kwargs in ivf_tags:
        t0 = time.time()
        ivf = IVFIndex.build(bdf, k=128, metric="l2sqr", vec_col="embedding",
                             id_col="vec_id", train_size=1000, **kwargs)
        ivf.persist_data()
        out[f"build_{tag}_sec"] = round(time.time() - t0, 1)
        ivfs[tag] = ivf
    # interleaved f64/f32 legs for the same-minutes reason as above
    for n_probes in (8, 32):
        best = {t: None for t in ivfs}
        gots: dict = {}
        for _ in range(RUNS):
            for tag, ivf in ivfs.items():
                t0 = time.time()
                rows = ivf.search_batch(qdf, k=K, n_probes=n_probes,
                                        qvec_col="embedding").collect()
                dt = time.time() - t0
                if best[tag] is None or dt < best[tag]:
                    best[tag] = dt
                    gots[tag] = _ids_by_query(rows)
        for tag in ivfs:
            out["rows"].append({"name": tag, "n_probes": n_probes,
                                "ms_per_query": round(
                                    best[tag] / n_q * 1000.0, 4),
                                "recall_at_10": round(
                                    _recall(gots[tag], gt), 4)})
            print(out["rows"][-1], flush=True)
    for ivf in ivfs.values():
        ivf.unpersist_data()
    ivfs.clear()
    gc.collect()

    # gate summaries
    def row(name, p, e=None):
        for r in out["rows"]:
            if r["name"] == name and r["n_probes"] == p and r.get("ef") == e:
                return r
    gates = {}
    for p in (8, 32):
        d, l = row("ivfpq_k128", p, 200), row("ivfpq_k128_local", p, 200)
        gates[f"dist_over_local_{p}p_ef200"] = round(
            d["ms_per_query"] / l["ms_per_query"], 3)
        fz = row("ivfpq_k128_fused", p, 200)
        if fz:
            gates[f"fused_over_local_{p}p_ef200"] = round(
                fz["ms_per_query"] / l["ms_per_query"], 3)
    for p in (8, 32):
        f64, f32 = row("ivf_k128", p), row("ivf_k128_f32", p)
        if f64 and f32:
            gates[f"ivf_f64_over_f32_{p}p"] = round(
                f64["ms_per_query"] / f32["ms_per_query"], 3)
    out["gates"] = gates
    out["calibration_end"] = host_calibration()
    print(json.dumps(gates), flush=True)
    print(json.dumps({k: out[k] for k in (
        "calibration_start", "calibration_end")}), flush=True)

    dst = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_1m_ivf_ab.json"
    with open(dst, "w") as f:
        json.dump(out, f, indent=1)
    print("wrote", dst)
    spark.stop()


if __name__ == "__main__":
    main()
