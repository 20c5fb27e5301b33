"""Benchmark harness — the Spark analogue of the reference's bench
driver (examples/bench.rs:369-455): build indexes, run the query-set
sweep per strategy, report recall@10 and ms/query.

Two sections, both in ONE printed JSON line:

1. **sf-dir suite** — flat / IVF / PQ / HNSW / point-serve over
   `$SPARK_GRAFT_SF_DIR/embeddings.parquet` (the driver's per-round
   regression surface; keys unchanged from round 2).
2. **matched-scale ANN grid** (`matched` key) — N=10,000 × dim=960
   GIST-derived vectors with the reference's own 1,000 GIST test
   queries (`/root/reference/data/gist_test.bin`), swept over the
   SAME operating points the reference publishes in
   data/t_bench_1e4.toml (BASELINE.md rows at N=10k): HNSW
   ef ∈ {120..360}, HNSW+PQ (knn_pq) ef ∈ {160,360} m=320 4-bit,
   Flat+PQ ef ∈ {100,200}, plus an IVF n_probes sweep (the reference
   ships config/bench_10000_ivf.toml with no committed rows). Each
   grid point carries the published baseline ms/q and the ratio —
   the 2×-gate comparison at the baseline's own scale.

Method notes (honest-measurement contract):
- every strategy answers the SAME query set; recall is measured
  against the exact ground truth (bin/gen_gnd.rs semantics); the
  sf-suite ground truth is persisted to Parquet and reloaded
  (candidate_pair.rs:176-191 GroundTruth save/load) so repeat runs
  skip the exact scan;
- matched-scale serving runs the driver-side threaded compiled kernel
  (`search_many_parallel`) — the same regime the reference benches
  (rayon par_iter over in-memory queries, examples/bench.rs -t);
  timing is best of BENCH_RUNS after a warm-up run;
- data caveat: only 1,000 public GIST rows ship with the reference,
  so the base is densified from them (v4 local-covariance patches —
  see _gist_matched for the method and the measured failure modes of
  the earlier generators). Synthetic-vs-real hardness can differ in
  either direction, so every grid row carries the baseline's recall
  alongside ours AND a ratio_at_matched_recall computed by
  interpolating our ms/q curve to the baseline's recall — the
  recall-honest comparison; the N=10k grid, where our recall meets or
  exceeds the baseline's at every point, is the primary
  apples-to-apples comparison;
- the IVF grid points go through the Spark `search_batch` path, so
  they carry per-job scheduling overhead the driver-side points
  don't — reported as measured;
- index build times are reported separately in build_sec, exactly as
  the reference separates build-or-load from the ef sweep.

Environment:
  SPARK_GRAFT_SF_DIR  data dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] width (default: all cores)
  BENCH_QUERIES       number of sf-suite query vectors (default 1000)
  BENCH_RUNS          timed repetitions, best-of (default 4)
  BENCH_MATCHED       0 to skip the matched-scale grid (default 1)
  BENCH_MATCHED_N     matched-scale table size (default 10000; 1000000
                      reproduces BENCH_1M.json — use
                      SPARK_GRAFT_CHUNK_CAP=1024,
                      SPARK_GRAFT_DRIVER_MEM=48g,
                      SPARK_GRAFT_MAX_RESULT=0 with it)
  BENCH_SF            0 to skip the sf-dir suite (default 1)
  BENCH_SHARDED       0 to skip the sharded-tier grid rows that run
                      when BENCH_MATCHED_N > 500k (default 1)
  BENCH_IVFPQ         0 to skip the IVF+PQ grid rows (default 1)
  BENCH_GT_DIR        ground-truth cache dir (default /tmp/spark_graft_gt)

Every run records a plain host-speed stamp (``host_calibration``) and
nothing derived from it. A suite row is compared across code versions
only by a same-host interleaved A/B, ``tools/ab_row_vs_commit.py``,
which times one row per fresh JVM through ``bench.py --ab-row``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from lab_1806_vec_db_spark.index.hnsw import HNSWIndex  # noqa: E402
from lab_1806_vec_db_spark.index.ivf import IVFIndex  # noqa: E402
from lab_1806_vec_db_spark.index.pq import PQTable, aligned_codes, build_lookup_batch  # noqa: E402
from lab_1806_vec_db_spark.operators import knn as knn_ops  # noqa: E402
from lab_1806_vec_db_spark.session import get_spark, read_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_QUERIES = int(os.environ.get("BENCH_QUERIES", "1000"))
#: minimum sf-suite ANN table size: the raw sf0.1 embeddings table is
#: 2,000 rows, where ms/query is fixed-overhead dominated and any
#: driver-host speed drift reads as a code regression; the suite
#: densifies to this size (seeded, v4 local-covariance — see
#: _densify_rows) so per-row work dominates the timings
SF_MIN_ROWS = int(os.environ.get("BENCH_SF_MIN_ROWS", "50000"))
RUNS = int(os.environ.get("BENCH_RUNS", "4"))
MATCHED = os.environ.get("BENCH_MATCHED", "1") != "0"
MATCHED_N = int(os.environ.get("BENCH_MATCHED_N", "10000"))
SF_SUITE = os.environ.get("BENCH_SF", "1") != "0"
GT_DIR = os.environ.get("BENCH_GT_DIR", "/tmp/spark_graft_gt")
GIST_BASE = "/root/reference/data/gist_1000.bin"
GIST_TEST = "/root/reference/data/gist_test.bin"
K = 10

# BASELINE.md rows per scale: (strategy, ef) -> (published ms/q, recall)
# N=10k from data/t_bench_1e4.toml, N=1M from data/t_bench.toml
_BASELINES = {
    10_000: {
        ("hnsw", 120): (0.0382, 0.9927),
        ("hnsw", 360): (0.0816, 0.9990),
        ("hnsw_pq", 160): (0.0369, 0.9930),
        ("hnsw_pq", 360): (0.0632, 0.9989),
        ("flat_pq", 100): (0.1271, 0.9915),
        ("flat_pq", 200): (0.1360, 0.9997),
    },
    1_000_000: {
        ("hnsw", 120): (0.1535, 0.8504),
        ("hnsw", 160): (0.1952, 0.8837),
        ("hnsw", 200): (0.2381, 0.9051),
        ("hnsw", 240): (0.2762, 0.9211),
        ("hnsw", 280): (0.3148, 0.9336),
        ("hnsw", 320): (0.3549, 0.9424),
        ("hnsw", 360): (0.3930, 0.9488),
        ("hnsw_pq", 180): (0.0878, 0.8584),
        ("hnsw_pq", 360): (0.1561, 0.9271),
        ("hnsw_pq", 600): (0.2502, 0.9522),
    },
}
# per-scale sweep configs: ef points the reference publishes
#: 1M includes sub-published efs so the matched-recall interpolation
#: has points below the baseline band (no clamping)
_HNSW_PQ_EFS = {10_000: (60, 100, 160, 360), 1_000_000: (60, 90, 120, 180, 360, 600)}
#: flat ADC scans the whole table per query — published only at 10k;
#: ef=40 gives the interpolation a sub-baseline-recall point
_FLAT_PQ_EFS = {10_000: (40, 100, 200)}
_IVF_PROBES = {10_000: (4, 8, 16, 32), 1_000_000: (8, 32)}

def _recall(result_rows, gt: dict[int, set[int]]) -> float:
    got: dict[int, set[int]] = {}
    for r in result_rows:
        got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
    return float(np.mean([len(got.get(q, set()) & ids) / len(ids) for q, ids in gt.items()]))


def _timed(fn, runs: int = RUNS):
    best, rows = None, None
    for _ in range(runs):
        t0 = time.time()
        rows = fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best, rows


# ---------------------------------------------------------------------------
# Section 1: sf-dir suite (driver regression surface, keys as in round 2)
# ---------------------------------------------------------------------------

def _densify_rows(spark, emb, target: int):
    """Grow the sf-suite ANN table to ``target`` rows with the SAME
    seeded v4 local-covariance scheme the matched grid uses
    (_gist_matched): synthetic rows fill each real row's ~20-dim local
    tangent patch, so distance geometry stays the table's own instead
    of collapsing to near-duplicate clusters or isotropic blur. Labels
    copy from the seed row (the filtered-ANN row keeps its ~10%
    selectivity); vec_ids continue past the real range, so the query
    set (vec_id < N_QUERIES) stays exactly the real rows. The rows are
    staged through a parquet file under GT_DIR, keyed by a digest of
    the seed rows: a DataFrame built from a local pandas frame ships
    the whole table inside its tasks."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq_

    pdf = emb.select("vec_id", "embedding", "label").toPandas()
    base = np.asarray(pdf["embedding"].to_list(), dtype=np.float64)
    labels = pdf["label"].to_numpy()
    vec_ids = pdf["vec_id"].to_numpy().astype(np.int64)
    s, dim = base.shape
    rng = np.random.default_rng(7)
    n2 = np.einsum("ij,ij->i", base, base)
    dmat = n2[:, None] + n2[None, :] - 2.0 * (base @ base.T)
    nbr = np.argsort(dmat, axis=1)[:, 1:21]
    frames = base[nbr] - base[:, None, :]  # (s, 20, dim)
    tau = 0.6
    reps_v, reps_l = [base], [labels]
    next_id = int(vec_ids.max()) + 1
    reps_i = [vec_ids]
    while sum(len(r) for r in reps_v) < target:
        i = rng.integers(0, s, size=s)
        z = rng.normal(0.0, tau / np.sqrt(20.0), size=(s, 20))
        reps_v.append(base[i] + np.einsum("sk,skd->sd", z, frames[i]))
        reps_l.append(labels[i])
        reps_i.append(np.arange(next_id, next_id + s, dtype=np.int64))
        next_id += s
    allv = np.concatenate(reps_v, axis=0)[:target]
    digest = hashlib.sha1(b"".join(
        a.tobytes() for a in (base, np.asarray(labels, dtype=np.int64), vec_ids)
    )).hexdigest()[:12]
    ppath = os.path.join(GT_DIR, f"sf_dense_{digest}_{target}_v4.parquet")
    if not os.path.exists(ppath):
        os.makedirs(GT_DIR, exist_ok=True)
        tmp = f"{ppath}.tmp{os.getpid()}"
        pq_.write_table(pa.table({
            "vec_id": pa.array(np.concatenate(reps_i)[:target], type=pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(allv.reshape(-1)), dim
            ).cast(pa.list_(pa.float64())),
            "label": pa.array(np.concatenate(reps_l)[:target], type=pa.int64()),
        }), tmp)
        os.replace(tmp, ppath)
    return spark.read.parquet(ppath).repartition(32)


#: index builds each suite row depends on — drives ``only_row`` mode
#: (the interleaved regression A/B re-times ONE row per leg, building
#: nothing else)
_ROW_DEPS = {
    "flat_batch": set(),
    "ivf_probe50pct": {"ivf"},
    "pq_ef80": {"pq"},
    "ivfpq_probe50pct": {"ivfpq"},
    "hnsw_ef120": {"hnsw"},
    "hnsw_pq_ef120": {"hnsw", "pq"},
    "hnsw_filtered_ef360": {"hnsw"},
    "hnsw_point_serve": {"hnsw"},
}


def run_sf_suite(spark, only_row: str | None = None) -> dict:
    """The full suite, or (``only_row``) ONE row timed in isolation:
    only that row's index builds run, no ground truth / recall — the
    leg unit of the interleaved regression A/B
    (``tools/ab_row_vs_commit.py``), which times the SAME row across
    code versions in a fresh JVM each."""
    if only_row is not None and only_row not in _ROW_DEPS:
        raise ValueError(f"unknown suite row: {only_row!r} (rows: {sorted(_ROW_DEPS)})")
    deps = (
        {"ivf", "pq", "ivfpq", "hnsw"} if only_row is None else _ROW_DEPS[only_row]
    )

    def want(row: str) -> bool:
        return only_row is None or only_row == row

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    emb = read_table(spark, SF_DIR, "embeddings").cache()
    n_real = emb.count()  # materialize the cache (warm-up action)
    if n_real < SF_MIN_ROWS:
        dens = _densify_rows(spark, emb, SF_MIN_ROWS).cache()
        dens.count()
        emb.unpersist()
        emb = dens
    n_rows = emb.count()
    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .cache()
    )
    n_q = queries.count()

    timings: dict[str, float] = {}
    recalls: dict[str, float] = {}
    build_sec: dict[str, float] = {}

    # ---- exact flat scan (the flat baseline) + persisted ground truth ----
    def run_flat():
        return knn_ops.knn_batch(
            emb, queries, k=K, metric="l2sqr", vec_col="embedding",
            id_col="vec_id", qid_col="query_id", qvec_col="embedding",
        ).collect()

    if want("flat_batch"):
        timings["flat_batch"], flat_rows = _timed(run_flat)
    gt: dict[int, set[int]] = {}
    if only_row is None:
        gt_path = os.path.join(
            GT_DIR,
            f"{os.path.basename(SF_DIR.rstrip('/'))}_n{n_rows}_q{N_QUERIES}_k{K}",
        )
        gt_df = knn_ops.load_ground_truth(spark, gt_path)
        if gt_df is None:
            gt_df = knn_ops.ground_truth(
                emb, queries, k=K, metric="l2sqr", vec_col="embedding",
                id_col="vec_id", qid_col="query_id", qvec_col="embedding",
            )
            knn_ops.save_ground_truth(gt_df, gt_path)
            gt_df = knn_ops.load_ground_truth(spark, gt_path)
        gt = {
            int(r["query_id"]): set(map(int, r["knn_indices"]))
            for r in gt_df.collect()
        }
        recalls["flat_batch"] = _recall(flat_rows, gt)

    # ---- IVF -------------------------------------------------------------
    # sqrt(N)-ish cluster count, probe ~25% — the recall/pruning balance
    # the reference's IVF test regime targets (ivf_index.rs:166-235)
    ivf_k = max(8, int(np.sqrt(n_rows)))
    n_probes = max(2, ivf_k // 2)
    if "ivf" in deps:
        t0 = time.time()
        ivf = IVFIndex.build(emb, k=ivf_k, metric="l2sqr", vec_col="embedding",
                             id_col="vec_id", train_size=10_000)
        if hasattr(ivf, "persist_data"):
            # round-13 API: absent when this harness is copied into the
            # prev-round worktree for an A/B leg (the leg then times the
            # prev round's own serving path, which is the point)
            ivf.persist_data()
        build_sec["ivf"] = time.time() - t0

        def run_ivf():
            return ivf.search_batch(queries, k=K, n_probes=n_probes, qvec_col="embedding").collect()

        timings["ivf_probe50pct"], rows = _timed(run_ivf)
        if only_row is None:
            recalls["ivf_probe50pct"] = _recall(rows, gt)

    # ---- PQ (4-bit, m=ceil(dim/3)) ---------------------------------------
    if "pq" in deps:
        t0 = time.time()
        pq = PQTable.train(emb, dim=64, m=22, n_bits=4, train_proportion=0.2,
                           vec_col="embedding", id_col="vec_id")
        pq.codes.count()
        build_sec["pq"] = time.time() - t0

        def run_pq():
            return pq.search_batch(queries, k=K, ef=80, metric="l2sqr",
                                   qvec_col="embedding").collect()

        if want("pq_ef80"):
            timings["pq_ef80"], rows = _timed(run_pq)
            if only_row is None:
                recalls["pq_ef80"] = _recall(rows, gt)

    # ---- IVF+PQ (index/ivfpq.py — both pruning axes) ---------------------
    if "ivfpq" in deps:
        from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

        t0 = time.time()
        ivfpq = IVFPQIndex.build(emb, k_coarse=ivf_k, m=22, n_bits=4,
                                 metric="l2sqr", vec_col="embedding",
                                 id_col="vec_id", train_size=10_000, dim=64)
        ivfpq.persist_codes()  # executor-side pin (index API, round 11)
        build_sec["ivfpq"] = time.time() - t0

        def run_ivfpq():
            return ivfpq.search_batch(queries, k=K, n_probes=n_probes, ef=80,
                                      qvec_col="embedding").collect()

        timings["ivfpq_probe50pct"], rows = _timed(run_ivfpq)
        if only_row is None:
            recalls["ivfpq_probe50pct"] = _recall(rows, gt)

    # ---- HNSW ------------------------------------------------------------
    if "hnsw" in deps:
        t0 = time.time()
        hnsw = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                               id_col="vec_id", m=16, ef_construction=200)
        build_sec["hnsw"] = time.time() - t0

    def run_hnsw():
        return hnsw.search_batch(queries, k=K, ef=120, qvec_col="embedding").collect()

    if want("hnsw_ef120"):
        timings["hnsw_ef120"], rows = _timed(run_hnsw)
        if only_row is None:
            recalls["hnsw_ef120"] = _recall(rows, gt)

    # ---- HNSW+PQ combined (knn_pq: ADC-steered traversal + exact
    # re-rank, hnsw_index.rs:672-696) — the reference's fastest config --
    if want("hnsw_pq_ef120"):
        def run_hnsw_pq():
            return hnsw.search_batch(queries, k=K, ef=120, qvec_col="embedding",
                                     pq=pq).collect()

        timings["hnsw_pq_ef120"], rows = _timed(run_hnsw_pq)
        if only_row is None:
            recalls["hnsw_pq_ef120"] = _recall(rows, gt)

    # ---- filtered ANN (oversample-and-filter over the live graph;
    # label predicate keeps ~10% of rows — the selective regime where
    # the pool join and the exact-fallback detection both do work) ----
    filt = emb.filter(F.col("label") == 1)
    gt_f: dict[int, set[int]] = {}
    if only_row is None:
        for r in knn_ops.knn_batch(
            filt, queries, k=K, metric="l2sqr", vec_col="embedding",
            id_col="vec_id", qid_col="query_id", qvec_col="embedding",
        ).collect():
            gt_f.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))

    def run_hnsw_filtered():
        # ef=360 ≈ 1.5× k/selectivity with a 1.2 thin-intersection
        # escalation margin — the round-10 verdict's operating point:
        # the wider pool keeps recall ≥0.97 AND shrinks the exact-
        # fallback pass enough that the row is net FASTER than the old
        # ef=240/strict-starvation config (measured both at sf0.1).
        # Key renamed ef240→ef360 so the cross-round normalized gate
        # re-baselines instead of comparing different configs.
        return hnsw.search_batch_filtered(
            queries, k=K, filtered_base=filt, ef=360,
            qvec_col="embedding", vec_col="embedding",
            fallback_margin=1.2,
        ).collect()

    if want("hnsw_filtered_ef360"):
        timings["hnsw_filtered_ef360"], rows = _timed(run_hnsw_filtered)
        if only_row is None:
            recalls["hnsw_filtered_ef360"] = _recall(rows, gt_f)

    # ---- HNSW point-serve (zero Spark jobs — the reference's own
    # latency regime: sequential in-memory queries, bench.rs:423-426) --
    if want("hnsw_point_serve"):
        qrows = queries.orderBy("query_id").collect()
        qmat = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
        qids = [int(r["query_id"]) for r in qrows]
        n_point = min(len(qids), 300)

        def run_point():
            out = []
            for i in range(n_point):
                ids, _ = hnsw.search_np(qmat[i], K, 120)
                out.append((qids[i], ids))
            return out

        best, out = _timed(run_point)
        timings["hnsw_point_serve"] = best * (n_q / n_point)  # normalized to suite size
        if only_row is None:
            recalls["hnsw_point_serve"] = float(
                np.mean([len(set(map(int, ids)) & gt[q]) / len(gt[q]) for q, ids in out])
            )

    if only_row is not None:
        return {
            "row": only_row,
            "best_sec": round(float(timings[only_row]), 4),
            "runs": RUNS,
            "n_rows": int(n_rows),
            "n_queries": int(n_q),
            "build_sec": {k_: round(v, 3) for k_, v in build_sec.items()},
        }

    total = float(sum(timings.values()))
    return {
        "metric": "ann_suite_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": {k_: round(v, 3) for k_, v in timings.items()},
        "sf": sf,
        "n_rows": int(n_rows),
        "n_rows_real": int(n_real),
        "n_queries": int(n_q),
        "k": K,
        "ms_per_query": {k_: round(v / max(n_q, 1) * 1000.0, 4) for k_, v in timings.items()},
        "recall_at_10": {k_: round(v, 4) for k_, v in recalls.items()},
        "build_sec": {k_: round(v, 3) for k_, v in build_sec.items()},
        "pipeline": run_pipeline_suite(spark),
        "relational": run_relational_suite(spark),
    }


def run_pipeline_suite(spark) -> dict:
    """Absolute wall-clock (sec, best-of-RUNS) for the LLM-pipeline
    operators over the documents table at SF_DIR — no reference
    baseline exists for these, so they are reported as timings + output
    cardinality, not ratios."""
    from lab_1806_vec_db_spark.operators.corpus import (
        clean_corpus, decontaminate, mix_sample, pack_sequences,
    )
    from lab_1806_vec_db_spark.operators.dedup import minhash_dedup_pairs

    docs = read_table(spark, SF_DIR, "documents").cache()
    n_docs = docs.count()
    out: dict[str, dict[str, float]] = {}

    def bench_op(name, fn):
        t, rows = _timed(lambda: fn().collect())
        out[name] = {"sec": round(t, 3), "rows": len(rows)}

    bench_op("corpus_clean", lambda: clean_corpus(docs))
    bench_op("decontaminate_3gram",
             lambda: decontaminate(docs, F.col("source") == "src0", n=3))
    bench_op("pack_sequences_2048",
             lambda: pack_sequences(docs, budget=2048))
    bench_op("mix_sample", lambda: mix_sample(docs, {"src0": 75}, default_pct=30))
    bench_op("minhash_lsh_dedup",
             lambda: minhash_dedup_pairs(docs, threshold=0.7, num_hashes=16, bands=8))
    from lab_1806_vec_db_spark.operators.corpus import chunk_documents, repetition_stats

    bench_op("chunk_64_16", lambda: chunk_documents(docs, 64, 16))
    bench_op("repetition_3gram", lambda: repetition_stats(docs, n=3))

    from lab_1806_vec_db_spark.functions import pii
    from lab_1806_vec_db_spark.operators.corpus import line_dedup

    # map-only scrub over every document (counts + full redaction)
    bench_op("pii_scrub", lambda: docs.select(
        "doc_id", *pii.pii_counts("text"),
        F.md5(pii.pii_redact("text")).alias("sig")))
    # corpus-wide boilerplate removal over word-level "lines"
    bench_op("line_dedup", lambda: line_dedup(
        docs.selectExpr("doc_id", "regexp_replace(text, ' ', '\n') AS text"),
        max_df=int(n_docs * 0.2)))
    docs.unpersist()
    out["n_docs"] = n_docs
    return out


def run_relational_suite(spark) -> dict:
    """Absolute wall-clock (sec, best-of-RUNS) for the relational /
    temporal analytics suite (TPC-H-shaped joins, BM25, as-of join,
    rollup) at SF_DIR — timings + output cardinality; the reference
    has no comparable surface."""
    from lab_1806_vec_db_spark.plans import relational_queries as RQ
    from lab_1806_vec_db_spark.plans.pipeline_queries import text_bm25_topk

    out: dict[str, dict[str, float]] = {}

    def bench_op(name, fn):
        t, rows = _timed(lambda: fn().collect())
        out[name] = {"sec": round(t, 3), "rows": len(rows)}

    bench_op("tpch_q1_pricing", lambda: RQ.tpch_pricing_summary(spark, SF_DIR))
    bench_op("tpch_q3_topk", lambda: RQ.tpch_shipping_priority(spark, SF_DIR))
    bench_op("tpch_q5_regional", lambda: RQ.tpch_regional_volume(spark, SF_DIR))
    bench_op("tpch_q6_revenue_change", lambda: RQ.tpch_revenue_change(spark, SF_DIR))
    bench_op("tpch_q10_returned_items", lambda: RQ.tpch_returned_items(spark, SF_DIR))
    bench_op("bm25_topk", lambda: text_bm25_topk(spark, SF_DIR))
    bench_op("asof_attribution",
             lambda: RQ.events_asof_attribution(spark, SF_DIR))
    bench_op("events_rollup", lambda: RQ.events_rollup(spark, SF_DIR))

    def bm25_indexed():
        import shutil
        import tempfile

        from lab_1806_vec_db_spark.operators.search import TextIndex
        from lab_1806_vec_db_spark.plans.pipeline_queries import _BM25_TERMS

        tmp = tempfile.mkdtemp(prefix="sg_bench_ti_")
        try:
            TextIndex.build(read_table(spark, SF_DIR, "documents"), tmp,
                            n_buckets=16)
            idx = TextIndex.load(tmp)
            t, rows = _timed(
                lambda: idx.search(spark, _BM25_TERMS, k=20).collect()
            )
            out["bm25_indexed_serve"] = {"sec": round(t, 3), "rows": len(rows)}
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    bm25_indexed()
    return out


# ---------------------------------------------------------------------------
# Section 2: matched-scale grid (N=10k, dim=960 — the baseline's own regime)
# ---------------------------------------------------------------------------

#: copy-on-write state for the Flat+PQ fork workers (set pre-fork)
_FLAT_PQ_STATE: dict = {}


def _flat_pq_slice(args):
    """One worker's query slice: per query, one flat gather over the
    precomputed (n × m) int32 code-address table + one row-sum gives
    every ADC score (pq_table.rs:239-301), then top-ef cut and exact
    re-rank to top-k (candidate_pair.rs pq_resort semantics). The
    address table is query-independent and COW-shared; a per-group
    python loop here measured ~10× slower."""
    s, e, ef = args
    st = _FLAT_PQ_STATE
    base, queries, addr, lut = st["base"], st["queries"], st["addr"], st["lut"]
    k = st["k"]
    out = np.empty((e - s, k), dtype=np.int64)
    for qi in range(s, e):
        lq = np.ascontiguousarray(lut[qi]).reshape(-1)
        scores = np.take(lq, addr).sum(axis=1)
        cand = np.argpartition(scores, ef)[:ef]
        d = ((base[cand] - queries[qi]) ** 2).sum(1)
        out[qi - s] = cand[np.argpartition(d, k - 1)[:k]]
    return out

def _gist_matched(n_target: int = MATCHED_N) -> tuple[np.ndarray, np.ndarray]:
    """N × 960 GIST-derived base + the reference's 1,000 test queries.

    Only a 1,000-vector GIST sample ships with the reference
    (data/gist_1000.bin), so the base is densified to N by convex
    interpolation between random sample pairs plus small gaussian noise
    (σ = 5% of the data std) — GIST covariance geometry at the
    published N with a smooth distance distribution. (A tiled-copy
    scheme was tried first and is pathological: thousands-deep
    near-duplicate clusters collapse HNSW's diversity heuristic to
    degree ~2 — a regime real GIST never exhibits.) Queries are the
    actual bench query file (data/gist_test.bin)."""
    base1k = np.fromfile(GIST_BASE, dtype=np.float32).reshape(-1, 960).astype(np.float64)
    s = base1k.shape[0]
    rng = np.random.default_rng(7)
    tiles = max(1, n_target // s)
    # v4 local-covariance densification: new points = seed + A_i z with
    # A_i the (960 × 20) frame of directions from seed i to its 20
    # nearest sample rows and z ~ N(0, (τ/√20)² I). Points fill each
    # seed's ~20-dim local tangent patch instead of (v3) 1-D segments
    # between neighbor pairs — at N=1M the v3 filaments collected ~50
    # samples per edge, a near-tie density no real image-descriptor set
    # has, which capped graph recall@10 at 0.47-0.77 while real-GIST
    # baselines sit at 0.85-0.95 (measured in round 5: at N=100k the
    # same graph scores 0.885 on v3, 0.99 on v4, 0.24-0.44 on isotropic
    # gaussian mixtures — full-dim noise blurs to uniform, the opposite
    # failure). τ=0.6 keeps samples inside the local neighborhood
    # radius; geometry (covariance, manifold dim) stays GIST's own.
    n2 = np.einsum("ij,ij->i", base1k, base1k)
    dmat = n2[:, None] + n2[None, :] - 2.0 * (base1k @ base1k.T)
    nbr = np.argsort(dmat, axis=1)[:, 1:21]  # 20-NN per sample row
    frames = base1k[nbr] - base1k[:, None, :]  # (s, 20, 960)
    tau = 0.6
    reps = [base1k]
    for _ in range(tiles - 1):
        i = rng.integers(0, s, size=s)
        z = rng.normal(0.0, tau / np.sqrt(20.0), size=(s, 20))
        reps.append(base1k[i] + np.einsum("sk,skd->sd", z, frames[i]))
    base = np.concatenate(reps, axis=0)
    queries = np.fromfile(GIST_TEST, dtype=np.float32).reshape(-1, 960).astype(np.float64)
    return base, queries


def _exact_gt(base: np.ndarray, queries: np.ndarray, k: int) -> list[set[int]]:
    """Exact top-k ground truth (bin/gen_gnd.rs semantics), blocked over
    queries and threaded — the GEMM releases the GIL, so this scales to
    the N=1M regime (a single (Q × N) f64 distance matrix would not)."""
    from concurrent.futures import ThreadPoolExecutor

    comp = np.float64 if base.shape[0] * queries.shape[0] <= 2e7 else np.float32
    bq = np.ascontiguousarray(base, dtype=comp)
    qq = np.ascontiguousarray(queries, dtype=comp)
    bn = np.einsum("ij,ij->i", bq, bq)
    blocks = [np.arange(s, min(s + 32, len(qq)))
              for s in range(0, len(qq), 32)]

    def run(idx):
        # query self-dot omitted: constant per row, argpartition-invariant
        d = bn[None, :] - 2.0 * (qq[idx] @ bq.T)
        top = np.argpartition(d, k, axis=1)[:, :k]
        return [set(map(int, row)) for row in top]

    out: list[set[int]] = []
    with ThreadPoolExecutor(max_workers=min(32, os.cpu_count() or 1)) as tp:
        for part in tp.map(run, blocks):
            out.extend(part)
    return out


def _grid_recall(ids: np.ndarray, gt: list[set[int]]) -> float:
    return float(np.mean([
        len(set(map(int, ids[i])) & gt[i]) / len(gt[i]) for i in range(len(gt))
    ]))


def matched_or_skipped(spark) -> dict:
    """``run_matched``, or ``{"skipped": ...}`` naming the first missing
    GIST input, so a host without the GIST sample still writes
    BENCH_FULL.json."""
    for path in (GIST_BASE, GIST_TEST):
        if not os.path.exists(path):
            return {"skipped": f"missing {path}"}
    return run_matched(spark)


def run_matched(spark) -> dict:
    # host-speed stamps at both ends of the grid, recorded as measured
    cal_start = host_calibration()
    base, queries = _gist_matched()
    n, dim = base.shape
    n_q = queries.shape[0]
    gt = _exact_gt(base, queries, K)
    build_sec: dict[str, float] = {}
    grid: list[dict] = []

    baselines = _BASELINES.get(n, {})

    def point(name: str, ef: int, best_sec: float, rec: float, **extra):
        ms_q = best_sec / n_q * 1000.0
        baseline = baselines.get((name, ef))
        row = {"name": name, "ef": ef,
               "ms_per_query": round(ms_q, 4), "recall_at_10": round(rec, 4)}
        if baseline:
            row["baseline_ms_per_query"] = baseline[0]
            row["baseline_recall_at_10"] = baseline[1]
            row["ratio_vs_baseline"] = round(ms_q / baseline[0], 2)
        row.update(extra)
        grid.append(row)

    # base table as a DataFrame: the indexes are built through the same
    # public API the sf-suite uses (build collects + trains distributedly).
    import pandas as _pd

    if n <= 200_000:
        # Arrow path: a pandas frame of ndarray rows ships zero boxed
        # floats and leaves the driver heap fork-friendly
        bpdf = _pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                              "embedding": list(base)})
        bdf = spark.createDataFrame(bpdf, schema="vec_id long, embedding array<double>")
        del bpdf
    else:
        # local-mode createDataFrame serializes the whole dataset into
        # the job binary (OOMs the driver JVM at N=1M); stage through a
        # cached parquet file instead — also how a real deployment
        # would ingest a multi-GB table
        import pyarrow as pa
        import pyarrow.parquet as pq_

        # v4: local-covariance densification (cache key tracks the
        # generator version — see _gist_matched)
        ppath = os.path.join(GT_DIR, f"matched_base_{n}_v4.parquet")
        if not os.path.exists(ppath):
            os.makedirs(GT_DIR, exist_ok=True)
            tmp = ppath + ".tmp"
            writer = None
            step = 50_000
            for s in range(0, n, step):
                blk = base[s:s + step]
                tbl = pa.table({
                    "vec_id": pa.array(np.arange(s, s + blk.shape[0]), type=pa.int64()),
                    "embedding": pa.FixedSizeListArray.from_arrays(
                        pa.array(blk.reshape(-1)), blk.shape[1]
                    ).cast(pa.list_(pa.float64())),
                })
                if writer is None:
                    writer = pq_.ParquetWriter(tmp, tbl.schema)
                writer.write_table(tbl)
            writer.close()
            os.replace(tmp, ppath)
        bdf = spark.read.parquet(ppath)
    bdf = bdf.coalesce(32).cache()
    bdf.count()

    # ---- HNSW: M=16, ef_construction=200 (config/bench_hnsw.toml);
    # f32 vectors — the reference's own serving precision (vec_set.rs
    # stores f32), half the memory traffic of the oracle-stable f64 ----
    t0 = time.time()
    hnsw = HNSWIndex.build(bdf, metric="l2sqr", vec_col="embedding",
                           id_col="vec_id", m=16, ef_construction=200,
                           dtype=np.float32)
    build_sec["hnsw"] = round(time.time() - t0, 1)

    hnsw.search_many_parallel(queries[:128], K, 120, workers=32)  # warm-up
    # the sweep extends BELOW the published efs so the matched-recall
    # interpolation has points under the baseline's lowest recall
    # (not just above it — otherwise the interpolation clamps to our
    # slowest-at-higher-recall point and overstates the ratio)
    for ef in (40, 60, 90, 120, 160, 200, 240, 280, 320, 360):
        bw = 4 if ef < 280 else 6  # measured sweet spots (bw=8 over-expands)
        best, (ids, _) = _timed(lambda ef=ef, bw=bw: hnsw.search_many_parallel(
            queries, K, ef, workers=32, beam_width=bw))
        point("hnsw", ef, best, _grid_recall(ids, gt))

    # ---- filtered ANN at matched scale (BENCH_FILTERED=0 to skip):
    # oversample-and-filter at 3 predicate selectivities, recall vs the
    # exact FILTERED ground truth, with the exact-fallback rate (starved
    # queries answered by the flat filtered scan) — the oversample-width
    # claim measured, not argued. The pool comes from the threaded
    # driver graph kernel (search_many_parallel) as driver columns and
    # feeds the shared finisher (filtered_topk_from_pool: predicate
    # pushed into the scan, survivors picked by id) — the same
    # decomposition the serving path (HNSWIndex.search_batch_filtered)
    # uses.
    if os.environ.get("BENCH_FILTERED", "1") == "1":
        from lab_1806_vec_db_spark.operators.knn import (
            collect_query_block,
            filtered_topk_from_pool,
        )

        qblock = collect_query_block(queries, "query_id", "embedding")
        sel_efs = {50.0: (240,), 5.0: (240, 800), 0.5: (240, 4000)}
        for sel_pct, thr in ((50.0, 500), (5.0, 50), (0.5, 5)):
            fbase = bdf.filter((F.col("vec_id") % 1000) < thr)
            mask = (np.arange(n) % 1000) < thr
            idxs = np.nonzero(mask)[0]
            gt_f = [set(int(idxs[j]) for j in s)
                    for s in _exact_gt(base[mask], queries, K)]

            def run_filtered(ef_f: int, fallback: bool, fbase=fbase):
                pool_k = max(int(ef_f), 4 * K)
                ids, dists = hnsw.search_many_parallel(
                    queries, pool_k, ef_f, workers=32)
                rows_q, rows_c = np.nonzero(ids >= 0)
                pool = (rows_q, ids[rows_q, rows_c], dists[rows_q, rows_c])
                return filtered_topk_from_pool(
                    pool, qblock, K, fbase, "vec_id", "l2sqr", "embedding",
                    exact_fallback=fallback,
                ).collect()

            for ef_f in sel_efs[sel_pct]:
                best, rows = _timed(
                    lambda ef_f=ef_f: run_filtered(ef_f, True),
                    runs=max(1, RUNS - 1),
                )
                got_f: dict[int, set[int]] = {}
                for r in rows:
                    got_f.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
                rec = float(np.mean([
                    len(got_f.get(i, set()) & gt_f[i]) / len(gt_f[i])
                    for i in range(n_q)
                ]))
                # starvation rate: pool-only pass — queries whose pool ∩
                # filter can't fill k are the ones the exact scan answered
                cnt: dict[int, int] = {}
                for r in run_filtered(ef_f, False):
                    q_ = int(r["query_id"])
                    cnt[q_] = cnt.get(q_, 0) + 1
                fb = sum(1 for i in range(n_q) if cnt.get(i, 0) < K) / n_q
                grid.append({
                    "name": "hnsw_filtered_batch",
                    "selectivity_pct": sel_pct, "ef": ef_f,
                    "ms_per_query": round(best / n_q * 1000.0, 4),
                    "recall_at_10": round(rec, 4),
                    "exact_fallback_rate": round(fb, 4),
                })

    # ---- PQ m=320 4-bit (config/bench_pq_hnsw.toml:18-24) ----------------
    t0 = time.time()
    # k_means_size=10000 training sample (config/bench_pq_hnsw.toml:22)
    pq = PQTable.train(bdf, dim=dim, m=320, n_bits=4,
                       train_proportion=min(1.0, 10_000 / n),
                       vec_col="embedding", id_col="vec_id")
    pq.codes.count()
    build_sec["pq_m320"] = round(time.time() - t0, 1)

    # ---- HNSW+PQ combined knn_pq (hnsw_index.rs:672-696) -----------------
    # the engine's own dispatch rule decides whether ADC steering pays
    # at this N (hnsw._auto_steer_pq: cache-resident tables serve the
    # exact kernel — round 12); the row records which plan actually ran
    steered = hnsw._auto_steer_pq(pq, None) is not None
    hnsw.search_many_parallel(queries[:128], K, 160, pq=pq, workers=32)  # warm-up
    for ef in _HNSW_PQ_EFS.get(n, (160, 360)):
        bw = 4 if ef < 280 else 6
        best, (ids, _) = _timed(lambda ef=ef, bw=bw: hnsw.search_many_parallel(
            queries, K, ef, pq=pq, workers=32, beam_width=bw))
        point("hnsw_pq", ef, best, _grid_recall(ids, gt), steered=steered)
    hnsw.close_pool()

    # ---- Flat+PQ: full ADC scan, top-ef, exact re-rank (the reference's
    # Flat+PQ rows; published at 10k only — the scan is O(N) per query)
    flat_efs = _FLAT_PQ_EFS.get(n, ())
    if flat_efs:
        codes = aligned_codes(pq, np.arange(n, dtype=np.int64))
        lut_all, _, _ = build_lookup_batch(queries, pq.codebooks, pq.groups,
                                           pq.n_bits, "l2sqr", dtype=np.float32)
        ksub = 1 << pq.n_bits
        addr = codes.astype(np.int32) + (np.arange(pq.m, dtype=np.int32) * ksub)[None, :]
        _FLAT_PQ_STATE.update(
            base=base.astype(np.float32), queries=queries.astype(np.float32),
            addr=np.ascontiguousarray(addr),
            lut=lut_all, k=K,
        )

        from lab_1806_vec_db_spark.index import ckernel

        st = _FLAT_PQ_STATE
        cx2 = np.einsum("ij,ij->i", st["base"], st["base"])
        clut = lut_all.reshape(n_q, pq.m, 1 << pq.n_bits)

        def run_flat_pq(ef: int):
            w = min(32, os.cpu_count() or 1)
            bounds = np.linspace(0, n_q, 4 * w + 1).astype(int)
            spans = [(int(s), int(e)) for s, e in zip(bounds[:-1], bounds[1:]) if e > s]
            if ckernel.available():
                # compiled scan releases the GIL — plain threads, no forks
                from concurrent.futures import ThreadPoolExecutor

                def span(se):
                    s, e = se
                    ids, _ = ckernel.pq_flat(
                        st["base"], cx2, codes, clut[s:e],
                        st["queries"][s:e], K, ef)
                    return ids
                with ThreadPoolExecutor(max_workers=w) as tp:
                    return np.concatenate(list(tp.map(span, spans)), axis=0)
            import multiprocessing as mp

            from lab_1806_vec_db_spark.index.pq import _cow_friendly_fork

            jobs = [(s, e, ef) for s, e in spans]
            with _cow_friendly_fork():
                pool = mp.get_context("fork").Pool(w)
            try:
                parts = pool.map(_flat_pq_slice, jobs, chunksize=1)
            finally:
                pool.terminate()
            return np.concatenate(parts, axis=0)

        for ef in flat_efs:
            best, ids = _timed(lambda ef=ef: run_flat_pq(ef), runs=max(1, RUNS - 1))
            point("flat_pq", ef, best, _grid_recall(ids, gt))
        _FLAT_PQ_STATE.clear()

    # ---- IVF k=128 (config/bench_10000_ivf.toml — no committed reference
    # rows; published here as the partition-pruning curve) ---------------
    qpdf = _pd.DataFrame({"query_id": np.arange(n_q, dtype=np.int64),
                          "embedding": list(queries)})
    qdf = spark.createDataFrame(qpdf, schema="query_id long, embedding array<double>")
    del qpdf
    qdf = qdf.coalesce(32).cache()
    qdf.count()
    t0 = time.time()
    ivf = IVFIndex.build(bdf, k=128, metric="l2sqr", vec_col="embedding",
                         id_col="vec_id", train_size=1000)
    if hasattr(ivf, "persist_data"):  # round-13 API; see run_sf_suite note
        ivf.persist_data()
    build_sec["ivf_k128"] = round(time.time() - t0, 1)
    for n_probes in _IVF_PROBES.get(n, (4, 8, 16, 32)):
        def run_ivf_point(n_probes=n_probes):
            return ivf.search_batch(qdf, k=K, n_probes=n_probes,
                                    qvec_col="embedding").collect()
        best, rows = _timed(run_ivf_point, runs=max(1, RUNS - 1))
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
        rec = float(np.mean([len(got.get(i, set()) & gt[i]) / len(gt[i])
                             for i in range(n_q)]))
        grid.append({"name": "ivf_k128", "n_probes": n_probes,
                     "ms_per_query": round(best / n_q * 1000.0, 4),
                     "recall_at_10": round(rec, 4)})

    # ---- IVF+PQ (index/ivfpq.py — the 100 TB serving combo): coarse
    # probe prunes partitions, 4-bit ADC prunes bytes, exact re-rank.
    # Same measurement basis as the IVF rows (full Spark jobs), so the
    # delta vs ivf_k128 at equal probes is pure scan-byte savings.
    if os.environ.get("BENCH_IVFPQ", "1") == "1":
        from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex

        t0 = time.time()
        ivfpq = IVFPQIndex.build(
            bdf, k_coarse=128, m=dim // 3, n_bits=4, metric="l2sqr",
            vec_col="embedding", id_col="vec_id", train_size=1000, dim=dim,
            # f32 travelling vectors — the same serving precision the
            # matched-scale HNSW tier (dtype=np.float32 above) and the
            # reference itself (vec_set.rs) use; halves the vector
            # bytes the fused re-rank ships through Arrow per batch
            store_vec_dtype="float32",
        )
        ivfpq.persist_codes()  # executor-side pin (index API, round 11)
        build_sec["ivfpq_k128"] = round(time.time() - t0, 1)
        # two ef points per probe count: ef sizes the ADC→re-rank pool —
        # 4-bit codes at dim/m=3 cap recall ~0.85 with ef=40 at 1M
        # (quantization error, not probe coverage); ef=20·k recovers
        # ≥0.98 for ~2× the re-rank cost. Both are honest operating
        # points; report both.
        for n_probes in _IVF_PROBES.get(n, (4, 8, 16, 32)):
            for ef_pq in (max(4 * K, 40), max(20 * K, 200)):
                def run_ivfpq_point(n_probes=n_probes, ef_pq=ef_pq):
                    return ivfpq.search_batch(qdf, k=K, n_probes=n_probes,
                                              ef=ef_pq,
                                              qvec_col="embedding").collect()
                best, rows = _timed(run_ivfpq_point, runs=max(1, RUNS - 1))
                got_pq: dict[int, set[int]] = {}
                for r in rows:
                    got_pq.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
                rec = float(np.mean([len(got_pq.get(i, set()) & gt[i]) / len(gt[i])
                                     for i in range(n_q)]))
                grid.append({"name": "ivfpq_k128", "n_probes": n_probes,
                             "ef": ef_pq,
                             "ms_per_query": round(best / n_q * 1000.0, 4),
                             "recall_at_10": round(rec, 4)})
        # ---- driver-local IVF+PQ serve (enable_local_serve): identical
        # results (same probes/gates/re-rank, asserted vs the rows
        # above), but zero Spark jobs — codes + f32 vectors mirrored
        # driver-side, (cluster × queries) tiles through the compiled
        # GIL-releasing ADC kernel on a thread pool. This is the
        # point-query answer to the distributed tier's per-job floor.
        if ivfpq.enable_local_serve(max_bytes=12 << 30):
            for n_probes in _IVF_PROBES.get(n, (4, 8, 16, 32)):
                for ef_pq in (max(4 * K, 40), max(20 * K, 200)):
                    def run_ivfpq_local(n_probes=n_probes, ef_pq=ef_pq):
                        return ivfpq.search_batch(
                            qdf, k=K, n_probes=n_probes, ef=ef_pq,
                            qvec_col="embedding").collect()
                    best, rows = _timed(run_ivfpq_local, runs=max(1, RUNS - 1))
                    got_l: dict[int, set[int]] = {}
                    for r in rows:
                        got_l.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
                    rec = float(np.mean([len(got_l.get(i, set()) & gt[i]) / len(gt[i])
                                         for i in range(n_q)]))
                    grid.append({"name": "ivfpq_k128_local", "n_probes": n_probes,
                                 "ef": ef_pq,
                                 "ms_per_query": round(best / n_q * 1000.0, 4),
                                 "recall_at_10": round(rec, 4)})
            ivfpq._local = None
            ivfpq._local_enabled = False
        ivfpq.unpersist_codes()

    # ---- Sharded HNSW (the >broadcast-tier layout, index/sharded.py):
    # executor-side sub-graph builds + centroid routing, measured at 1M
    # to show the distributed tier's build parallelism and probe cost.
    # Goes through full Spark jobs per sweep point (route shuffle +
    # per-shard serve + merge), so ms/q carries scheduling overhead the
    # driver-side points don't — reported as measured, like IVF.
    if n > 500_000 and os.environ.get("BENCH_SHARDED", "1") == "1":
        import shutil as _sh

        from lab_1806_vec_db_spark.index.sharded import ShardedHNSWIndex

        # the sharded tier loads sub-graphs into executor-side python
        # workers; free the driver-side numpy copy of the base (7.7 GB
        # at 1M×960 f64) first — recalls only need gt + returned ids
        del base
        import gc; gc.collect()

        spath = os.path.join(GT_DIR, f"sharded_{n}_v4")
        _sh.rmtree(spath, ignore_errors=True)
        t0 = time.time()
        sharded = ShardedHNSWIndex.build(
            bdf, spath, n_shards=8, metric="l2sqr", vec_col="embedding",
            id_col="vec_id", ef_construction=200,
            build_workers=max(1, (os.cpu_count() or 8) // 8),
        )
        build_sec["sharded_hnsw"] = round(time.time() - t0, 1)
        for ef, probes in ((120, 2), (120, 4), (360, 4)):
            def run_sharded(ef=ef, probes=probes):
                return sharded.search_batch(
                    qdf, k=K, ef=ef, n_probes=probes,
                    qvec_col="embedding", qid_col="query_id",
                ).collect()
            best, rows = _timed(run_sharded, runs=max(1, RUNS - 1))
            got2: dict[int, set[int]] = {}
            for r in rows:
                got2.setdefault(int(r["query_id"]), set()).add(int(r["vec_id"]))
            rec = float(np.mean([len(got2.get(i, set()) & gt[i]) / len(gt[i])
                                 for i in range(n_q)]))
            grid.append({"name": "sharded_hnsw", "ef": ef, "n_probes": probes,
                         "ms_per_query": round(best / n_q * 1000.0, 4),
                         "recall_at_10": round(rec, 4)})

    bdf.unpersist()
    qdf.unpersist()
    gated = [g["ratio_vs_baseline"] for g in grid if "ratio_vs_baseline" in g]

    # ---- recall-honest comparison: interpolate OUR ms/q curve to the
    # baseline's recall per published row. A matched-ef ratio where our
    # recall is 20-40 points below the baseline's (the N=1M regime) is
    # not a comparable operating point; this one is. When our sweep
    # never reaches the baseline's recall, say so (reachable=false)
    # instead of printing a flattering sub-1x ratio.
    curves: dict[str, list[tuple[float, float]]] = {}
    for g in grid:
        curves.setdefault(g["name"], []).append(
            (g["recall_at_10"], g["ms_per_query"])
        )

    def _ms_at_recall(name: str, target: float) -> float | None:
        pts = sorted(curves.get(name, []))
        if not pts or pts[-1][0] < target:
            return None
        for i, (r, m) in enumerate(pts):
            if r >= target:
                if i == 0 or pts[i - 1][0] >= r:
                    return m
                r0, m0 = pts[i - 1]
                return m0 + (target - r0) / (r - r0) * (m - m0)
        return None

    matched_recall = []
    for g in grid:
        if "baseline_ms_per_query" not in g:
            continue
        ms_i = _ms_at_recall(g["name"], g["baseline_recall_at_10"])
        if ms_i is None:
            g["ratio_at_matched_recall"] = None
            g["matched_recall_reachable"] = False
        else:
            g["ratio_at_matched_recall"] = round(ms_i / g["baseline_ms_per_query"], 2)
            g["matched_recall_reachable"] = True
            matched_recall.append(g["ratio_at_matched_recall"])

    return {
        "n": n, "dim": dim, "n_queries": n_q, "k": K,
        "source": "gist_1000.bin densified by local-covariance patches (v4, tau=0.6), queries=gist_test.bin",
        "build_sec": build_sec,
        "grid": grid,
        "best_ratio_vs_baseline": min(gated) if gated else None,
        "median_ratio_vs_baseline": round(float(np.median(gated)), 2) if gated else None,
        "best_ratio_at_matched_recall": min(matched_recall) if matched_recall else None,
        "median_ratio_at_matched_recall": (
            round(float(np.median(matched_recall)), 2) if matched_recall else None
        ),
        "n_baseline_rows_unreachable": sum(
            1 for g in grid if g.get("matched_recall_reachable") is False
        ),
        "calibration_start": cal_start,
        "calibration_end": host_calibration(),
    }


def host_calibration() -> dict:
    """Fixed-work host-speed stamp recorded with every bench run, as
    measured: it says which kind of host a run came from and, taken at
    both ends of a grid, whether the host degraded mid-run (a host can
    throttle ~2× under sustained all-core load). It is never used to
    rescale timings. Sort stamp, ~0.3 s: a 1M-element f64 ``np.sort``
    loop on ONE thread (numpy sorts are single-threaded — BLAS GEMM
    would fan out internally and hide the signal). It has no all-core
    twin: one taken first in a fresh process read ~4× low on a 4-core
    host, so start/end pairs showed drift that did not happen."""
    from concurrent.futures import ThreadPoolExecutor

    rng = np.random.default_rng(0)
    a = rng.standard_normal(1 << 20)

    def work(reps: int) -> None:
        for _ in range(reps):
            np.sort(a)

    work(1)  # warm-up / page-in
    t0 = time.time()
    work(6)
    single = 6 / (time.time() - t0)
    w = min(32, os.cpu_count() or 1)

    # DRAM-bandwidth probe: np.sort is cache-resident and BLIND to
    # memory-bandwidth drift — round 8 re-ran the 1M grid on a host
    # whose sort stamps were HEALTHIER than round 6's, yet every
    # bandwidth-bound serve row (random-access gathers over a >1 GB
    # working set) came out ~2× slower on BOTH the round-6 and HEAD
    # kernels (A/B on the same artifact). A streaming reduction over a
    # 1 GiB f64 array (far beyond LLC) measures what those rows
    # actually depend on. GiB/s, 1 thread and all cores.
    big = np.zeros(1 << 27)  # 1 GiB of f64
    big[:: 4096 // 8] = 1.0  # touch every page

    def stream(reps: int) -> None:
        for _ in range(reps):
            np.sum(big)

    stream(1)
    t0 = time.time()
    stream(3)
    bw1 = 3.0 / (time.time() - t0)
    with ThreadPoolExecutor(max_workers=w) as tp:
        list(tp.map(stream, [1] * w))
        t0 = time.time()
        list(tp.map(stream, [2] * w))
        bwa = 2.0 * w / (time.time() - t0)
    return {"sort1m_per_sec_1t": round(single, 2),
            "stream_gibps_1t": round(bw1, 2),
            "stream_gibps_all": round(bwa, 2), "threads": w}


#: compact-line blocks emptied, in this order, until the line fits
_COMPACT_DROP = ("recall_at_10", "ms_per_query", "queries")
COMPACT_MAX_CHARS = 1900


def compact_line(out: dict) -> str:
    """The LAST stdout line: a summary of ``out`` guaranteed to fit the
    ~2000-char stdout tail a harness keeps (the full result goes to
    BENCH_FULL.json; earlier rounds lost the full JSON line to that
    truncation). A skipped matched grid passes through as is."""
    compact = {
        "metric": out["metric"], "value": out["value"], "unit": out["unit"],
        "queries": out["queries"], "sf": out["sf"],
        "n_rows": out.get("n_rows"),
        "ms_per_query": out.get("ms_per_query"),
        "recall_at_10": out.get("recall_at_10"),
        "calibration": out.get("calibration"),
        "full": "BENCH_FULL.json",
    }
    m = out.get("matched")
    if m and "skipped" in m:
        compact["matched"] = m
    elif m:
        compact["matched"] = {
            "n": m.get("n"), "dim": m.get("dim"),
            "best_ratio_vs_baseline": m.get("best_ratio_vs_baseline"),
            "median_ratio_vs_baseline": m.get("median_ratio_vs_baseline"),
            "best_ratio_at_matched_recall": m.get("best_ratio_at_matched_recall"),
            "median_ratio_at_matched_recall": m.get("median_ratio_at_matched_recall"),
        }
    line = json.dumps(compact, separators=(",", ":"))
    for k in _COMPACT_DROP:
        if len(line) <= COMPACT_MAX_CHARS:
            break
        compact[k] = {}
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    if len(sys.argv) >= 3 and sys.argv[1] == "--ab-row":
        # one-row leg mode (see tools/ab_row_vs_commit.py): fresh JVM,
        # one row, one JSON line
        spark = get_spark("bench_ab")
        print(json.dumps(run_sf_suite(spark, only_row=sys.argv[2])))
        spark.stop()
        return
    spark = get_spark("bench")
    if SF_SUITE:
        out = run_sf_suite(spark)
    else:
        out = {"metric": "ann_suite_sec", "value": 0.0, "unit": "sec",
               "queries": {}, "sf": -1.0}
    if MATCHED:
        out["matched"] = matched_or_skipped(spark)
    out["calibration"] = host_calibration()
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    print(compact_line(out))


if __name__ == "__main__":
    main()
