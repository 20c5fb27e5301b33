"""IVF+PQ combined index (index/ivfpq.py) — the distributed
partition-pruning + byte-pruning serving path. Gates mirror the
equivalence style of the IVF and PQ suites: removing the approximation
(all probes + full ef) must reproduce flat exactly; partial regimes are
recall-gated; save/load must serve identically to the built index."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index import pq as pq_mod
from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.session import read_table


@pytest.fixture(scope="module")
def emb(spark, sf_correct):
    return read_table(spark, sf_correct, "embeddings").cache()


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


@pytest.fixture(scope="module")
def ivfpq(emb):
    return IVFPQIndex.build(
        emb, k_coarse=16, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=500,
    )


def _pairs(rows):
    return [(r["vec_id"], r["dist"]) for r in rows]


def test_full_probe_full_ef_equals_flat(emb, ivfpq, qvec):
    # no approximation left: every cluster probed, ef covers the table,
    # exact re-rank ⇒ identical to the flat scan
    n = emb.count()
    flat = knn_ops.knn(emb, qvec, k=10, metric="l2sqr", vec_col="embedding", id_col="vec_id")
    got = ivfpq.search(qvec, k=10, n_probes=16, ef=n)
    assert _pairs(got.collect()) == _pairs(flat.collect())


def test_partial_probe_recall(emb, ivfpq):
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    flat = knn_ops.knn_batch(
        emb, queries, k=10, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="embedding",
    )
    gt: dict = {}
    for r in flat.collect():
        gt.setdefault(r["query_id"], set()).add(r["vec_id"])
    got: dict = {}
    rows = ivfpq.search_batch(queries, k=10, n_probes=4, ef=64, qvec_col="embedding")
    for r in rows.collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(gt[q] & got.get(q, set())) / 10 for q in gt]
    # 4/16 random probing would give ~0.25; the trained quantizer plus
    # the exact re-rank must do far better
    assert sum(recalls) / len(recalls) >= 0.5


def test_cosine_metric(emb, qvec):
    idx = IVFPQIndex.build(
        emb, k_coarse=8, m=16, n_bits=8, metric="cosine",
        vec_col="embedding", id_col="vec_id", train_size=500,
    )
    n = emb.count()
    flat = knn_ops.knn(emb, qvec, k=5, metric="cosine", vec_col="embedding", id_col="vec_id")
    got = idx.search(qvec, k=5, n_probes=8, ef=n, metric="cosine")
    assert _pairs(got.collect()) == _pairs(flat.collect())


def test_save_load_roundtrip(spark, emb, qvec, tmp_path):
    path = str(tmp_path / "ivfpq")
    built = IVFPQIndex.build(
        emb, k_coarse=8, m=16, n_bits=4, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=500, path=path,
    )
    reopened = IVFPQIndex.load(spark, path, emb)
    a = built.search(qvec, k=10, n_probes=4, ef=64).collect()
    b = reopened.search(qvec, k=10, n_probes=4, ef=64).collect()
    assert _pairs(a) == _pairs(b)
    assert np.array_equal(built.model.centroids, reopened.model.centroids)


def test_partition_pruning_reaches_scan(spark, emb, tmp_path, qvec):
    # the probe filter must prune parquet partitions, not post-filter:
    # cluster_id is the partition column, so the pruned plan carries it
    # in PartitionFilters
    path = str(tmp_path / "ivfpq_pruned")
    idx = IVFPQIndex.build(
        emb, k_coarse=8, m=16, n_bits=4, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=500, path=path,
    )
    probed = [int(c) for c in idx.model.rank_centroids(np.asarray(qvec), 2)]
    plan = (
        idx.codes_clustered.filter(F.col("cluster_id").isin(probed))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "cluster_id" in plan


def test_chunked_lut_broadcast_matches(emb, ivfpq, monkeypatch):
    # force multiple LUT chunks (tiny budget ⇒ 4 queries per chunk) —
    # results must be identical to the single-chunk run
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    one = ivfpq.search_batch(queries, k=5, n_probes=4, ef=32, qvec_col="embedding").collect()
    monkeypatch.setattr(pq_mod, "MAX_LUT_BYTES", 1)
    many = ivfpq.search_batch(queries, k=5, n_probes=4, ef=32,
                              qvec_col="embedding").collect()
    assert sorted(map(tuple, many)) == sorted(map(tuple, one))


def test_add_batch_appends_without_rebuild(spark, emb, tmp_path):
    # append-only ingest into the persisted layout: new rows are
    # encoded with the FROZEN quantizers, land inside their clusters'
    # directories, and are immediately searchable; reopen sees them too
    path = str(tmp_path / "ivfpq_append")
    half = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 300))
    idx = IVFPQIndex.build(
        half, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=250, path=path,
    )
    probe_vec = [float(x) for x in emb.filter(F.col("vec_id") == 260).first()["embedding"]]
    before = idx.search(probe_vec, k=1, n_probes=8, ef=64).collect()
    assert not before or before[0]["vec_id"] != 260
    idx.add_batch(rest)
    after = idx.search(probe_vec, k=1, n_probes=8, ef=64).collect()
    assert after and after[0]["vec_id"] == 260 and after[0]["dist"] == 0.0
    # reopen from disk: the appended codes are durable
    base_all = emb.filter(F.col("vec_id") < 300)
    reopened = IVFPQIndex.load(spark, path, base_all)
    again = reopened.search(probe_vec, k=1, n_probes=8, ef=64).collect()
    assert again and again[0]["vec_id"] == 260
    # missing base columns are rejected (re-rank would silently drop)
    with pytest.raises(ValueError, match="base table's columns"):
        idx.add_batch(rest.select("vec_id"))


def test_compact_preserves_results(spark, emb, tmp_path, qvec):
    path = str(tmp_path / "ivfpq_compact")
    idx = IVFPQIndex.build(
        emb.filter(F.col("vec_id") < 200), k_coarse=8, m=16, n_bits=8,
        metric="l2sqr", vec_col="embedding", id_col="vec_id",
        train_size=200, path=path,
    )
    more = emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 220))
    idx.add_batch(more)
    before = idx.search(qvec, k=10, n_probes=8, ef=64).collect()
    idx.compact()
    after = idx.search(qvec, k=10, n_probes=8, ef=64).collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]
    # compacted layout still reopens cleanly
    reopened = IVFPQIndex.load(spark, path, emb.filter(F.col("vec_id") < 220))
    again = reopened.search(qvec, k=10, n_probes=8, ef=64).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in before]


def test_fused_rerank_equals_legacy_two_pass(spark, emb, qvec):
    """The fused in-scan exact re-rank must return EXACTLY what the
    legacy two-pass plan (ADC gate -> join-rerank against base)
    returns — same global gate, same distances — for both the single
    and batch paths."""
    idx = IVFPQIndex.build(
        emb, k_coarse=16, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=500,
    )
    assert "embedding" in idx.codes_clustered.columns  # fused-capable
    # legacy twin: same quantizers/codes, vec column dropped
    legacy = IVFPQIndex(
        idx.model, idx.pq, idx.codes_clustered.select("vec_id", "code", "cluster_id"),
        idx.base, vec_col="embedding", id_col="vec_id",
    )
    got_f = _pairs(idx.search(qvec, k=10, n_probes=4, ef=32).collect())
    got_l = _pairs(legacy.search(qvec, k=10, n_probes=4, ef=32).collect())
    assert got_f == got_l

    queries = emb.limit(6).select(F.col("vec_id").alias("query_id"), "embedding")
    bf = idx.search_batch(queries, k=5, n_probes=4, ef=32, qvec_col="embedding").collect()
    bl = legacy.search_batch(queries, k=5, n_probes=4, ef=32, qvec_col="embedding").collect()
    key = lambda r: (r["query_id"], r["dist"], r["vec_id"])
    assert sorted(map(tuple, bf)) == sorted(map(tuple, bl))


def test_ivfpq_search_batch_filtered(spark, emb):
    """Batch filtered ANN, distributed tier: full-pool equivalence to
    the exact filtered batch scan + starved-query exact fallback."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.index.ivfpq import IVFPQIndex
    from lab_1806_vec_db_spark.operators import knn as knn_ops

    emb = emb.cache()
    idx = IVFPQIndex.build(emb, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
                           vec_col="embedding", id_col="vec_id",
                           train_size=500, dim=64)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    filt = emb.filter(F.col("label") == 5)
    exact = [tuple(r) for r in knn_ops.knn_batch(
        filt, queries, 5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="vec").collect()]
    got = [tuple(r) for r in idx.search_batch_filtered(
        queries, 5, filt, n_probes=8, ef=1000).collect()]
    assert got == exact

    tiny = emb.filter(F.col("vec_id").isin([21, 22]))
    got2 = [tuple(r) for r in idx.search_batch_filtered(
        queries, 5, tiny, n_probes=2, ef=40).collect()]
    exact2 = [tuple(r) for r in knn_ops.knn_batch(
        tiny, queries, 5, metric="l2sqr", vec_col="embedding",
        id_col="vec_id", qid_col="query_id", qvec_col="vec").collect()]
    assert got2 == exact2


def test_ivfpq_codes_append_crash_repair(spark, emb, tmp_path):
    """The codes-append pending marker settles a crashed (or retried)
    add_batch at load: partial code rows in the marker's id range are
    dropped and re-encoded from base — one code row per base row
    again, so candidates neither vanish nor double-rank."""
    import json as _json
    import os as _os

    path = str(tmp_path / "ivfpq_crash")
    base1 = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 450))
    idx = IVFPQIndex.build(base1, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
                           vec_col="embedding", id_col="vec_id",
                           train_size=400, dim=64, path=path)

    # simulate a crash mid-append: HALF the batch's codes landed, the
    # marker is still on disk (never cleared)
    partial = idx._assign_encode(
        batch.filter(F.col("vec_id") < 425), idx.model, idx.pq,
        "embedding", "vec_id",
    )
    partial.write.mode("append").partitionBy("cluster_id").parquet(
        _os.path.join(path, "codes")
    )
    with open(_os.path.join(path, "pending_append.json"), "w") as f:
        _json.dump({"lo": 400, "hi": 450}, f)

    # reopen against the COMMITTED table (vecdb appends base before
    # absorbing): repair re-encodes [400, 450) exactly once
    full_base = emb.filter(F.col("vec_id") < 450)
    loaded = IVFPQIndex.load(spark, path, base=full_base)
    assert not _os.path.exists(_os.path.join(path, "pending_append.json"))
    ids = [r["vec_id"] for r in loaded.codes_clustered.select("vec_id").collect()]
    assert sorted(ids) == list(range(450))  # no gaps, no duplicates

    # a batch row is served exactly
    q = [float(x) for x in emb.filter(F.col("vec_id") == 440).first()["embedding"]]
    rows = loaded.search(q, k=1, n_probes=8, ef=450).collect()
    assert rows[0]["vec_id"] == 440 and rows[0]["dist"] == 0.0

    # retried-after-landing shape: the FULL batch landed but the marker
    # survived — repair must dedupe, not double
    more = emb.filter((F.col("vec_id") >= 450) & (F.col("vec_id") < 500))
    enc2 = loaded._assign_encode(more, loaded.model, loaded.pq, "embedding", "vec_id")
    enc2.write.mode("append").partitionBy("cluster_id").parquet(
        _os.path.join(path, "codes")
    )
    enc2.write.mode("append").partitionBy("cluster_id").parquet(
        _os.path.join(path, "codes")
    )  # the double-landed retry
    with open(_os.path.join(path, "pending_append.json"), "w") as f:
        _json.dump({"lo": 450, "hi": 500}, f)
    loaded2 = IVFPQIndex.load(spark, path, base=emb.filter(F.col("vec_id") < 500))
    ids2 = [r["vec_id"] for r in loaded2.codes_clustered.select("vec_id").collect()]
    assert sorted(ids2) == list(range(500))


def test_ivfpq_post_commit_crash_tail_sync(spark, emb, tmp_path):
    """The crash window the pending marker CANNOT see: the base append
    committed (idempotency token recorded — the redelivered epoch
    no-ops) but add_batch crashed before writing its marker. Without
    repair those rows are missing from IVF+PQ results forever. The
    durable codes watermark detects the gap at load and re-encodes the
    tail — the codes-table twin of _hnsw_tail_sync."""
    import json as _json
    import os as _os

    path = str(tmp_path / "ivfpq_gap")
    base1 = emb.filter(F.col("vec_id") < 400)
    IVFPQIndex.build(base1, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
                     vec_col="embedding", id_col="vec_id",
                     train_size=400, dim=64, path=path)
    with open(_os.path.join(path, "codes_watermark.json")) as f:
        assert _json.load(f)["max_id"] == 399

    # crash shape: base now holds [0, 450) but NO marker and NO codes
    # for [400, 450) exist — reopen must heal the gap
    full_base = emb.filter(F.col("vec_id") < 450)
    loaded = IVFPQIndex.load(spark, path, base=full_base)
    ids = [r["vec_id"] for r in loaded.codes_clustered.select("vec_id").collect()]
    assert sorted(ids) == list(range(450))  # gap healed, no duplicates
    with open(_os.path.join(path, "codes_watermark.json")) as f:
        assert _json.load(f)["max_id"] == 449

    # a previously-missing row is now served exactly
    q = [float(x) for x in emb.filter(F.col("vec_id") == 440).first()["embedding"]]
    rows = loaded.search(q, k=1, n_probes=8, ef=450).collect()
    assert rows[0]["vec_id"] == 440 and rows[0]["dist"] == 0.0

    # idempotent: a second reopen changes nothing
    loaded2 = IVFPQIndex.load(spark, path, base=full_base)
    ids2 = [r["vec_id"] for r in loaded2.codes_clustered.select("vec_id").collect()]
    assert sorted(ids2) == list(range(450))


def test_ivfpq_codes_swap_crash_recovery(spark, emb, tmp_path):
    """The two-rename swap window in settle/compact is not atomic on
    its own: a crash between `codes → __old` and `__tmp → codes`
    leaves NO live directory. load() must promote a complete __tmp
    (proven by _SUCCESS) or roll back to __old."""
    import os as _os
    import shutil as _shutil

    path = str(tmp_path / "ivfpq_swap")
    base = emb.filter(F.col("vec_id") < 300)
    idx = IVFPQIndex.build(base, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
                           vec_col="embedding", id_col="vec_id",
                           train_size=300, dim=64, path=path)
    before = sorted(
        r["vec_id"] for r in idx.codes_clustered.select("vec_id").collect()
    )
    codes = _os.path.join(path, "codes")

    # shape 1: crash right after `codes → __old` (tmp complete)
    _shutil.copytree(codes, codes + "__tmp")
    _os.replace(codes, codes + "__old")
    loaded = IVFPQIndex.load(spark, path, base=base)
    ids = sorted(r["vec_id"] for r in loaded.codes_clustered.select("vec_id").collect())
    assert ids == before and _os.path.isdir(codes)
    assert not _os.path.isdir(codes + "__old")

    # shape 2: tmp incomplete (no _SUCCESS) → roll back to __old
    _shutil.copytree(codes, codes + "__tmp")
    _os.remove(_os.path.join(codes + "__tmp", "_SUCCESS"))
    _os.replace(codes, codes + "__old")
    loaded2 = IVFPQIndex.load(spark, path, base=base)
    ids2 = sorted(r["vec_id"] for r in loaded2.codes_clustered.select("vec_id").collect())
    assert ids2 == before and _os.path.isdir(codes)
    assert not _os.path.isdir(codes + "__tmp")


def test_local_serve_matches_distributed(spark, emb, qvec):
    """The driver-local mirror (enable_local_serve) must reproduce the
    distributed two-pass plan bit-for-bit — same probes, rounded ADC
    gates, exact re-rank, and tie-breaks — for single and batch, both
    metrics, and stay current through an append."""
    for metric in ("l2sqr", "cosine"):
        base = emb.filter(F.col("vec_id") < 450)
        idx = IVFPQIndex.build(base, k_coarse=16, m=16, n_bits=8,
                               metric=metric, vec_col="embedding",
                               id_col="vec_id", train_size=500)
        queries = emb.filter(F.col("vec_id") < 6).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        dist_single = idx.search(qvec, k=10, n_probes=4, ef=64).collect()
        dist_batch = idx.search_batch(queries, k=10, n_probes=4, ef=64,
                                      qvec_col="embedding").collect()
        assert idx.enable_local_serve()
        loc_single = idx.search(qvec, k=10, n_probes=4, ef=64).collect()
        loc_batch = idx.search_batch(queries, k=10, n_probes=4, ef=64,
                                     qvec_col="embedding").collect()
        assert _pairs(loc_single) == _pairs(dist_single), metric
        assert sorted(map(tuple, loc_batch)) == sorted(map(tuple, dist_batch)), metric

        # append: the mirror tail-refreshes lazily and serves the new row
        more = emb.filter((F.col("vec_id") >= 450) & (F.col("vec_id") < 470))
        idx.add_batch(more)
        probe = [float(x) for x in
                 emb.filter(F.col("vec_id") == 460).first()["embedding"]]
        got = idx.search(probe, k=1, n_probes=16, ef=64).collect()
        assert got[0]["vec_id"] == 460 and got[0]["dist"] == 0.0


def test_local_serve_upper_bound_and_cap(spark, emb, qvec, ivfpq):
    """upper_bound filters the local path like the distributed one; a
    too-small byte cap refuses the mirror and stays distributed."""
    assert not ivfpq.enable_local_serve(max_bytes=100)
    assert ivfpq._local is None
    idx = IVFPQIndex.build(emb.filter(F.col("vec_id") < 400), k_coarse=8,
                           m=16, n_bits=8, metric="l2sqr",
                           vec_col="embedding", id_col="vec_id",
                           train_size=400)
    dist = idx.search(qvec, k=10, n_probes=8, ef=64, upper_bound=0.9).collect()
    assert idx.enable_local_serve()
    loc = idx.search(qvec, k=10, n_probes=8, ef=64, upper_bound=0.9).collect()
    assert _pairs(loc) == _pairs(dist)


def test_local_serve_lut_chunking_matches(spark, emb, monkeypatch):
    """_search_local bounds its f64 lookup tensor by the SAME
    MAX_LUT_BYTES budget the distributed path applies per broadcast
    (a 200k-query batch otherwise allocated a multi-GB driver LUT
    independent of the mirror cap). Chunked and unchunked runs must be
    identical — chunking only splits the query axis."""
    idx = IVFPQIndex.build(
        emb.filter(F.col("vec_id") < 450), k_coarse=16, m=16, n_bits=8,
        metric="l2sqr", vec_col="embedding", id_col="vec_id", train_size=500,
    )
    assert idx.enable_local_serve()
    qmat = np.asarray(
        [r["embedding"] for r in
         emb.filter(F.col("vec_id") < 40).orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    big = idx._search_local(qmat, 10, 4, 64, "l2sqr")
    # one query's LUT is m*ksub*8 = 32 KiB > 16 KiB budget → chunk of 4
    with monkeypatch.context() as mp:
        mp.setattr(pq_mod, "MAX_LUT_BYTES", 16 << 10)
        tiny = idx._search_local(qmat, 10, 4, 64, "l2sqr")
    for a, b in zip(big, tiny):
        assert np.array_equal(a, b)
    # and through the public batch API with a forced tiny budget
    queries = emb.filter(F.col("vec_id") < 40).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ref = idx.search_batch(queries, k=10, n_probes=4, ef=64,
                           qvec_col="embedding").collect()
    monkeypatch.setattr(pq_mod, "MAX_LUT_BYTES", 16 << 10)
    chunked = idx.search_batch(queries, k=10, n_probes=4, ef=64,
                               qvec_col="embedding").collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, ref))

def test_persist_codes_pin_survives_append_and_compact(spark, emb, tmp_path):
    """persist_codes pins the codes frame executor-side and re-applies
    the pin across the codes-frame swaps (append union, compaction
    reload) with unchanged results; unpersist_codes releases it."""
    from pyspark import StorageLevel

    path = str(tmp_path / "ivfpq_pin")
    half = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 300))
    idx = IVFPQIndex.build(
        half, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=250, path=path,
    )
    probe_vec = [float(x) for x in emb.filter(F.col("vec_id") == 260).first()["embedding"]]
    idx.persist_codes()
    assert idx.codes_clustered.storageLevel.useMemory
    base = idx.search(probe_vec, k=3, n_probes=8, ef=64).collect()
    idx.add_batch(rest)
    # pinned appends re-read the directory and move the pin (the
    # frozen-listing union double-counts under a pin — the append
    # write refreshes cached plans on its path)
    assert idx.codes_clustered.storageLevel.useMemory
    after = idx.search(probe_vec, k=3, n_probes=8, ef=64).collect()
    assert after and after[0]["vec_id"] == 260 and after[0]["dist"] == 0.0
    assert len({r["vec_id"] for r in after}) == len(after)  # no dup rows
    assert idx.codes_clustered.count() == 300
    idx.compact()
    assert idx.codes_clustered.storageLevel.useMemory
    again = idx.search(probe_vec, k=3, n_probes=8, ef=64).collect()
    assert [(r["vec_id"], r["dist"]) for r in again] == \
        [(r["vec_id"], r["dist"]) for r in after]
    idx.unpersist_codes()
    assert not idx.codes_clustered.storageLevel.useMemory
    # custom storage level is honored
    idx.persist_codes(StorageLevel.DISK_ONLY)
    assert idx.codes_clustered.storageLevel.useDisk
    assert not idx.codes_clustered.storageLevel.useMemory
    idx.unpersist_codes()

def test_store_vec_dtype_f32(spark, emb, qvec, tmp_path):
    """store_vec_dtype='float32' stores the travelling re-rank vector
    at f32 (the reference's serving precision): same candidate id sets
    as the full-precision index at 64-dim (f32 error ~1e-6 vs the 4-dp
    rounding grid), appends stay dtype-consistent."""
    path = str(tmp_path / "ivfpq_f32")
    half = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter((F.col("vec_id") >= 250) & (F.col("vec_id") < 300))
    idx32 = IVFPQIndex.build(
        half, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=250, path=path,
        store_vec_dtype="float32",
    )
    assert idx32.codes_clustered.schema["embedding"].dataType.simpleString() \
        == "array<float>"
    idx64 = IVFPQIndex.build(
        half, k_coarse=8, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=250,
    )
    r32 = idx32.search(qvec, k=10, n_probes=8, ef=64).collect()
    r64 = idx64.search(qvec, k=10, n_probes=8, ef=64).collect()
    assert [r["vec_id"] for r in r32] == [r["vec_id"] for r in r64]
    # appended rows are cast to the stored dtype — schema stays f32
    idx32.add_batch(rest)
    assert idx32.codes_clustered.schema["embedding"].dataType.simpleString() \
        == "array<float>"
    probe_vec = [float(x) for x in emb.filter(F.col("vec_id") == 260).first()["embedding"]]
    got = idx32.search(probe_vec, k=1, n_probes=8, ef=64).collect()
    assert got and got[0]["vec_id"] == 260
    with pytest.raises(ValueError, match="store_vec_dtype"):
        IVFPQIndex.build(half, k_coarse=8, m=16, n_bits=8,
                         vec_col="embedding", id_col="vec_id",
                         train_size=250, store_vec_dtype="float16")


@pytest.mark.parametrize("store_dtype", [None, "float32"])
def test_fused_geometric_compaction_tiny_floors(spark, emb, tmp_path, store_dtype,
                                                monkeypatch):
    """Tiny accumulator floors force the geometric-compaction path (a
    live candidate set far above ACC_CAP_ROWS/ACC_VEC_BYTES, the 1M
    wide-probe regime in miniature): results must be IDENTICAL to the
    defaults on the fused and two-pass IVF+PQ plans, for both stored
    dtypes (fused buffers candidate vectors in the store dtype) — and on
    the flat, IVF and PQ (fused and two-wave) tiers, which share the
    one per-task accumulator (100-row Arrow batches give each of their
    tasks several fragments). ``FUSE_MAX_DIM = 0`` forces the two-wave
    plans."""
    from lab_1806_vec_db_spark.index.ivf import IVFIndex
    from lab_1806_vec_db_spark.index.pq import PQTable

    path = str(tmp_path / f"ivfpq_geo_{store_dtype}")
    idx = IVFPQIndex.build(
        emb, k_coarse=16, m=16, n_bits=8, metric="l2sqr",
        vec_col="embedding", id_col="vec_id", train_size=500, path=path,
        **({"store_vec_dtype": store_dtype} if store_dtype else {}),
    )
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    key = lambda r: (r["query_id"], r["dist"], r["vec_id"])

    def tiny_floors(serve):
        with monkeypatch.context() as mp:
            mp.setattr(knn_ops, "ACC_CAP_ROWS", 64)
            mp.setattr(knn_ops, "ACC_VEC_BYTES", 1024)
            return serve().collect()

    fuse_max_dim = pq_mod.FUSE_MAX_DIM

    def forced(fuse, serve):
        def run():
            monkeypatch.setattr(pq_mod, "FUSE_MAX_DIM", fuse_max_dim if fuse else 0)
            return serve()
        return run

    for fuse in (True, False):
        serve = forced(fuse, lambda: idx.search_batch(
            queries, k=5, n_probes=8, ef=48, qvec_col="embedding"))
        ref = serve().collect()
        tiny = tiny_floors(serve)
        assert sorted(tiny, key=key) == sorted(ref, key=key), f"fuse={fuse}"

    base = emb if store_dtype is None else emb.withColumn(
        "embedding", F.col("embedding").cast("array<float>")).cache()
    ivf = IVFIndex.build(base, k=16, metric="l2sqr", vec_col="embedding",
                         id_col="vec_id", train_size=500)
    pq = PQTable.train(base, dim=64, m=16, n_bits=8, train_proportion=0.5,
                       vec_col="embedding", id_col="vec_id")
    serves = {
        "flat": lambda: knn_ops.knn_batch(
            base, queries, 5, metric="l2sqr", vec_col="embedding",
            id_col="vec_id", qvec_col="embedding"),
        "ivf": lambda: ivf.search_batch(queries, 5, n_probes=8,
                                        qvec_col="embedding"),
        "pq_fused": forced(True, lambda: pq.search_batch(
            queries, 5, ef=48, metric="l2sqr", qvec_col="embedding")),
        "pq_two_wave": forced(False, lambda: pq.search_batch(
            queries, 5, ef=48, metric="l2sqr", qvec_col="embedding")),
    }
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_key)
    spark.conf.set(batch_key, "100")
    try:
        for tier, serve in serves.items():
            ref = serve().collect()
            tiny = tiny_floors(serve)
            assert len(ref) == 12 * 5, tier
            assert sorted(tiny, key=key) == sorted(ref, key=key), tier
    finally:
        spark.conf.set(batch_key, old)


def test_fused_auto_rule_keys_on_dim(ivfpq, caplog):
    """The one fused-dispatch rule (``index.pq.fuse_rerank``,
    docs/BENCH_1M_IVF_AB_r13.json): fuse iff the codes frame carries the
    vec column AND dim <= FUSE_MAX_DIM — at 1M/960 fused lost to
    two-pass at every measured (n_probes, ef) because per-candidate
    vector buffering scales with dim. The sf fixture is 64-dim, so the
    rule must fuse when vectors ride the codes frame, never when they
    don't, and never at dim 960; each decision is logged at DEBUG."""
    import logging

    caplog.set_level(logging.DEBUG, logger="lab_1806_vec_db_spark")
    frame = ivfpq.codes_clustered
    assert "embedding" in frame.columns
    assert pq_mod.fuse_rerank(frame, "embedding", ivfpq.pq.dim) is True
    assert pq_mod.fuse_rerank(frame, "embedding", pq_mod.FUSE_MAX_DIM) is True
    # the dim>256 branch of the rule (the 1M/960 case) — fake the dim
    # via a wide groups list on the pq metadata, restored after
    wide_groups = [(i * 4, 4) for i in range(240)]  # dim 960
    orig = ivfpq.pq.groups
    try:
        ivfpq.pq.groups = wide_groups
        assert pq_mod.fuse_rerank(frame, "embedding", ivfpq.pq.dim) is False
    finally:
        ivfpq.pq.groups = orig
    # a frame WITHOUT the vec column can never fuse
    assert pq_mod.fuse_rerank(frame.drop("embedding"), "embedding", 64) is False
    assert [r.getMessage() for r in caplog.records
            if r.getMessage().startswith("fuse rule ")] == [
        "fuse rule vec=True dim=64 bound=256 plan=fused",
        "fuse rule vec=True dim=256 bound=256 plan=fused",
        "fuse rule vec=True dim=960 bound=256 plan=two_wave",
        "fuse rule vec=False dim=64 bound=256 plan=two_wave",
    ]
