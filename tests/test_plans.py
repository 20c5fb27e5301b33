"""Physical-plan regression gates (docs/PLANS.md): the operators must
keep compiling to the plans the 100 TB design requires."""

from __future__ import annotations

import contextlib
import io

import numpy as np
import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.index import pq as pq_mod
from lab_1806_vec_db_spark.index.ivf import IVFIndex
from lab_1806_vec_db_spark.index.pq import PQTable
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.session import read_table


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def emb(spark, sf_correct):
    # other modules cache this table; clear so plans show the real scan
    spark.catalog.clearCache()
    return read_table(spark, sf_correct, "embeddings")


@pytest.fixture(scope="module")
def qvec(emb):
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def test_flat_knn_is_take_ordered_with_pruned_scan(emb, qvec):
    plan = _plan(knn_ops.knn(emb, qvec, k=10, metric="l2sqr",
                             vec_col="embedding", id_col="vec_id"))
    assert "TakeOrderedAndProject" in plan  # no full sort, no shuffle
    # column pruning reaches the scan: label is never read
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines and all("label" not in l for l in schema_lines)


def test_ivf_probe_is_partition_pruning(emb, qvec, tmp_path, monkeypatch):
    idx = IVFIndex.build(emb, k=8, metric="l2sqr", vec_col="embedding",
                         id_col="vec_id", train_size=500,
                         path=str(tmp_path / "ivf"))
    # the window side of the merge gate keeps the scan in the returned plan
    monkeypatch.setattr(knn_ops, "DRIVER_MERGE_MAX_BYTES", -1)
    plan = _plan(idx.search_batch(np.asarray([qvec]), k=10, n_probes=2))
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "cluster_id" in pf[0] and " IN " in pf[0]


def test_pq_rerank_is_broadcast_join(emb, qvec, monkeypatch):
    pq = PQTable.train(emb, dim=64, m=8, n_bits=4, train_proportion=0.2,
                       vec_col="embedding", id_col="vec_id")
    # the two-wave plan (the re-rank join) on the window side of the
    # merge gate, so the join stays in the returned plan
    monkeypatch.setattr(pq_mod, "FUSE_MAX_DIM", 0)
    monkeypatch.setattr(knn_ops, "DRIVER_MERGE_MAX_BYTES", -1)
    plan = _plan(pq.search_batch(np.asarray([qvec]), k=10, ef=50, metric="l2sqr"))
    assert "BroadcastHashJoin" in plan  # base table is never shuffled


def test_filtered_knn_pushes_predicate_to_scan(emb, qvec):
    # the label predicate must reach the parquet reader (PushedFilters),
    # not run as a post-scan Filter over scored rows
    plan = _plan(
        knn_ops.knn(emb.filter(F.col("label") == 1), qvec, k=10, metric="l2sqr",
                    vec_col="embedding", id_col="vec_id",
                    payload_cols=["vec_id", "label"])
    )
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and any("label" in l for l in pushed)
    assert "TakeOrderedAndProject" in plan


def test_grouped_knn_is_single_group_shuffle(emb, qvec):
    # one hashpartitioning exchange on the group key; rank window, no sort-all
    plan = _plan(
        knn_ops.knn_grouped(emb, qvec, k_per_group=3, group_col="label",
                            metric="l2sqr", vec_col="embedding", id_col="vec_id")
    )
    assert plan.count(") Exchange") == 1  # detail section: one exchange node
    assert "hashpartitioning(label" in plan
    # rank-limit pushdown: the shuffle input is already k-bounded per
    # group map-side, so the exchange never carries the full scored table
    assert "WindowGroupLimit" in plan and "Partial" in plan


@pytest.fixture(scope="module")
def docs(spark, sf_correct):
    return read_table(spark, sf_correct, "documents")


def test_mix_sample_is_map_only(docs):
    from lab_1806_vec_db_spark.operators.corpus import mix_sample

    plan = _plan(mix_sample(docs, {"src0": 50}, default_pct=25))
    assert ") Exchange" not in plan  # predicate fuses into the scan stage


def test_decontaminate_pushes_split_predicate(docs):
    from lab_1806_vec_db_spark.operators.corpus import decontaminate

    plan = _plan(decontaminate(docs, F.col("source") == "src0", n=3))
    # split predicate reaches BOTH parquet scans — eval side and train side
    assert "EqualTo(source,src0)" in plan
    assert "Not(EqualTo(source,src0))" in plan


def test_repetition_vectorized_is_map_only(docs):
    from lab_1806_vec_db_spark.operators.corpus import repetition_stats

    plan = _plan(repetition_stats(docs, n=3))
    # the Arrow-batched gram counter must stay a single scan stage:
    # no exchange anywhere, counting happens inside MapInPandas
    assert ") Exchange" not in plan
    assert "MapInPandas" in plan


def test_minhash_vectorized_shuffles_signatures_not_shingles(docs):
    from lab_1806_vec_db_spark.operators.dedup import minhash_signatures

    plan = _plan(minhash_signatures(docs, n=3, num_hashes=16))
    # exactly ONE exchange — the groupBy(id) merge of per-row
    # signatures — fed by a map-side partial min (the shuffle carries
    # ≤16 ints per doc per task, never shingle strings)
    assert plan.count(") Exchange") == 1
    assert "MapInPandas" in plan
    assert "partial_min" in plan or "Partial" in plan


def test_pack_sequences_shard_local_window(docs):
    from lab_1806_vec_db_spark.operators.corpus import pack_sequences

    plan = _plan(pack_sequences(docs, budget=256))
    # window runs per shard key — never a global (single-partition) sort
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan
    # the rollup exchange is fed by a partial aggregate (k-bounded rows)
    assert "partial_count" in plan or "Partial" in plan


def test_stratified_sample_single_stratum_shuffle(docs):
    from lab_1806_vec_db_spark.operators.corpus import stratified_sample

    plan = _plan(stratified_sample(docs, 0.2))
    # both window functions (rank + stratum count) ride ONE shuffle on
    # the stratum key; no second exchange for the count
    assert plan.count(") Exchange") == 1


def test_select_representatives_single_keyed_agg(docs):
    from lab_1806_vec_db_spark.operators.dedup import select_representatives

    clustered = docs.select(
        "doc_id",
        F.md5("text").alias("ck"),
        F.length("text").cast("double").alias("q"),
    )
    plan = _plan(select_representatives(clustered, "ck", "q"))
    # one cluster-key shuffle, aggregate formulation (max-struct), no
    # window: members never sort by quality, only one candidate per
    # cluster per task crosses the exchange
    assert plan.count(") Exchange") == 1
    assert ") Window" not in plan


def test_unigram_logprob_vocab_join_is_broadcast_at_sf(docs):
    from lab_1806_vec_db_spark.operators.corpus import unigram_logprob_scores

    plan = _plan(unigram_logprob_scores(docs))
    # the token→logprob join broadcasts the vocab at sf scale (falls
    # back to shuffle-hash at corpus scale); no row-at-a-time Python
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_batch_filtered_ann_plan_shape(emb, qvec):
    # oversample-and-filter, batch form: the label predicate must reach
    # the parquet reader (the filter prunes the scan, not the pool),
    # and the pool attaches via a broadcast join — the filtered base is
    # never shuffled
    from lab_1806_vec_db_spark.index.hnsw import HNSWIndex

    idx = HNSWIndex.build(emb, metric="l2sqr", vec_col="embedding",
                          id_col="vec_id", m=8, ef_construction=80)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    out = idx.search_batch_filtered(
        queries, 5, emb.filter(F.col("label") == 1), ef=100,
        exact_fallback=False, vec_col="embedding",
    )
    plan = _plan(out)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("label" in l for l in pushed)
    assert "BroadcastHashJoin" in plan
