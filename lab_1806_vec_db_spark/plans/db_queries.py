"""Driver-contract entries that exercise the source/sink and VecDB
DDL/DML plumbing (SURVEY §2 S1-S7, D1, W2-W3) as query-shaped,
oracle-checkable operators.

These operators are API-level (create/insert/delete/scan), not
SQL-shaped per se — so each entry drives the real code path against a
throwaway directory and returns a deterministic projection that DuckDB
reproduces straight from the source parquet. A value mismatch anywhere
in the sink → scan → ingest → delete pipeline shows up in the hash.

The temp artifacts are written under ``tempfile.mkdtemp`` and kept for
the life of the process (the returned DataFrame reads them lazily).
Sizes are bounded by the sf0.01 contract scale (~5k × 64 f32 ≈ 1.3 MB),
matching the documented bounded-use envelope of the single-file
sinks (sources/binary.py write_fvecs/write_raw_bin).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import norm_expr
from lab_1806_vec_db_spark.operators import knn as knn_ops
from lab_1806_vec_db_spark.plans.entry_queries import register
from lab_1806_vec_db_spark.session import read_table

_NORM_SQL = (
    "round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
    "CAST(embedding AS DOUBLE[]))), 4) + 0.0"
)


@register(
    "source_binary_roundtrip",
    f"""SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS id,
  {_NORM_SQL} AS norm
FROM embeddings ORDER BY id""",
)
def source_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 sink → S1/S2 scan roundtrip: embeddings → headerless
    little-endian f32 file (vec_set.rs:184-192) → typed dynamic scan
    (vec_set.rs:241-253) → per-vector norm. Bit-exact f32 preservation
    through the binary format is what the hash checks; ids are
    positional (file order == vec_id order)."""
    from lab_1806_vec_db_spark.sources.binary import read_raw_bin, write_raw_bin

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    tmp = tempfile.mkdtemp(prefix="sg_binrt_")
    path = os.path.join(tmp, "emb.bin")
    write_raw_bin(emb, path, data_type="float32", vec_col="embedding", id_col="vec_id")
    scanned = read_raw_bin(spark, path, dim=dim, data_type="float32")
    return (
        scanned.select("id", knn_ops.round_dist(norm_expr("vec")).alias("norm"))
        .orderBy("id")
    )


@register(
    "source_fvecs_roundtrip",
    f"""SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS id,
  CAST(len(embedding) AS INT) AS n_dims,
  {_NORM_SQL} AS norm
FROM embeddings ORDER BY id""",
)
def source_fvecs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 fvecs converter roundtrip: embeddings → fvecs (the TEXMEX
    dim-prefixed record format the reference's loaders consume) →
    executor-side decode → per-vector (dim, norm). Checks the record
    framing (every row carries its dim) and f32 payload exactness."""
    from lab_1806_vec_db_spark.sources.binary import read_fvecs, write_fvecs

    emb = read_table(spark, sf_dir, "embeddings")
    tmp = tempfile.mkdtemp(prefix="sg_fvecsrt_")
    path = os.path.join(tmp, "emb.fvecs")
    write_fvecs(emb, path, vec_col="embedding", id_col="vec_id")
    scanned = read_fvecs(spark, path)
    return (
        scanned.select(
            "id",
            F.size("vec").alias("n_dims"),
            knn_ops.round_dist(norm_expr("vec")).alias("norm"),
        )
        .orderBy("id")
    )


@register(
    "vecdb_lifecycle",
    f"""SELECT vec_id, label, {_NORM_SQL} AS norm
FROM embeddings WHERE label <> 3 ORDER BY vec_id""",
)
def vecdb_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL/DML lifecycle as one oracle-checked pipeline: create table
    (database/mod.rs:331-349) → bulk insert with metadata
    (database/mod.rs:435-450) → subset-match predicate delete
    (metadata_vec_table.rs:163-187) → scan survivors. The oracle is the
    anti-filter straight off the source parquet, so the hash verifies
    ingest fidelity (vec + metadata + cached norm) AND that delete
    removed exactly the matching rows."""
    from lab_1806_vec_db_spark.db.vecdb import VecDB

    emb = read_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding", "label").orderBy("vec_id").collect()
    dim = len(rows[0]["embedding"])
    db = VecDB(tempfile.mkdtemp(prefix="sg_lifecycle_"), spark)
    db.create_table_if_not_exists("t", dim, "cosine")
    db.batch_add(
        "t",
        [list(r["embedding"]) for r in rows],
        [{"vec_id": str(r["vec_id"]), "label": str(r["label"])} for r in rows],
    )
    db.delete("t", {"label": "3"})
    return (
        db.table_df("t")
        .select(
            F.col("metadata").getItem("vec_id").cast("bigint").alias("vec_id"),
            F.col("metadata").getItem("label").cast("int").alias("label"),
            knn_ops.round_dist(F.col("norm")).alias("norm"),
        )
        .orderBy("vec_id")
    )


@register(
    "vecdb_persistence_search",
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           WHERE vec_id = (SELECT max(vec_id) FROM embeddings))
SELECT e.vec_id AS vec_id,
  round(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
        + list_dot_product(q.qv, q.qv)
        - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv), 4) + 0.0 AS dist
FROM embeddings e, q
ORDER BY dist, vec_id LIMIT 10""",
)
def vecdb_persistence_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Save/reopen durability + incremental graph insert as one
    oracle-gated query (S5/S6/S8 + W1/W4/Q8): bulk-insert all but the
    last 5 vectors, build the HNSW graph, ``force_save`` (dirty-index
    flush, thread_save.rs:97-114), reopen the directory in a FRESH
    VecDB instance — table + graph must reload from disk (brief.json +
    parquet + npz artifacts) — THEN insert the held-back 5 (single-row
    ``add`` + ``batch_add``), which the loaded graph absorbs
    incrementally (hnsw_index.rs:538-572; writes never clear HNSW).
    The query vector IS the last incrementally-inserted row, so its
    dist-0 self-hit can only come from the post-reopen graph insert.
    Point-search at ef >= N is exact, making the brute-force SQL top-10
    a hash oracle for persist, reload, AND incremental insert. Distance
    values come from the serve kernel; ids ride the metadata attach."""
    import numpy as np

    from lab_1806_vec_db_spark.db.vecdb import VecDB
    from lab_1806_vec_db_spark.operators.knn import np_round_half_up

    emb = read_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    dim = len(rows[0]["embedding"])
    home = tempfile.mkdtemp(prefix="sg_persist_")
    db = VecDB(home, spark)
    db.create_table_if_not_exists("t", dim, "l2sqr")
    db.batch_add(
        "t",
        [list(r["embedding"]) for r in rows[:-5]],
        [{"vec_id": str(r["vec_id"])} for r in rows[:-5]],
    )
    db.build_hnsw_index("t")
    db.close()

    db2 = VecDB(home, spark)
    db2.add("t", list(rows[-5]["embedding"]), {"vec_id": str(rows[-5]["vec_id"])})
    db2.batch_add(
        "t",
        [list(r["embedding"]) for r in rows[-4:]],
        [{"vec_id": str(r["vec_id"])} for r in rows[-4:]],
    )
    n = db2.get_len("t")
    hits = db2.search("t", list(rows[-1]["embedding"]), k=10, ef=max(2 * n, 200))
    out = [
        (int(md["vec_id"]), float(np_round_half_up(np.float64(d))))
        for md, d in hits
    ]
    return spark.createDataFrame(out, "vec_id long, dist double").orderBy("dist", "vec_id")


@register(
    "vecdb_df_ingest",
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1)
SELECT e.vec_id AS vec_id,
  round(1 - list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) / greatest(
        sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
        * sqrt(list_dot_product(q.qv, q.qv)), 1e-10), 4) + 0.0 AS dist
FROM embeddings e, q
ORDER BY dist, vec_id LIMIT 10""",
)
def vecdb_df_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2's scale path as an oracle-gated query: the whole embeddings
    table lands through ``batch_add_df`` (db/vecdb.py) — id stamping,
    f32 cast, metadata mapping, and the parquet append all
    executor-side, rows never collected — then a flat cosine search
    must return the exact brute-force top-10. A wrong id offset, a
    dropped partition, or a mangled metadata map all surface in the
    hash; the multi-partition repartition makes the offset arithmetic
    load-bearing."""
    import numpy as np

    from lab_1806_vec_db_spark.db.vecdb import VecDB
    from lab_1806_vec_db_spark.operators.knn import np_round_half_up

    emb = read_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    home = tempfile.mkdtemp(prefix="sg_dfingest_")
    db = VecDB(home, spark)
    db.create_table_if_not_exists("t", dim, "cosine")
    n = db.batch_add_df(
        "t", emb.repartition(8), vec_col="embedding", meta_cols=("vec_id",)
    )
    assert n == db.get_len("t")
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]
    ]
    # The engine breaks 4-dp distance ties by table id, which the
    # repartition scrambles relative to vec_id; the contract cuts ties
    # by vec_id. So read every row tied with the 10th distance (a
    # second search bounded by it), then cut by (dist, vec_id).
    tenth = db.search("t", qv, k=10)[-1][1]
    hits = db.search("t", qv, k=n, upper_bound=tenth)
    out = sorted(
        (float(np_round_half_up(np.float64(d))), int(md["vec_id"]))
        for md, d in hits
    )[:10]
    return spark.createDataFrame(
        [(i, d) for d, i in out], "vec_id long, dist double"
    ).orderBy("dist", "vec_id")
