"""Unit tests for the LLM-pipeline operators: dedup family, text
analysis, windowed aggregation."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions import text as T
from lab_1806_vec_db_spark.operators import dedup as D
from lab_1806_vec_db_spark.streaming.windows import sessionize, tumbling_agg


# ---- pure-Catalyst parity references ---------------------------------------
# The library computes MinHash signatures, decontamination grams and
# repetition counts in Arrow-batched mapInPandas. These are the same
# operators as Catalyst expression plans; the parity tests below require
# the library to match them bit for bit.


def catalyst_minhash_signatures(df, n=3, num_hashes=16, text_col="text",
                                id_col="doc_id"):
    """explode → JVM md5 (hash32) → affine-permutation min-agg."""
    grams = df.select(F.col(id_col),
                      F.explode_outer(D.word_shingles(text_col, n)).alias("_s"))
    hashed = grams.select(id_col, T.hash32(F.col("_s")).alias("_h"))
    aggs = []
    for j in range(num_hashes):
        a_j, b_j = D.minhash_perm_consts(j)
        aggs.append(
            F.coalesce(
                F.min((F.lit(a_j) * F.col("_h") + F.lit(b_j)) % F.lit(D.MINHASH_P)),
                F.lit(-1).cast("bigint"),
            ).alias(f"_s{j}")
        )
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(id_col, F.array(*[F.col(f"_s{j}") for j in range(num_hashes)]).alias("sig"))
    )


def catalyst_decontaminate(docs, eval_pred, n=3, text_col="text",
                           id_col="doc_id", hash_join=False):
    """explode_outer of word_shingles, then the library's probe half."""
    from lab_1806_vec_db_spark.operators.corpus import _gram_hit_ratio

    # explode_outer: an eval doc SHORTER than n tokens has no grams but
    # must still report (id, 0, 0, 0.0)
    grams = docs.select(
        id_col,
        F.explode_outer(D.word_shingles(text_col, n)).alias("gram"),
        eval_pred.alias("_is_eval"),
    )
    train = grams.filter(~F.col("_is_eval")).select("gram")
    ev = grams.filter(F.col("_is_eval")).select(id_col, "gram")
    return _gram_hit_ratio(ev, train, id_col, hash_join)


def catalyst_repetition_stats(docs, n=3, text_col="text", id_col="doc_id"):
    """Per-row gram array expression, sized whole and distinct."""
    from lab_1806_vec_db_spark.operators.corpus import _repetition_ratio_expr

    toks = F.split(F.col(text_col), " ")
    # guard: sequence(1, 0) DESCENDS in Spark, so short docs must map
    # to an empty gram list explicitly
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col),
        F.size(grams).cast("bigint").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("bigint").alias("n_distinct"),
    ).select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("n_distinct"),
        _repetition_ratio_expr().alias("rep_ratio"),
    )


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different content about spark engines"),
        (4, "der hund und die katze und der vogel und das haus"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = D.exact_dedup_groups(docs).collect()
    assert len(groups) == 4  # 5 docs, one exact pair
    by_canon = {r["canonical_id"]: r["n_copies"] for r in groups}
    assert by_canon[0] == 2  # min-id canonical wins
    kept = D.exact_dedup(docs).select("doc_id").collect()
    assert sorted(r["doc_id"] for r in kept) == [0, 2, 3, 4]


def test_clean_corpus_canonical_and_quality(spark):
    """clean_corpus keeps the min-id row per surviving content group
    with the group's copy count, and the quality column equals the
    scored quality of that content (identical text ⇒ identical score,
    which is why quality can ride through the dedup aggregate instead
    of joining a second scoring pass back)."""
    from lab_1806_vec_db_spark.functions.text import lang_id, quality_score
    from lab_1806_vec_db_spark.operators.corpus import clean_corpus

    good = "the quick brown fox jumps over the lazy dog and that is fine"
    rows = [
        (5, good), (3, good), (9, good),             # 3 copies → canon id 3
        (7, "der hund und die katze und der vogel"),  # fails lang=en
        (8, "zz qq xx"),                              # fails quality floor
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in clean_corpus(docs).collect()}
    assert set(out) == {3}
    assert out[3]["n_copies"] == 3
    expected_q = docs.filter(F.col("doc_id") == 3).select(
        quality_score("text").alias("q")).first()["q"]
    assert out[3]["quality"] == expected_q
    # sanity on the fixture: the dropped rows fail for the stated reasons
    scored = {
        r["doc_id"]: r for r in docs.select(
            "doc_id", lang_id("text").alias("l"), quality_score("text").alias("q")
        ).collect()
    }
    assert scored[7]["l"] != "en" and scored[8]["q"] < 0.5


def test_shingles_and_jaccard(docs):
    sh = docs.select("doc_id", D.word_shingles("text", 3).alias("sh")).collect()
    by_id = {r["doc_id"]: r["sh"] for r in sh}
    assert len(by_id[0]) == 7  # 9 tokens → 7 trigrams
    assert by_id[0] == by_id[1]
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in D.ngram_jaccard_pairs(docs, n=3).collect()}
    assert pairs[(0, 1)] == 1.0       # identical
    assert 0.4 < pairs[(0, 2)] < 1.0  # near dup
    assert pairs[(0, 3)] == 0.0       # disjoint


def test_short_doc_shingles(spark):
    df = spark.createDataFrame([(0, "one two")], "doc_id long, text string")
    sh = df.select(D.word_shingles("text", 3).alias("sh")).first()["sh"]
    assert sh == []  # shorter than n → no shingles, no crash


def test_minhash_lsh_finds_near_dups(docs):
    sigs = {r["doc_id"]: r["sig"] for r in D.minhash_signatures(docs, n=3, num_hashes=16).collect()}
    assert sigs[0] == sigs[1]  # identical docs → identical signatures
    agree = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert agree >= 4  # near-dups share many minima
    cand = {(r["id_a"], r["id_b"]) for r in D.lsh_candidate_pairs(docs, n=3, num_hashes=16, bands=8).collect()}
    assert (0, 1) in cand
    assert (0, 3) not in cand  # unrelated docs never bucket together
    verified = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in D.minhash_dedup_pairs(docs, threshold=0.99, num_hashes=16, bands=8).collect()}
    assert (0, 1) in verified and verified[(0, 1)] == 1.0


def test_lsh_excludes_shingleless_docs(spark):
    """Docs shorter than n tokens share the all--1 sentinel signature;
    banding them would put EVERY such doc in one bucket per band — a
    quadratic self-join at corpus scale whose pairs the verify stage
    discards anyway (their exact Jaccard is 0.0). No signature → no
    bucket: sentinel docs must produce no candidate pairs, with each
    other or with real docs."""
    rows = [
        (0, "a"), (1, ""), (2, "b c"),        # all shorter than n=3
        (3, "x y z x y z x y"),
        (4, "x y z x y z x y"),               # exact dup of 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = {(r["id_a"], r["id_b"])
            for r in D.lsh_candidate_pairs(df, n=3, num_hashes=16, bands=8).collect()}
    assert cand == {(3, 4)}


@pytest.mark.parametrize("n,num_hashes", [(1, 4), (3, 16), (5, 8)])
def test_minhash_signatures_impl_parity(spark, n, num_hashes):
    """The vectorized (mapInPandas hashlib+numpy) and catalyst
    (explode + JVM md5 + min-agg) signature implementations must be
    bit-identical on adversarial tokenizations — empty strings, NULL
    text, leading/trailing/doubled spaces (F.split keeps the empty
    tokens), non-ASCII shingles (md5 over UTF-8 bytes), docs shorter
    than n, and DUPLICATE ids (rows sharing an id merge into one
    document: union of shingle sets == elementwise min of per-row
    signatures, including a shingle-less row that must NOT drag the
    merged signature to the sentinel)."""
    rows = [
        (1, "a b a b a b a"),
        (2, ""),
        (2, "dup id second row x y z w"),   # merges with the empty row
        (3, " lead and trail "),
        (4, "x  x  x"),
        (5, "naïve café über naïve café"),  # UTF-8 multi-byte shingles
        (6, "q"),
        (7, " ".join(str(i % 11) for i in range(400))),
        (8, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    vec = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in D.minhash_signatures(df, n=n, num_hashes=num_hashes).collect()
    )
    cat = sorted(
        (r["doc_id"], tuple(r["sig"]))
        for r in catalyst_minhash_signatures(
            df, n=n, num_hashes=num_hashes
        ).collect()
    )
    assert vec == cat
    assert dict(vec)[8] == (-1,) * num_hashes  # NULL text → sentinel


def test_vectorized_impl_parity_randomized(spark):
    """Seeded stress parity for BOTH vectorized operators: 200 random
    texts over a space-heavy alphabet (runs of spaces, empty tokens,
    unicode, long repeats) must produce bit-identical results from the
    mapInPandas and Catalyst implementations — one Spark run per impl,
    whole-frame compare."""
    import random

    from lab_1806_vec_db_spark.operators.corpus import repetition_stats

    rng = random.Random(20260815)
    frags = ["a", "b", "ab", "ç", "€", " ", "  ", "   ", "a a", "b  b"]
    rows = [
        (i, "".join(rng.choice(frags) for _ in range(rng.randint(0, 30))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for op, ref, kw in [
        (repetition_stats, catalyst_repetition_stats, dict(n=3)),
        (D.minhash_signatures, catalyst_minhash_signatures, dict(n=2, num_hashes=8)),
    ]:
        vec = sorted(map(repr, op(df, **kw).collect()))
        cat = sorted(map(repr, ref(df, **kw).collect()))
        assert vec == cat, op.__name__


def test_simhash_properties(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    ham_near = bin(sigs[0] ^ sigs[2]).count("1")
    ham_far = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham_near < ham_far
    pairs = {(r["id_a"], r["id_b"]) for r in D.simhash_near_pairs(docs, band_bits=8).collect()}
    assert (0, 1) in pairs


def test_embedding_neardup_exact_and_lsh(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),  # near dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(df, threshold=0.01).collect()}
    assert exact == {(0, 1)}
    lsh = {(r["id_a"], r["id_b"])
           for r in D.embedding_neardup_lsh(df, planes=[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]],
                                            threshold=0.01).collect()}
    assert lsh == {(0, 1)}  # 0,1 share bucket '1x'; 3 lands elsewhere


def test_text_stats_fixed_values(spark):
    df = spark.createDataFrame([(0, "Hello world 42!")], "doc_id long, text string")
    row = df.select(
        T.token_count("text").alias("nt"),
        T.regex_token_count("text").alias("nb"),
        T.mean_token_len("text").alias("mtl"),
        *[v.alias(k) for k, v in T.char_stats("text").items()],
    ).first()
    assert row["nt"] == 3
    assert row["nb"] == 5  # hello / world / 4 / 2 / !
    assert row["n_chars"] == 15 and row["n_letters"] == 10
    assert row["n_digits"] == 2 and row["n_spaces"] == 2 and row["n_punct"] == 1
    assert row["mtl"] == pytest.approx((5 + 5 + 3) / 3)


def test_lang_id_and_quality(docs):
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id", T.lang_id("text").alias("lang"), T.quality_score("text").alias("q")
    ).collect()}
    assert rows[0]["lang"] == "en"  # two 'the' hits
    assert rows[4]["lang"] == "de"  # der/und/die/das hits
    assert 0.0 <= rows[3]["q"] <= 1.0


def test_fingerprint_order_sensitivity(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", T.fingerprint("text").alias("fp")).collect()}
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]  # order-sensitive, unlike shingle sets


def test_connected_components_chain(spark):
    # chain 0-1-2 plus pair 5-6 plus singletons 3,4: transitivity must
    # pull 2 into component 0 even though (0,2) is not a pair
    nodes = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    comp = {r["doc_id"]: r["component"]
            for r in D.connected_components(nodes, pairs).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 5, 6: 5}


def test_connected_components_bounded_plan_and_warning(spark):
    import warnings

    # a 16-node path graph: min-label propagation needs ~15 rounds, so
    # without per-round checkpointing the final plan would nest 15
    # join+agg layers; with it the plan reads from a materialized RDD
    # and stays one round deep
    n = 16
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    out = D.connected_components(nodes, pairs, max_iter=30)
    comp = {r["doc_id"]: r["component"] for r in out.collect()}
    assert comp == {i: 0 for i in range(n)}
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "extended"
    ) if hasattr(out._sc._jvm, "PythonSQLUtils") else out._jdf.queryExecution().toString()
    # checkpointed lineage: the analyzed plan contains a scan of an
    # existing (materialized) RDD, and is far too short to be 15 nested
    # join rounds
    assert "ExistingRDD" in plan or "LogicalRDD" in plan or "Scan ExistingRDD" in plan
    assert len(plan) < 20_000
    # non-convergence within max_iter warns instead of silently
    # returning partial labels
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        D.connected_components(nodes, pairs, max_iter=3).collect()
        assert any("max_iter" in str(x.message) for x in w)


def test_tumbling_agg_and_sessionize(spark):
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base, "click", 1.0),
        (1, base + datetime.timedelta(minutes=10), "click", 3.0),
        (1, base + datetime.timedelta(hours=2), "view", 5.0),
        (2, base + datetime.timedelta(minutes=5), "click", 7.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, value double")
    agg = {(r["window_start"], r["event_type"]): r for r in tumbling_agg(df).collect()}
    r = agg[("2024-01-01 10:00:00", "click")]
    assert r["n_events"] == 3 and r["sum_value"] == 11.0
    assert agg[("2024-01-01 12:00:00", "view")]["n_events"] == 1
    sess = sessionize(df, gap_minutes=30).collect()
    by_user = {}
    for r in sess:
        by_user.setdefault(r["user_id"], []).append(r["session_seq"])
    assert sorted(by_user[1]) == [1, 1, 2]  # 2h gap starts a new session
    assert by_user[2] == [1]


def test_decontaminate_hash_join_and_short_docs(spark):
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.operators.corpus import decontaminate

    rows = [
        (0, "the quick brown fox jumps", "eval"),   # shares grams with doc 2
        (1, "too short", "eval"),                    # < 3 tokens -> no grams
        (2, "the quick brown fox sleeps", "train"),
        (3, "completely different words here now", "train"),
        (4, "aaa bbb ccc ddd", "eval"),              # zero overlap
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for hj in (False, True):
        out = {
            r["doc_id"]: r
            for r in decontaminate(
                docs, F.col("source") == "eval", n=3, hash_join=hj
            ).collect()
        }
        # doc 0: grams {the quick brown, quick brown fox, brown fox jumps};
        # first two occur in doc 2's train grams
        assert out[0]["n_grams"] == 3 and out[0]["n_hit"] == 2
        assert abs(out[0]["ratio"] - 0.6667) < 1e-9
        # too short for any gram: REPORTED as clean-with-zero-grams, not
        # silently dropped (a missing row reads as "unchecked")
        assert out[1]["n_grams"] == 0 and out[1]["n_hit"] == 0
        assert out[1]["ratio"] == 0.0
        assert out[4]["n_hit"] == 0 and out[4]["ratio"] == 0.0


@pytest.mark.parametrize("hj", [False, True])
def test_decontaminate_impl_parity(spark, hj):
    """Vectorized (mapInPandas exploder) vs catalyst (explode_outer of
    word_shingles) decontamination must be bit-identical, including
    hash_join mode, empty-token edges, short docs, and NULL text."""
    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.operators.corpus import decontaminate

    rows = [
        (0, "a b a b a b", "eval"),
        (1, "", "eval"),
        (2, " lead and trail ", "train"),
        (3, "x  x  x", "eval"),           # doubled spaces → empty tokens
        (4, "a b a b extra words", "train"),
        (5, None, "eval"),
        (6, "q", "train"),
        (7, " lead and trail more", "eval"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pred = F.col("source") == "eval"
    vec = sorted(map(tuple, decontaminate(docs, pred, n=3, hash_join=hj).collect()))
    cat = sorted(map(tuple, catalyst_decontaminate(
        docs, pred, n=3, hash_join=hj).collect()))
    assert vec == cat


def test_pack_sequences_window_boundaries(spark):
    from lab_1806_vec_db_spark.operators.corpus import pack_sequences

    # shard A: 3+4+5 tokens, budget 6 -> offsets 0,3,7 -> seqs 0,0,1
    rows = [
        (0, "a b c", "A"),
        (1, "d e f g", "A"),
        (2, "h i j k l", "A"),
        (3, "x y", "B"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["part"], r["seq_id"]): r for r in pack_sequences(docs, budget=6).collect()}
    assert out[("A", 0)]["n_docs"] == 2 and out[("A", 0)]["n_tokens"] == 7
    assert out[("A", 1)]["n_docs"] == 1 and out[("A", 1)]["n_tokens"] == 5
    assert out[("B", 0)]["n_docs"] == 1 and out[("B", 0)]["n_tokens"] == 2


def test_corpus_ops_conservation_invariants(spark):
    import random

    from pyspark.sql import functions as F

    from lab_1806_vec_db_spark.operators.corpus import decontaminate, pack_sequences

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))),
         f"s{i % 3}")
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    out = pack_sequences(docs, budget=32).collect()
    # conservation: every doc lands in exactly one sequence, tokens add up
    assert sum(r["n_docs"] for r in out) == len(rows)
    assert sum(r["n_tokens"] for r in out) == sum(len(t.split(" ")) for _, t, _ in rows)
    # windows a doc merely spans (without starting in) carry no row, so
    # seq_ids need not be contiguous — but each must lie inside the
    # shard's token extent, starting at window 0
    part_tokens = {}
    for _, t, s in rows:
        part_tokens[s] = part_tokens.get(s, 0) + len(t.split(" "))
    by_part = {}
    for r in out:
        by_part.setdefault(r["part"], []).append(r["seq_id"])
    for part, seqs in by_part.items():
        assert min(seqs) == 0
        assert max(seqs) <= part_tokens[part] // 32

    dec = decontaminate(docs, F.col("source") == "s0", n=3).collect()
    assert all(0 <= r["n_hit"] <= r["n_grams"] for r in dec)
    assert all(0.0 <= r["ratio"] <= 1.0 for r in dec)

    # an eval doc duplicated verbatim in train must be fully contaminated
    dup = spark.createDataFrame(
        [(0, "a b c d e f", "eval"), (1, "a b c d e f", "train")],
        "doc_id long, text string, source string",
    )
    r = decontaminate(dup, F.col("source") == "eval", n=3).collect()[0]
    assert r["n_hit"] == r["n_grams"] and r["ratio"] == 1.0


def test_pack_sequences_duplicate_ids_use_rows_frame(spark):
    from lab_1806_vec_db_spark.operators.corpus import pack_sequences

    # duplicate doc_id within a shard: RANGE frame would sum both peers
    # into each other's offset; ROWS semantics packs them sequentially
    rows = [(0, "a b c", "A"), (0, "d e f g", "A"), (1, "h i", "A")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["seq_id"]: r for r in pack_sequences(docs, budget=4).collect()}
    assert out[0]["n_docs"] == 2 and out[0]["n_tokens"] == 7  # offsets 0,3
    assert out[1]["n_docs"] == 1 and out[1]["n_tokens"] == 2  # offset 7


def test_embedding_neardup_probe_exact_and_lsh(spark):
    from lab_1806_vec_db_spark.operators import dedup as D

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    new = spark.createDataFrame(
        [(10, [0.999, 0.01, 0.0]),   # near-dup of corpus 0
         (11, [0.6, 0.6, 0.52])],    # novel
        "vec_id long, embedding array<float>",
    )
    exact = {r["id"]: r for r in
             D.embedding_neardup_probe(new, corpus, threshold=0.1).collect()}
    assert exact[10]["n_matches"] == 1 and 0 <= exact[10]["min_dist"] <= 0.1
    assert exact[11]["n_matches"] == 0 and exact[11]["min_dist"] == -1.0

    planes = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    lsh = {r["id"]: r for r in
           D.embedding_neardup_probe(new, corpus, threshold=0.1, planes=planes).collect()}
    assert lsh[10]["n_matches"] == 1      # shares bucket '1x' with corpus 0
    assert lsh[11]["n_matches"] == 0      # novel stays novel


def test_hashing_embeddings_invariants(spark):
    import math

    from lab_1806_vec_db_spark.operators.corpus import hashing_embeddings

    docs = spark.createDataFrame(
        [(0, "a b c a"), (1, "a b c a"), (2, "z z z z z")],
        "doc_id long, text string, source string".replace(", source string", ""),
    )
    out = {r["doc_id"]: r["embedding"] for r in hashing_embeddings(docs, dim=8).collect()}
    assert all(len(v) == 8 for v in out.values())
    # identical docs -> identical embeddings; unit norm (to 4dp rounding)
    assert out[0] == out[1]
    for v in out.values():
        assert abs(math.sqrt(sum(x * x for x in v)) - 1.0) < 1e-3
    # single-token doc -> one-hot
    assert sorted(out[2]) == [0.0] * 7 + [1.0]


def test_chunk_documents_coverage_and_overlap(spark):
    from lab_1806_vec_db_spark.operators.corpus import chunk_documents

    toks = [f"t{i}" for i in range(150)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id bigint, text string")
    out = chunk_documents(df, chunk_tokens=64, overlap=16).orderBy("chunk_id").collect()
    # stride 48 over 150 tokens → starts 0, 48, 96, 144
    assert [r["chunk_id"] for r in out] == [0, 1, 2, 3]
    assert [r["n_tokens"] for r in out] == [64, 64, 54, 6]
    c0, c1 = out[0]["chunk_text"].split(" "), out[1]["chunk_text"].split(" ")
    assert c0 == toks[0:64] and c1 == toks[48:112]
    assert c0[48:] == c1[:16]          # the 16-token overlap
    covered = set()
    for r in out:
        covered.update(r["chunk_text"].split(" "))
    assert covered == set(toks)        # every token appears in some chunk


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from lab_1806_vec_db_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_bigram_stats_hand_counted(spark):
    from lab_1806_vec_db_spark.operators.corpus import bigram_stats

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")], "doc_id bigint, text string"
    )
    out = {r["pair"]: r["n"] for r in bigram_stats(df, top_k=10).collect()}
    assert out == {"a b": 3, "b a": 1, "b c": 1}


@pytest.mark.parametrize("impl", ["vectorized", "catalyst"])
def test_repetition_stats_hand_counted(spark, impl):
    from lab_1806_vec_db_spark.operators.corpus import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a b a b"),   # grams: ab a, ba b, ab a, ba b → 4 total, 2 distinct
         (2, "x y z w"),       # 2 grams, both distinct
         (3, "q r")],          # shorter than n → 0 grams
        "doc_id bigint, text string",
    )
    op = repetition_stats if impl == "vectorized" else catalyst_repetition_stats
    out = {r["doc_id"]: r for r in op(df, n=3).collect()}
    assert (out[1]["n_grams"], out[1]["n_distinct"], out[1]["rep_ratio"]) == (4, 2, 0.5)
    assert (out[2]["n_grams"], out[2]["n_distinct"], out[2]["rep_ratio"]) == (2, 2, 0.0)
    assert (out[3]["n_grams"], out[3]["n_distinct"], out[3]["rep_ratio"]) == (0, 0, 0.0)


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_repetition_stats_impl_parity(spark, n):
    """The vectorized (mapInPandas factorize+sort) and catalyst
    (per-row array expression) implementations must be bit-identical
    on adversarial tokenizations: empty strings, leading/trailing/
    doubled spaces (F.split keeps the empty tokens — so must
    str.split), single-token vocab, docs shorter than n, and a doc
    long enough to span Arrow batch math."""
    rows = [
        (1, "a b a b a b a"),
        (2, ""),                       # one empty token
        (3, " lead and trail "),       # empty first/last tokens
        (4, "x  x  x"),                # doubled spaces → empty tokens
        (5, "same same same same same same"),
        (6, "q"),                      # shorter than most n
        (7, " ".join(str(i % 7) for i in range(500))),
        (8, "tail a tail a tail"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    from lab_1806_vec_db_spark.operators.corpus import repetition_stats

    vec = sorted(map(tuple, repetition_stats(df, n=n).collect()))
    cat = sorted(map(tuple, catalyst_repetition_stats(df, n=n).collect()))
    assert vec == cat


import pytest as _pt


@_pt.mark.parametrize("chunk,overlap,n", [(8, 2, 20), (5, 0, 13), (16, 15, 40), (4, 1, 3)])
def test_chunk_documents_invariants(spark, chunk, overlap, n):
    """Invariants across parameter combos: chunk ids dense from 0,
    every token covered, each chunk ≤ chunk_tokens, consecutive chunks
    share exactly `overlap` tokens (except a short tail)."""
    from lab_1806_vec_db_spark.operators.corpus import chunk_documents

    toks = [f"w{i}" for i in range(n)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id bigint, text string")
    out = chunk_documents(df, chunk_tokens=chunk, overlap=overlap).orderBy("chunk_id").collect()
    stride = chunk - overlap
    assert [r["chunk_id"] for r in out] == list(range(len(out)))
    covered = []
    for i, r in enumerate(out):
        ct = r["chunk_text"].split(" ") if r["chunk_text"] else []
        assert len(ct) <= chunk and r["n_tokens"] == len(ct)
        assert ct == toks[i * stride: i * stride + chunk]
        covered.extend(ct)
    assert set(covered) == set(toks)


def test_decontaminate_short_eval_doc_reported(spark):
    from lab_1806_vec_db_spark.operators.corpus import decontaminate

    df = spark.createDataFrame(
        [(0, "a b", "src0"),                       # 2 tokens < n=3 → zero grams
         (1, "x y z w v", "src0"),
         (2, "x y z q r", "src1")],
        "doc_id bigint, text string, source string",
    )
    out = {r["doc_id"]: r for r in
           decontaminate(df, F.col("source") == "src0", n=3).collect()}
    assert out[0]["n_grams"] == 0 and out[0]["n_hit"] == 0 and out[0]["ratio"] == 0.0
    assert out[1]["n_grams"] == 3 and out[1]["n_hit"] == 1  # 'x y z' leaks
    # hash_join path agrees, including the zero-gram doc
    out_h = {r["doc_id"]: tuple(r)[1:] for r in
             decontaminate(df, F.col("source") == "src0", n=3, hash_join=True).collect()}
    assert out_h == {k: tuple(v)[1:] for k, v in out.items()}


def test_pack_sequences_duplicate_ids_deterministic(spark):
    from lab_1806_vec_db_spark.operators.corpus import pack_sequences

    rows = [(1, " ".join(["w"] * 30), "s"), (1, " ".join(["v"] * 40), "s")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    outs = set()
    for nparts in (1, 2, 3):
        out = tuple(sorted(
            tuple(r) for r in pack_sequences(df.repartition(nparts), budget=35).collect()
        ))
        outs.add(out)
    assert len(outs) == 1   # identical across partition layouts


def test_select_representatives_quality_and_ties(spark):
    from lab_1806_vec_db_spark.operators.dedup import select_representatives

    rows = [
        # cluster "a": quality favors doc 11 over the lower-id doc 10
        (10, "a", 0.3),
        (11, "a", 0.9),
        (12, "a", 0.5),
        # cluster "b": quality tie -> min id wins
        (20, "b", 0.7),
        (21, "b", 0.7),
        # singleton cluster
        (30, "c", 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, ck string, quality double")
    out = {
        r["ck"]: r
        for r in select_representatives(df, "ck", "quality").collect()
    }
    assert out["a"]["rep_id"] == 11 and out["a"]["rep_quality"] == 0.9
    assert out["a"]["n_members"] == 3
    assert out["b"]["rep_id"] == 20 and out["b"]["n_members"] == 2
    assert out["c"]["rep_id"] == 30 and out["c"]["n_members"] == 1


def test_stratified_sample_exact_quotas_and_determinism(spark):
    from lab_1806_vec_db_spark.operators.corpus import stratified_sample

    rows = [(i, f"src{i % 3}") for i in range(100)]  # strata of 34/33/33
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_sample(df, 0.2, strata_col="source").collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    import math

    assert sorted(by_src) == ["src0", "src1", "src2"]
    assert len(by_src["src0"]) == math.ceil(0.2 * 34) == 7
    assert len(by_src["src1"]) == math.ceil(0.2 * 33) == 7
    assert len(by_src["src2"]) == 7
    # deterministic: a second run returns the identical sample
    out2 = stratified_sample(df, 0.2, strata_col="source").collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in out2)
    # frac=1.0 keeps everything
    assert stratified_sample(df, 1.0, strata_col="source").count() == 100


def test_unigram_logprob_hand_computed(spark):
    import math

    from lab_1806_vec_db_spark.operators.corpus import unigram_logprob_scores

    # corpus: 6 tokens total — "a" x3, "b" x2, "c" x1
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a b c")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in unigram_logprob_scores(df).collect()}
    lp = {"a": math.log(3 / 6), "b": math.log(2 / 6), "c": math.log(1 / 6)}
    exp0 = round((lp["a"] + lp["a"] + lp["b"]) / 3, 4)
    exp1 = round((lp["a"] + lp["b"] + lp["c"]) / 3, 4)
    assert out[0]["avg_logprob"] == pytest.approx(exp0, abs=1e-9)
    assert out[1]["avg_logprob"] == pytest.approx(exp1, abs=1e-9)
    assert out[0]["n_tok"] == 3 and out[1]["n_tok"] == 3
    # the common-token doc scores higher (less negative) than the rare-token doc
    assert out[0]["avg_logprob"] > out[1]["avg_logprob"]


@pytest.mark.parametrize("seed", [0, 7])
def test_stratified_and_representatives_match_pandas_reference(spark, seed):
    """Randomized parity against independent pandas reference
    implementations: quota exactness per stratum for stratified_sample,
    and (quality desc, id asc) argmax for select_representatives."""
    import hashlib
    import math

    import numpy as np
    import pandas as pd

    from lab_1806_vec_db_spark.operators.corpus import stratified_sample
    from lab_1806_vec_db_spark.operators.dedup import select_representatives

    rng = np.random.default_rng(seed)
    n = 200
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "source": [f"s{int(x)}" for x in rng.integers(0, 5, n)],
            "quality": np.round(rng.random(n), 2),
        }
    )
    df = spark.createDataFrame(pdf)
    frac = float(rng.choice([0.1, 0.33, 0.5]))

    got = {
        r["doc_id"]
        for r in stratified_sample(df, frac, strata_col="source").collect()
    }
    exp = set()
    for _, grp in pdf.groupby("source"):
        keys = sorted(
            grp["doc_id"],
            key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
        )
        exp |= set(keys[: math.ceil(frac * len(grp))])
    assert got == exp

    reps = {
        r["source"]: (r["rep_id"], r["rep_quality"], r["n_members"])
        for r in select_representatives(df, "source", "quality").collect()
    }
    for src, grp in pdf.groupby("source"):
        best = grp.sort_values(
            ["quality", "doc_id"], ascending=[False, True]
        ).iloc[0]
        assert reps[src] == (
            best["doc_id"],
            pytest.approx(best["quality"]),
            len(grp),
        )


def test_token_budget_sample_quota_semantics(spark):
    from lab_1806_vec_db_spark.operators.corpus import token_budget_sample

    rows = [
        (0, "a", "one two three"),          # 3 tokens
        (1, "a", "x " * 10),                # 10 tokens
        (2, "a", "y y"),                    # 2 tokens
        (3, "b", "w " * 50),                # 50 tokens — alone over budget
        (4, "c", "z"),                      # 1 token
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r["n_tokens"] for r in token_budget_sample(df, 12).collect()}
    # stratum a: md5 order determines which subset fits in 12 tokens;
    # the kept set's total must be <= 12 and maximal under the order
    import hashlib

    order = sorted([0, 1, 2], key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    toks = {0: 3, 1: 10, 2: 2}
    cum, expect_a = 0, set()
    for i in order:
        cum += toks[i]
        if cum <= 12:
            expect_a.add(i)
        else:
            break
    assert {i for i in out if i in (0, 1, 2)} == expect_a
    assert 3 not in out          # 50 tokens > budget: stratum b contributes nothing
    assert out.get(4) == 1       # stratum c fits entirely
    total_a = sum(v for i, v in out.items() if i in (0, 1, 2))
    assert total_a <= 12
