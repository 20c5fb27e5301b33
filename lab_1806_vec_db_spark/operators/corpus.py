"""End-to-end corpus cleaning — the composition every LLM training-data
pipeline runs, as one declarative DataFrame transform:

    score (lang-ID + quality, map-only Catalyst)
      → filter (keep docs in ``lang`` above the quality floor;
        the predicate applies before any shuffle)
      → exact dedup (one content-hash shuffle, map-side combine)
      → canonical selection (min id per content group).

Each stage reuses an operator that has its own oracle-gated registry
entry (text_lang_quality, dedup_exact_groups); the composed form is
gated end-to-end by the ``corpus_clean`` entry
(plans/pipeline_queries.py).

Plan shape at 100 TB: the scoring expressions fuse with the filter into
the scan stage (whole-stage codegen — zero Python); the ONLY shuffle is
the md5 groupBy — quality rides through the aggregate (identical text ⇒
identical score, so min(quality) is the canonical row's), so there is
no join back and the corpus is scanned exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions import text as T


def clean_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str | None = "en",
    min_quality: float = 0.5,
) -> DataFrame:
    """Score → filter → dedup → canonicalize. Returns one row per
    surviving canonical document: ``(id, n_copies, quality)``.

    ``lang=None`` skips the language filter; ``min_quality`` is the
    floor on :func:`~lab_1806_vec_db_spark.functions.text.quality_score`
    (already 4-dp rounded, oracle-stable).
    """
    # token array split once (its own projection, multi-consumer alias)
    # — lang_id + quality_score together fold over it ~9 times
    scored = docs.select(
        id_col, text_col, T.tokens(text_col).alias("__toks")
    ).select(
        id_col, text_col,
        T.lang_id_from_tokens(F.col("__toks")).alias("lang_pred"),
        T.quality_score_from_tokens(F.col("__toks")).alias("quality"),
    )
    kept = scored.filter(F.col("quality") >= float(min_quality))
    if lang is not None:
        kept = kept.filter(F.col("lang_pred") == lang)
    # quality travels THROUGH the dedup aggregate: every row in an md5
    # group has identical text, hence an identical quality score, so
    # min(quality) IS the canonical row's quality — no join back (which
    # would re-run the scoring pass over the whole corpus a second time
    # through lineage) and no second scan
    return kept.groupBy(F.md5(F.col(text_col)).alias("content_hash")).agg(
        F.min(id_col).alias(id_col),
        F.count("*").alias("n_copies"),
        F.min("quality").alias("quality"),
    ).select(id_col, "n_copies", "quality")


def pack_sequences(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Concatenate-then-chunk sequence packing — how pretraining data
    is laid into fixed-size context windows: within each ``part_col``
    shard, documents are concatenated in ``id_col`` order and the token
    stream is cut every ``budget`` tokens; a document belongs to the
    window its first token lands in (``seq_id = floor(offset/budget)``).
    Returns one row per packed sequence: ``(part, seq_id, n_docs,
    n_tokens)``.

    Plan shape at 100 TB: ONE window pass partitioned by the shard key
    (never a global order-by — packing is per-shard by construction, so
    every partition packs independently) followed by one keyed
    aggregation; the rollup adds a second (part, seq_id) exchange, but
    partial aggregation runs before it, so it carries one row per
    packed sequence per task, not per document."""
    from pyspark.sql import Window

    n_tok = T.token_count(text_col)
    # explicit ROWS frame: the default RANGE frame sums duplicate
    # id_col values as peers, which breaks concatenate-in-id-order
    # semantics when ids repeat within a shard (e.g. per-file ordinals)
    # tiebreak on (token count, text) after id: with duplicate ids the
    # ROWS frame needs a TOTAL order or peer order (and thus offsets /
    # seq assignment) follows partition layout — nondeterministic
    w = (
        Window.partitionBy(part_col)
        .orderBy(F.col(id_col).asc(), n_tok.asc(), F.col(text_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = docs.select(
        F.col(part_col).alias("part"),
        F.col(id_col),
        n_tok.alias("n_tokens"),
        (F.sum(n_tok).over(w) - n_tok).alias("offset"),
    )
    return (
        offs.withColumn("seq_id", F.floor(F.col("offset") / budget).cast("bigint"))
        .groupBy("part", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def mix_sample(
    docs: DataFrame,
    rates: dict[str, int],
    default_pct: int = 0,
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Deterministic data-mixture sampling: keep a document iff
    ``hash32(id) % 100 < rates[source]`` — the reproducible,
    shuffle-free way to hit per-source mixing ratios (seeded RNG
    sampling is engine-specific; a content-keyed hash gate is not).
    Map-only: the predicate fuses into the scan, no shuffle at all.
    ``rates`` maps ``part_col`` values to keep-percentages; unlisted
    sources fall back to ``default_pct``."""
    rate = F.lit(int(default_pct))
    for src, pct in sorted(rates.items()):
        rate = F.when(F.col(part_col) == src, F.lit(int(pct))).otherwise(rate)
    gate = F.pmod(T.hash32(F.col(id_col).cast("string")), F.lit(100)) < rate
    return docs.filter(gate)


def stratified_sample(
    docs: DataFrame,
    frac: float,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-quota stratified sampling: keep ``ceil(frac * n)`` rows
    from EVERY stratum — the mixture-building primitive when quotas
    must be met exactly (``mix_sample``'s hash gate only hits rates in
    expectation, which is fine for mixing but not for "exactly 10k
    eval docs per domain").

    Deterministic and engine-portable: rows rank within their stratum
    by ``md5(id)`` (a content-keyed pseudo-random order — hex strings
    compare identically everywhere), and the first ``ceil(frac * n)``
    ranks win. Re-running on the same table returns the same sample.

    Plan: ONE shuffle on the stratum key feeding two window functions
    over the same (partition, order) spec — Catalyst computes both in
    a single Window node, no second sort. At 100 TB the per-stratum
    sort is the cost; strata are domains/sources (thousands of rows to
    low billions, spread over many partitions by the range-partitioned
    window sort), and a skewed mega-stratum degrades to a single-key
    sort exactly like any global-rank query would."""
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    wn = Window.partitionBy(strata_col)
    ranked = docs.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(wn)
    )
    keep = F.col("_rk") <= F.ceil(F.lit(float(frac)) * F.col("_n"))
    return ranked.filter(keep).drop("_rk", "_n")


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    strata_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mixture building by TOKEN quota: keep documents from each
    stratum — in deterministic ``md5(id)`` pseudo-random order — while
    the stratum's cumulative token count stays within
    ``budget_tokens``. Real training mixtures are specified in tokens,
    not document counts (a 10k-doc quota of tweets and one of books
    differ by 100× in tokens); this is the doc-count
    :func:`stratified_sample`'s token-denominated sibling.

    A document is kept iff the running total INCLUDING it is within
    budget (so a stratum whose first document alone exceeds the budget
    contributes nothing — quota semantics, not truncation). Output is
    the surviving rows plus their ``n_tokens``.

    Plan: identical shape to :func:`stratified_sample` — ONE shuffle on
    the stratum key, a running-sum window over the md5 order, and a
    map-side filter; same skew story (a mega-stratum degrades to a
    single-key sort; salt if one stratum dominates)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = F.size(F.filter(T.tokens(text_col), lambda t: t != ""))
    out = docs.withColumn("n_tokens", n_tok.cast("bigint")).withColumn(
        "_cum", F.sum("n_tokens").over(w)
    )
    return out.filter(F.col("_cum") <= int(budget_tokens)).drop("_cum")


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Perplexity-proxy quality scoring from a corpus-trained unigram
    LM — the classic cheap "does this look like natural text" filter
    (a real KenLM is out of scope; the unigram bound is the standard
    engine-side stand-in). Two passes over the token stream:

    1. vocabulary: token → count, plus the corpus total (one
       map-combined hash aggregate);
    2. scoring: re-explode, join each token to its corpus logprob
       ``ln(count / total)``, and average per document.

    Output: ``(id_col, avg_logprob, n_tok)`` — higher (less negative)
    avg_logprob = more typical text; gibberish and boilerplate-free
    rare-token soup score low.

    Plan: the vocab aggregate shuffles one row per distinct token per
    task (map-side combine); the scoring join is keyed on token —
    Catalyst broadcasts the vocab when it fits (sf-scale) and falls
    back to a shuffle-hash join at corpus scale, which co-partitions
    with the next aggregate's doc-key shuffle. Zipf makes hot tokens
    ("the") skewed, but the join is build-side-small per key (one vocab
    row), so no row explosion — only the final per-doc agg shuffles
    document-sized data."""
    toks = docs.select(
        F.col(id_col), F.explode(T.tokens(text_col)).alias("_t")
    ).filter(F.col("_t") != "")
    vocab = toks.groupBy("_t").agg(F.count("*").alias("_c"))
    total = vocab.agg(F.sum("_c").alias("_n"))
    scored = toks.join(vocab, "_t").crossJoin(F.broadcast(total))
    return (
        scored.groupBy(id_col)
        .agg(
            (F.round(F.avg(F.log(F.col("_c") / F.col("_n"))), 4) + F.lit(0.0)).alias(
                "avg_logprob"
            ),
            F.count("*").alias("n_tok"),
        )
    )


def hashing_embeddings(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing text embeddings (the hashing-trick vectorizer):
    token t increments bucket ``hash32(t) % dim``; the count vector is
    L2-normalized. Deterministic, vocabulary-free, engine-portable —
    the standard cheap embedder for near-dup screens and clustering
    when no model embeddings exist (and the plumbing twin of a real
    embedding UDF: same schema, same downstream operators).

    Built in the aggregate shape (explode → one hash per token →
    groupBy), NOT as ``dim`` filtered scans of the token array — the
    same duplicated-lambda pathology fixed in minhash_signatures.
    Plan: two keyed shuffles; the second carries ≤dim entries per doc.
    ``id_col`` is the document key (rows sharing an id merge)."""
    toked = docs.select(F.col(id_col), F.explode(T.tokens(text_col)).alias("_t"))
    counts = (
        toked.select(id_col, F.pmod(T.hash32(F.col("_t")), F.lit(dim)).alias("_b"))
        .groupBy(id_col, "_b")
        .agg(F.count("*").cast("double").alias("_c"))
    )
    vecs = (
        counts.groupBy(id_col)
        .agg(F.map_from_entries(F.collect_list(F.struct("_b", "_c"))).alias("_m"))
        .select(
            id_col,
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("bigint")), F.lit(0.0)),
            ).alias("_raw"),
        )
    )
    norm = F.sqrt(F.aggregate("_raw", F.lit(0.0), lambda a, x: a + x * x))
    return vecs.select(
        id_col,
        F.transform(
            F.col("_raw"),
            lambda x: F.round(x / F.greatest(norm, F.lit(1e-10)), 4) + F.lit(0.0),
        ).alias("embedding"),
    )


def _exploded_grams_batches(n: int, id_col: str, text_col: str):
    """mapInPandas body for the vectorized gram exploder: one output
    row per DISTINCT word ``n``-gram per document (``str.split(" ")``
    matches ``F.split(text, " ")`` — empties kept, join with a single
    space matches ``concat_ws``), plus one NULL-gram sentinel row for
    docs shorter than ``n`` tokens (the ``explode_outer`` contract).
    ~2.7× the Catalyst slice+concat_ws explode, which materializes
    every gram as a Java string through the array builder first."""
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            ids_out: list = []
            grams_out: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                toks = t.split(" ") if isinstance(t, str) else []
                if len(toks) < n:
                    ids_out.append(i)
                    grams_out.append(None)
                    continue
                gs = {" ".join(toks[s:s + n]) for s in range(len(toks) - n + 1)}
                ids_out.extend([i] * len(gs))
                grams_out.extend(gs)
            yield pd.DataFrame({id_col: ids_out, "gram": grams_out})

    return fn


def decontaminate(
    docs: DataFrame,
    eval_pred,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_join: bool = False,
) -> DataFrame:
    """Train/eval decontamination screen: for every document matching
    ``eval_pred`` (the held-out/eval split), the fraction of its
    distinct word ``n``-grams that also occur anywhere in the train
    split (the complement). Returns ``(id, n_grams, n_hit, ratio)``;
    rank by ``ratio`` (or threshold it) to drop contaminated eval docs
    — the standard benchmark-leakage check an LLM training pipeline
    runs before training.

    Plan shape at 100 TB: the split predicate applies BEFORE gram
    expansion on both sides, so each side's parquet scan reads only
    its split (PushedFilters — gated in tests/test_plans.py); n-gram
    expansion is map-only, an Arrow-batched ``mapInPandas``
    (tests/test_dedup_text.py keeps the pure-Catalyst explode of
    ``word_shingles`` as its bit-identity reference); the train-side
    ``distinct`` is one shuffle with map-side combine; the probe is a
    shuffle join on the gram key (never broadcast — the train gram set is the big side).
    ``hash_join=True`` joins on ``xxhash64(gram)`` instead of the
    string — a much narrower shuffle at a ~2^-64 per-pair false-hit
    risk, the right trade at scale (exact strings are kept for the
    oracle-gated entry)."""
    id_type = dict(docs.dtypes)[id_col]
    fn = _exploded_grams_batches(n, id_col, text_col)
    schema = f"{id_col} {id_type}, gram string"
    ev = (
        docs.filter(eval_pred)
        .select(id_col, text_col)
        .mapInPandas(fn, schema=schema)
    )
    train = (
        docs.filter(~eval_pred)
        .select(id_col, text_col)
        .mapInPandas(fn, schema=schema)
        # drop the short-doc sentinel: a NULL join key never
        # matches, so pruning it here only shrinks the distinct
        .filter(F.col("gram").isNotNull())
        .select("gram")
    )
    return _gram_hit_ratio(ev, train, id_col, hash_join)


def _gram_hit_ratio(ev: DataFrame, train: DataFrame, id_col: str,
                    hash_join: bool) -> DataFrame:
    """The probe half of :func:`decontaminate`: ``ev`` is ``(id, gram)``
    with a NULL gram for an eval doc that has none, ``train`` the train
    side's ``gram`` column. Returns ``(id, n_grams, n_hit, ratio)``."""
    if hash_join:
        # keep NULL (the no-grams sentinel) NULL: xxhash64(NULL) is the
        # SEED, which would collide with a train-side null-hash
        ev = ev.select(
            id_col,
            F.when(F.col("gram").isNotNull(), F.xxhash64("gram")).alias("gram"),
        )
        train = train.select(
            F.when(F.col("gram").isNotNull(), F.xxhash64("gram")).alias("gram")
        )
    train = train.distinct()
    joined = ev.join(train.withColumn("_hit", F.lit(1)), "gram", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            # count(gram), not count(*): the explode_outer sentinel row
            # of a short doc must read as ZERO grams, not one
            F.count("gram").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(
                F.count("gram") > 0,
                F.round(
                    F.coalesce(F.sum("_hit"), F.lit(0)).cast("double")
                    / F.count("gram"), 4
                ),
            ).otherwise(F.lit(0.0)).alias("ratio"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the embedding-prep step of a
    RAG / training pipeline: each document becomes overlapping
    ``chunk_tokens``-token windows with ``overlap`` tokens shared
    between neighbors (stride = chunk_tokens - overlap; the final
    window may be shorter, every token is covered).

    Pure Catalyst: tokenize → ``sequence`` of window starts →
    ``posexplode`` → ``slice`` — map-only, zero shuffle, fuses into
    the scan at any corpus size. Output: (id, chunk_id, chunk_text,
    n_tokens), chunk_id 0-based in document order.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride))
    out = (
        docs.select(F.col(id_col), toks.alias("__toks"), starts.alias("__starts"))
        .select(
            id_col,
            F.posexplode("__starts").alias("chunk_id", "__start"),
            F.col("__toks"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("__toks"), F.col("__start") + 1, chunk_tokens), " "
            ).alias("chunk_text"),
            F.least(
                F.size(F.col("__toks")) - F.col("__start"), F.lit(chunk_tokens)
            ).cast("bigint").alias("n_tokens"),
        )
    )
    return out


def bigram_stats(
    docs: DataFrame,
    top_k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """Top adjacent-token pair frequencies over the corpus — the
    counting step of BPE-style vocabulary induction and collocation
    mining. Map-side pair expansion (zip the token list with its own
    tail — pure Catalyst), ONE hash-aggregate shuffle with map-side
    partial counts, k-bounded TakeOrdered."""
    toks = F.split(F.col(text_col), " ")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(top_k)
    )


def _repetition_ratio_expr() -> F.Column:
    """The 4-dp half-up repetition ratio from the (n_grams, n_distinct)
    columns — ALWAYS evaluated by Catalyst so repetition_stats, its
    Catalyst reference in tests/test_dedup_text.py and the DuckDB
    oracle (whose round matches Spark's HALF_UP on doubles) share
    bit-identical rounding."""
    ng, nd = F.col("n_grams"), F.col("n_distinct")
    return F.when(
        ng > 0,
        F.round(F.lit(1.0) - nd.cast("double") / ng, 4) + F.lit(0.0),
    ).otherwise(F.lit(0.0))


def _repetition_counts_batches(n: int, id_col: str, text_col: str):
    """mapInPandas body for the vectorized repetition path: per Arrow
    batch, factorize every token of the batch (token identity is
    per-doc, so a batch-local vocabulary is exact), lay the code
    sequence out flat, and count per-doc total / distinct ``n``-grams
    with one vectorized sort — no per-row Python loops beyond
    ``str.split`` (which matches ``F.split(text, " ")``: a literal
    single-space pattern with limit -1 keeps leading/trailing
    empties in both engines)."""
    import itertools

    import numpy as np
    import pandas as pd

    def fn(batches):
        for pdf in batches:
            n_rows = len(pdf)
            ng = np.zeros(n_rows, dtype=np.int64)
            nd = np.zeros(n_rows, dtype=np.int64)
            if n_rows:
                toks = [
                    t.split(" ") if isinstance(t, str) else []
                    for t in pdf[text_col]
                ]
                lens = np.fromiter(
                    (len(t) for t in toks), dtype=np.int64, count=n_rows
                )
                elig = lens >= n
                ng[elig] = lens[elig] - (n - 1)
                flat = np.asarray(
                    list(
                        itertools.chain.from_iterable(
                            t for t, e in zip(toks, elig) if e
                        )
                    ),
                    dtype=object,
                )
                if len(flat) >= n:
                    codes, vocab = pd.factorize(flat)
                    codes = codes.astype(np.int64, copy=False)
                    doc_idx = np.repeat(np.nonzero(elig)[0], lens[elig])
                    m = len(codes) - (n - 1)
                    # a gram is valid only when it doesn't straddle a
                    # document boundary in the flat layout
                    valid = doc_idx[:m] == doc_idx[n - 1 :]
                    cols = [doc_idx[:m][valid]] + [
                        codes[k : m + k][valid] for k in range(n)
                    ]
                    v = int(len(vocab))
                    # pack (doc, c0..c{n-1}) into ONE int64 when the
                    # mixed-radix product fits — a plain int64 sort is
                    # ~30× a structured-dtype unique
                    if v > 0 and n_rows * (v**n) < (1 << 62):
                        key = cols[0]
                        for c in cols[1:]:
                            key = key * v + c
                        uniq_doc = np.unique(key) // (v**n)
                    else:
                        arr = np.ascontiguousarray(
                            np.column_stack(cols), dtype=np.int64
                        )
                        view = arr.view(
                            [(f"f{i}", np.int64) for i in range(n + 1)]
                        ).ravel()
                        uniq_doc = np.unique(view)["f0"]
                    nd = np.bincount(
                        uniq_doc.astype(np.int64), minlength=n_rows
                    ).astype(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "n_grams": ng, "n_distinct": nd[:n_rows]}
            )

    return fn


def repetition_stats(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document repetition signal — the corpus-cleaning filter
    that catches boilerplate/spam: fraction of the document's word
    ``n``-grams that are repeats (1 - distinct/total). Returns
    (id, n_grams, n_distinct, rep_ratio); docs shorter than ``n``
    tokens report 0 grams and ratio 0.0.

    Grams are counted in an Arrow-batched ``mapInPandas`` (batch-local
    factorize + one int64 sort per batch — ~10× the constant factor of
    the pure-Catalyst form, which spends its time materializing every
    gram as a Java string; tests/test_dedup_text.py keeps that form as
    the bit-identity reference). It is map-only with zero shuffle — at
    100 TB a single scan stage — and the ratio is one Catalyst
    expression, bit-identical to the DuckDB oracle."""
    id_type = dict(docs.dtypes)[id_col]
    counts = docs.select(id_col, text_col).mapInPandas(
        _repetition_counts_batches(n, id_col, text_col),
        schema=f"{id_col} {id_type}, n_grams bigint, n_distinct bigint",
    )
    return counts.select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("n_distinct"),
        _repetition_ratio_expr().alias("rep_ratio"),
    )


def line_dedup(
    docs: DataFrame,
    max_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    join_sep: str | None = None,
    broadcast_boiler: bool = True,
) -> DataFrame:
    """Corpus-wide repeated-line (boilerplate) removal — the
    sub-document dedup stage between exact whole-doc dedup and fuzzy
    MinHash: a line that appears in more than ``max_df`` DISTINCT
    documents (headers, footers, nav bars, license blurbs) is removed
    from every document that contains it, preserving the order of the
    surviving lines.

    Returns one row per input document:
    ``(id, n_lines, n_kept, clean_text)`` — ``clean_text`` is the
    document rebuilt from its surviving lines in original order
    (empty string when every line was boilerplate).

    Plan shape at 100 TB: ``posexplode`` is map-only; line
    document-frequency is ONE shuffle keyed by the line (partial
    count-distinct map-side). The boilerplate set — lines with
    ``df > max_df`` — is SMALL by construction (bounded by
    total_lines / max_df, in practice the corpus's boilerplate
    vocabulary), so the removal is a broadcast ANTI-join: the exploded
    big side is never shuffled a second time. The rebuild is one agg
    shuffle keyed by ``id`` . ``broadcast_boiler=False`` drops the
    hint for a pathological corpus whose boilerplate set outgrows the
    broadcast cap (AQE then picks the strategy).

    ``sep`` is a Java regex (`F.split` semantics); ``join_sep`` is the
    LITERAL separator used to rebuild (defaults to ``sep``, which is
    correct whenever ``sep`` is a plain character like ``"\\n"``).
    """
    rejoin = sep if join_sep is None else join_sep
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct(id_col).alias("line_df"))
        .filter(F.col("line_df") > int(max_df))
        .select("line")
    )
    if broadcast_boiler:
        boiler = F.broadcast(boiler)
    kept = lines.join(boiler, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            rejoin,
        ).alias("clean_text"),
    )
    totals = docs.select(
        F.col(id_col), F.size(F.split(F.col(text_col), sep)).alias("n_lines")
    )
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines").cast("bigint"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )
