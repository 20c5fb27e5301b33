"""Deduplication operators for training-data pipelines.

North-star extensions beyond the reference surface (SURVEY §2.8): the
dedup family every large-scale LLM data pipeline runs over a
``documents`` table, each designed around its shuffle:

- **exact dedup**: one hash-groupBy — a single shuffle on a 128-bit
  content hash; the canonical winner is ``min(id)`` per hash.
- **MinHash + LSH**: shingle → 32-bit hashes → per-permutation min →
  band → bucket join. Candidate pairs come from a shuffle on
  ``(band_id, bucket_hash)`` keys — NEVER an all-pairs product. At
  100 TB the only quadratic term is within-bucket, which banding keeps
  tiny (the standard MMDS ch.3 LSH construction).
- **SimHash**: 32-bit sign-aggregated token-hash fingerprint; near-dup
  candidates join on identical fingerprints (or banded nibbles for
  hamming tolerance).
- **n-gram Jaccard**: the verification metric — exact set overlap over
  word shingles, evaluated on candidate pairs only (or a bounded
  subset for the oracle).
- **embedding cosine near-dup**: exact all-pairs on a bounded subset;
  random-hyperplane LSH bucketing as the scale path (Charikar's
  SimHash for vectors — bucket key = sign-bit string of projections).

Hashes are the md5-prefix 32-bit form (functions/text.py:hash32) so
the DuckDB correctness oracle reproduces every value bit-for-bit.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lab_1806_vec_db_spark.functions.distance import dist_expr
from lab_1806_vec_db_spark.functions.text import hash32, tokens
from lab_1806_vec_db_spark.operators.knn import np_round_half_up, round_dist


# ---- exact dedup -----------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical content: ``(content_hash, canonical_id, n_copies)``.
    One shuffle, map-side partial aggregation. Canonical = min(id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def select_representatives(
    df: DataFrame,
    cluster_col: str,
    quality_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one canonical document per duplicate cluster — the step
    AFTER dedup grouping in a training pipeline: instead of keeping an
    arbitrary member (min-id), keep the highest-quality one.

    Output: ``(cluster_col, rep_id, rep_quality, n_members)``, one row
    per cluster. Representative = max quality, ties to min id —
    deterministic across engines.

    Plan: one shuffle on the cluster key, then a single aggregate over
    a (quality, -id) ordering struct. Struct-typed max has no primitive
    agg buffer, so Catalyst picks SortAggregate rather than
    HashAggregate — still partial map-side (one candidate struct per
    cluster per task crosses the wire, never the members) at the cost
    of a per-task sort on the cluster key; no window function and no
    second pass over the members. Survives skew the same way any keyed
    agg does: a pathological giant cluster is one hot key; AQE skew
    handling splits it."""
    ordk = F.struct(
        F.col(quality_col).alias("q"), (-F.col(id_col)).alias("nid")
    )
    best = F.max(ordk)
    return df.groupBy(cluster_col).agg(
        (-best.getField("nid")).alias("rep_id"),
        best.getField("q").alias("rep_quality"),
        F.count("*").alias("n_members"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row per distinct content (the canonical
    min-id row). A semi-join against the winners — broadcast when the
    winner set is small, shuffle-hash otherwise (Catalyst's call)."""
    winners = exact_dedup_groups(df, text_col, id_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(winners, id_col, "semi")


# ---- shingling -------------------------------------------------------------


def word_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (shingles) of a document. Built with
    ``sequence`` + ``slice`` — pure Catalyst, map-only."""
    text = F.col(text) if isinstance(text, str) else text
    toks = tokens(text)
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    )


def jaccard(a: Column, b: Column) -> Column:
    """|a ∩ b| / |a ∪ b| over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact pairwise n-gram Jaccard over all pairs of ``df`` —
    quadratic by definition; use on bounded candidate sets (post-LSH)
    or bounded subsets. Output: (id_a, id_b, jaccard), id_a < id_b."""
    sh = df.select(F.col(id_col), word_shingles(text_col, n).alias("sh"))
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    out = pairs.select(
        "id_a", "id_b", (F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4) + F.lit(0.0)).alias("jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# ---- MinHash + LSH ---------------------------------------------------------


#: affine-permutation constants for MinHash: sig_j = min over shingles
#: of (A_j·h + B_j) mod P, with h = hash32(shingle). P is the first
#: prime above 2^32, so A_j·h + B_j < 2^21·2^32 + 2^32 < 2^63 — exact
#: in BIGINT on both Spark and DuckDB (no wraparound, no float).
MINHASH_P = 4294967311


def minhash_perm_consts(j: int) -> tuple[int, int]:
    return 1 + 103_969 * j, 12_345 + 791 * j


def _minhash_row_sig_batches(n: int, num_hashes: int, id_col: str, text_col: str):
    """mapInPandas body for the vectorized MinHash path: per Arrow
    batch, shingle each row in Python (``str.split(" ")`` matches
    ``F.split(text, " ")`` — literal single-space pattern, empties
    kept), md5-hash each DISTINCT shingle once (`hashlib` md5 prefix
    == functions/text.py:hash32 bit-for-bit), then all ``num_hashes``
    affine permutations collapse to one numpy (num_hashes × shingles)
    min — no per-permutation Python loop. A batch-local hash cache
    dedups repeated shingles across rows.

    Rows with no shingles emit the ``MINHASH_P`` sentinel (an affine
    value is always < P, so the sentinel can't collide); the caller's
    min-aggregate turns surviving sentinels into the -1 contract
    value. Exact: a_max·h + b < 2^21·2^32 + 2^32 < 2^63 — int64-safe,
    same bound the Catalyst form relies on."""
    import hashlib

    import numpy as np
    import pandas as pd

    consts = [minhash_perm_consts(j) for j in range(num_hashes)]
    A = np.array([c[0] for c in consts], dtype=np.int64)[:, None]
    B = np.array([c[1] for c in consts], dtype=np.int64)[:, None]

    def fn(batches):
        cache: dict[str, int] = {}

        def h32(g: str) -> int:
            v = cache.get(g)
            if v is None:
                v = cache[g] = int.from_bytes(
                    hashlib.md5(g.encode("utf-8")).digest()[:4], "big"
                )
            return v

        for pdf in batches:
            sigs = np.full((len(pdf), num_hashes), MINHASH_P, dtype=np.int64)
            for i, t in enumerate(pdf[text_col]):
                toks = t.split(" ") if isinstance(t, str) else []
                if len(toks) < n:
                    continue
                sh = {" ".join(toks[s:s + n]) for s in range(len(toks) - n + 1)}
                hs = np.fromiter((h32(g) for g in sh), dtype=np.int64, count=len(sh))
                sigs[i] = ((A * hs[None, :] + B) % MINHASH_P).min(axis=1)
            out = {id_col: pdf[id_col]}
            for j in range(num_hashes):
                out[f"_s{j}"] = sigs[:, j]
            yield pd.DataFrame(out)

    return fn


def minhash_signatures(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash signatures: hash each shingle ONCE (md5-prefix), then
    every permutation is a cheap affine map collapsed by ``min`` — 1
    cryptographic hash per shingle instead of ``num_hashes`` (the
    classic a·h+b universal-hash construction).

    ``id_col`` is the document KEY: rows sharing an id are fingerprinted
    as one merged document (union of shingle sets ≡ elementwise min of
    per-row signatures).

    Per-row signatures come from an Arrow-batched ``mapInPandas`` (one
    numpy min over the affine plane per row, batch-local md5 cache) —
    ~2× the constant factor of the pure-Catalyst explode → hash →
    min-agg form, which pays to materialize every shingle as a Java
    string; tests/test_dedup_text.py keeps that form as the bit-identity
    reference. The rows end in one groupBy(id) min-aggregate whose
    map-side partials collapse each task's rows to ≤num_hashes ints per
    doc — at 100 TB the one shuffle carries signatures, never shingles.
    Empty docs (fewer than ``n`` tokens) report the all--1 sentinel."""
    id_type = dict(df.dtypes)[id_col]
    per_row = df.select(id_col, text_col).mapInPandas(
        _minhash_row_sig_batches(n, num_hashes, id_col, text_col),
        schema=f"{id_col} {id_type}, "
        + ", ".join(f"_s{j} bigint" for j in range(num_hashes)),
    )
    merged = per_row.groupBy(id_col).agg(
        *[F.min(f"_s{j}").alias(f"_s{j}") for j in range(num_hashes)]
    )
    # a doc whose every row was shingle-less still carries the P
    # sentinel after the min — map it to the -1 contract value
    return merged.select(
        id_col,
        F.array(*[
            F.when(F.col(f"_s{j}") == MINHASH_P, F.lit(-1).cast("bigint"))
            .otherwise(F.col(f"_s{j}"))
            for j in range(num_hashes)
        ]).alias("sig"),
    )


def lsh_candidate_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded LSH: split the signature into ``bands`` rows-per-band
    groups, bucket by (band_id, band_hash), self-join within buckets.

    The shuffle key is the bucket — |pairs| is Σ_bucket C(size, 2),
    never |df|². Output: distinct (id_a, id_b), id_a < id_b.

    Docs with NO shingles (fewer than ``n`` tokens — the all--1
    sentinel signature) are never candidates: they all share one
    sentinel bucket per band, so a corpus with millions of empty/short
    docs would otherwise make that single bucket's self-join quadratic
    — producing C(n_empty, 2) pairs whose exact Jaccard is 0.0 and
    which the verify stage would discard anyway. No signature → no
    bucket (the standard MMDS construction); the DuckDB oracle applies
    the same exclusion."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    sig = minhash_signatures(df, n, num_hashes, text_col, id_col).filter(
        F.element_at(F.col("sig"), 1) != -1
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(F.concat_ws(",", *[
                        F.element_at(F.col("sig"), b * r + i + 1).cast("string")
                        for i in range(r)
                    ])).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select(id_col, "bb.band_id", "bb.bucket")
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "bucket")
    return (
        a.join(b, ["band_id", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify →
    threshold. The exact verify joins shingle sets back onto the
    (bucket-bounded) candidate pairs only — and shingles are computed
    ONLY for docs that appear in some candidate pair: the candidate
    set is materialized once (it is bucket-bounded small by the LSH
    construction) and its id set broadcast-semi-prunes the corpus
    before the shingle projection, so at 100 TB the verify stage
    re-reads gram arrays for the colliding sliver, not every row."""
    cand = lsh_candidate_pairs(df, n, num_hashes, bands, text_col, id_col).localCheckpoint(
        eager=True
    )
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pruned = df.join(F.broadcast(cand_ids), id_col, "semi")
    sh = pruned.select(F.col(id_col), word_shingles(text_col, n).alias("sh"))
    return (
        cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select("id_a", "id_b",
                (F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4) + F.lit(0.0)).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---- SimHash ---------------------------------------------------------------


def token_hashes(text: Column | str) -> Column:
    """Token-hash array for SimHash: one 32-bit hash per whitespace
    token. Materialize this in its OWN projection before feeding it to
    :func:`simhash32_from_hashes` — the md5 per token is the expensive
    part, and a non-cheap alias referenced by all 32 bit-aggregates is
    kept un-inlined by Catalyst (CollapseProject only inlines cheap or
    single-use producer expressions), so it is computed once per row
    instead of 32 times."""
    return F.transform(tokens(text), hash32)


def simhash32_from_hashes(hashes: Column) -> Column:
    """32 parallel bit-aggregates over a precomputed token-hash array
    (bit b is set iff the ±1 sum over token-hash bit b is positive) —
    cheap integer folds, no re-hashing."""

    def bit_merger(b: int):
        # NB: a closure, NOT `lambda acc, h, b=b: ...` — PySpark counts
        # lambda parameters to pick the calling convention, so a
        # defaulted third arg would silently change the merge signature
        return lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1

    out = F.lit(0).cast("bigint")
    for b in range(32):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("bigint"), bit_merger(b))
        out = out + F.when(bit_sum > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
    return out


def simhash32(text: Column | str) -> Column:
    """32-bit SimHash (Charikar) as a single composable Column — one
    projection, map-only. WARNING: inlines the token-hash array into
    all 32 bit-aggregates (32 md5 passes per row); on hot paths project
    :func:`token_hashes` first and use :func:`simhash32_from_hashes`."""
    return simhash32_from_hashes(token_hashes(text))


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scalable twin of :func:`simhash32`: explode tokens, hash each
    ONCE, and compute the 32 signed bit-sums as ``sum`` aggregates in a
    single keyed pass — 1 md5 per token instead of 32 (same shape as
    the MinHash rewrite; bit-for-bit equal output, gated by the
    dedup_simhash oracle). One groupBy(id) shuffle whose map-side
    partials carry 32 ints per doc per task. ``id_col`` is the document
    KEY (rows sharing an id merge — see minhash_signatures); empty
    token arrays keep one NULL row via ``explode_outer`` (sum over NULL
    → NULL → simhash 0, matching simhash32's all-zero-sums result) —
    no second join."""
    toked = df.select(F.col(id_col), F.explode_outer(tokens(text_col)).alias("_t"))
    hashed = toked.select(id_col, hash32(F.col("_t")).alias("_h"))
    aggs = [
        F.sum(F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"_b{b}")
        for b in range(32)
    ]
    agg = hashed.groupBy(id_col).agg(*aggs)
    sim = F.lit(0).cast("bigint")
    for b in range(32):
        sim = sim + F.when(F.col(f"_b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
    return agg.select(id_col, sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", band_bits: int = 8
) -> DataFrame:
    """Near-dup candidates by banded SimHash: split the 32-bit
    fingerprint into 32/band_bits bands; docs sharing any band collide
    (guaranteed to catch hamming distance < #bands). Shuffle on the
    (band_id, band_value) key, like MinHash-LSH.

    Scale bound, by construction: the bucket keyspace is
    (32/band_bits) · 2^band_bits keys (1,024 at the default 8-bit
    bands), so per-bucket population grows LINEARLY with corpus size
    and the within-bucket self-join quadratically — this is a cheap
    screen for up-to-~10M-row corpora, not the 100 TB path. At corpus
    scale use ``lsh_candidate_pairs`` (MinHash bucket keys hash the
    full band signature — keyspace grows with content diversity) or
    raise ``band_bits``; docs/SCALE.md covers the arithmetic."""
    n_bands = 32 // band_bits
    sig = simhash_signatures(df, text_col, id_col)
    mask = (1 << band_bits) - 1
    banded = sig.select(
        id_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask)).alias("val"),
            )
            for b in range(n_bands)
        ])).alias("bb"),
    ).select(id_col, "bb.band_id", "bb.val")
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "val")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "val")
    return (
        a.join(b, ["band_id", "val"]).filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b").distinct()
    )


# ---- dedup clusters (connected components) ---------------------------------


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Group near-dup pairs into dedup clusters: ``(id, component)``
    where component = min id reachable through the pair graph
    (SURVEY §7.8: similarity join + threshold + connected components).

    Min-label propagation ("hash-to-min"): every node starts as its own
    component; each round, a node's label becomes the min of its own and
    its neighbors' labels. Converges in O(diameter) rounds — near-dup
    clusters are shallow (pairs of pairs), so a handful of iterations;
    each round is one join + one min-aggregation, both on the edge key.
    Singleton docs keep themselves as component.

    Iteration discipline (the 100 TB concern): each round's labels are
    ``localCheckpoint``-ed eagerly, so the logical plan stays ONE round
    deep regardless of iteration count — no O(iter²) lineage recompute,
    no exploding plan for the optimizer to re-analyze. The convergence
    probe reads the already-materialized round output (old + new label
    side by side), not a fresh join lineage. Warns if ``max_iter`` is
    reached before convergence (labels are then a correct upper
    approximation of min-reachable, but possibly not converged).
    """
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    # symmetric edge list, materialized once — every round re-reads it
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = ids.select("id", F.col("id").alias("component")).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        neigh_min = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("component").alias("neigh_component"))
        )
        # one materialized frame holds old + new labels: the changed
        # probe and the next round both read it without recompute
        stepped = (
            labels.join(neigh_min, "id", "left")
            .select(
                "id",
                F.col("component").alias("old_component"),
                F.least(F.col("component"), F.coalesce("neigh_component", "component")).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            stepped.filter(F.col("component") != F.col("old_component")).limit(1).count()
        )
        labels = stepped.select("id", "component")
        if changed == 0:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} before convergence; "
            "labels may be partially propagated — raise max_iter (rounds needed "
            "~= graph diameter)",
            RuntimeWarning,
        )
    return labels.select(F.col("id").alias(id_col), "component")


# ---- embedding near-dup ----------------------------------------------------

# The pair-distance kernels below replace the Catalyst
# ``zip_with``+``aggregate`` cosine evaluated per joined row (higher-
# order functions are codegen-ineligible: ~19 µs/pair interpreted, and
# both norms were recomputed for every pair).  They reproduce the
# Catalyst fold BIT-EXACTLY: ``aggregate(zip_with(a,b,x*y), 0.0, +)``
# is the left fold ``((0.0 + a₀b₀) + a₁b₁) + …`` in f64, and the
# per-dimension accumulation loop performs the same f64 adds in the
# same order for every pair at once (IEEE ops are deterministic, and
# a·b vs b·a per term is exact, so the distance is orientation-
# symmetric).  Rounding uses np_round_half_up — the same SQL-round
# twin every Arrow kNN path already hash-matches the oracle with.


def _vec_matrix(cells) -> np.ndarray:
    """(n, dim) float64 from a pandas column of array cells — the cast
    from f32 storage to f64 is exact, matching ``_as_double`` per
    element in the Catalyst fold."""
    return np.array(list(cells), dtype=np.float64)


def _fold_dot_block(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, m) pairwise dot with Catalyst's left-fold add order."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for j in range(a.shape[1]):
        acc += a[:, j, None] * b[None, :, j]
    return acc


def _fold_norms(v: np.ndarray) -> np.ndarray:
    """Per-row ‖v‖ = sqrt(left-fold Σ vⱼ·vⱼ), matching norm_expr."""
    acc = np.zeros(v.shape[0])
    for j in range(v.shape[1]):
        acc += v[:, j] * v[:, j]
    return np.sqrt(acc)


def _cosine_block_rounded(
    a: np.ndarray, b: np.ndarray, na: np.ndarray, nb: np.ndarray
) -> np.ndarray:
    """(n, m) rounded cosine distances, fold-order-exact vs
    ``round_dist(cosine_expr(a, b))``: 1 − a·b / max(‖a‖‖b‖, 1e-10)."""
    dist = 1.0 - _fold_dot_block(a, b) / np.maximum(na[:, None] * nb[None, :], 1e-10)
    return np_round_half_up(dist)


def _pair_blocks(df: DataFrame, id_col: str, vec_col: str, n_blocks: int, side: str):
    """Replicate rows to the block-pair groups they participate in.
    Block = pmod(xxhash64(id), n) — deterministic under task retry
    (guide §2.5: never derive a partitioning key from rand())."""
    blk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int")
    pairs = df.sparkSession.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        schema="bi int, bj int",
    )
    # side-specific column names: both cogroup sides share the input's
    # lineage, and identical names would trip the ambiguous-self-join
    # analyzer check
    src = df.select(
        F.col(id_col).alias(f"_id_{side}"),
        F.col(vec_col).alias(f"_vec_{side}"),
        blk.alias("_blk"),
    ).filter(F.col(f"_id_{side}").isNotNull() & F.col(f"_vec_{side}").isNotNull())
    return src.join(
        F.broadcast(pairs), F.col("_blk") == F.col("bi" if side == "a" else "bj")
    ).drop("_blk")


def _default_pair_blocks(df: DataFrame) -> int:
    """Scale the block grid to the session's parallelism AND the input
    size: n blocks give n(n+1)/2 groups, so n ≈ sqrt(2·cores) keeps
    every core busy at small inputs, and above that n grows with the
    optimizer's size estimate so each block stays ≤ ~64 MB of (id, vec)
    — a cogroup tile materializes two blocks in one pandas group, so
    the block size (not the table size) is the per-task memory bound.
    Purely a partitioning choice — the emitted pairs are identical for
    any n (each pair lands in exactly one tile).

    Replication cost is n copies of (id, vec) per row — the quadratic
    price of the EXACT all-pairs contract. Past the point where that
    stops being affordable (n capped at 256 here ≈ tens of GB of
    vectors), the right tool is the LSH-bucketed route
    (:func:`embedding_neardup_lsh` / the ``planes`` argument of
    :func:`embedding_neardup_probe`): map-only bucketing, one shuffle
    on the bucket key, tiles only within buckets — that is the 100 TB
    form, with the documented LSH recall trade-off. The exact grid is
    deliberately NOT auto-switched to LSH above a size bound: LSH
    changes the result set (recall < 1), and these operators back
    declared oracle-checked queries whose results must not depend on
    input size."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    n = max(2, int((2 * cores) ** 0.5))
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        size = 0
    if 0 < size < (1 << 60):  # Catalyst reports Long.Max-ish when unknown
        block_target = 64 << 20
        n = max(n, min(256, -(-size // block_target)))
    return n


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine near-dup pairs: all pairs with cosine distance ≤
    threshold. Quadratic — bound the input (subset or LSH buckets).

    Distributed as a block-pair grid: rows are replicated to
    n(n+1)/2 cogroups (≈n copies per row of id+vec only) and each
    group evaluates its (triangle or rectangle) tile in one vectorized
    fold-order kernel, instead of a BroadcastNestedLoopJoin emitting
    every pair through interpreted higher-order functions."""
    if n_blocks is None:
        n_blocks = _default_pair_blocks(df)
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, dist double"

    def tile(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "dist": []})
        va, vb = _vec_matrix(lpdf["_vec_a"]), _vec_matrix(rpdf["_vec_b"])
        ida, idb = lpdf["_id_a"].to_numpy(), rpdf["_id_b"].to_numpy()
        rounded = _cosine_block_rounded(va, vb, _fold_norms(va), _fold_norms(vb))
        keep = rounded <= threshold
        if bi == bj:
            # same-block tile holds both orientations: keep the triangle
            keep &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(keep)
        pa, pb = ida[ii], idb[jj]
        # cross-block tiles see each pair once in arbitrary orientation;
        # the distance is orientation-symmetric, so normalize by id.
        return pd.DataFrame(
            {"id_a": np.minimum(pa, pb), "id_b": np.maximum(pa, pb),
             "dist": rounded[ii, jj]}
        )

    left = _pair_blocks(df, id_col, vec_col, n_blocks, "a")
    right = _pair_blocks(df, id_col, vec_col, n_blocks, "b")
    return (
        left.groupBy("bi", "bj")
        .cogroup(right.groupBy("bi", "bj"))
        .applyInPandas(tile, out_schema)
    )


def embedding_neardup_probe(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.1,
    planes: list[list[float]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Ingestion-time near-dup screen: for each NEW vector, does the
    existing corpus already contain a near-duplicate? Returns one row
    per new vector: ``(id, n_matches, min_dist)`` — ``n_matches = 0``
    (min_dist = -1) means novel, keep it; threshold the rest away.
    The incremental form of :func:`embedding_neardup_pairs` — a batch
    joins against the corpus instead of the corpus against itself.

    ``planes=None`` compares exactly (documented-quadratic: bound the
    batch size). With ``planes`` the comparison runs inside shared
    hyperplane buckets — at 100 TB the corpus side is bucketed once
    (cacheable), each new batch is map-only bucketed and shuffle-joins
    on the bucket key; vectors missing every shared bucket are novel
    by construction (LSH recall caveat applies)."""
    a = new_df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("va"))
    id_type = new_df.schema[id_col].dataType.simpleString()
    hit_schema = f"id {id_type}, dist double"

    def rect_tile(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        """Rectangle tile: every (new, corpus) pair in the group, one
        hit row per pair with rounded cosine distance ≤ threshold."""
        lpdf = lpdf[lpdf["id"].notna() & lpdf["va"].notna()]
        rpdf = rpdf[rpdf["vb"].notna()]
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"id": [], "dist": []})
        va, vb = _vec_matrix(lpdf["va"]), _vec_matrix(rpdf["vb"])
        rounded = _cosine_block_rounded(va, vb, _fold_norms(va), _fold_norms(vb))
        ii, jj = np.nonzero(rounded <= threshold)
        return pd.DataFrame(
            {"id": lpdf["id"].to_numpy()[ii], "dist": rounded[ii, jj]}
        )

    if planes is None:
        # rectangle grid: new-side blocks × corpus-side blocks
        nb = _default_pair_blocks(new_df)
        blk_a = F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int").alias("_ba")
        b = corpus_df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("vb"))
        grid = new_df.sparkSession.createDataFrame(
            [(i, j) for i in range(nb) for j in range(nb)], schema="_ba int, _bb int"
        )
        left = a.select("id", "va", blk_a).join(F.broadcast(grid), "_ba")
        # null-SAFE corpus block key: a null corpus id must still land
        # in a (non-null) block — a null key would fall out of every
        # cogroup tile and its vector would silently stop matching new
        # rows (ADVICE r13). coalesce leaves non-null ids' hashes
        # unchanged; which block a corpus row lands in is irrelevant to
        # the result (every corpus row meets every new block via the
        # crossJoin), only that it lands in exactly one.
        right = b.select(
            "vb",
            F.pmod(F.xxhash64(F.coalesce(F.col("cid"), F.lit(0))), F.lit(nb))
            .cast("int").alias("_bb"),
        ).crossJoin(F.broadcast(new_df.sparkSession.range(nb).select(F.col("id").cast("int").alias("_ba"))))
        hit_rows = (
            left.groupBy("_ba", "_bb")
            .cogroup(right.groupBy("_ba", "_bb"))
            .applyInPandas(lambda lp, rp: rect_tile(lp, rp), hit_schema)
        )
    else:
        ab = embedding_lsh_buckets(new_df, planes, vec_col, id_col).select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("va"), "bucket"
        )
        bb = embedding_lsh_buckets(corpus_df, planes, vec_col, id_col).select(
            F.col(vec_col).alias("vb"), "bucket"
        )
        hit_rows = (
            ab.groupBy("bucket")
            .cogroup(bb.groupBy("bucket"))
            .applyInPandas(lambda lp, rp: rect_tile(lp, rp), hit_schema)
        )
        a = ab.select("id", "va")
    hits = hit_rows.groupBy("id").agg(
        F.count("*").alias("n_matches"), F.min("dist").alias("min_dist")
    )
    return (
        a.select("id").distinct()
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
            F.coalesce("min_dist", F.lit(-1.0)).alias("min_dist"),
        )
    )


def embedding_lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Random-hyperplane LSH (vector SimHash): bucket = the sign-bit
    string of projections onto the given planes. Deterministic given
    the planes — pass seeded planes (or data rows) for reproducibility.
    Map-only; the near-dup join then shuffles on the bucket key."""
    vec = F.col(vec_col)
    bits = []
    for p in planes:
        plane = F.lit([float(x) for x in p]).cast("array<double>")
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda a, x: a + x,
        )
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select(F.col(id_col), vec, F.concat(*bits).alias("bucket"))


def embedding_neardup_lsh(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scale path: bucket by hyperplane signs, verify cosine distance
    only within buckets. Recall < 1 by design (LSH); raise the plane
    count for precision, lower it for recall."""
    bucketed = embedding_lsh_buckets(df, planes, vec_col, id_col).filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, dist double"

    def bucket_tile(pdf: pd.DataFrame) -> pd.DataFrame:
        """Triangle tile over one bucket's members (the group is the
        verification set — no replication needed)."""
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "dist": []})
        v = _vec_matrix(pdf[vec_col])
        ids = pdf[id_col].to_numpy()
        norms = _fold_norms(v)
        rounded = _cosine_block_rounded(v, v, norms, norms)
        keep = (rounded <= threshold) & (ids[:, None] < ids[None, :])
        ii, jj = np.nonzero(keep)
        return pd.DataFrame(
            {"id_a": ids[ii], "id_b": ids[jj], "dist": rounded[ii, jj]}
        )

    return (
        bucketed.groupBy("bucket")
        .applyInPandas(bucket_tile, out_schema)
        .distinct()
    )
