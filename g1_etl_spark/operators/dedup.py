"""Deduplication operators over a document corpus — the LLM-training-data
superset surface (BASELINE.json north star; no reference analog).

Four families, all expressed as compositions of built-in DataFrame ops
(no row-at-a-time Python UDFs anywhere; the minhash and simhash
signatures each use one Arrow-batched pandas UDF, bit-identical to the
expression forms the tests compare them against):

  exact_dedup          hash-groupBy on (normalized) content
  ngram_jaccard_pairs  inverted-index join on word n-grams -> exact jaccard
  minhash_lsh_pairs    shingle -> minhash signature -> band -> bucket join
  simhash              64-bit simhash + banded hamming candidates

Scale design (100 TB):
  - Everything is linear explode + hash-partitioned groupBy/join on
    shingle/band keys; no O(n²) stage ever materializes. Candidate
    verification touches only bucket-colliding pairs.
  - Hot shingles (stop-phrases) are frequency-capped (`max_df`) before
    the inverted join — the classic skew guard for n-gram indexes.
  - MinHash banding: P(candidate) = 1-(1-j^r)^b; defaults r=4, b=8
    target j≳0.5. Tune r,b per corpus, not per scale.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

# 31-bit Mersenne prime — (a*h+b) % P universal hashing on xxhash64 values
# reduced into [0, P). 31 bits keeps a*h < 2^62, inside int64 (ANSI mode
# overflow-checks multiplication); 2^31 hash space is ample for minhash.
_P = (1 << 31) - 1


def normalize_text(col: Column) -> Column:
    """lower + trim + collapse runs of whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def ngrams_from_words(words: Column, fallback: Column,
                      n: int = 3) -> Column:
    """Distinct word n-grams from an ALREADY-SPLIT words array.

    Pass a bound column for `words`, not a split(...) expression:
    higher-order functions are interpreted (no codegen, no common-
    subexpression elimination), so an embedded split would re-tokenize
    the text for every element_at — ~3n× the work.
    """
    return F.array_distinct(
        F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, (i + j + 1).cast("int"))
                           for j in range(n)]),
            ),
        ).otherwise(F.array(fallback)),
    )


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams of a text column as array<string>.

    Convenience form; for hot paths prefer projecting split(col) to a
    column first and calling ngrams_from_words (see its docstring).
    """
    return ngrams_from_words(F.split(col, " "), col, n)


def _grams_projected(df: DataFrame, text_col: str, id_col: str,
                     n: int) -> DataFrame:
    """(id, grams) with the words array materialized as a column between
    the split and the n-gram transform — one tokenization per row."""
    spread = df.sparkSession.sparkContext.defaultParallelism
    return (df.repartition(spread, id_col)
            .select(F.col(id_col).alias("d"), F.col(text_col).alias("_t"),
                    F.split(F.col(text_col), " ").alias("_w"))
            .select("d", ngrams_from_words(F.col("_w"), F.col("_t"), n)
                    .alias("grams")))


def gram_hashes_from_words(words: Column, fallback: Column,
                           n: int = 3) -> Column:
    """Distinct n-gram HASHES (xxhash64 of the n words at each position)
    from an already-split words array — no shingle string is ever
    materialized: hot paths only need an injective-enough gram key, so
    the concat alloc + re-hash of the string form is pure overhead."""
    return F.array_distinct(
        F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.xxhash64(
                    *[F.element_at(words, (i + j + 1).cast("int"))
                      for j in range(n)]),
            ),
        ).otherwise(F.array(F.xxhash64(fallback))),
    )


def _gram_hashes_projected(df: DataFrame, text_col: str, id_col: str,
                           n: int) -> DataFrame:
    """(d, grams: array<long>) — distinct hashed n-grams per doc,
    entirely inside whole-stage codegen.

    Formulation: posexplode the words, hash each ONCE, build the gram
    key from window ``lead`` columns (same doc ordering the exchange
    already established), then ``collect_set`` back to an array. The
    window and the collect_set share the repartition's hash
    partitioning, so the whole thing is ONE exchange — and unlike the
    higher-order-function form (interpreted, no codegen) every
    expression here is code-generated: measured 0.6 s vs 4.8 s for the
    260k-gram sf0.1 corpus. Docs with < n words fall back to one
    whole-text gram (the pos==0 row), as before. Gram identity is
    xxhash64 over the word hashes — any injective-enough key works,
    only set overlap is consumed downstream.

    Array order is collect_set's (nondeterministic); every consumer is
    order-insensitive (min over permutations, explode to sets).
    """
    assert n >= 2, "gram order must be >= 2 (lead-based formulation)"
    spread = df.sparkSession.sparkContext.defaultParallelism
    base = (df.repartition(spread, id_col)
            .select(F.col(id_col).alias("d"), F.col(text_col).alias("_t"),
                    F.split(F.col(text_col), " ").alias("_w")))
    toks = base.select("d", F.size("_w").alias("nw"), "_t",
                       F.posexplode("_w").alias("pos", "w"))
    wspec = W.partitionBy("d").orderBy("pos")
    toks = toks.withColumn("hw", F.xxhash64("w"))
    leads = [F.lead("hw", j).over(wspec).alias(f"_l{j}")
             for j in range(1, n)]
    rows = (toks.select("d", "nw", "pos", "_t", "hw", *leads)
            .filter((F.col(f"_l{n-1}").isNotNull() & (F.col("nw") >= n))
                    | ((F.col("nw") < n) & (F.col("pos") == 0)))
            .select("d", F.when(
                F.col("nw") >= n,
                F.xxhash64("hw", *[f"_l{j}" for j in range(1, n)]))
                .otherwise(F.xxhash64("_t")).alias("g")))
    return rows.groupBy("d").agg(F.collect_set("g").alias("grams"))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", normalized: bool = False) -> DataFrame:
    """Exact duplicate groups: canonical id = MIN(id) per content key.

    Returns (doc_id, canonical_id, group_size). A doc is a duplicate iff
    doc_id != canonical_id. One hash-shuffle on the content key.
    """
    key = normalize_text(F.col(text_col)) if normalized else F.col(text_col)
    keyed = df.select(F.col(id_col), key.alias("_k"))
    groups = (keyed.groupBy("_k")
              .agg(F.min(id_col).alias("canonical_id"),
                   F.count(F.lit(1)).alias("group_size")))
    return (keyed.join(groups, "_k")
            .select(id_col, "canonical_id", "group_size"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_df: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted-index join.

    shuffle 1: explode shingles, hash-partition by shingle
    shuffle 2: groupBy (d1, d2) counting common shingles
    Jaccard = common / (|A| + |B| - common) computed exactly from ints.
    `max_df` drops shingles appearing in more than that many docs (skew
    guard; a shingle shared by k docs contributes k² candidate pairs).
    """
    # repartition spreads a small input file across cores; cache because
    # the shingle set feeds both join sides plus the hot-shingle scan.
    # Shingles live as xxhash64 longs end-to-end (no shingle string is
    # ever built): the inverted-index shuffle carries 8 bytes per key
    # and jaccard only counts matches, so any injective-enough key
    # works; 2^64 space makes collisions immaterial.
    sh = (_gram_hashes_projected(df, text_col, id_col, n)
          .select("d", F.size("grams").alias("sz"),
                  F.explode("grams").alias("g")))
    # eager localCheckpoint, not lazy cache: three consumers (hot-gram
    # scan + both join sides) otherwise race to materialize the same
    # partitions concurrently and can each recompute the (expensive)
    # shingling — observed as 3-5x run-to-run bench variance. Eager
    # checkpoint computes the shingles exactly once, up front. (On a
    # real cluster prefer reliable checkpoint/persist-to-disk if
    # executor loss matters; local mode has no such failure domain.)
    sh = sh.localCheckpoint(eager=True)
    if max_df is not None:
        hot = (sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_df).select("g"))
        sh = sh.join(F.broadcast(hot), "g", "left_anti")
    a = sh.select(F.col("d").alias("d1"), F.col("sz").alias("sz1"), "g")
    b = sh.select(F.col("d").alias("d2"), F.col("sz").alias("sz2"), "g")
    pairs = (a.join(b, "g")
             .filter(F.col("d1") < F.col("d2"))
             .groupBy("d1", "sz1", "d2", "sz2")
             .agg(F.count(F.lit(1)).alias("common")))
    jac = (F.col("common")
           / (F.col("sz1") + F.col("sz2") - F.col("common"))).cast("double")
    return (pairs.select("d1", "d2", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.8,
                            max_df: int | None = 1000) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: C(A,B) = |grams(A) n grams(B)|
    / |grams(A)| — the ASYMMETRIC near-dup measure. Jaccard misses a
    short doc swallowed by a long one (the union is dominated by the
    long side); containment is the standard detector for quote/
    boilerplate/subset relations, emitted in BOTH directions (d1 is
    the contained side). Same inverted-index shape and skew guard as
    ngram_jaccard_pairs; only the denominator (and the d1 != d2
    enumeration) differs.
    """
    sh = (_gram_hashes_projected(df, text_col, id_col, n)
          .select("d", F.size("grams").alias("sz"),
                  F.explode("grams").alias("g")))
    sh = sh.localCheckpoint(eager=True)
    if max_df is not None:
        hot = (sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
               .filter(F.col("df") > max_df).select("g"))
        sh = sh.join(F.broadcast(hot), "g", "left_anti")
    # enumerate each unordered pair ONCE (d1 < d2 halves the index
    # join's fan-out and the pair-count shuffle), then produce the two
    # directed orientations with a single explode — the one-explode
    # symmetrize idiom (no CSE across unionByName branches, so a union
    # would re-run the whole pair aggregation per direction)
    a = sh.select(F.col("d").alias("da"), F.col("sz").alias("sza"), "g")
    b = sh.select(F.col("d").alias("db"), F.col("sz").alias("szb"), "g")
    pairs = (a.join(b, "g")
             .filter(F.col("da") < F.col("db"))
             .groupBy("da", "sza", "db", "szb")
             .agg(F.count(F.lit(1)).alias("common")))
    both = pairs.select(
        "common",
        F.explode(F.array(
            F.struct(F.col("da").alias("d1"), F.col("sza").alias("sz1"),
                     F.col("db").alias("d2")),
            F.struct(F.col("db").alias("d1"), F.col("szb").alias("sz1"),
                     F.col("da").alias("d2")))).alias("o"))
    cont = (F.col("common").cast("double") / F.col("o.sz1"))
    return (both.select(F.col("o.d1").alias("d1"),
                        F.col("o.d2").alias("d2"),
                        cont.alias("containment"))
            .filter(F.col("containment") >= threshold))


def _doc_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(d, pos, w): every word with its 0-based position."""
    base = df.select(F.col(id_col).alias("d"),
                     F.split(F.col(text_col), " ").alias("_w"))
    return base.select("d", F.posexplode("_w").alias("pos", "w"))


def _positioned_spans(toks: DataFrame, n: int) -> DataFrame:
    """(d, start, span): every n-token span occurrence with its start
    position — the ONE lead-window shingle assembly the census and the
    clipper both build on (same shape as _gram_hashes_projected: one
    exchange, all codegen). Docs shorter than n tokens contribute
    nothing (the last lead is NULL on every row)."""
    wspec = W.partitionBy("d").orderBy("pos")
    leads = [F.lead("w", j).over(wspec).alias(f"_l{j}")
             for j in range(1, n)]
    return (toks.select("d", "pos", "w", *leads)
            .filter(F.col(f"_l{n-1}").isNotNull())
            .select("d", F.col("pos").alias("start"),
                    F.concat_ws(" ", "w",
                                *[f"_l{j}" for j in range(1, n)])
                    .alias("span")))


def doc_spans(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", n: int = 5) -> DataFrame:
    """(d, span): DISTINCT n-token spans per document, span text
    materialized."""
    return (_positioned_spans(_doc_tokens(df, text_col, id_col), n)
            .select("d", "span").distinct())


def repeated_spans(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 5,
                   min_docs: int = 2) -> DataFrame:
    """Cross-document repeated n-token span census — the discovery stage
    of substring-level dedup (Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better"): every n-token span occurring in
    >= min_docs DISTINCT documents, with its document frequency and the
    canonical (minimum) carrier id. Downstream consumers clip or drop
    the repeated spans from non-canonical docs.

    The census materializes the span TEXT — the output is human-facing
    and oracle-comparable. At 100 TB swap the concat for the hashed-gram
    form and join text back for survivors only; the group key is the
    span either way, and document frequency aggregates distributively
    (partial counts per map side), so hot boilerplate spans do not
    single-task the plan.
    """
    return (doc_spans(df, text_col, id_col, n)
            .groupBy("span")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("d").alias("first_doc"))
            .filter(F.col("n_docs") >= min_docs))


def span_boilerplate_flags(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", n: int = 5,
                           min_docs: int = 2) -> DataFrame:
    """Per-document boilerplate coverage from the span census — the
    decision stage of substring-level dedup: for each document, the
    count of its distinct n-token spans, how many of those also occur in
    >= min_docs documents, and the repeated fraction. Consumers gate on
    the ratio ("drop documents dominated by cross-corpus boilerplate")
    or route high-ratio docs to span clipping.

    One span derivation feeds both the census and the per-doc rollup
    (eager checkpoint — same multi-consumer race rationale as
    ngram_jaccard_pairs); the census side aggregates to (span, df>=k)
    before joining back, so the join input is already collapsed.
    """
    spans = doc_spans(df, text_col, id_col, n).localCheckpoint(eager=True)
    census = (spans.groupBy("span")
              .agg(F.count(F.lit(1)).alias("_df"))
              .filter(F.col("_df") >= min_docs)
              .select("span", F.lit(1).alias("_rep")))
    return (spans.join(census, "span", "left")
            .groupBy("d")
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.count("_rep").alias("n_repeated"))
            .select(F.col("d").alias(id_col), "n_spans", "n_repeated",
                    (F.col("n_repeated") / F.col("n_spans"))
                    .cast("double").alias("boilerplate_ratio")))


def span_clip(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", n: int = 5,
              min_docs: int = 2) -> DataFrame:
    """Span clipping — the rewrite stage of substring-level dedup
    (Lee et al. 2021): rebuild each document with every cross-corpus
    repeated n-token span removed, except in the span's canonical
    (minimum-id) carrier document, which keeps its copy. Completes the
    census (repeated_spans) -> decision (span_boilerplate_flags) ->
    rewrite pipeline. Returns (id, clipped_text, n_words, n_removed);
    a fully-clipped document survives as an empty string, not a lost
    row.

    Clipping granularity is doc-level (the canonical doc keeps ALL its
    occurrences; every other doc drops all of its own) — deterministic
    and engine-portable, unlike occurrence-level first-wins which
    depends on a global occurrence order.

    Scale shape: one narrow posexplode for word positions, one window
    per doc for span assembly (same lead-window shingling as the
    census), census groupBy keyed on the span (distributive count —
    hot boilerplate spans fold map-side), then the removed-position
    set anti-joins back on (doc, pos). The removed set is a small
    fraction of the corpus (only repeated-span positions), so AQE
    broadcasts it while it fits; nothing is ever quadratic.
    """
    toks = _doc_tokens(df, text_col, id_col)
    spans = (_positioned_spans(toks, n)
             .localCheckpoint(eager=True))
    census = (spans.select("d", "span").distinct()
              .groupBy("span")
              .agg(F.count(F.lit(1)).alias("_df"),
                   F.min("d").alias("first_doc"))
              .filter(F.col("_df") >= min_docs)
              .select("span", "first_doc"))
    removed = (spans.join(census, "span")
               .filter(F.col("d") > F.col("first_doc"))
               .select("d", F.explode(
                   F.sequence(F.col("start"), F.col("start") + n - 1))
                   .alias("pos"))
               .distinct())
    kept = toks.join(removed, ["d", "pos"], "left_anti")
    rebuilt = (kept.groupBy("d")
               .agg(F.count(F.lit(1)).alias("_n_kept"),
                    F.concat_ws(" ", F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "w"))),
                        lambda s: s["w"])).alias("clipped_text")))
    return (df.select(F.col(id_col),
                      F.size(F.split(F.col(text_col), " "))
                      .cast("long").alias("n_words"))
            .join(rebuilt.withColumnRenamed("d", id_col), id_col, "left")
            .select(id_col,
                    F.coalesce("clipped_text", F.lit(""))
                    .alias("clipped_text"),
                    "n_words",
                    (F.col("n_words")
                     - F.coalesce(F.col("_n_kept"), F.lit(0)))
                    .cast("long").alias("n_removed")))


def _perm_params(num: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num)]


def base_hashes(grams: Column) -> Column:
    """xxhash64 of each shingle reduced into [0, P)."""
    return F.transform(grams, lambda g: F.abs(F.xxhash64(g)) % _P)


def base_hashes_from_longs(gram_hashes: Column) -> Column:
    """Already-hashed (long) shingles reduced into [0, P) — the
    expression reference for minhash_signature_arrow's first step."""
    return F.transform(gram_hashes, lambda g: F.abs(g) % _P)


def minhash_from_hashes(hashes: Column, num_hashes: int = 32,
                        seed: int = 42) -> Column:
    """array<long> minhash signature from a BOUND base-hash array column.

    Permutations = (a*h+b) mod P with fixed-seed params — reproducible.
    Bind base_hashes() to a column first: HOFs are interpreted, so an
    embedded expression would re-hash every shingle num_hashes times.
    The expression reference that tests/test_dedup.py checks
    minhash_signature_arrow against bit for bit; minhash_lsh_pairs
    runs the Arrow kernel.
    """
    mins = [
        F.array_min(F.transform(
            hashes, lambda h: (h * F.lit(a) + F.lit(b)) % _P))
        for a, b in _perm_params(num_hashes, seed)
    ]
    return F.array(*mins)


def minhash_signature(grams: Column, num_hashes: int = 32,
                      seed: int = 42) -> Column:
    """Convenience form of minhash_from_hashes(base_hashes(grams))."""
    return minhash_from_hashes(base_hashes(grams), num_hashes, seed)


def minhash_signature_arrow(num_hashes: int = 32, seed: int = 42):
    """Vectorized minhash: base-hash reduction AND all permutation
    minima in one numpy pass per Arrow batch — bit-identical to
    minhash_from_hashes(base_hashes_from_longs(...)) (integer-exact:
    np.abs/np.fmod reproduce Java's abs/% semantics, and a*h+b stays
    under 2^62 for the 31-bit modulus). One pass instead of
    (1 + num_hashes) interpreted HOF array passes, so no barrier is
    needed to keep CollapseProject from re-inlining the base-hash
    column into every permutation expression.

    Precondition: every gram array is non-empty (gram_hashes_from_words
    guarantees a whole-text fallback gram)."""
    params = np.asarray(_perm_params(num_hashes, seed), dtype=np.int64)
    A, B = params[:, 0][:, None], params[:, 1][:, None]

    @F.pandas_udf("array<long>")
    def sig(grams: pd.Series) -> pd.Series:
        if grams.empty:
            return pd.Series([], dtype="object")
        lens = np.fromiter((len(v) for v in grams), dtype=np.int64,
                           count=len(grams))
        flat = np.concatenate([np.asarray(v, dtype=np.int64)
                               for v in grams])
        # np.fmod (sign of dividend) == Java % on BOTH modulos: hs can
        # be negative in the abs(Long.MIN_VALUE) edge, and numpy's %
        # (sign of divisor) would diverge from the HOF path there
        hs = np.fmod(np.abs(flat), _P)
        perm = np.fmod(hs[None, :] * A + B, _P)   # (num_hashes, total)
        offs = np.zeros(len(lens), dtype=np.intp)
        np.cumsum(lens[:-1], out=offs[1:])
        mins = np.minimum.reduceat(perm, offs, axis=1)
        return pd.Series(list(mins.T))

    return sig


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      num_hashes: int = 32, bands: int = 8,
                      threshold: float = 0.5, seed: int = 42) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact-jaccard verification.

    Stage 1 (narrow): shingle + signature per doc.
    Stage 2: explode `bands` band-keys, groupBy band bucket -> candidate
             pairs (only colliding docs meet).
    Stage 3: verify candidates with exact jaccard on the shingle sets
             (array_intersect/union on the already-computed gram arrays,
             joined back by id — touches candidates only).

    Signatures come from minhash_signature_arrow: one numpy pass per
    Arrow batch, bit-identical to the minhash_from_hashes expression
    form (asserted in tests/test_dedup.py).
    """
    rows = num_hashes // bands
    # Grams are xxhash64 longs (gram_hashes_from_words) — shingle
    # strings are never materialized here.
    docs = _gram_hashes_projected(df, text_col, id_col, n).withColumn(
        "sig", minhash_signature_arrow(num_hashes, seed)(F.col("grams")))
    # eager checkpoint, not lazy cache: the signature frame feeds FOUR
    # consumers (both band-join sides + both verify joins), which race
    # to materialize a lazy cache and can each recompute the shuffle-
    # bearing gram aggregate.
    docs = docs.localCheckpoint(eager=True)

    band_key = F.explode(F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.struct(
            i.alias("band"),
            F.xxhash64(F.slice(F.col("sig"), i * rows + 1, rows))
            .alias("bsig"))))
    banded = docs.select("d", band_key.alias("bk"))
    cand = (banded.alias("x").join(
        banded.alias("y"),
        (F.col("x.bk") == F.col("y.bk")) & (F.col("x.d") < F.col("y.d")))
        .select(F.col("x.d").alias("d1"), F.col("y.d").alias("d2"))
        .distinct())

    g1 = docs.select(F.col("d").alias("d1"), F.col("grams").alias("g1"))
    g2 = docs.select(F.col("d").alias("d2"), F.col("grams").alias("g2"))
    verified = (cand.join(g1, "d1").join(g2, "d2")
                .select(
                    "d1", "d2",
                    (F.size(F.array_intersect("g1", "g2"))
                     / F.size(F.array_union("g1", "g2"))).cast("double")
                    .alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    return verified


def _assemble_simhash_arrow():
    """Arrow-vectorized signature assembly: (n, p0..p15) -> sh in one
    numpy pass per batch — bit-identical to simhash64 (asserted in
    tests/test_dedup.py). The expression forms all pay ~1.2 s of
    PER-QUERY-INSTANCE codegen/planning for the 64-term tree (measured:
    same DataFrame object re-forced 0.31 s, fresh instance 1.9-2.5 s,
    branchless variant no better); the numpy path sidesteps the
    generated-code size entirely and is row-scale-independent (one
    int64 op per (doc, pack) element)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _assemble(n: "pd.Series", *packs: "pd.Series") -> "pd.Series":
        nn = n.to_numpy(np.int64)
        out = np.zeros(len(nn), dtype=np.uint64)
        for j, p in enumerate(packs):
            pv = p.to_numpy(np.int64).astype(np.uint64)
            for lane in range(4):
                ones = (pv >> np.uint64(16 * lane)) & np.uint64(0xFFFF)
                bit = (2 * ones.astype(np.int64) > nn).astype(np.uint64)
                out |= bit << np.uint64(j + 16 * lane)
        return pd.Series(out.astype(np.int64))

    return _assemble


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(d, sh): single-pass 64-bit SimHash per document.

    Explode tokens, xxhash64 each ONCE, then one codegen'd hash-aggregate
    whose bit counters are PACKED four-to-a-long (16 SUM columns, each
    long carrying 16-bit lanes at offsets 0/16/32/48 for bits j, j+16,
    j+32, j+48) plus a token count; bit i of the signature is set iff
    ``2*ones_i > n`` — identical to the ±1 vote tally (equality with
    the expression-form simhash64 is asserted in tests/test_dedup.py);
    _assemble_simhash_arrow turns the 17 counters into the signature in
    one numpy pass per Arrow batch. The groupBy(doc) shuffle is cut to
    one row per doc per input partition by map-side partial
    aggregation; every aggregate expression stays inside whole-stage
    codegen — unlike simhash64, which re-traverses the token array 64×
    interpreted. Packing matters twice: the generated aggregate is 4×
    narrower (64→16 accumulators; the unpacked 64×SUM form cost ~1.5 s
    more per session in Janino compile + first eval at sf0.1, and the
    original 64×CASE-WHEN form ~2.3 s), and the partial-agg shuffle row
    shrinks from 65 to 17 longs per doc per input partition.

    Lane bound: a 16-bit lane overflows at 65,536 tokens in ONE
    document (~¼ MB of text as a single doc). Corpus pipelines chunk
    or truncate far below that; callers with pathological single docs
    must pre-truncate the text column.
    """
    toks = df.select(
        F.col(id_col).alias("d"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("t"))
    hashed = toks.select("d", F.xxhash64("t").alias("h"))
    packs = []
    for j in range(16):
        e = F.shiftright("h", j).bitwiseAND(F.lit(1))
        for lane in range(1, 4):
            e = e + F.shiftleft(
                F.shiftright("h", j + 16 * lane).bitwiseAND(F.lit(1)),
                16 * lane)
        packs.append(F.sum(e).alias(f"_p{j}"))
    grouped = hashed.groupBy("d").agg(F.count(F.lit(1)).alias("_n"), *packs)

    assemble = _assemble_simhash_arrow()
    return grouped.select(
        "d", assemble(F.col("_n"), *[F.col(f"_p{j}") for j in range(16)])
        .alias("sh"))


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of an array-of-tokens column, as bigint.

    Expression form (nested higher-order functions, no shuffle): 64
    interpreted traversals of the token array. The reference that
    tests/test_dedup.py checks simhash_signatures against (identical
    signatures); corpus-scale callers use simhash_signatures.
    """
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    # shift amounts must be literal ints (shiftleft/shiftright take no
    # Column), so the 64 bit positions unroll in Python
    def _vote(i: int):
        # factory closure: HOF lambdas must have exactly (acc, x) arity
        return lambda acc, h: acc + F.when(
            F.shiftright(h, i).bitwiseAND(1) == 1,
            F.lit(1)).otherwise(F.lit(-1))

    out = F.lit(0).cast("long")
    for i in range(64):
        votes = F.aggregate(hashes, F.lit(0), _vote(i))
        out = out.bitwiseOR(
            F.when(votes > 0, F.lit(1 << i if i < 63 else -(1 << 63))
                   .cast("long")).otherwise(F.lit(0).cast("long")))
    return out


def connected_components(pairs: DataFrame, nodes: DataFrame,
                         id_col: str = "doc_id",
                         src: str = "d1", dst: str = "d2",
                         max_iters: int = 30) -> DataFrame:
    """(doc_id, component): connected components over near-dup pairs by
    alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    cluster step that turns pairwise near-dups into dedup groups
    (component label = MIN(id) per component).

    VERDICT_r9 ask #6 replaced the earlier min-label propagation: that
    converged in O(graph diameter) rounds, which is 2-3 for dense dedup
    cliques but O(n) on a pathological chain — and a chain longer than
    max_iters silently mislabeled. Star contraction converges in
    O(log n) rounds on ANY topology (each round at least halves the
    height of the implicit pointer forest), so max_iters=30 covers
    2^30 nodes and under-convergence raises instead of mislabeling.

    Each round is two shuffle stages over the current edge set, which
    NEVER grows (large-star emits exactly one edge per symmetrized
    input edge; small-star one per oriented edge):

    * large-star: every node u computes m = min(neighbors ∪ {u}) and
      re-points every LARGER neighbor v > u at m — emit (v, m).
    * small-star: on max→min oriented edges, every node u re-points
      its smaller neighbors and itself at their collective min.

    Per-node mins are groupBy aggregates (map-side combine) joined
    back on the node — never a collect_list — so a mega-star node
    (one boilerplate doc paired with 10^5 others) stays a splittable
    aggregation + AQE-skew-split join, not a single-task group.

    Fixpoint = the oriented edge set is stable (checked by an order-
    insensitive count + xxhash64-sum signature, one cheap action per
    round); at fixpoint the edges form stars (v -> component min).
    Genuinely iterative — no single SQL equivalent (the driver records
    a rows-only check); tests verify against a local union-find.
    """
    # orient max->min; self-pairs drop out. One distinct keeps the
    # working set minimal before the loop.
    u0 = F.col(src).cast("long")
    v0 = F.col(dst).cast("long")
    edges = (pairs.select(F.greatest(u0, v0).alias("u"),
                          F.least(u0, v0).alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct().localCheckpoint())
    sig_prev = None
    converged = False
    for _ in range(max_iters):
        # -- large-star ------------------------------------------------
        # symmetrize with ONE explode (a self-union would recompute the
        # upstream frame twice: union branches get no CSE)
        sym = (edges.select(F.explode(F.array(
            F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            F.struct(F.col("v").alias("a"), F.col("u").alias("b"))))
            .alias("e")).select(F.col("e.a").alias("u"),
                                F.col("e.b").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        # (v, m) for v > u: m <= u < v, so output stays max->min oriented
        oriented = (sym.join(mins, "u")
                    .filter(F.col("v") > F.col("u"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .distinct().localCheckpoint())
        # -- small-star ------------------------------------------------
        # mins2 feeds two union branches; oriented is checkpointed so
        # the double groupBy scan is over materialized partitions
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        edges = (oriented.join(mins2, "u")
                 .filter(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .union(mins2.select(F.col("u"),
                                     F.col("m").alias("v")))
                 .distinct().localCheckpoint())
        # bit_xor is order-insensitive and overflow-free under ANSI
        # (a SUM of hashes overflows int64); edges are distinct so the
        # xor is a sound set signature alongside the count
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h")).collect()[0]
        if sig_prev == (sig["n"], sig["h"]):
            converged = True
            break
        sig_prev = (sig["n"], sig["h"])
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "star-contraction rounds (covers 2^30 nodes) — refusing "
            "to return possibly-mislabeled components")
    # at fixpoint every non-root node has exactly one edge to its
    # component min; roots and singletons label themselves
    out = (nodes.select(F.col(id_col),
                        F.col(id_col).cast("long").alias("_nid"))
           .join(edges.withColumnRenamed("u", "_nid"), "_nid", "left")
           .select(id_col,
                   F.coalesce("v", "_nid").alias("component")))
    return out


def dedup_canonical(df: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, canonical_id): canonical doc per near-dup cluster =
    MIN(id) of its connected component; singleton docs map to
    themselves. The standard keep-one-per-cluster dedup decision."""
    comp = connected_components(pairs, df.select(id_col), id_col)
    return comp.select(id_col, F.col("component").alias("canonical_id"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash banded hamming distance.

    4 bands of 16 bits. Recall bound (pigeonhole): a pair is GUARANTEED
    to share an exact band only when hamming <= 3; above that (up to the
    default max_hamming=8) detection is probabilistic — the differing
    bits must leave at least one band untouched, so e.g. 2 flipped bits
    in each of the 4 bands produce no candidate and the pair is missed.
    Widening the guarantee (8 bands × 8 bits covers hamming <= 7) is not
    worth it at scale: 8-bit band keys have only 256 buckets, so random
    non-dup collisions — and the candidate-pair count — blow up
    quadratically. Candidates verified with bit_count(xor) <= max_hamming.
    """
    spread = df.sparkSession.sparkContext.defaultParallelism
    docs = simhash_signatures(
        df.repartition(spread, id_col), text_col, id_col)
    docs.cache()
    bands = docs.select("d", "sh", F.explode(F.array(*[
        F.struct(F.lit(i).alias("band"),
                 F.shiftrightunsigned(F.col("sh"), 16 * i)
                 .bitwiseAND((1 << 16) - 1).alias("bits"))
        for i in range(4)])).alias("bk"))
    cand = (bands.alias("x").join(
        bands.alias("y"),
        (F.col("x.bk") == F.col("y.bk")) & (F.col("x.d") < F.col("y.d")))
        .select(F.col("x.d").alias("d1"), F.col("x.sh").alias("sh1"),
                F.col("y.d").alias("d2"), F.col("y.sh").alias("sh2"))
        .distinct())
    hamming = F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2")))
    return (cand.select("d1", "d2", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def incremental_exact_flags(batch: DataFrame, corpus: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id",
                            normalized: bool = True) -> DataFrame:
    """(id, is_dup): flag batch docs whose (normalized) content already
    exists in the corpus — the production incremental-ingest dedup shape
    (dedup TODAY's crawl against the accumulated corpus, not the whole
    corpus against itself).

    One join keyed on the content string. At 100 TB the batch side is
    the small one, so the right plan broadcasts the BATCH keys and
    semi-scans the corpus (Spark chooses this when batch fits the
    broadcast threshold); the corpus is never shuffled, only scanned.
    Cross-batch NEAR-dup detection composes the existing pieces: run
    `minhash_lsh_pairs` over batch ∪ corpus-signatures with band-bucket
    join — signatures for the corpus are computed once and persisted,
    not recomputed per batch.
    """
    key = (normalize_text(F.col(text_col)) if normalized
           else F.col(text_col))
    b = batch.select(F.col(id_col), key.alias("_k"))
    c = corpus.select(key.alias("_k")).distinct() \
        .withColumn("_hit", F.lit(1))
    return (b.join(c, "_k", "left")
            .select(id_col, F.col("_hit").isNotNull().alias("is_dup")))


def fuzzy_blocked_pairs(df: DataFrame, name_col: str,
                        max_dist: int = 2,
                        block_col: Column | None = None) -> DataFrame:
    """(name_a, name_b, dist): entity-resolution fuzzy matching —
    distinct values of `name_col` paired when their Levenshtein
    distance is <= max_dist, found via blocking rather than an O(n²)
    cross join.

    Blocking key defaults to the first word; candidate generation joins
    only within a block AND within a length band of max_dist (an exact
    Levenshtein lower bound — |len(a)-len(b)| <= dist — so the band
    introduces no false negatives inside a block). Blocked fuzzy join
    is the operator: pairs whose first words differ are out of scope by
    contract, exactly as in production record linkage, where several
    complementary blocking passes (first-word, soundex, length) union
    their candidates. At scale the distinct + block join shuffles only
    (block, name) string pairs; per-block pair counts are the classic
    skew knob — cap or split oversized blocks as with max_df in
    ngram_jaccard_pairs.
    """
    # blocking key computed over the aliased "name" column (block_col,
    # when given, must be an expression over F.col("name"))
    blk = (block_col if block_col is not None
           else F.split(F.col("name"), " ").getItem(0))
    names = (df.select(F.col(name_col).alias("name")).distinct()
             .select("name", blk.alias("_blk"),
                     F.length("name").alias("_len")))
    a = names.select(F.col("name").alias("name_a"),
                     F.col("_blk").alias("b1"), F.col("_len").alias("l1"))
    b = names.select(F.col("name").alias("name_b"),
                     F.col("_blk").alias("b2"), F.col("_len").alias("l2"))
    cand = a.join(b, (F.col("b1") == F.col("b2"))
                  & (F.col("name_a") < F.col("name_b"))
                  & (F.abs(F.col("l1") - F.col("l2")) <= max_dist))
    dist = F.levenshtein("name_a", "name_b")
    return (cand.select("name_a", "name_b",
                        dist.cast("long").alias("dist"))
            .filter(F.col("dist") <= max_dist))


def sorted_neighborhood_pairs(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", key_len: int = 24,
                              window: int = 3, n: int = 3,
                              threshold: float = 0.5) -> DataFrame:
    """(d1, d2, gap, jaccard): the classic SORTED-NEIGHBORHOOD record-
    linkage pass — sort the corpus by a cheap blocking key (here the
    first `key_len` chars of normalized text), slide a window of
    `window` ranks, verify each candidate pair with exact word-n-gram
    Jaccard, keep pairs >= `threshold`.

    Why it scales: candidate generation is O(n·window) — one
    distributed total-order rank (retrieval.global_rank: range
    repartition + per-partition window + driver-held offsets, never a
    single-partition ORDER BY), then the window expands as a tiny
    explode(1..window) and closes as an EQUI-join on the target rank
    (rank2 == rank1 + gap), so no range-join fallback. Verification
    touches only candidates, each an equi-join on doc id against the
    per-doc distinct-gram arrays. Complementary to the first-word
    blocking of `fuzzy_blocked_pairs`: production linkage unions
    several such passes.

    Pairs are oriented by RANK (d1 = the lower-ranked doc), and `gap`
    is their rank distance — both deterministic given the total order
    (key, id). Docs with fewer than `n` words take part in the sort
    but generate no grams and therefore no verified pairs (the oracle
    twin drops them identically).
    """
    from g1_etl_spark.operators.retrieval import global_rank

    keyed = df.select(
        F.col(id_col),
        F.substring(normalize_text(F.col(text_col)), 1, key_len)
        .alias("_bkey"))
    ranked = (global_rank(keyed, [F.col("_bkey"), F.col(id_col)],
                          rank_col="_rnk")
              .select(id_col, "_rnk")
              .localCheckpoint(eager=True))  # both join sides read it
    gaps = F.array(*[F.lit(i) for i in range(1, window + 1)])
    a = (ranked.select(F.col(id_col).alias("d1"),
                       F.col("_rnk").alias("_r1"),
                       F.explode(gaps).alias("_gap"))
         .withColumn("_trg", F.col("_r1") + F.col("_gap")))
    b = ranked.select(F.col(id_col).alias("d2"),
                      F.col("_rnk").alias("_trg"))
    cand = a.join(b, "_trg").select(
        "d1", "d2", F.col("_gap").cast("long").alias("gap"))
    grams = _grams_projected(
        df.filter(F.size(F.split(F.col(text_col), " ")) >= n),
        text_col, id_col, n)
    g1 = grams.select(F.col("d").alias("d1"), F.col("grams").alias("_ga"))
    g2 = grams.select(F.col("d").alias("d2"), F.col("grams").alias("_gb"))
    verified = cand.join(g1, "d1").join(g2, "d2")
    common = F.size(F.array_intersect("_ga", "_gb"))
    jac = (common / (F.size("_ga") + F.size("_gb") - common)
           ).cast("double")
    return (verified.select("d1", "d2", "gap", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def ngram_jaccard_prefix_pairs(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n: int = 3,
                               threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PREFIX-FILTERED index —
    the AllPairs/PPJoin candidate generation: identical output to
    `ngram_jaccard_pairs` (same threshold semantics, same oracle), but
    the inverted index holds only each doc's RAREST grams.

    Why it scales: for J(A,B) >= t the overlap is >= t*max(|A|,|B|), so
    with every doc's gram set sorted by one GLOBAL order (document
    frequency asc, gram asc — rarest first), two qualifying docs must
    collide inside their first |X| - ceil(t*|X|) + 1 grams. Indexing
    only that prefix shrinks the index ~t fraction (half at t=0.5) and,
    because prefixes are the RARE grams, the quadratic per-gram pair
    fan-out concentrates where posting lists are shortest — the skew
    guard falls out of the ordering instead of needing a max_df cap.
    Candidates also pass the length filter (min >= t*max) before the
    verify step, which computes exact Jaccard from the full per-doc
    gram ARRAYS (array_intersect on candidate pairs only — no second
    inverted-index pass).

    threshold must be exactly representable in binary (0.5, 0.25, ...)
    for the ceil arithmetic to be engine-portable; the registered query
    pins t=0.5.

    Measured head-to-head (100x replicated corpus, same process,
    back-to-back; PROBE_r06_100x.json): 95.45s vs 268.26s for
    ngram_jaccard_pairs — identical 25,600-row output, 2.8x faster.
    At small sf the extra gram-frequency ranking pass makes the two
    comparable (bench sf0.1: ~3.0s vs ~1.4s); the crossover is exactly
    where it should be — the prefix filter pays a fixed ordering cost
    to shrink the quadratic candidate term, which only dominates at
    corpus scale.
    """
    grams = (_gram_hashes_projected(df, text_col, id_col, n)
             .select("d", "grams", F.size("grams").alias("sz"))
             .localCheckpoint(eager=True))  # feeds index AND verify
    ex = grams.select("d", "sz", F.explode("grams").alias("g"))
    # r12 (guide §2.4): the document frequency per gram used to be a
    # groupBy(g) aggregate JOINED back onto ex — a sort-merge join of
    # two g-partitioned sides. A count window over the same g
    # partitioning produces the identical _df with ONE exchange and no
    # join (the posting-list count is the whole-partition frame).
    # Invariant: g is never NULL (xxhash64 never returns NULL and
    # collect_set drops NULLs), so no NULL-gram partition can form.
    ow = W.partitionBy("d").orderBy("_df", "g")
    plen = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
    prefix = (ex.withColumn("_df",
                            F.count(F.lit(1)).over(W.partitionBy("g")))
              .withColumn("_rn", F.row_number().over(ow))
              .filter(F.col("_rn") <= plen)
              .select("d", "sz", "g"))
    a = prefix.select(F.col("d").alias("d1"), F.col("sz").alias("sz1"),
                      "g")
    b = prefix.select(F.col("d").alias("d2"), F.col("sz").alias("sz2"),
                      "g")
    cand = (a.join(b, "g")
            .filter((F.col("d1") < F.col("d2"))
                    & (F.least("sz1", "sz2")
                       >= F.lit(threshold) * F.greatest("sz1", "sz2")))
            .select("d1", "d2").distinct())
    g1 = grams.select(F.col("d").alias("d1"), F.col("grams").alias("_ga"))
    g2 = grams.select(F.col("d").alias("d2"), F.col("grams").alias("_gb"))
    common = F.size(F.array_intersect("_ga", "_gb"))
    jac = (common / (F.size("_ga") + F.size("_gb") - common)
           ).cast("double")
    return (cand.join(g1, "d1").join(g2, "d2")
            .select("d1", "d2", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def damerau_levenshtein_py(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner):
    edit distance whose fourth operation is transposing two ADJACENT
    characters, allowed even when later edits touch the transposed
    region — 'CA' -> 'ABC' is 2 here (3 under the restricted/OSA
    variant). This is the variant DuckDB's damerau_levenshtein()
    implements, asserted exhaustively in
    tests/test_dedup.py::test_damerau_matches_duckdb."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxd = la + lb
    # d is (la+2) x (lb+2) with a sentinel row/col of maxd
    d = [[maxd] * (lb + 2) for _ in range(la + 2)]
    for i in range(la + 1):
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            m = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,                      # substitute/match
                d[i + 1][j] + 1,                     # insert
                d[i][j + 1] + 1,                     # delete
                d[k][m] + (i - 1 - k) + 1 + (j - 1 - m))  # transpose
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


def _trimmed_damerau(x: str, y: str) -> int:
    """damerau_levenshtein_py after stripping the common prefix and
    suffix — distance-invariant (prefix/suffix chars equal on both
    sides never appear in an optimal Lowrance-Wagner script; asserted
    exhaustively vs DuckDB in tests/test_dedup.py alongside the raw
    DP). Blocked candidates share their whole block key as a prefix,
    so the O(|x|*|y|) DP runs on the 1-3 trailing chars that actually
    differ instead of the full names (guide-class: shrink the per-task
    work before optimizing it)."""
    if x == y:
        return 0
    lx, ly = len(x), len(y)
    lim = min(lx, ly)
    i = 0
    while i < lim and x[i] == y[i]:
        i += 1
    j = 0
    while j < lim - i and x[lx - 1 - j] == y[ly - 1 - j]:
        j += 1
    return damerau_levenshtein_py(x[i:lx - j], y[i:ly - j])


def damerau_blocked_pairs(df: DataFrame, name_col: str,
                          max_dist: int = 1,
                          block_col: Column | None = None) -> DataFrame:
    """(name_a, name_b, dist): fuzzy_blocked_pairs' transposition-aware
    sibling — distinct values of `name_col` paired when their
    UNRESTRICTED Damerau-Levenshtein distance is <= max_dist, found via
    the same block + length-band candidate generation (|len(a)-len(b)|
    <= dist lower-bounds DL exactly as it does Levenshtein, since a
    transposition preserves length). The distance itself has no Spark
    builtin, so candidates — and only candidates, already bounded by
    the blocking contract — cross into ONE Arrow-batched mapInPandas
    stage running the Lowrance-Wagner DP; everything before that cut
    is JVM-side. Integer output, bit-deterministic by construction."""
    import pandas as pd

    blk = (block_col if block_col is not None
           else F.split(F.col("name"), " ").getItem(0))
    names = (df.select(F.col(name_col).alias("name")).distinct()
             .select("name", blk.alias("_blk"),
                     F.length("name").alias("_len")))
    # the block join is usually a broadcast hash join, so candidate
    # pairs inherit the LEFT side's partitioning — off a one-file
    # parquet scan that is ONE task, which would serialize the whole
    # Python DP onto one core (caught by the r8 10x probe: ~100 s of
    # single-task DP at sf0.1). Spread the probe side BEFORE the join:
    # the join then fans candidates across the cluster and the Arrow
    # stage sits directly above it with no exchange in between — a
    # post-join repartition instead would let the dist<=max filter
    # push through the exchange and DUPLICATE the UDF below it, on
    # the single pre-shuffle partition (observed in the plan).
    spread = df.sparkSession.sparkContext.defaultParallelism
    a = (names.repartition(spread)
         .select(F.col("name").alias("name_a"),
                 F.col("_blk").alias("b1"), F.col("_len").alias("l1")))
    b = names.select(F.col("name").alias("name_b"),
                     F.col("_blk").alias("b2"), F.col("_len").alias("l2"))
    cand = a.join(b, (F.col("b1") == F.col("b2"))
                  & (F.col("name_a") < F.col("name_b"))
                  & (F.abs(F.col("l1") - F.col("l2")) <= max_dist))

    # score AND threshold inside ONE mapInPandas stage: with a scalar
    # pandas_udf, Catalyst pushes the dist<=max filter below the
    # projection and re-extracts the UDF — the DP then runs TWICE per
    # candidate (once feeding the Filter, once for the output column;
    # observed as back-to-back ArrowEvalPython nodes). mapInPandas
    # evaluates once and filters Python-side; it is a narrow transform,
    # so the pre-join spread above still sets its parallelism.
    def _score(batches):
        for pdf in batches:
            dists = [_trimmed_damerau(x, y)
                     for x, y in zip(pdf["name_a"], pdf["name_b"])]
            out = pdf[["name_a", "name_b"]].copy()
            out["dist"] = pd.Series(dists, index=pdf.index,
                                    dtype="int64")
            yield out[out["dist"] <= max_dist]

    return cand.select("name_a", "name_b").mapInPandas(
        _score, "name_a string, name_b string, dist long")
