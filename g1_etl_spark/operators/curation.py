"""Corpus-curation operators for a training-data pipeline (superset
scope; no reference analog — the reference stops at per-entity cleanup,
mmj/etl/transformers/*.py, while a 100 TB pretraining pipeline also needs
benchmark decontamination, sequence packing, PII scrubbing, and
quantile-based quality filtering).

All operators are pure DataFrame compositions (no Python UDFs):

- decontaminate: word-n-gram overlap between a corpus and a benchmark
  set. The benchmark side of the join is DISTINCT n-gram hashes only —
  benchmark suites are tiny relative to a pretraining corpus, so the
  overlap check is a broadcast left-semi join: one narrow map-side pass
  over the corpus, zero shuffle of corpus text.
- pack_sequences: deterministic greedy contiguous packing of documents
  into fixed token budgets — a running-sum window per shard column, so
  the only exchange is a hash partition on the shard key. Integer
  arithmetic end-to-end (engine-exact).
- redact_pii: regex scrubbing (emails / phone numbers) with stable
  md5 pseudonyms. Narrow column expressions; character classes chosen
  to behave identically under Java regex (Spark) and RE2 (DuckDB).
- quality_quantile_filter: per-language percent_rank gate. Exact and
  deterministic (ties broken by doc id). At 100 TB the same decision is
  made by computing the per-language threshold on an aggregate (tiny)
  and broadcast-joining it back, which avoids the full per-language
  sort; the window form here is the oracle-checkable exact twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from g1_etl_spark.operators.dedup import normalize_text


def word_ngrams_exact(text: Column, n: int) -> Column:
    """Distinct word n-grams (arrays shorter than n -> empty list).

    Mirrors DuckDB `list_transform(generate_series(1, len(w)-n+1),
    i -> array_to_string(w[i:i+n-1], ' '))` exactly, so oracle parity
    holds gram-for-gram.
    """
    w = F.split(normalize_text(text), " ")
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)),
                        lambda i: F.concat_ws(" ", F.slice(w, i, n)))),
    ).otherwise(F.array().cast("array<string>"))


def word_ngram_hashes(text: Column, n: int) -> Column:
    """Distinct word-n-gram HASHES (xxhash64 of the length-n word
    slice; no gram string is ever built). Same distinct cardinality as
    word_ngrams_exact barring 2^-64 collisions — the hot-path twin."""
    w = F.split(normalize_text(text), " ")
    return F.when(
        F.size(w) >= n,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)),
                        lambda i: F.xxhash64(F.slice(w, i, n)))),
    ).otherwise(F.array().cast("array<long>"))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5) -> DataFrame:
    """Benchmark decontamination by exact word-n-gram overlap.

    Returns one row per corpus document: total distinct n-grams,
    how many also occur anywhere in the benchmark set, the
    contamination fraction, and a keep flag (zero overlap).

    Scale shape: benchmark n-grams are hashed to int64 and reduced to a
    DISTINCT set (benchmarks are ~1e4-1e6 grams — broadcastable at any
    corpus size), then the corpus makes ONE pass: grams bound to a
    column, explode_outer (docs with no gram survive), broadcast left
    join against the benchmark set, count hits per doc. The corpus is
    never shuffled on gram and the gram transform runs once per doc.
    The doc-level repartition before the gram transform serves two
    purposes: it spreads the (expensive) per-doc n-gram computation
    across all cores even when the upstream scan has few splits (a
    single small parquet file scans as ONE task — measured 3.7 s vs
    0.8 s at sf0.1), and because it hash-partitions on the doc id, the
    per-doc groupBy after the explode reuses the partitioning — zero
    further exchanges. At cluster scale the exchange cost is one pass
    over the corpus; drop it only if the scan already has enough
    splits AND the source is bucketed by the id.
    """
    spread = corpus.sparkSession.sparkContext.defaultParallelism
    grams = word_ngram_hashes(F.col(text_col), n)
    ex = (corpus.repartition(spread, id_col)
          .select(F.col(id_col), grams.alias("grams"))
          .select(id_col, F.size("grams").cast("long").alias("n_grams"),
                  F.explode_outer("grams").alias("gh")))
    bench_set = (benchmark
                 .select(F.explode(grams).alias("gh"))
                 .distinct()
                 .withColumn("_hit", F.lit(1)))
    counted = (ex.join(F.broadcast(bench_set), "gh", "left")
               .groupBy(id_col)
               .agg(F.first("n_grams").alias("n_grams"),
                    F.count("_hit").alias("matched")))
    return counted.select(
        id_col, "n_grams", "matched",
        F.when(F.col("n_grams") > 0,
               F.col("matched") / F.col("n_grams"))
        .otherwise(F.lit(0.0)).cast("double").alias("contamination_frac"),
        (F.col("matched") == 0).alias("keep"),
    )


def pack_sequences(docs: DataFrame, budget: int,
                   tokens_col: Column,
                   shard_col: str = "source",
                   id_col: str = "doc_id",
                   keep_cols: tuple = ()) -> DataFrame:
    """Greedy contiguous sequence packing: walk each shard in id order,
    accumulate token counts, start a new sequence when the running total
    passes the budget. seq_id = (cumsum - tokens) // budget — a document
    goes into the sequence its PREFIX sum falls in, so every sequence
    except a shard's last holds >= budget tokens (oversized docs spill
    rather than split; splitting is the tokenizer's job downstream).

    One exchange (hash on the shard key) + an in-partition sort; integer
    arithmetic throughout, so any engine agrees bit-for-bit.
    `keep_cols` pass through unchanged (lets composites carry metadata
    without a join-back).
    """
    win = (W.partitionBy(shard_col).orderBy(id_col)
           .rowsBetween(W.unboundedPreceding, W.currentRow))
    t = docs.select(id_col, shard_col, *keep_cols,
                    tokens_col.alias("tokens"))
    return (t.withColumn("cum", F.sum("tokens").over(win))
            .select(
                id_col, shard_col, *keep_cols,
                F.col("tokens").cast("long"),
                F.expr(f"(cum - tokens) div {budget}").cast("long")
                .alias("seq_id")))


# character classes only — identical semantics in Java regex and RE2
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(df: DataFrame, text_col: str) -> dict[str, Column]:
    """PII scrub columns for `text_col`: match counts, a redacted
    rewrite (emails -> <EMAIL>, phones -> <PHONE>), and a stable
    pseudonym for the first email (md5 — same doc, same surrogate,
    cross-partition deterministic; no lookup table to shuffle)."""
    c = F.col(text_col)
    first_email = F.regexp_extract(c, EMAIL_RE, 0)
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0))
        .cast("long"),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), 0))
        .cast("long"),
        "redacted": F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>"),
        "email_pseudonym": F.when(first_email != "",
                                  F.md5(first_email)).otherwise(F.lit(None)),
    }


def quality_quantile_filter(docs: DataFrame, quality_col: Column,
                            drop_frac: float = 0.2,
                            lang_col: str = "lang",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-language quality gate: drop the bottom `drop_frac` of each
    language by percent_rank (exact; ties broken by id so both engines
    rank identically). Emits the rank and keep flag rather than
    filtering, so callers can audit the cut line."""
    win = W.partitionBy(lang_col).orderBy(quality_col, id_col)
    return docs.select(
        id_col, lang_col, quality_col.alias("quality"),
        F.percent_rank().over(win).alias("q_rank"),
    ).withColumn("keep", F.col("q_rank") >= drop_frac)


def chunk_token_windows(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", size: int = 64,
                        stride: int = 48) -> DataFrame:
    """Explode documents into overlapping fixed-size token windows —
    the context-window chunking step between raw docs and the tokenizer
    (RAG indexing and long-doc training prep both need it).

    Chunk i covers tokens [i*stride, i*stride + size); the last chunk
    starts at ceil((n_tokens - size) / stride) * stride, so every token
    is covered and consecutive chunks overlap by (size - stride). Docs
    with <= size tokens yield exactly one chunk.

    Scale shape: one narrow pass — split once, generate chunk starts
    with `sequence`, explode, slice. No shuffle, no UDF; the 1->N
    fan-out streams out of the partition that read the row. Integer
    arithmetic only (ceil done as (a + b - 1) div b), so any engine
    agrees exactly.
    """
    split = df.select(F.col(id_col),
                      F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"))
    nw = F.size("_w")
    last = F.when(nw <= size, F.lit(0).cast("long")).otherwise(
        F.expr(f"(size(_w) - {size} + {stride - 1}) div {stride}")
        .cast("long"))
    t = split.select(
        F.col(id_col), "_w", nw.cast("long").alias("_nw"),
        F.explode(F.sequence(F.lit(0).cast("long"), last)).alias("chunk_id"))
    start = (F.col("chunk_id") * stride).cast("long")
    return t.select(
        id_col, "chunk_id", start.alias("start"),
        F.least(F.lit(size).cast("long"),
                F.col("_nw") - start).alias("n_tokens"),
        F.array_join(F.slice("_w", (start + 1).cast("int"), size), " ")
        .alias("chunk_text"))


def mix_upsample(df: DataFrame, whole: Column, frac_pct: Column,
                 key: Column, copy_col: str = "copy_idx") -> DataFrame:
    """Deterministic domain-mix upsampling: each row is repeated
    ``whole`` times plus one more for the ``frac_pct``% of keys whose
    hash bucket falls under the fraction — fractional epoch weights
    (e.g. books×2.5) realized exactly and reproducibly, the way
    training mixes repeat high-value domains.

    ``hash_bucket`` (md5-based, engine-portable) decides WHICH keys get
    the extra copy, so membership is stable across engines, reruns, and
    repartitions — no RNG. The explode is narrow (no shuffle); the
    copies stream out of the same partition that read the row.
    """
    from g1_etl_spark.operators.sampling import hash_bucket

    n = (whole + F.when(hash_bucket(key, 100) < frac_pct, 1)
         .otherwise(0)).cast("int")
    return (df.withColumn("_n", n)
            .withColumn(copy_col,
                        F.explode(F.sequence(F.lit(1), F.col("_n"))))
            .drop("_n"))


def budget_fill(docs: DataFrame, order_cols: list, tokens_col: Column,
                budget: int, keep_cols: tuple = (),
                partitions: int | None = None) -> DataFrame:
    """Quality-ranked token-budget fill: walk the corpus in
    ``order_cols`` order (best first; caller supplies a TOTAL order)
    accumulating tokens, and keep every document whose running total
    stays within ``budget`` — the "take the best docs until N tokens"
    step of a training-data recipe.

    The running total is a GLOBAL prefix sum, but a bare
    ``SUM() OVER (ORDER BY ...)`` collapses to one task at scale, so
    this rides analytics.grouped_prefix_aggs with no group
    (range-repartition on the sort key, local running sum per
    partition, then add the partition-count-sized, driver-held prefix
    of earlier partitions' token totals).

    Returns doc rows (id ordering columns + keep_cols) with `tokens`
    and `cum_tokens`; filter semantics: a doc is kept iff its own
    cumulative total <= budget (greedy prefix, no partial docs).
    """
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs
    # NULL token counts become 0 explicitly: the window SUM would skip
    # them (silently inheriting the previous cumulative total and
    # passing the budget gate for free)
    base = docs.select(*order_cols, *keep_cols,
                       F.coalesce(tokens_col.cast("long"), F.lit(0))
                       .alias("tokens"))
    cum, _ = grouped_prefix_aggs(base, [], order_cols,
                                 {"cum_tokens": "tokens"},
                                 partitions=partitions)
    return cum.filter(F.col("cum_tokens") <= budget)


def source_overlap(docs: DataFrame, text_col: str = "text",
                   source_col: str = "source", n: int = 5) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how
    many distinct word-n-grams they share and the gram-level jaccard.
    The audit a pretraining pipeline runs before declaring two subsets
    independent (train/eval splits, crawl snapshots, vendor drops).

    Scale shape: docs reduce to DISTINCT (gram_hash, source) — one
    exchange on the gram hash; text never shuffles. Pairs come from the
    gram self-join: per-gram groups are bounded by the number of
    SOURCES (not docs), so it emits at most |sources|^2 rows per gram
    with no hot-key cap, unlike doc-level pair joins. A tempting
    one-shuffle alternative (groupBy(gram) -> collect_set(source) ->
    in-expression pair fan-out) measured marginally faster at sf0.1 but
    2.3x slower at 10x corpus scale (52s vs 23s) — collect_set's object
    hash aggregate degrades under memory pressure where the join's
    sort-merge machinery keeps scaling; the 10x probe
    (scripts/scale_probe.py) is the regression gate for this choice.
    Either shape is ~LINEAR in total distinct grams (the matrix is
    |sources|^2 but the gram-level work isn't reducible), which is the
    honest cost of a full-corpus overlap audit.
    Per-source distinct totals reuse the same reduced frame; the matrix
    join-back is a broadcast.
    """
    spread = docs.sparkSession.sparkContext.defaultParallelism
    grams = word_ngram_hashes(F.col(text_col), n)
    gs = (docs.repartition(spread)
          .select(F.col(source_col).alias("source"),
                  F.explode(grams).alias("gh"))
          .distinct())
    per = gs.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    shared = (gs.alias("a").join(
        gs.alias("b"),
        (F.col("a.gh") == F.col("b.gh"))
        & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"),
                 F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared")))
    pa = per.select(F.col("source").alias("source_a"),
                    F.col("n_grams").alias("grams_a"))
    pb = per.select(F.col("source").alias("source_b"),
                    F.col("n_grams").alias("grams_b"))
    return (shared.join(F.broadcast(pa), "source_a")
            .join(F.broadcast(pb), "source_b")
            .select("source_a", "source_b", "grams_a", "grams_b",
                    "n_shared",
                    (F.col("n_shared")
                     / (F.col("grams_a") + F.col("grams_b")
                        - F.col("n_shared"))).cast("double")
                    .alias("gram_jaccard")))
