"""Lexical retrieval over a document corpus: vocabulary construction and
BM25 ranked search — the text-side retrieval twin of operators/similarity
(embedding ANN). A training-data pipeline uses these for corpus search,
quality-slice mining, and benchmark-query decontamination checks.

Scale design (100 TB north star):
  - Tokenization/TF/DF are narrow map + one hash-shuffle groupBy each —
    the same shape as a word-count; map-side partial aggregation cuts the
    shuffle to |distinct (doc,term)|.
  - The vocabulary id assignment is a GLOBAL rank. A naive
    ``row_number() OVER (ORDER BY ...)`` collapses to a single task at
    scale, so `global_rank` is a running count through the one
    distributed prefix scan (operators/analytics.grouped_prefix_aggs):
    range-repartition on the sort key, per-partition local running
    sums, then add per-partition offsets (a partition-count-sized
    driver list, broadcast back). Same technique Spark itself uses for
    sort + zip of indices.
  - BM25 scoring joins postings to a BROADCAST query-term list, so the
    corpus is scanned once and never shuffled by query; the only wide
    ops are the TF/DF aggregates and the skew-free two-stage top-k
    (operators/similarity._two_stage_topk).

Cross-engine determinism (DuckDB oracle parity): all floating-point
inputs to sums are quantized to scaled longs BEFORE aggregation —
idf and the tf-saturation ratio are each rounded at 1e6 scale, their
product is exact long arithmetic, and the per-(query, doc) score is an
exact integer sum (see plans/_util.py for the rationale). ln() may
differ between the JVM and DuckDB in the last ulp; quantizing at 1e-6
absolute makes a disagreement require the true value to sit within
~1e-10 of a rounding boundary.

No reference analog (tdelam/g1-etl has no text retrieval); superset
operator per SURVEY.md §2.11.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from g1_etl_spark.operators.analytics import grouped_prefix_aggs
from g1_etl_spark.operators.similarity import _two_stage_topk

_SCALE = 1_000_000


def tokenize(text: Column) -> Column:
    """Array of lowercase [a-z0-9]+ tokens (empty strings filtered).

    Oracle twin: ``list_filter(regexp_split_to_array(lower(text),
    '[^a-z0-9]+'), t -> t <> '')`` in DuckDB — identical token streams.
    """
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"),
                    lambda t: t != "")


def doc_terms(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Exploded (d, term) token stream — one row per token occurrence."""
    return df.select(
        F.col(id_col).alias("d"),
        F.explode(tokenize(F.col(text_col))).alias("term"))


def global_rank(df: DataFrame, order_cols: list[Column],
                rank_col: str = "rank", partitions: int | None = None,
                ) -> DataFrame:
    """Total-order 1-based rank without a single-partition window: the
    running sum of a constant 1 over `order_cols`, through the one
    distributed prefix scan (analytics.grouped_prefix_aggs with no
    group). Output ranks are identical to a global
    ``row_number() OVER (ORDER BY ...)`` provided `order_cols` is a
    total order (caller must tie-break).
    """
    ranked, _ = grouped_prefix_aggs(
        df.withColumn("_one", F.lit(1).cast("long")), [], order_cols,
        {rank_col: "_one"}, partitions=partitions)
    return ranked.drop("_one")


def build_vocab(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_count: int = 2) -> DataFrame:
    """(term, cnt, term_id): corpus vocabulary with contiguous ids.

    Ids are assigned by (count DESC, term ASC) — the conventional
    frequency-ordered vocabulary (id 1 = most frequent term), with the
    lexicographic tie-break making the assignment deterministic and
    engine-portable. One token-count shuffle + the distributed rank.
    """
    counts = (doc_terms(df, text_col, id_col)
              .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
              .filter(F.col("cnt") >= min_count))
    return global_rank(
        counts, [F.col("cnt").desc(), F.col("term").asc()],
        rank_col="term_id").select("term", "cnt", "term_id")


def bm25_topk(docs: DataFrame, query_terms: DataFrame, k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """(q_id, neighbor_id, score, rank): BM25 top-k docs per query.

    `query_terms` is a small (q_id, term) frame — broadcast, so scoring
    is one corpus scan joined map-side to the query list. Score math is
    quantized for exactness: per-(term, doc)
    ``score = round(idf·1e6) * round(satur·1e6)`` summed as longs, then
    ``/1e12`` for the reported double; idf is the BM25+ form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``, satur the usual
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.
    """
    terms = doc_terms(docs, text_col, id_col)
    postings = terms.groupBy("d", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dl = terms.groupBy("d").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_dl"))
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored_terms = (postings
                    .join(F.broadcast(query_terms), "term")
                    .join(df_t, "term")
                    .join(dl, "d")
                    .crossJoin(F.broadcast(stats)))
    avgdl = F.col("total_dl").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    satur = (F.col("tf") * (k1 + 1.0)
             / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)))
    per_term = scored_terms.select(
        "q_id", F.col("d").alias("neighbor_id"),
        (F.round(idf * _SCALE).cast("long")
         * F.round(satur * _SCALE).cast("long")).alias("s"))
    scored = (per_term.groupBy("q_id", "neighbor_id")
              .agg((F.sum("s").cast("double") / F.lit(float(_SCALE) ** 2))
                   .alias("score")))
    return _two_stage_topk(scored, "q_id", k)


def tokenize_to_ids(df: DataFrame, vocab: DataFrame,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(doc_id, ids, n_tokens, n_oov): each document as its in-order
    vocabulary-id sequence — the tokenize step that feeds sequence
    packing (operators/curation.pack_sequences) in a training pipeline.

    Out-of-vocabulary tokens (dropped by the vocab's min_count) are
    excluded from `ids` and counted in `n_oov`. The vocab is broadcast
    (it is orders of magnitude smaller than the corpus), so the only
    wide op is the per-document groupBy; order is restored by sorting
    the (pos, id) pairs inside each group — no window, no skew.
    Zero-token documents vanish with the explode (both engines agree).
    """
    toks = df.select(
        F.col(id_col).alias("d"),
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "term"))
    joined = toks.join(F.broadcast(vocab.select("term", "term_id")),
                       "term", "left")
    hit = F.col("term_id").isNotNull()
    return (joined.groupBy("d")
            .agg(F.transform(
                     F.sort_array(F.collect_list(
                         F.when(hit, F.struct("pos", "term_id")))),
                     lambda x: x["term_id"]).alias("ids"),
                 F.count(F.lit(1)).alias("n_tokens"),
                 F.sum(F.when(hit, F.lit(0)).otherwise(F.lit(1)))
                 .alias("n_oov"))
            .withColumnRenamed("d", id_col))


def tfidf_topk_terms(docs: DataFrame, k: int = 3,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, tf, score, rank): top-k characteristic terms per
    document by TF-IDF — keyword extraction for corpus exploration,
    topic labeling, and per-domain vocabulary drift monitoring.

    score = tf * ln(N / df), quantized for cross-engine exactness:
    the idf factor is rounded at 1e6 scale and multiplied by the
    integer tf, so ranking and output compare exactly (ties broken by
    term). Plan shape: one token-count shuffle for postings, then df
    comes from an unbounded COUNT window over term (postings are unique
    per (doc, term)) instead of a separate aggregate + self-join — that
    saves recomputing the posting scan and one join exchange. The worst
    term partition is a corpus-wide stopword = one row per doc it
    appears in — the same width the df aggregate would shuffle anyway.
    The per-doc top-k window partitions on doc_id, whose cardinality IS
    the corpus, so there is no skewed partition.
    """
    terms = doc_terms(docs, text_col, id_col)
    postings = terms.groupBy("d", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_w = F.count(F.lit(1)).over(W.partitionBy("term"))
    idf = F.log(F.col("n_docs").cast("double") / F.col("df"))
    scored = (postings.withColumn("df", df_w)
              .crossJoin(F.broadcast(n_docs))
              .select("d", "term", "tf",
                      (F.col("tf") * F.round(idf * _SCALE).cast("long"))
                      .alias("_s")))
    w = W.partitionBy("d").orderBy(F.col("_s").desc(), F.col("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(F.col("d").alias(id_col), "term",
                    F.col("tf").cast("long").alias("tf"),
                    (F.col("_s").cast("double") / _SCALE).alias("score"),
                    F.col("rank").cast("long").alias("rank")))
