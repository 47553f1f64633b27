"""Statistical aggregation surface with deterministic oracles.

stddev/variance/correlation are NOT oracle-safe via the built-ins (Spark
and DuckDB use different accumulation algorithms -> last-ulp drift), so
the oracle-checked forms compute the textbook formulas from exact decimal
sums — identical double operands on both sides. The built-in variants are
asserted within tolerance in tests/test_stats.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.plans.registry import register


@register(
    "agg_percentiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           quantile_cont(l_extendedprice, 0.25) AS p25_price,
           MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    description="exact interpolated percentiles (percentile/quantile_cont)",
    tags=("agg", "stats"),
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.percentile("l_quantity", 0.5).alias("median_qty"),
                 F.percentile("l_quantity", 0.9).alias("p90_qty"),
                 F.percentile("l_extendedprice", 0.25).alias("p25_price"),
                 F.min("l_quantity").alias("min_qty"),
                 F.max("l_quantity").alias("max_qty")))


# Second-moment sums (x², xy) overflow double's 15.95 significant digits
# when routed through wide decimals (the decimal->double cast then rounds
# differently per engine), so they use the OTHER determinism tool: sort
# the per-row products, sum sequentially — identical operation order in
# both engines. The scale path for plain sums stays decimal (plans/_util).
_SORTSUM = "list_sum(list_sort(list({expr})))"


@register(
    "agg_moments",
    oracle=f"""
    SELECT l_returnflag, n,
           (sxx - sx * sx / n) / (n - 1) AS var_qty,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
           (sxy - sx * sy / n) / (n - 1) AS covar_qty_price,
           (sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))
             AS corr_qty_price
    FROM (SELECT l_returnflag,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 {_SORTSUM.format(expr='l_quantity')} AS sx,
                 {_SORTSUM.format(expr='l_quantity * l_quantity')} AS sxx,
                 {_SORTSUM.format(expr='l_extendedprice')} AS sy,
                 {_SORTSUM.format(expr='l_extendedprice * l_extendedprice')}
                   AS syy,
                 {_SORTSUM.format(expr='l_quantity * l_extendedprice')}
                   AS sxy
          FROM lineitem GROUP BY l_returnflag)
    """,
    description="variance/stddev/covariance/correlation from sorted "
                "sequential-sum moments (textbook formulas, "
                "bit-deterministic; see module docstring)",
    tags=("agg", "stats"),
)
def agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    q = F.col("l_quantity")
    p = F.col("l_extendedprice")
    base = (li.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).cast("double").alias("n"),
                 sortsum(q).alias("sx"),
                 sortsum(q * q).alias("sxx"),
                 sortsum(p).alias("sy"),
                 sortsum(p * p).alias("syy"),
                 sortsum(q * p).alias("sxy")))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    return base.select(
        "l_returnflag", "n",
        ((sxx - sx * sx / n) / (n - 1)).alias("var_qty"),
        F.sqrt((sxx - sx * sx / n) / (n - 1)).alias("stddev_qty"),
        ((sxy - sx * sy / n) / (n - 1)).alias("covar_qty_price"),
        ((sxy - sx * sy / n)
         / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)))
        .alias("corr_qty_price"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
    description="fixed-width histogram buckets over order totals",
    tags=("agg", "stats"),
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (o.groupBy(F.floor(F.col("o_totalprice") / 25000).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("o_totalprice").alias("lo"),
                 F.max("o_totalprice").alias("hi")))


# Contract row: the sketch value itself is engine-specific, but its
# ERROR BOUND is checkable. percentile_approx(accuracy=1e4) guarantees
# rank error <= 1e-4; the contract brackets the approx value between
# the exact interpolated quantiles at p +/- 0.001 (10x the guaranteed
# rank error, so value-level monotonicity absorbs interpolation) and
# ships the booleans to the driver — a sketch regression breaking the
# GK guarantee turns the row red.
@register(
    "agg_approx_percentile",
    oracle="""
    SELECT DISTINCT l_returnflag, TRUE AS median_ok, TRUE AS p90_ok
    FROM lineitem
    """,
    description="approximate percentiles (GK sketch, accuracy 1e4): "
                "mergeable one-pass summaries — the 100 TB path where "
                "exact percentile's full sort/collect is off the table; "
                "registered as an error-bound contract vs the exact "
                "quantiles at p +/- 0.001",
    tags=("agg", "stats", "sketch", "contract"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    agg = (li.groupBy("l_returnflag")
           .agg(F.percentile_approx("l_quantity", 0.5, 10_000)
                .alias("median_qty"),
                F.percentile_approx("l_extendedprice", 0.9, 10_000)
                .alias("p90_price"),
                F.expr("percentile(l_quantity, 0.499)").alias("_q_lo"),
                F.expr("percentile(l_quantity, 0.501)").alias("_q_hi"),
                F.expr("percentile(l_extendedprice, 0.899)").alias("_p_lo"),
                F.expr("percentile(l_extendedprice, 0.901)").alias("_p_hi")))
    return agg.select(
        "l_returnflag",
        ((F.col("median_qty") >= F.col("_q_lo"))
         & (F.col("median_qty") <= F.col("_q_hi"))).alias("median_ok"),
        ((F.col("p90_price") >= F.col("_p_lo"))
         & (F.col("p90_price") <= F.col("_p_hi"))).alias("p90_ok"))


@register(
    "agg_mode_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderpriority AS mode_priority, n
    FROM (SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY COUNT(*) DESC,
                                             o_orderpriority) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment, o_orderpriority)
    WHERE rn = 1
    """,
    description="mode (most frequent value) per group with deterministic "
                "tie-break",
    tags=("agg", "stats"),
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # customer grows with sf — no hint; AQE broadcasts while it fits
    counts = (o.join(c, o.o_custkey == c.c_custkey)
              .groupBy("c_mktsegment", "o_orderpriority")
              .agg(F.count(F.lit(1)).alias("n")))
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("n"), "o_orderpriority")
    return (counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("c_mktsegment",
                    F.col("o_orderpriority").alias("mode_priority"), "n"))


_CMS_W = 256
# the three (a, b) LCG rows restated verbatim from operators/sketches —
# the oracle recomputes the exact buckets, cells and min-estimates
_CMS_HASHES_SQL = ("(VALUES (0, 1103515245, 12345), "
                   "(1, 69069, 362437), "
                   "(2, 1664525, 1013904223)) AS h(j, a, b)")

_CMS_SQL = f"""
    WITH counts AS (SELECT o_custkey AS k, COUNT(*) AS cnt
                    FROM orders GROUP BY o_custkey),
    hashes AS (SELECT * FROM {_CMS_HASHES_SQL}),
    cells AS (
      SELECT h.j, ((h.a * c.k + h.b) % 2147483647) % {_CMS_W} AS bucket,
             CAST(SUM(c.cnt) AS BIGINT) AS c
      FROM counts c CROSS JOIN hashes h GROUP BY 1, 2),
    topk AS (SELECT k, cnt FROM counts ORDER BY cnt DESC, k LIMIT 20),
    probes AS (
      SELECT t.k, t.cnt, h.j,
             ((h.a * t.k + h.b) % 2147483647) % {_CMS_W} AS bucket
      FROM topk t CROSS JOIN hashes h)
    SELECT p.k AS custkey, p.cnt AS exact_cnt, MIN(s.c) AS cms_est
    FROM probes p JOIN cells s ON p.j = s.j AND p.bucket = s.bucket
    GROUP BY 1, 2 ORDER BY custkey
"""


@register(
    "sketch_cms_orders",
    oracle=_CMS_SQL,
    description="Count-Min sketch (depth 3 x width 256, all-integer "
                "LCG hashes) over per-customer order counts, probed at "
                "the exact top-20 customers — the mergeable O(d*w) "
                "frequency structure (cell updates are SUMs, so "
                "partition-local sketches merge by addition with "
                "map-side combine); output carries exact vs estimate "
                "side by side, and est >= exact is the one-sided CMS "
                "bound (property-tested); the oracle restates the LCG "
                "buckets verbatim, so even the COLLISION pattern is "
                "bit-checked",
    tags=("sketch", "agg", "scale"),
)
def sketch_cms_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.sketches import cms_build, cms_estimate

    orders = load_table(spark, sf_dir, "orders")
    sketch = cms_build(orders, "o_custkey", width=_CMS_W)
    counts = (orders.groupBy(F.col("o_custkey").alias("custkey"))
              .agg(F.count(F.lit(1)).alias("exact_cnt")))
    topk = counts.orderBy(F.desc("exact_cnt"), "custkey").limit(20)
    return (cms_estimate(sketch, topk, "custkey", width=_CMS_W)
            .select("custkey", "exact_cnt", "cms_est")
            .orderBy("custkey"))


@register(
    "skyline_parts",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice, p_size
    FROM part r
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= r.p_retailprice
        AND q.p_size >= r.p_size
        AND (q.p_retailprice < r.p_retailprice OR q.p_size > r.p_size))
    ORDER BY p_partkey
    """,
    description="2-D skyline / Pareto front of parts (minimize retail "
                "price, maximize size) — EXACT without any pairwise "
                "comparison: dominance reduces to a per-price group "
                "max plus a distributed STRICT prefix max over the "
                "price-ordered group table (the grouped_prefix_aggs "
                "range-partition shape with a max carry), then one "
                "equi-join back; "
                "oracle = the textbook quadratic NOT EXISTS self-join, "
                "a genuinely different algorithm agreeing row-for-row "
                "(operators/analytics.skyline_2d)",
    tags=("analytics", "scale"),
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import skyline_2d

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_retailprice", "p_size")
    return (skyline_2d(part, "p_retailprice", "p_size")
            .orderBy("p_partkey"))


_CMS_JOIN_SQL = f"""
    WITH ca AS (SELECT o_custkey AS k, COUNT(*) AS cnt
                FROM orders GROUP BY 1),
    cb AS (SELECT c_custkey AS k, COUNT(*) AS cnt
           FROM customer WHERE c_mktsegment = 'BUILDING' GROUP BY 1),
    hashes AS (SELECT * FROM {_CMS_HASHES_SQL}),
    sa AS (SELECT h.j,
                  ((h.a * ca.k + h.b) % 2147483647) % {_CMS_W} AS bucket,
                  CAST(SUM(ca.cnt) AS BIGINT) AS c
           FROM ca CROSS JOIN hashes h GROUP BY 1, 2),
    sb AS (SELECT h.j,
                  ((h.a * cb.k + h.b) % 2147483647) % {_CMS_W} AS bucket,
                  CAST(SUM(cb.cnt) AS BIGINT) AS c
           FROM cb CROSS JOIN hashes h GROUP BY 1, 2),
    ip AS (SELECT sa.j, CAST(SUM(sa.c * sb.c) AS BIGINT) AS v
           FROM sa JOIN sb ON sa.j = sb.j AND sa.bucket = sb.bucket
           GROUP BY 1),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_size
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING')
    SELECT (SELECT MIN(v) FROM ip) AS est,
           ex.exact_size,
           (SELECT MIN(v) FROM ip) >= ex.exact_size AS lower_bound_ok
    FROM ex
"""


@register(
    "sketch_cms_join_size",
    oracle=_CMS_JOIN_SQL,
    description="sketch-based JOIN-SIZE estimation: |orders x BUILDING "
                "customers on custkey| estimated as the Count-Min "
                "inner product min_j sum_b A[j][b]*B[j][b] — how an "
                "optimizer sizes a join from O(d*w) state per relation "
                "without touching data; every bucket product contains "
                "all true matches plus non-negative collision terms, "
                "so est >= exact always (lower_bound_ok carried in the "
                "row); the LCG buckets are SQL-stated, so the ESTIMATE "
                "itself hash-matches the oracle, not just the bound",
    tags=("sketch", "join", "scale"),
)
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.sketches import cms_build, cms_join_size

    orders = load_table(spark, sf_dir, "orders")
    cust = (load_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING"))
    est = cms_join_size(cms_build(orders, "o_custkey", width=_CMS_W),
                        cms_build(cust, "c_custkey", width=_CMS_W))
    exact = (orders.join(cust,
                         orders.o_custkey == cust.c_custkey)
             .agg(F.count(F.lit(1)).alias("exact_size")))
    return (est.crossJoin(F.broadcast(exact))
            .select("est", "exact_size",
                    (F.col("est") >= F.col("exact_size"))
                    .alias("lower_bound_ok")))


_KMV_K = 256
_KMV_H = "(1103515245 * {key} + 12345) % 2147483647"

_KMV_SQL = f"""
    WITH hashes AS (
      SELECT DISTINCT {_KMV_H.format(key='l_orderkey')} AS h
      FROM lineitem),
    bot AS (SELECT h FROM hashes ORDER BY h LIMIT {_KMV_K}),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                 CAST(MAX(h) AS BIGINT) AS kth_hash FROM bot),
    e AS (SELECT k_used, kth_hash,
                 CASE WHEN k_used >= {_KMV_K}
                      THEN CAST((k_used - 1) * 2147483647 AS DOUBLE)
                           / CAST(kth_hash AS DOUBLE)
                      ELSE CAST(k_used AS DOUBLE) END AS est
          FROM s),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM hashes)
    SELECT e.k_used, e.kth_hash, e.est, ex.exact_distinct,
           abs(e.est / CAST(ex.exact_distinct AS DOUBLE) - 1.0) <= 0.3125
             AS rel_err_ok
    FROM e, ex
"""


@register(
    "sketch_kmv_distinct",
    oracle=_KMV_SQL,
    description="KMV / bottom-k distinct sketch (k=256, bijective LCG "
                "hash): est = (k-1)*P/h_(k) — the O(k)-state mergeable "
                "distinct counter (per-partition bottom-k heaps merge "
                "via TakeOrderedAndProject, no global sort); exact "
                "count carried alongside and the 5/sqrt(k) relative-"
                "error contract shipped as a boolean; the LCG hash is "
                "SQL-stated so the ESTIMATE itself is bit-checked, "
                "unlike HLL where only the bound can be "
                "(operators/sketches.kmv_build)",
    tags=("sketch", "agg", "scale"),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.sketches import (kmv_build,
                                                 kmv_distinct_estimate)

    li = load_table(spark, sf_dir, "lineitem")
    est = kmv_distinct_estimate(kmv_build(li, "l_orderkey", k=_KMV_K),
                                k=_KMV_K)
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("exact_distinct"))
    return (est.crossJoin(F.broadcast(exact))
            .select("k_used", "kth_hash", "est", "exact_distinct",
                    (F.abs(F.col("est")
                           / F.col("exact_distinct").cast("double")
                           - 1.0) <= 0.3125).alias("rel_err_ok")))


_KMV_JACCARD_SQL = f"""
    WITH a AS (
      SELECT DISTINCT {_KMV_H.format(key='o_custkey')} AS h
      FROM orders WHERE year(o_orderdate) = 1995),
    b AS (
      SELECT DISTINCT {_KMV_H.format(key='o_custkey')} AS h
      FROM orders WHERE year(o_orderdate) = 1996),
    ka AS (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
    kb AS (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
    u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
          ORDER BY h LIMIT {_KMV_K}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
                 CAST(SUM(CASE WHEN u.h IN (SELECT h FROM ka)
                                AND u.h IN (SELECT h FROM kb)
                               THEN 1 ELSE 0 END) AS BIGINT) AS matches
          FROM u),
    ex AS (
      SELECT CAST(COUNT(*) FILTER (WHERE in_a AND in_b) AS BIGINT)
               AS exact_inter,
             CAST(COUNT(*) AS BIGINT) AS exact_union
      FROM (SELECT h, COUNT(*) FILTER (WHERE s = 'a') > 0 AS in_a,
                   COUNT(*) FILTER (WHERE s = 'b') > 0 AS in_b
            FROM (SELECT h, 'a' AS s FROM a
                  UNION ALL SELECT h, 'b' AS s FROM b)
            GROUP BY h)),
    j AS (SELECT m.k_used, m.matches,
                 CAST(m.matches AS DOUBLE) / CAST(m.k_used AS DOUBLE)
                   AS jaccard_est,
                 CAST(ex.exact_inter AS DOUBLE)
                   / CAST(ex.exact_union AS DOUBLE) AS exact_jaccard,
                 ex.exact_inter, ex.exact_union
          FROM m, ex)
    SELECT k_used, matches, jaccard_est, exact_jaccard,
           exact_inter, exact_union,
           abs(jaccard_est - exact_jaccard)
             <= 5.0 * sqrt(exact_jaccard * (1.0 - exact_jaccard)
                           / CAST(k_used AS DOUBLE))
                + 1.0 / CAST(k_used AS DOUBLE) AS err_ok
    FROM j
"""


@register(
    "sketch_kmv_jaccard",
    oracle=_KMV_JACCARD_SQL,
    description="KMV set-operation estimation: Jaccard(1995 buyers, "
                "1996 buyers) from two O(k) sketches alone — union "
                "sketch = bottom-k of the two sketches' union (the "
                "mergeability identity), estimate = |union-sketch "
                "members present in BOTH input sketches| / k (any "
                "union-sketch element of A is <= A's k-th minimum, so "
                "sketch membership IS set membership — no false "
                "negatives by construction); this is where KMV beats "
                "HLL, whose intersections need inclusion-exclusion "
                "error stacking; exact Jaccard carried alongside with "
                "a 5-sigma binomial error contract, every arithmetic "
                "step restated in the oracle so even the ESTIMATE "
                "hash-matches (operators/sketches.kmv_union)",
    tags=("sketch", "agg", "scale"),
)
def sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.sketches import kmv_build, kmv_union

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.year("o_orderdate") == 1995)
    b = orders.filter(F.year("o_orderdate") == 1996)
    ka = kmv_build(a, "o_custkey", k=_KMV_K)
    kb = kmv_build(b, "o_custkey", k=_KMV_K)
    u = kmv_union(ka, kb, k=_KMV_K)
    m = (u.join(F.broadcast(ka), "h", "left_semi")
         .join(F.broadcast(kb), "h", "left_semi")
         .agg(F.count(F.lit(1)).alias("matches"))
         .crossJoin(F.broadcast(
             u.agg(F.count(F.lit(1)).alias("k_used")))))
    ha = a.select(F.col("o_custkey").alias("k")).distinct()
    hb = b.select(F.col("o_custkey").alias("k")).distinct()
    ex = (ha.unionByName(hb).distinct()
          .agg(F.count(F.lit(1)).alias("exact_union"))
          .crossJoin(F.broadcast(
              ha.join(hb, "k", "left_semi")
              .agg(F.count(F.lit(1)).alias("exact_inter")))))
    j_est = F.col("matches").cast("double") / F.col("k_used").cast("double")
    j_ex = (F.col("exact_inter").cast("double")
            / F.col("exact_union").cast("double"))
    bound = (F.lit(5.0) * F.sqrt(j_ex * (F.lit(1.0) - j_ex)
                                 / F.col("k_used").cast("double"))
             + F.lit(1.0) / F.col("k_used").cast("double"))
    return (m.crossJoin(F.broadcast(ex))
            .select("k_used", "matches", j_est.alias("jaccard_est"),
                    j_ex.alias("exact_jaccard"),
                    "exact_inter", "exact_union",
                    (F.abs(j_est - j_ex) <= bound).alias("err_ok")))


@register(
    "stats_welch_ttest",
    oracle=f"""
    WITH m AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS DOUBLE) AS n,
             {_SORTSUM.format(expr='o_totalprice')} AS sx,
             {_SORTSUM.format(expr='o_totalprice * o_totalprice')} AS sxx
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment),
    g AS (SELECT c_mktsegment, n, sx / n AS mean,
                 ((sxx - sx * sx / n) / (n - 1)) / n AS sem2
          FROM m),
    w AS (SELECT a.n AS n1, b.n AS n2, a.mean AS mean1, b.mean AS mean2,
                 a.sem2 AS v1, b.sem2 AS v2
          FROM g a, g b
          WHERE a.c_mktsegment = 'BUILDING'
            AND b.c_mktsegment = 'MACHINERY')
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           mean1 - mean2 AS mean_diff,
           (mean1 - mean2) / sqrt(v1 + v2) AS t_stat,
           (v1 + v2) * (v1 + v2)
             / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1)) AS welch_df,
           abs((mean1 - mean2) / sqrt(v1 + v2)) > 1.96 AS reject_95
    FROM w
    """,
    description="Welch two-sample t-test (BUILDING vs MACHINERY order "
                "totals): t statistic and Welch-Satterthwaite degrees "
                "of freedom from the same one-pass algebraic moments "
                "as the OLS/variance family — the A/B-test primitive "
                "at aggregate scale (no row ever leaves its segment's "
                "partial sum); sorted-sequential sums keep both "
                "engines bit-identical, the final t/df are fixed "
                "expression trees on identical doubles",
    tags=("stats", "agg"),
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    x = F.col("o_totalprice")
    # customer grows with sf — no hint; AQE broadcasts while it fits
    m = (o.join(c, o.o_custkey == c.c_custkey)
         .groupBy("c_mktsegment")
         .agg(F.count(F.lit(1)).cast("double").alias("n"),
              sortsum(x).alias("sx"),
              sortsum(x * x).alias("sxx")))
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    g = m.select("c_mktsegment", n.alias("n"), (sx / n).alias("mean"),
                 (((sxx - sx * sx / n) / (n - 1)) / n).alias("sem2"))
    a = (g.filter(F.col("c_mktsegment") == "BUILDING")
         .select(F.col("n").alias("n1"), F.col("mean").alias("mean1"),
                 F.col("sem2").alias("v1")))
    b = (g.filter(F.col("c_mktsegment") == "MACHINERY")
         .select(F.col("n").alias("n2"), F.col("mean").alias("mean2"),
                 F.col("sem2").alias("v2")))
    n1, n2 = F.col("n1"), F.col("n2")
    m1, m2, v1, v2 = (F.col("mean1"), F.col("mean2"),
                      F.col("v1"), F.col("v2"))
    t = (m1 - m2) / F.sqrt(v1 + v2)
    df_w = ((v1 + v2) * (v1 + v2)
            / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1)))
    return (a.crossJoin(F.broadcast(b))
            .select(n1.cast("long").alias("n1"),
                    n2.cast("long").alias("n2"),
                    (m1 - m2).alias("mean_diff"),
                    t.alias("t_stat"), df_w.alias("welch_df"),
                    (F.abs(t) > 1.96).alias("reject_95")))


@register(
    "orders_abc_parts",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                 * 1000000) AS BIGINT)) AS BIGINT) AS v
      FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS total FROM rev),
    c AS (SELECT l_partkey, v,
                 CAST(SUM(v) OVER (ORDER BY v DESC, l_partkey)
                      AS BIGINT) AS cum_value
          FROM rev)
    SELECT c.l_partkey, c.v AS value, c.cum_value,
           CAST(c.cum_value AS DOUBLE) / CAST(t.total AS DOUBLE)
             AS cum_share,
           CASE WHEN c.cum_value * 100 <= t.total * 70 THEN 'A'
                WHEN c.cum_value * 100 <= t.total * 90 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, tot t
    """,
    description="ABC / Pareto revenue classes per part (A = first 70% "
                "of cumulative revenue, B to 90%, C the tail): the "
                "global running total uses the distributed range-"
                "partition prefix scan (grouped_prefix_aggs), "
                "NOT a single-partition SUM OVER — the oracle's window "
                "IS that single-task form, a genuinely different "
                "evaluation agreeing bit-for-bit because the running "
                "totals are exact scaled longs and the class "
                "thresholds compare pure integers "
                "(operators/analytics.pareto_abc)",
    tags=("analytics", "agg", "scale"),
)
def orders_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import pareto_abc

    li = load_table(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.round(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))
                              * 1000000).cast("long")).alias("v")))
    return pareto_abc(rev, "l_partkey", "v", a_pct=70, b_pct=90)


@register(
    "orders_rfm_scores",
    oracle="""
    WITH anchor AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS ad
                    FROM orders),
    per AS (
      SELECT o_custkey AS custkey,
             CAST(MAX(o_orderdate) AS DATE) AS last_d,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT))
                  AS BIGINT) AS msc
      FROM orders GROUP BY 1),
    base AS (
      SELECT custkey,
             CAST(date_diff('day', last_d, a.ad) AS BIGINT)
               AS recency_days,
             frequency, msc
      FROM per, anchor a),
    r AS (SELECT *,
            ROW_NUMBER() OVER (ORDER BY recency_days, custkey) AS rr,
            ROW_NUMBER() OVER (ORDER BY frequency, custkey) AS rf,
            ROW_NUMBER() OVER (ORDER BY msc, custkey) AS rm,
            COUNT(*) OVER () AS n
          FROM base)
    SELECT custkey, recency_days, frequency,
           CAST(msc AS DOUBLE) / 1000000 AS monetary,
           CAST(6 - (FLOOR((rr - 1) * 5 / n) + 1) AS INT) AS r_score,
           CAST(FLOOR((rf - 1) * 5 / n) + 1 AS INT) AS f_score,
           CAST(FLOOR((rm - 1) * 5 / n) + 1 AS INT) AS m_score,
           CAST(CAST(6 - (FLOOR((rr - 1) * 5 / n) + 1) AS INT)
                AS VARCHAR)
             || CAST(CAST(FLOOR((rf - 1) * 5 / n) + 1 AS INT) AS VARCHAR)
             || CAST(CAST(FLOOR((rm - 1) * 5 / n) + 1 AS INT) AS VARCHAR)
             AS rfm
    FROM r
    """,
    description="RFM customer segmentation (recency/frequency/monetary "
                "quintiles, 5 = best): one per-customer aggregate, the "
                "global max-date anchor crossed in as a broadcast "
                "scalar, then three equi-depth quintile assignments "
                "via the distributed total-order rank (never a single-"
                "partition NTILE; the oracle's three ROW_NUMBER "
                "windows are that single-task form) — the classic "
                "marketing-segmentation table, exact scaled-long "
                "money (operators/features.equidepth_bins x3)",
    tags=("analytics", "stats", "scale"),
)
def orders_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.features import equidepth_bins

    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_ad"))
    per = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.max(F.col("o_orderdate").cast("date")).alias("_last"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(F.round(F.col("o_totalprice") * 1000000)
                      .cast("long")).alias("_msc")))
    base = (per.crossJoin(F.broadcast(anchor))
            .select("custkey",
                    F.datediff(F.col("_ad"), F.col("_last")).cast("long")
                    .alias("recency_days"),
                    "frequency", "_msc"))
    # Each quintile assignment bins the same (value, custkey) pairs over
    # the same N; the three join back 1:1 on the unique custkey.
    def _bins(col: str, out: str) -> DataFrame:
        return (equidepth_bins(base, col, ["custkey"], 5, out)
                .select("custkey", out))

    rb = _bins("recency_days", "_rb")
    fb = _bins("frequency", "_fb")
    mb = _bins("_msc", "_mb")
    b = base.join(rb, "custkey").join(fb, "custkey").join(mb, "custkey")
    r = (F.lit(6) - F.col("_rb")).cast("int")
    f_ = F.col("_fb").cast("int")
    m = F.col("_mb").cast("int")
    return b.select(
        "custkey", "recency_days", "frequency",
        (F.col("_msc").cast("double") / 1000000).alias("monetary"),
        r.alias("r_score"), f_.alias("f_score"), m.alias("m_score"),
        F.concat(r.cast("string"), f_.cast("string"),
                 m.cast("string")).alias("rfm"))


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH fo AS (
      SELECT o_custkey,
             date_trunc('month', MIN(CAST(o_orderdate AS DATE)))
               AS cohort_month
      FROM orders GROUP BY o_custkey),
    act AS (
      SELECT fo.cohort_month,
             date_trunc('month', CAST(o.o_orderdate AS DATE))
               AS order_month,
             o.o_custkey, o.o_totalprice
      FROM orders o JOIN fo ON o.o_custkey = fo.o_custkey)
    SELECT CAST(cohort_month AS DATE) AS cohort_month,
           CAST(order_month AS DATE) AS order_month,
           CAST((year(order_month) * 12 + month(order_month))
                - (year(cohort_month) * 12 + month(cohort_month))
                AS INT) AS months_since,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT))
                AS DOUBLE) / 1000000 AS revenue
    FROM act GROUP BY cohort_month, order_month
    """,
    description="customer-cohort lifetime-value matrix: customers "
                "grouped by first-order month, revenue and active "
                "counts per (cohort, calendar month) — the standard "
                "retention/LTV triangle; one per-customer min "
                "aggregate joined back (AQE-chosen strategy), month "
                "arithmetic as pure integers (y*12+m) so the offsets "
                "are engine-exact, money through scaled longs",
    tags=("analytics", "agg"),
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    fo = (o.groupBy("o_custkey")
          .agg(F.trunc(F.min(F.col("o_orderdate").cast("date")), "month")
               .alias("cohort_month")))
    act = (o.join(fo, "o_custkey")
           .select("cohort_month",
                   F.trunc(F.col("o_orderdate").cast("date"), "month")
                   .alias("order_month"),
                   "o_custkey", "o_totalprice"))
    months = ((F.year("order_month") * 12 + F.month("order_month"))
              - (F.year("cohort_month") * 12 + F.month("cohort_month")))
    return (act.groupBy("cohort_month", "order_month")
            .agg(F.countDistinct("o_custkey").alias("n_customers"),
                 F.count(F.lit(1)).alias("n_orders"),
                 (F.sum(F.round(F.col("o_totalprice") * 1000000)
                        .cast("long")).cast("double") / 1000000)
                 .alias("revenue"))
            .select("cohort_month", "order_month",
                    months.cast("int").alias("months_since"),
                    "n_customers", "n_orders", "revenue"))


@register(
    "stats_auc_purchase",
    oracle="""
    WITH g AS (SELECT value AS s, COUNT(*) AS cnt,
                      SUM(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS pos
               FROM events GROUP BY value),
    c AS (SELECT s, pos, cnt - pos AS neg,
                 COALESCE(SUM(cnt - pos) OVER (
                   ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS neg_below
          FROM g),
    t AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
                 CAST(SUM(neg) AS BIGINT) AS n_neg,
                 CAST(SUM(pos * (2 * neg_below + neg)) AS BIGINT) AS u2
          FROM c)
    SELECT n_pos, n_neg,
           CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg) AS auc
    FROM t
    """,
    description="ROC-AUC of `value` predicting event_type='purchase' "
                "via the exact Mann-Whitney U statistic: group by "
                "distinct score (the 2-decimal grid bounds that frame "
                "independent of row count), distributed prefix sum of "
                "negative counts over the score order "
                "(operators/analytics.grouped_prefix_aggs — range "
                "repartition + driver-held per-partition offsets, no "
                "single-partition window over raw rows), tie-corrected "
                "U kept as a pure BIGINT (doubled to avoid the .5 tie "
                "term) so the one final division is the only float op "
                "— bit-identical across engines; the oracle's "
                "windowed form is the same math",
    tags=("stats", "ml", "scale"),
)
def stats_auc_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    ev = load_table(spark, sf_dir, "events")
    g = (ev.groupBy(F.col("value").alias("s"))
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.sum(F.when(F.col("event_type") == "purchase", 1)
                    .otherwise(0)).alias("pos")))
    g = g.withColumn("neg", F.col("cnt") - F.col("pos"))
    c, _ = grouped_prefix_aggs(g, [], [F.col("s")], {"cum_neg": "neg"})
    t = c.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.sum(F.col("pos") * (2 * (F.col("cum_neg") - F.col("neg"))
                              + F.col("neg"))).cast("long").alias("u2"))
    return t.select(
        "n_pos", "n_neg",
        (F.col("u2").cast("double")
         / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg"))).alias("auc"))


@register(
    "stats_chi2_segment_priority",
    oracle=f"""
    WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
               FROM orders JOIN customer ON o_custkey = c_custkey),
    obs AS (SELECT seg, pri, COUNT(*) AS o FROM j GROUP BY 1, 2),
    rt AS (SELECT seg, SUM(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT pri, SUM(o) AS c FROM obs GROUP BY 1),
    nt AS (SELECT SUM(o) AS n, COUNT(DISTINCT seg) AS nr,
                  COUNT(DISTINCT pri) AS nc FROM obs),
    cells AS (SELECT o, CAST(r AS DOUBLE) * c / n AS e, nr, nc, n
              FROM obs JOIN rt USING (seg) JOIN ct USING (pri)
              CROSS JOIN nt)
    SELECT {_SORTSUM.format(expr='(o - e) * (o - e) / e')} AS chi2,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS df,
           CAST(n AS BIGINT) AS n,
           sqrt({_SORTSUM.format(expr='(o - e) * (o - e) / e')}
                / (CAST(n AS DOUBLE) * LEAST(nr - 1, nc - 1)))
             AS cramers_v
    FROM cells GROUP BY nr, nc, n
    """,
    description="chi-square test of independence for market segment x "
                "order priority (+ Cramer's V effect size): observed "
                "counts are one groupBy over the join, expected counts "
                "are row-total x column-total / n on the "
                "alphabet-bounded 5x5 cell frame, the chi2 sum runs "
                "sorted-sequential over the 25 cell terms so both "
                "engines add identical doubles in identical order — "
                "the categorical-association primitive next to the "
                "Welch t-test's numeric one",
    tags=("stats", "agg"),
)
def stats_chi2_segment_priority(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    j = (o.join(cu, o.o_custkey == cu.c_custkey)
         .select(F.col("c_mktsegment").alias("seg"),
                 F.col("o_orderpriority").alias("pri")))
    obs = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("pri").agg(F.sum("o").alias("c"))
    nt = obs.agg(F.sum("o").alias("n"),
                 F.countDistinct("seg").alias("nr"),
                 F.countDistinct("pri").alias("nc"))
    e = F.col("r").cast("double") * F.col("c") / F.col("n")
    cells = (obs.join(rt, "seg").join(ct, "pri")
             .crossJoin(F.broadcast(nt))
             .withColumn("e", e)
             .withColumn("term", (F.col("o") - F.col("e"))
                         * (F.col("o") - F.col("e")) / F.col("e")))
    out = cells.groupBy("nr", "nc", "n").agg(sortsum("term").alias("chi2"))
    return out.select(
        F.col("chi2"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("df"),
        F.col("n").cast("long").alias("n"),
        F.sqrt(F.col("chi2")
               / (F.col("n").cast("double")
                  * F.least(F.col("nr") - 1, F.col("nc") - 1)))
        .alias("cramers_v"))


@register(
    "stats_mi_segment_priority",
    oracle="""
    WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
               FROM orders JOIN customer ON o_custkey = c_custkey),
    obs AS (SELECT seg, pri, COUNT(*) AS o FROM j GROUP BY 1, 2),
    rt AS (SELECT seg, SUM(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT pri, SUM(o) AS c FROM obs GROUP BY 1),
    nt AS (SELECT SUM(o) AS n FROM obs),
    cells AS (SELECT o, n,
                     CAST(round(ln((CAST(o AS DOUBLE) * CAST(n AS DOUBLE))
                                   / (CAST(r AS DOUBLE)
                                      * CAST(c AS DOUBLE))) * 1000000)
                          AS BIGINT) AS pmi_e6
              FROM obs JOIN rt USING (seg) JOIN ct USING (pri)
              CROSS JOIN nt)
    SELECT CAST(n AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CAST(o AS HUGEINT) * pmi_e6) AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000.0) AS mi_nats
    FROM cells GROUP BY n
    """,
    description="mutual information I(segment; priority) in nats — the "
                "model-free dependence measure next to "
                "stats_chi2_segment_priority's test statistic: each "
                "observed cell's pointwise MI ln(p_ij / (p_i p_j)) = "
                "ln(o*n / (r*c)) is PINNED to a scaled integer (the "
                "repo's ln-pinning idiom), so the MI total is an EXACT "
                "128-bit integer sum of count-weighted pinned terms "
                "with one final division — no float accumulates across "
                "cells in either engine. Scale shape: one groupBy over "
                "the customer join, then everything is the "
                "alphabet-bounded 5x5 cell frame with one-row scalar "
                "crosses",
    tags=("stats", "agg"),
)
def stats_mi_segment_priority(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    j = (o.join(cu, o.o_custkey == cu.c_custkey)
         .select(F.col("c_mktsegment").alias("seg"),
                 F.col("o_orderpriority").alias("pri")))
    obs = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("pri").agg(F.sum("o").alias("c"))
    nt = obs.agg(F.sum("o").alias("n"))
    pmi_e6 = F.round(F.ln(
        (F.col("o").cast("double") * F.col("n").cast("double"))
        / (F.col("r").cast("double") * F.col("c").cast("double")))
        * 1000000).cast("long")
    d38 = "decimal(38,0)"
    cells = (obs.join(rt, "seg").join(ct, "pri")
             .crossJoin(F.broadcast(nt))
             .withColumn("pmi_e6", pmi_e6))
    return (cells.groupBy("n")
            .agg(F.count(F.lit(1)).alias("n_cells"),
                 F.sum(F.col("o").cast(d38) * F.col("pmi_e6"))
                 .alias("wsum"))
            .select(F.col("n").cast("long").alias("n"),
                    F.col("n_cells").cast("long").alias("n_cells"),
                    (F.col("wsum").cast("double")
                     / (F.col("n").cast("double") * 1000000.0))
                    .alias("mi_nats")))


@register(
    "stats_ks_value_purchase",
    oracle="""
    WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS v,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                      END AS p
               FROM events),
    g AS (SELECT v, SUM(p) AS c1, COUNT(*) - SUM(p) AS c2
          FROM s GROUP BY v),
    c AS (SELECT SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
          FROM g WINDOW w AS (ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)),
    t AS (SELECT MAX(cum1) AS n1, MAX(cum2) AS n2,
                 MAX(abs(CAST((SELECT MAX(cum2) FROM c) AS HUGEINT)
                         * cum1
                         - CAST((SELECT MAX(cum1) FROM c) AS HUGEINT)
                           * cum2)) AS d
          FROM c)
    SELECT CAST(n1 AS BIGINT) AS n_purchase,
           CAST(n2 AS BIGINT) AS n_other,
           CAST(d AS DOUBLE)
             / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS ks_d
    FROM t
    """,
    description="two-sample Kolmogorov-Smirnov statistic: does the "
                "value distribution of purchase events differ from "
                "everything else — D = max |F1(v) - F2(v)| over the "
                "pooled support, computed EXACTLY as max |n2*cum1(v) - "
                "n1*cum2(v)| / (n1*n2) on 128-bit integers (cumulative "
                "counts per distinct scaled value), one division at "
                "the end. The distribution-shift screen next to "
                "stats_welch_ttest's mean test. Scale shape: one "
                "groupBy per distinct value, cumulative counts via the "
                "distributed prefix-sum helper over the value order "
                "(both samples ride ONE repartition pass), one scalar "
                "aggregate — no single-partition ordered window",
    tags=("stats", "agg", "scale"),
)
def stats_ks_value_purchase(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.round(F.col("value") * 1000000).cast("long")
                  .alias("v"),
                  F.when(F.col("event_type") == "purchase", 1)
                  .otherwise(0).cast("long").alias("p"))
    g = (s.groupBy("v")
         .agg(F.sum("p").alias("c1"),
              (F.count(F.lit(1)) - F.sum("p")).alias("c2")))
    c, totals = grouped_prefix_aggs(g, [], ["v"],
                                    {"cum1": "c1", "cum2": "c2"})
    n1, n2 = totals[()]
    d38 = "decimal(38,0)"
    d = F.abs(F.lit(n2).cast(d38) * F.col("cum1")
              - F.lit(n1).cast(d38) * F.col("cum2"))
    return (c.agg(F.max(d).alias("d"))
            .select(F.lit(n1).cast("long").alias("n_purchase"),
                    F.lit(n2).cast("long").alias("n_other"),
                    (F.col("d").cast("double")
                     / (F.lit(float(n1)) * F.lit(float(n2))))
                    .alias("ks_d")))


@register(
    "stats_spearman_qty_price",
    oracle="""
    WITH li AS (SELECT l_quantity AS q,
                       CAST(round(l_extendedprice * 100) AS BIGINT) AS p
                FROM lineitem),
    qm AS (SELECT q, COUNT(*) AS c FROM li GROUP BY q),
    qr AS (SELECT q, 2 * SUM(c) OVER (ORDER BY q
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)
                     - c + 1 AS rq2
           FROM qm),
    pm AS (SELECT p, COUNT(*) AS c FROM li GROUP BY p),
    pr AS (SELECT p, 2 * SUM(c) OVER (ORDER BY p
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW)
                     - c + 1 AS rp2
           FROM pm),
    r AS (SELECT rq2, rp2 FROM li JOIN qr USING (q) JOIN pr USING (p)),
    t AS (SELECT COUNT(*) AS n,
                 SUM(CAST(rq2 AS HUGEINT)) AS sx,
                 SUM(CAST(rp2 AS HUGEINT)) AS sy,
                 SUM(CAST(rq2 AS HUGEINT) * rq2) AS sxx,
                 SUM(CAST(rp2 AS HUGEINT) * rp2) AS syy,
                 SUM(CAST(rq2 AS HUGEINT) * rp2) AS sxy
          FROM r)
    SELECT CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS spearman_rho
    FROM t
    """,
    description="Spearman rank correlation between quantity and "
                "extended price (the monotone-association complement "
                "to agg_moments' Pearson): tie groups get AVERAGE "
                "ranks held exactly as DOUBLED integers (2*cum - cnt "
                "+ 1 = lo+hi of the tie run, from a cumulative count "
                "over the distinct-value order), every moment is a "
                "128-bit integer sum, and the doubling cancels in the "
                "Pearson ratio — so rho is a fixed double tree on "
                "identical integers in both engines. Scale shape: two "
                "distinct-value rank maps (the quantity map is "
                "alphabet-sized; the price map rides the distributed "
                "prefix-sum helper), joined back by value as plain "
                "equi-joins, one scalar moment aggregate",
    tags=("stats", "agg", "scale"),
)
def stats_spearman_qty_price(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs
    from g1_etl_spark.plans._util import bounded_collect

    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(F.col("l_quantity").alias("q"),
                  F.round(F.col("l_extendedprice") * 100).cast("long")
                  .alias("p"))
    # NOTE (r11): a joint-(q, p)-census rewrite was tried and REJECTED
    # — l_extendedprice is ~unique (583k distinct / 600k rows at
    # sf0.1), so the joint census compresses nothing and its extra
    # shuffle made the query 1.3x slower.
    # r12 (guide §2.3/§2.4): the row-level join-back is gone entirely.
    # q is ALPHABET-bounded (~50 integral quantities), so its doubled
    # rank map folds on the driver (bounded_collect guard, the
    # graph-census discipline) and attaches to rows as a literal map
    # lookup — no q-side prefix machinery, no join. The p-rank branch
    # must stay distributed (~583k distinct values), but every moment
    # the final Pearson-over-ranks needs is now computable from the
    # P-CENSUS alone: per distinct p, carry c = COUNT(*), sq = SUM(rq2)
    # and sqq = SUM(rq2^2) (exact integer partials of the row-level
    # sums), so after the prefix pass assigns rp2 per p,
    #   sx = SUM(sq), sxx = SUM(sqq), sy = SUM(c*rp2),
    #   syy = SUM(c*rp2^2), sxy = SUM(sq*rp2), n = SUM(c)
    # — identical integers to the old row-level aggregate (sums only
    # re-associate), so rho's double tree is bit-identical. Removes
    # the two row-level join exchanges (2 x 600k rows) and the whole
    # q-side prefix pass; one census exchange + the census-sized
    # prefix pass remain — the honest distributed core.
    q_rows = bounded_collect(
        s.groupBy("q").agg(F.count(F.lit(1)).alias("c")),
        "spearman quantity census", limit=4096)
    q_rows.sort(key=lambda r: r["q"])
    cum, entries = 0, []
    for r in q_rows:
        c = int(r["c"])
        cum += c
        entries.append((repr(float(r["q"])), 2 * cum - c + 1))
    q_map = ("map(" + ", ".join(f"CAST({k} AS DOUBLE), {v}L"
                                for k, v in entries) + ")")
    d38 = "decimal(38,0)"
    cen = (s.selectExpr("p", f"{q_map}[q] AS rq2")
           .groupBy("p")
           .agg(F.count(F.lit(1)).alias("c"),
                F.sum(F.col("rq2").cast(d38)).alias("sq"),
                F.sum(F.col("rq2").cast(d38) * F.col("rq2"))
                .alias("sqq")))
    pr = (grouped_prefix_aggs(cen, [], ["p"], {"cum": "c"})[0]
          .withColumn("rp2", 2 * F.col("cum") - F.col("c") + 1))
    t = pr.agg(F.sum("c").alias("n"),
               F.sum(F.col("sq")).alias("sx"),
               F.sum(F.col("c").cast(d38) * F.col("rp2")).alias("sy"),
               F.sum(F.col("sqq")).alias("sxx"),
               F.sum(F.col("c").cast(d38) * F.col("rp2") * F.col("rp2"))
               .alias("syy"),
               F.sum(F.col("sq") * F.col("rp2")).alias("sxy"))
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    rho = ((n_d * F.col("sxy").cast("double") - sx_d * sy_d)
           / F.sqrt((n_d * F.col("sxx").cast("double") - sx_d * sx_d)
                    * (n_d * F.col("syy").cast("double") - sy_d * sy_d)))
    return t.select(F.col("n").cast("long").alias("n"),
                    rho.alias("spearman_rho"))


@register(
    "stats_gini_customers",
    oracle="""
    WITH r AS (SELECT o_custkey,
                      SUM(CAST(round(o_totalprice * 1000000) AS BIGINT))
                        AS x
               FROM orders GROUP BY o_custkey),
    rk AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i
           FROM r),
    t AS (SELECT COUNT(*) AS n,
                 SUM(CAST(i AS HUGEINT) * x) AS six,
                 SUM(CAST(x AS HUGEINT)) AS sx
          FROM rk)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) / 1000000.0 AS total_revenue,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) AS gini
    FROM t
    """,
    description="Gini coefficient of per-customer revenue "
                "concentration via the rank formula G = (2*sum(i*x_i) "
                "- (n+1)*sum(x)) / (n*sum(x)) over ascending-revenue "
                "ranks: revenues are exact scaled longs, the rank is "
                "the distributed total-order rank (retrieval."
                "global_rank — range repartition + offsets, no "
                "single-partition sort), and the rank-weighted sum "
                "runs in 128-bit integers (decimal(38,0) / hugeint) "
                "so both engines hold it exactly — the two final "
                "int-to-double casts and one division are the only "
                "float ops. The inequality-audit primitive for spend/ "
                "token/revenue concentration",
    tags=("stats", "agg", "scale"),
)
def stats_gini_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.retrieval import global_rank

    o = load_table(spark, sf_dir, "orders")
    r = (o.groupBy("o_custkey")
         .agg(F.sum(F.round(F.col("o_totalprice") * 1000000)
                    .cast("long")).alias("x")))
    rk = global_rank(r, [F.col("x"), F.col("o_custkey")], rank_col="i")
    d38 = "decimal(38,0)"
    t = rk.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("i").cast(d38) * F.col("x")).alias("six"),
        F.sum(F.col("x").cast(d38)).alias("sx"))
    return t.select(
        F.col("n").cast("long").alias("n_customers"),
        (F.col("sx").cast("double") / 1000000.0).alias("total_revenue"),
        ((2 * F.col("six") - (F.col("n") + 1) * F.col("sx"))
         .cast("double")
         / (F.col("n") * F.col("sx")).cast("double")).alias("gini"))


@register(
    "stats_reliability_bins",
    oracle=f"""
    WITH mx AS (SELECT MAX(value) AS maxv FROM events),
    p AS (SELECT value / maxv AS prob,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS hit
          FROM events CROSS JOIN mx),
    b AS (SELECT LEAST(CAST(floor(prob * 10) AS INT), 9) AS bin,
                 prob, hit
          FROM p)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS accuracy,
           {_SORTSUM.format(expr='prob')} / COUNT(*) AS confidence,
           CAST(SUM(hit) AS DOUBLE) / COUNT(*)
             - {_SORTSUM.format(expr='prob')} / COUNT(*) AS gap
    FROM b GROUP BY bin ORDER BY bin
    """,
    description="calibration reliability bins (the ECE diagram): "
                "treat value/max(value) as a predicted probability of "
                "event_type='purchase', bucket into 10 equal-width "
                "probability bins, and emit per-bin accuracy (label "
                "rate), confidence (mean predicted probability, "
                "sorted-sequential sum) and their gap — the per-bin "
                "terms of expected calibration error. One max scalar "
                "cross + one 10-row aggregate; the probability "
                "normalization is a single division per row so both "
                "engines bin identical doubles",
    tags=("stats", "ml"),
)
def stats_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    mx = ev.agg(F.max("value").alias("maxv"))
    p = (ev.crossJoin(F.broadcast(mx))
         .select((F.col("value") / F.col("maxv")).alias("prob"),
                 F.when(F.col("event_type") == "purchase", 1)
                 .otherwise(0).alias("hit")))
    b = p.select(F.least(F.floor(F.col("prob") * 10).cast("int"),
                         F.lit(9)).alias("bin"), "prob", "hit")
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("hit").alias("hits"),
        sortsum("prob").alias("sp"))
    return (g.select(
        "bin", F.col("cnt").cast("long").alias("n"),
        (F.col("hits").cast("double") / F.col("cnt")).alias("accuracy"),
        (F.col("sp") / F.col("cnt")).alias("confidence"),
        (F.col("hits").cast("double") / F.col("cnt")
         - F.col("sp") / F.col("cnt")).alias("gap"))
        .orderBy("bin"))


@register(
    "stats_kendall_tau",
    oracle="""
    WITH a AS (
      SELECT n_name,
             CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                  AS BIGINT) AS x,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name),
    p AS (SELECT sign(a1.x - a2.x) AS cx, sign(a1.y - a2.y) AS cy
          FROM a a1 JOIN a a2 ON a1.n_name < a2.n_name),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
                 CAST(SUM(CASE WHEN cx * cy = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nc,
                 CAST(SUM(CASE WHEN cx * cy = -1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS nd,
                 CAST(SUM(CASE WHEN cx = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS tx,
                 CAST(SUM(CASE WHEN cy = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS ty
          FROM p)
    SELECT n0, nc, nd,
           CAST(nc - nd AS DOUBLE)
           / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
             AS tau_b
    FROM t
    """,
    description="Kendall tau-b rank correlation between per-nation "
                "total quantity and total revenue — the "
                "concordance-based complement to "
                "stats_spearman_qty_price (tau is robust to the "
                "monotone-transform class Spearman is, but weights "
                "each discordant PAIR equally instead of squaring rank "
                "gaps). Pair enumeration is quadratic by nature, so it "
                "runs on the nation-bounded aggregate (25 rows -> 300 "
                "pairs, the same census-then-analyze shape as the "
                "graph family); every count is a BIGINT off exact "
                "scaled-integer sums and the single final expression "
                "is the only float math. Tie pairs (sign = 0) are "
                "excluded from nc/nd and discounted from each "
                "denominator factor per the tau-b definition",
    tags=("stats", "agg"),
)
def stats_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    a = (li.join(o.select("o_orderkey", "o_custkey"),
                 li.l_orderkey == F.col("o_orderkey"))
         .join(c.select("c_custkey", "c_nationkey"),
               F.col("o_custkey") == F.col("c_custkey"))
         .join(F.broadcast(n.select("n_nationkey", "n_name")),
               F.col("c_nationkey") == F.col("n_nationkey"))
         .groupBy("n_name")
         .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
              .cast("long").alias("x"),
              F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
              .cast("long").alias("y")))
    a1 = a.select(F.col("n_name").alias("k1"), F.col("x").alias("x1"),
                  F.col("y").alias("y1"))
    a2 = a.select(F.col("n_name").alias("k2"), F.col("x").alias("x2"),
                  F.col("y").alias("y2"))
    # a2 is the 25-row nation aggregate — explicit broadcast keeps the
    # inequality pair join a BNLJ over a bounded frame, never a
    # CartesianProduct (hint passes the sf-scaled lint: the aggregate
    # bounds every scan on the hint path)
    p = (a1.join(F.broadcast(a2), F.col("k1") < F.col("k2"))
         .select(F.signum((F.col("x1") - F.col("x2")).cast("double"))
                 .cast("long").alias("cx"),
                 F.signum((F.col("y1") - F.col("y2")).cast("double"))
                 .cast("long").alias("cy")))
    t = p.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(F.col("cx") * F.col("cy") == 1, 1).otherwise(0))
        .cast("long").alias("nc"),
        F.sum(F.when(F.col("cx") * F.col("cy") == -1, 1).otherwise(0))
        .cast("long").alias("nd"),
        F.sum(F.when(F.col("cx") == 0, 1).otherwise(0))
        .cast("long").alias("tx"),
        F.sum(F.when(F.col("cy") == 0, 1).otherwise(0))
        .cast("long").alias("ty"))
    return t.select(
        "n0", "nc", "nd",
        ((F.col("nc") - F.col("nd")).cast("double")
         / F.sqrt((F.col("n0") - F.col("tx")).cast("double")
                  * (F.col("n0") - F.col("ty")).cast("double")))
        .alias("tau_b"))


@register(
    "sketch_bloom_semijoin",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           COUNT(DISTINCT l_partkey) AS n_parts,
           CAST(SUM(CAST(round(l_quantity * 1000000) AS BIGINT))
                AS DOUBLE) / 1000000 AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                               * 1000000) AS BIGINT)) AS DOUBLE)
             / 1000000 AS revenue
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part
                        WHERE p_name LIKE '%widget%')
    """,
    description="Bloom-pruned exact semi-join: lineitem rows whose "
                "part is a widget, rolled up to exact counts and "
                "scaled-integer sums. The plan is the two-phase "
                "at-scale shape: (1) operators/sketches.bloom_build "
                "folds the filtered dim keys into ONE ~8 KB map row "
                "(same int64 LCG bit math as the CMS — engine-exact, "
                "merge = bit_or, size independent of key count, so it "
                "broadcasts when the dim itself could not); (2) "
                "bloom_might_contain tests every fact row JVM-side "
                "with zero fact shuffle, guaranteeing NO false "
                "negatives; (3) only the surviving candidates enter "
                "the real semi-join, which restores exactness by "
                "discarding the Bloom's bounded false positives — so "
                "the result is bit-equal to the plain IN-subquery "
                "oracle while the shuffle carries only "
                "candidate-selectivity x fact rows. This is Spark's "
                "runtime bloomFilter pushdown made explicit, portable, "
                "and testable (candidate bounds asserted in "
                "tests/test_stats.py)",
    tags=("sketch", "join", "scale"),
)
def sketch_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.sketches import (bloom_build,
                                                 bloom_might_contain)

    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (part.filter(F.col("p_name").like("%widget%"))
           .select("p_partkey"))
    cand = bloom_might_contain(li, "l_partkey", bloom_build(dim,
                                                            "p_partkey"))
    exact = cand.join(dim, cand.l_partkey == dim.p_partkey, "left_semi")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        (F.sum(F.round(F.col("l_quantity") * 1_000_000).cast("long"))
         .cast("double") / 1_000_000).alias("sum_qty"),
        (F.sum(F.round(rev * 1_000_000).cast("long"))
         .cast("double") / 1_000_000).alias("revenue"))


@register(
    "stats_kruskal_value_type",
    oracle="""
    WITH s AS (SELECT event_type AS g, value AS v FROM events),
    vm AS (SELECT v, COUNT(*) AS cnt FROM s GROUP BY v),
    rm AS (SELECT v, 2 * SUM(cnt) OVER (ORDER BY v
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND CURRENT ROW)
                  - cnt + 1 AS r2
           FROM vm),
    gv AS (SELECT g, v, COUNT(*) AS c FROM s GROUP BY g, v),
    gs AS (SELECT g, CAST(SUM(c * r2) AS BIGINT) AS rg2,
                  CAST(SUM(c) AS BIGINT) AS ng
           FROM gv JOIN rm USING (v) GROUP BY g),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
                   CAST(SUM(ng) AS BIGINT) AS n,
                   list_sum(list_sort(list(
                     CAST(rg2 AS DOUBLE) * CAST(rg2 AS DOUBLE)
                     / CAST(ng AS DOUBLE)))) AS sterm
            FROM gs),
    tie AS (SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS t
            FROM vm)
    SELECT k_groups, n,
           3.0 * sterm / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
             - 3.0 * CAST(n + 1 AS DOUBLE) AS h,
           (3.0 * sterm / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
             - 3.0 * CAST(n + 1 AS DOUBLE))
           / (1.0 - CAST(t AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
             AS h_tie_corrected
    FROM agg CROSS JOIN tie
    """,
    description="Kruskal-Wallis H test of `value` across event types — "
                "the k-group rank-based ANOVA completing the "
                "inference family (Welch t = 2 groups parametric, "
                "KS = 2 groups distribution-free, chi2 = categorical; "
                "this is k groups distribution-free), with the "
                "standard tie correction. Rank machinery is "
                "stats_spearman's: tie groups hold AVERAGE ranks as "
                "exact DOUBLED integers off a cumulative count over "
                "the distinct-value grid (the 2-decimal grid bounds "
                "the frame; the cumulative is "
                "operators/analytics.grouped_prefix_aggs — "
                "range-partitioned, never a raw-row window). Note the "
                "doubling cancels: with R'=2R, sum R'^2/n = 4 sum "
                "R^2/n, so H = 3*S'/(N(N+1)) - 3(N+1) replaces the "
                "textbook 12. Per-group R'^2/n terms are squares of "
                "<2^53-exact doubles (bound documented: rg2 <= 2N^2, "
                "exact for N < 6.7e7 — certification scales sf0.001/"
                "0.01 sit 3+ decades inside) summed via the 5-term "
                "sortsum; every other moment is a BIGINT. One final "
                "fixed double tree on identical operands both engines",
    tags=("stats", "agg"),
)
def stats_kruskal_value_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.col("event_type").alias("g"), F.col("value").alias("v"))
    vm = s.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    rm = (grouped_prefix_aggs(vm, [], ["v"], {"cum": "cnt"})[0]
          .select("v", (2 * F.col("cum") - F.col("cnt") + 1).alias("r2")))
    gv = s.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    gs = (gv.join(rm, "v")
          .groupBy("g")
          .agg(F.sum(F.col("c") * F.col("r2")).cast("long").alias("rg2"),
               F.sum("c").cast("long").alias("ng")))

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    term = (F.col("rg2").cast("double") * F.col("rg2").cast("double")
            / F.col("ng").cast("double"))
    agg = gs.agg(F.count(F.lit(1)).cast("long").alias("k_groups"),
                 F.sum("ng").cast("long").alias("n"),
                 sortsum(term).alias("sterm"))
    tie = vm.agg(F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
                       - F.col("cnt")).cast("long").alias("t"))
    n_d = F.col("n").cast("double")
    h = (F.lit(3.0) * F.col("sterm")
         / (n_d * (F.col("n") + 1).cast("double"))
         - F.lit(3.0) * (F.col("n") + 1).cast("double"))
    c = (F.lit(1.0) - F.col("t").cast("double")
         / (n_d * n_d * n_d - n_d))
    return (agg.crossJoin(F.broadcast(tie))
            .select("k_groups", "n", h.alias("h"),
                    (h / c).alias("h_tie_corrected")))


@register(
    "stats_theil_u",
    oracle="""
    WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
               FROM orders JOIN customer ON o_custkey = c_custkey),
    obs AS (SELECT seg, pri, COUNT(*) AS o FROM j GROUP BY 1, 2),
    rt AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY 1),
    ct AS (SELECT pri, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    mi AS (SELECT CAST(SUM(CAST(o AS HUGEINT)
                           * CAST(round(ln((CAST(o AS DOUBLE)
                                            * CAST(n AS DOUBLE))
                                           / (CAST(r AS DOUBLE)
                                              * CAST(c AS DOUBLE)))
                                        * 1000000) AS BIGINT))
                       AS BIGINT) AS mi_w
           FROM obs JOIN rt USING (seg) JOIN ct USING (pri)
           CROSS JOIN nt),
    hs AS (SELECT CAST(SUM(r * CAST(round(ln(CAST(n AS DOUBLE)
                                             / CAST(r AS DOUBLE))
                                          * 1000000) AS BIGINT))
                       AS BIGINT) AS hseg_w
           FROM rt CROSS JOIN nt),
    hp AS (SELECT CAST(SUM(c * CAST(round(ln(CAST(n AS DOUBLE)
                                             / CAST(c AS DOUBLE))
                                          * 1000000) AS BIGINT))
                       AS BIGINT) AS hpri_w
           FROM ct CROSS JOIN nt)
    SELECT n,
           CAST(hseg_w AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000.0) AS h_seg_nats,
           CAST(hpri_w AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000.0) AS h_pri_nats,
           CAST(mi_w AS DOUBLE) / CAST(hpri_w AS DOUBLE)
             AS u_pri_given_seg,
           CAST(mi_w AS DOUBLE) / CAST(hseg_w AS DOUBLE)
             AS u_seg_given_pri
    FROM mi CROSS JOIN hs CROSS JOIN hp CROSS JOIN nt
    """,
    description="Theil's uncertainty coefficient U in both directions "
                "for segment x priority — the ASYMMETRIC normalized "
                "association the symmetric chi2/MI pair cannot "
                "express (U(Y|X) = I(X;Y)/H(Y): what fraction of Y's "
                "entropy does knowing X remove — near 0 here, the "
                "honest answer for independent TPC-H columns). Reuses "
                "stats_mi's pinned-ln idiom: MI and both marginal "
                "entropies are exact integer sums of count-weighted "
                "scaled-ln terms over the alphabet-bounded frames, so "
                "each U is ONE division of two bigints (the n*1e6 "
                "normalizations cancel). Same scale shape as the MI/"
                "chi2 pair: one groupBy over the join, 5x5 cells, "
                "one-row scalar crosses",
    tags=("stats", "agg"),
)
def stats_theil_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    j = (o.join(cu, o.o_custkey == cu.c_custkey)
         .select(F.col("c_mktsegment").alias("seg"),
                 F.col("o_orderpriority").alias("pri")))
    obs = j.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("seg").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("pri").agg(F.sum("o").cast("long").alias("c"))
    nt = obs.agg(F.sum("o").cast("long").alias("n"))
    d38 = "decimal(38,0)"
    pin = lambda x: F.round(F.ln(x) * 1_000_000).cast("long")  # noqa: E731
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    mi = (obs.join(rt, "seg").join(ct, "pri").crossJoin(F.broadcast(nt))
          .select((F.col("o").cast(d38)
                   * pin((dd("o") * dd("n")) / (dd("r") * dd("c"))))
                  .alias("t"))
          .agg(F.sum("t").cast("long").alias("mi_w")))
    hs = (rt.crossJoin(F.broadcast(nt))
          .select((F.col("r").cast(d38) * pin(dd("n") / dd("r")))
                  .alias("t"))
          .agg(F.sum("t").cast("long").alias("hseg_w")))
    hp = (ct.crossJoin(F.broadcast(nt))
          .select((F.col("c").cast(d38) * pin(dd("n") / dd("c")))
                  .alias("t"))
          .agg(F.sum("t").cast("long").alias("hpri_w")))
    return (mi.crossJoin(hs).crossJoin(hp).crossJoin(nt)
            .select("n",
                    (dd("hseg_w") / (dd("n") * F.lit(1000000.0)))
                    .alias("h_seg_nats"),
                    (dd("hpri_w") / (dd("n") * F.lit(1000000.0)))
                    .alias("h_pri_nats"),
                    (dd("mi_w") / dd("hpri_w")).alias("u_pri_given_seg"),
                    (dd("mi_w") / dd("hseg_w")).alias("u_seg_given_pri")))


@register(
    "orders_survival_km",
    oracle="""
    WITH u AS (SELECT o_custkey, min(o_orderdate) AS t0,
                      max(o_orderdate) AS t1
               FROM orders GROUP BY 1),
    se AS (SELECT max(t1) AS send FROM u),
    d AS (SELECT date_diff('day', t0, t1) AS dur,
                 CASE WHEN t1 < send - INTERVAL '365 days'
                      THEN 1 ELSE 0 END AS ev
          FROM u CROSS JOIN se),
    g AS (SELECT dur, CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(ev) AS BIGINT) AS d_i
          FROM d GROUP BY dur),
    tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM g),
    r AS (SELECT dur, c, d_i,
                 SUM(c) OVER (ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cle,
                 tot
          FROM g CROSS JOIN tt),
    ev AS (SELECT dur, d_i, CAST(tot - cle + c AS BIGINT) AS n_risk,
                  1.0 - CAST(d_i AS DOUBLE)
                        / CAST(tot - cle + c AS DOUBLE) AS f
           FROM r WHERE d_i > 0),
    arr AS (SELECT list(struct_pack(dur := dur, d_i := d_i,
                                    n_risk := n_risk, f := f)
                        ORDER BY dur) AS a
            FROM ev)
    SELECT a[CAST(i AS INTEGER)].dur AS duration_days,
           a[CAST(i AS INTEGER)].n_risk AS n_risk,
           a[CAST(i AS INTEGER)].d_i AS n_events,
           list_reduce(list_transform(a[1:CAST(i AS INTEGER)],
                                      y -> y.f),
                       (p, q) -> p * q) AS survival
    FROM arr, LATERAL unnest(range(1, len(a) + 1)) t(i)
    """,
    description="Kaplan-Meier customer-retention curve: per customer, "
                "observation time = days between first and last order; "
                "the 'death' (churn) is observed iff the last order "
                "predates the study end (max last-order date) by more "
                "than 365 days, else the customer is right-CENSORED — "
                "the survival-analysis family's entry point (churn/"
                "retention curves with censoring, which the naive "
                "'fraction still active' rollup gets wrong). S(t) "
                "steps only at event times: S = prod(1 - d_i/n_i) in "
                "duration order. Determinism: d_i/n_i are exact "
                "BIGINTs (at-risk counts come from ONE cumulative "
                "count over the bounded duration grid — "
                "operators/analytics.grouped_prefix_aggs, no raw-row "
                "window), each factor is two IEEE ops on identical "
                "operands, and the running product folds left-to-"
                "right over the SAME sorted bounded array in both "
                "engines (prefix-slice folds; Spark's 1.0 seed is an "
                "exact *1.0 no-op vs DuckDB's first-element seed). "
                "Scale shape: customers are unbounded but the grid is "
                "bounded by the day span, so the per-row O(grid) fold "
                "is the k-row-codebook class, not a data-sized stage",
    tags=("stats", "survival", "events"),
)
def orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    o = load_table(spark, sf_dir, "orders")
    u = (o.groupBy("o_custkey")
         .agg(F.min("o_orderdate").alias("t0"),
              F.max("o_orderdate").alias("t1")))
    se = u.agg(F.max("t1").alias("send"))
    d = (u.crossJoin(F.broadcast(se))
         .select(F.datediff("t1", "t0").cast("long").alias("dur"),
                 F.when(F.col("t1") < F.col("send")
                        - F.expr("INTERVAL 365 DAYS"), 1)
                 .otherwise(0).alias("ev")))
    g = (d.groupBy("dur")
         .agg(F.count(F.lit(1)).alias("c"),
              F.sum("ev").cast("long").alias("d_i")))
    r, _ = grouped_prefix_aggs(g, [], ["dur"], {"cle": "c"})
    tt = g.agg(F.sum("c").cast("long").alias("tot"))
    ev = (r.crossJoin(F.broadcast(tt))
          .filter(F.col("d_i") > 0)
          .select("dur", "d_i",
                  (F.col("tot") - F.col("cle") + F.col("c"))
                  .cast("long").alias("n_risk")))
    ev = ev.withColumn(
        "f", F.lit(1.0) - F.col("d_i").cast("double")
        / F.col("n_risk").cast("double"))
    arr = ev.agg(F.sort_array(F.collect_list(
        F.struct("dur", "d_i", "n_risk", "f"))).alias("a"))
    rows = arr.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.size("a")),
        lambda i: F.struct(
            F.element_at("a", i)["dur"].alias("duration_days"),
            F.element_at("a", i)["n_risk"].alias("n_risk"),
            F.element_at("a", i)["d_i"].alias("n_events"),
            F.aggregate(F.slice("a", F.lit(1), i), F.lit(1.0),
                        lambda acc, y: acc * y["f"])
            .alias("survival")))).alias("s"))
    return rows.select("s.duration_days", "s.n_risk", "s.n_events",
                       "s.survival")


def logrank_two_cohort(d: DataFrame) -> DataFrame:
    """Two-cohort log-rank (Mantel-Cox) test over a (dur, ev, g1)
    frame: dur = observation time, ev = 1 iff the event was observed
    (0 = right-censored), g1 = 1 for cohort 1 / 0 for cohort 0.

    At every distinct event time t: with n1/n0 at risk and d events
    total (d1 in cohort 1), the cohort-1 expectation is E1 = d*n1/n
    and the hypergeometric variance V = E1*(n0/n)*((n-d)/(n-1));
    chi2(1) = (sum(d1-E1))^2 / sum(V). The standard next ask after a
    KM curve (VERDICT r8 #6): "is cohort 1's retention curve actually
    different, censoring-aware?".

    Determinism: at-risk counts are exact BIGINTs off ONE
    grouped_prefix_aggs pass over the bounded duration grid (both
    cohorts' cumulative counts ride the same range-repartition — no
    raw-row window, no single-partition exchange); each per-time term
    is IEEE ops on identical integer operands in both engines, pinned
    through the scaled-long (round(x*1e6)) fold so the grid-sized sums
    are exact integer adds in any order. Scale shape: rows are
    unbounded, the grid is bounded by the day span — the same
    k-row-codebook class as orders_survival_km.
    """
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    g = (d.groupBy("dur")
         .agg(F.sum("g1").cast("long").alias("c1"),
              (F.count(F.lit(1)) - F.sum("g1")).cast("long").alias("c0"),
              F.sum(F.col("ev") * F.col("g1")).cast("long").alias("d1"),
              F.sum("ev").cast("long").alias("dt")))
    pref, _ = grouped_prefix_aggs(g, [], ["dur"],
                                  {"cle1": "c1", "cle0": "c0"})
    tt = g.agg(F.sum("c1").cast("long").alias("tot1"),
               F.sum("c0").cast("long").alias("tot0"))
    e = (pref.crossJoin(F.broadcast(tt))
         .filter(F.col("dt") > 0)
         .select("dur", "d1", "dt",
                 (F.col("tot1") - F.col("cle1") + F.col("c1"))
                 .cast("long").alias("n1"),
                 (F.col("tot0") - F.col("cle0") + F.col("c0"))
                 .cast("long").alias("n0")))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    n = (F.col("n1") + F.col("n0")).cast("long")
    nd = n.cast("double")
    e1 = dd("dt") * dd("n1") / nd  # identical operand order in the SQL
    w = e.select(
        "d1",
        F.round((dd("d1") - e1) * 1_000_000).cast("long").alias("oe_w"),
        F.round(e1 * 1_000_000).cast("long").alias("e1_w"),
        F.when(n > F.lit(1),
               F.round(e1 * (dd("n0") / nd)
                       * ((n - F.col("dt")).cast("double")
                          / (n - F.lit(1)).cast("double"))
                       * 1_000_000).cast("long"))
        .otherwise(F.lit(0).cast("long")).alias("v_w"))
    s = w.agg(F.count(F.lit(1)).cast("long").alias("n_event_times"),
              F.sum("d1").cast("long").alias("observed_g1"),
              F.sum("e1_w").cast("long").alias("e1s"),
              F.sum("oe_w").cast("long").alias("oes"),
              F.sum("v_w").cast("long").alias("vs"))
    oe = dd("oes") / F.lit(1000000.0)
    return s.select(
        "n_event_times", "observed_g1",
        (dd("e1s") / F.lit(1000000.0)).alias("expected_g1"),
        oe.alias("o_minus_e"),
        (dd("vs") / F.lit(1000000.0)).alias("variance"),
        (oe * oe / (dd("vs") / F.lit(1000000.0))).alias("chi2"))


@register(
    "orders_logrank",
    oracle="""
    WITH u AS (SELECT o_custkey, min(o_orderdate) AS t0,
                      max(o_orderdate) AS t1
               FROM orders GROUP BY 1),
    j AS (SELECT u.t0, u.t1,
                 CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
                   AS g1
          FROM u JOIN customer ON o_custkey = c_custkey),
    se AS (SELECT max(t1) AS send FROM j),
    d AS (SELECT date_diff('day', t0, t1) AS dur,
                 CASE WHEN t1 < send - INTERVAL '365 days'
                      THEN 1 ELSE 0 END AS ev,
                 g1
          FROM j CROSS JOIN se),
    g AS (SELECT dur, CAST(SUM(g1) AS BIGINT) AS c1,
                 CAST(COUNT(*) - SUM(g1) AS BIGINT) AS c0,
                 CAST(SUM(ev * g1) AS BIGINT) AS d1,
                 CAST(SUM(ev) AS BIGINT) AS dt
          FROM d GROUP BY dur),
    tt AS (SELECT CAST(SUM(c1) AS BIGINT) AS tot1,
                  CAST(SUM(c0) AS BIGINT) AS tot0 FROM g),
    r AS (SELECT dur, c1, c0, d1, dt,
                 SUM(c1) OVER (ORDER BY dur
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cle1,
                 SUM(c0) OVER (ORDER BY dur
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cle0
          FROM g),
    e AS (SELECT dur, d1, dt,
                 CAST(tot1 - cle1 + c1 AS BIGINT) AS n1,
                 CAST(tot0 - cle0 + c0 AS BIGINT) AS n0
          FROM r CROSS JOIN tt WHERE dt > 0),
    w AS (SELECT d1,
            CAST(round((CAST(d1 AS DOUBLE)
                        - CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                          / CAST(n1 + n0 AS DOUBLE)) * 1000000)
                 AS BIGINT) AS oe_w,
            CAST(round(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                       / CAST(n1 + n0 AS DOUBLE) * 1000000)
                 AS BIGINT) AS e1_w,
            CASE WHEN n1 + n0 > 1 THEN
              CAST(round(CAST(dt AS DOUBLE) * CAST(n1 AS DOUBLE)
                         / CAST(n1 + n0 AS DOUBLE)
                         * (CAST(n0 AS DOUBLE)
                            / CAST(n1 + n0 AS DOUBLE))
                         * (CAST(n1 + n0 - dt AS DOUBLE)
                            / CAST(n1 + n0 - 1 AS DOUBLE))
                         * 1000000) AS BIGINT)
              ELSE 0 END AS v_w
          FROM e),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
                 CAST(SUM(d1) AS BIGINT) AS observed_g1,
                 CAST(SUM(e1_w) AS BIGINT) AS e1s,
                 CAST(SUM(oe_w) AS BIGINT) AS oes,
                 CAST(SUM(v_w) AS BIGINT) AS vs
          FROM w)
    SELECT n_event_times, observed_g1,
           CAST(e1s AS DOUBLE) / 1000000.0 AS expected_g1,
           CAST(oes AS DOUBLE) / 1000000.0 AS o_minus_e,
           CAST(vs AS DOUBLE) / 1000000.0 AS variance,
           CAST(oes AS DOUBLE) / 1000000.0
             * (CAST(oes AS DOUBLE) / 1000000.0)
             / (CAST(vs AS DOUBLE) / 1000000.0) AS chi2
    FROM s
    """,
    description="two-cohort log-rank (Mantel-Cox) test on the "
                "orders_survival_km retention grid: does the "
                "'BUILDING'-segment cohort churn differently from "
                "everyone else, right-censoring-aware? Same duration/"
                "censoring definitions as the KM query; both cohorts' "
                "at-risk counts come from ONE grouped_prefix_aggs pass "
                "over the bounded duration grid, every per-time "
                "O-E and variance term is pinned through the "
                "scaled-long fold, and chi2(1) is one division of "
                "the two exact sums — the survival family's second "
                "step (VERDICT r8 ask #6), textbook case unit-tested "
                "in tests/test_stats.py",
    tags=("stats", "survival", "events"),
)
def orders_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    u = (o.groupBy("o_custkey")
         .agg(F.min("o_orderdate").alias("t0"),
              F.max("o_orderdate").alias("t1")))
    j = (u.join(cu.select("c_custkey",
                          F.when(F.col("c_mktsegment") == "BUILDING", 1)
                          .otherwise(0).alias("g1")),
                u.o_custkey == F.col("c_custkey"))
         .select("t0", "t1", "g1"))
    se = j.agg(F.max("t1").alias("send"))
    d = (j.crossJoin(F.broadcast(se))
         .select(F.datediff("t1", "t0").cast("long").alias("dur"),
                 F.when(F.col("t1") < F.col("send")
                        - F.expr("INTERVAL 365 DAYS"), 1)
                 .otherwise(0).alias("ev"),
                 "g1"))
    return logrank_two_cohort(d)


@register(
    "stats_anova_f",
    oracle="""
    WITH s AS (SELECT event_type,
                      CAST(round(value * 100) AS BIGINT) AS vw
               FROM events),
    g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ng,
                 SUM(CAST(vw AS HUGEINT)) AS sg,
                 SUM(CAST(vw AS HUGEINT) * vw) AS ssg
          FROM s GROUP BY 1),
    t AS (SELECT CAST(SUM(ng) AS BIGINT) AS n,
                 CAST(SUM(sg) AS HUGEINT) AS stot,
                 CAST(SUM(ssg) AS HUGEINT) AS sstot,
                 list_sum(list_sort(list(
                   CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                     / CAST(ng AS DOUBLE)))) AS sbp,
                 CAST(COUNT(*) AS BIGINT) AS k
          FROM g)
    SELECT n, k,
           (sbp - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
                    / CAST(n AS DOUBLE)) / 10000.0 AS ss_between,
           (CAST(sstot AS DOUBLE) - sbp) / 10000.0 AS ss_within,
           ((sbp - CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE)
                     / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
             / ((CAST(sstot AS DOUBLE) - sbp)
                / CAST(n - k AS DOUBLE)) AS f_stat
    FROM t
    """,
    description="one-way ANOVA F-test of event value across the 5 "
                "event types — the parametric sibling of "
                "stats_kruskal_value_type (same question, mean-based "
                "instead of rank-based; run both and disagreement "
                "flags heavy tails). Per-group moments are exact "
                "128-bit integer sums of cents-scaled longs (the "
                "ridge idiom), the single 5-term double fold "
                "(sum sg^2/ng) goes through the sorted-fold so both "
                "engines add in one order, and F is one fixed "
                "expression tree on identical doubles. Scale shape: "
                "one groupBy over the scan to a 5-row frame, then "
                "scalar algebra — no second pass, no window",
    tags=("stats", "agg"),
)
def stats_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.features import _sortsum

    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    vw = F.round(F.col("value") * 100).cast("long")
    g = (ev.select("event_type", vw.alias("vw"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("ng"),
              F.sum(F.col("vw").cast(d38)).alias("sg"),
              F.sum(F.col("vw").cast(d38) * F.col("vw")).alias("ssg")))
    term = (F.col("sg").cast("double") * F.col("sg").cast("double")
            / F.col("ng").cast("double"))
    t = g.agg(F.sum("ng").cast("long").alias("n"),
              F.sum("sg").alias("stot"),
              F.sum("ssg").alias("sstot"),
              _sortsum(term).alias("sbp"),
              F.count(F.lit(1)).cast("long").alias("k"))
    nd = F.col("n").cast("double")
    ssb = (F.col("sbp") - F.col("stot").cast("double")
           * F.col("stot").cast("double") / nd)
    ssw = F.col("sstot").cast("double") - F.col("sbp")
    return t.select(
        "n", "k",
        (ssb / 10000.0).alias("ss_between"),
        (ssw / 10000.0).alias("ss_within"),
        ((ssb / (F.col("k") - 1).cast("double"))
         / (ssw / (F.col("n") - F.col("k")).cast("double")))
        .alias("f_stat"))


@register(
    "orders_price_elasticity",
    oracle="""
    WITH s AS (
      SELECT p.p_brand AS brand,
             CAST(round(ln(l_quantity) * 1000000) AS BIGINT) AS x,
             CAST(round(ln(l_extendedprice / l_quantity) * 1000000)
                  AS BIGINT) AS y
      FROM lineitem JOIN part p ON l_partkey = p_partkey),
    m AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM s GROUP BY brand)
    SELECT brand, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             AS elasticity,
           (CAST(sy AS DOUBLE)
            - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) / 1000000.0 AS intercept_ln_price
    FROM m ORDER BY brand
    """,
    description="log-log price 'elasticity' per brand: OLS slope of "
                "ln(unit price) on ln(quantity) over the brand's line "
                "items — the demand-curve reading of the per-group "
                "OLS machinery (near-zero slopes on TPC-H's "
                "independent columns are the honest fit, the Theil-U "
                "precedent). Both regressors go through the pinned-ln "
                "grid the instant they are produced (quantity's ln "
                "has a 50-value alphabet; unit price's is a row-level "
                "pin at 1e-6 — identical IEEE division then one "
                "rounding), so the per-brand moment sums are exact "
                "128-bit integer arithmetic and each slope/intercept "
                "is a fixed double expression on identical operands. "
                "Scale shape: one partkey join (planner-chosen "
                "strategy; part is sf-scaled, so no broadcast hint) "
                "+ one groupBy to 25 brand rows",
    tags=("stats", "features", "agg"),
)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    d38 = "decimal(38,0)"
    s = (li.join(p.select("p_partkey", "p_brand"),
                 li.l_partkey == F.col("p_partkey"))
         .select(F.col("p_brand").alias("brand"),
                 F.round(F.ln("l_quantity") * 1_000_000).cast("long")
                 .alias("x"),
                 F.round(F.ln(F.col("l_extendedprice")
                              / F.col("l_quantity")) * 1_000_000)
                 .cast("long").alias("y")))
    m = s.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = ((dd("n") * dd("sxy") - dd("sx") * dd("sy"))
             / (dd("n") * dd("sxx") - dd("sx") * dd("sx")))
    return m.select(
        "brand", "n", slope.alias("elasticity"),
        ((dd("sy") - slope * dd("sx")) / dd("n") / F.lit(1000000.0))
        .alias("intercept_ln_price")).orderBy("brand")


_BOOT_B = 50


@register(
    "stats_bootstrap_ci_mean",
    oracle=f"""
    WITH s AS (SELECT o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cw
               FROM orders),
    mem AS (
      SELECT t.b, s.cw
      FROM s, LATERAL unnest(generate_series(1, {_BOOT_B})) t(b)
      WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)
                                         || '#'
                                         || CAST(t.b AS VARCHAR)),
                                     1, 8)) AS BIGINT) % 2 = 0),
    means AS (SELECT b, CAST(SUM(cw) AS DOUBLE) / CAST(COUNT(*)
                                                       AS DOUBLE)
                        / 100.0 AS m
              FROM mem GROUP BY b),
    arr AS (SELECT list_sort(list(m)) AS a FROM means),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(cw AS HUGEINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / 100.0 AS grand_mean
          FROM s)
    SELECT g.n, CAST({_BOOT_B} AS BIGINT) AS n_resamples,
           g.grand_mean, a[2] AS ci_lo, a[{_BOOT_B - 1}] AS ci_hi
    FROM g CROSS JOIN arr
    """,
    description=f"distributed bootstrap confidence interval for the "
                f"mean order value: {_BOOT_B} deterministic half "
                "subsamples (membership = md5(orderkey#b) parity — "
                "the m-out-of-n bootstrap with engine-portable "
                "'randomness'), each resample mean an exact "
                "cents-integer division, the CI the 2nd/49th of the "
                "sorted resample means. Distribution-free uncertainty "
                "for ANY plugin statistic without a closed-form "
                "variance — the missing error-bar primitive next to "
                "the point estimators. Scale shape: one narrow spread "
                "repartition (key+cents only), then the 50-way "
                "fan-out (explode + parity filter, no shuffle until "
                "the 50-row mean aggregate); resample count is a "
                "constant, so cost is a fixed small multiple of one "
                "scan at any sf",
    tags=("stats", "sampling"),
)
def stats_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # the testdata parquet is one row group, so the scan stage is ONE
    # task — spread the ~20-byte (key, cents) rows across the cores
    # BEFORE the 50-md5-per-row fan-out (the operators' `spread`
    # idiom; shuffle payload is metadata-sized, the md5 CPU is not).
    # Measured at sf0.1 (fresh plan per trial, min-of-trials, noop):
    # 8.3 s -> ~2 s. A one-pass 100-conditional-agg form was tried and
    # REJECTED: the 100-field aggregate disables whole-stage codegen
    # (spark.sql.codegen.maxFields) and its expression tree costs
    # ~2.5 s of driver PLANNING per run — worse than the explode.
    spread = spark.sparkContext.defaultParallelism
    s = (o.select("o_orderkey",
                  F.round(F.col("o_totalprice") * 100).cast("long")
                  .alias("cw"))
         .repartition(spread, "o_orderkey"))
    mem = (s.select("o_orderkey", "cw",
                    F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B)))
                    .alias("b"))
           .filter(F.conv(F.substring(F.md5(
               F.concat(F.col("o_orderkey").cast("string"), F.lit("#"),
                        F.col("b").cast("string"))), 1, 8), 16, 10)
               .cast("long") % 2 == 0))
    means = (mem.groupBy("b")
             .agg((F.sum("cw").cast("double")
                   / F.count(F.lit(1)).cast("double") / F.lit(100.0))
                  .alias("m")))
    arr = means.agg(F.sort_array(F.collect_list("m")).alias("a"))
    d38 = "decimal(38,0)"
    g = s.agg(F.count(F.lit(1)).cast("long").alias("n"),
              (F.sum(F.col("cw").cast(d38)).cast("double")
               / F.count(F.lit(1)).cast("double") / F.lit(100.0))
              .alias("grand_mean"))
    # an EMPTY resample (possible only on a degenerate near-empty
    # table) would drop a row from `a` and silently shift the
    # element_at indices to different quantiles — fail loudly instead
    # (r9 ADVICE). assert_true returns NULL on pass, so the when()
    # wrapper evaluates the guard and yields `a` unchanged.
    a_ok = F.when(
        F.assert_true(F.size("a") == _BOOT_B,
                      F.lit(f"bootstrap produced != {_BOOT_B} resample "
                            "means (empty resample?)")).isNull(),
        F.col("a"))
    return (g.crossJoin(arr)
            .select("n", F.lit(_BOOT_B).cast("long").alias("n_resamples"),
                    "grand_mean",
                    F.element_at(a_ok, 2).alias("ci_lo"),
                    F.element_at(a_ok, _BOOT_B - 1).alias("ci_hi")))


def _weibull_oracle() -> str:
    # splice the certified KM oracle verbatim (the kappa/train_prep
    # composition pattern), then the linearized Weibull OLS on top
    from g1_etl_spark.plans.registry import REGISTRY
    km = REGISTRY["orders_survival_km"].oracle
    return f"""
    WITH km AS ({km}),
    pts AS (
      SELECT CAST(round(ln(CAST(duration_days AS DOUBLE)) * 1000000)
                  AS BIGINT) AS x,
             CAST(round(ln(-ln(survival)) * 1000000) AS BIGINT) AS y
      FROM km
      WHERE duration_days > 0 AND survival > 0 AND survival < 1),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM pts)
    SELECT n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS shape_k,
           (CAST(sy AS DOUBLE)
            - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) / 1000000.0 AS intercept,
           -((CAST(sy AS DOUBLE)
              - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) / 1000000.0)
           / ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
             AS ln_scale
    FROM m
    """


@register(
    "orders_weibull_fit",
    oracle=_weibull_oracle(),
    description="parametric Weibull fit of the retention curve — the "
                "third step of the survival family (KM curve -> "
                "log-rank comparison -> parametric model): linearized "
                "ln(-ln S) = k*ln(t) - k*ln(lambda) OLS over the "
                "KM event grid (shape k < 1 = churn hazard "
                "decreasing with tenure, the classic retention "
                "reading; ln_scale = -intercept/shape reported in "
                "log space so no cross-engine exp() ever runs). The "
                "oracle splices the certified KM SQL verbatim and "
                "both regressors are pinned at birth, so the moment "
                "sums are exact integers over the bounded grid. "
                "Scale shape: everything after the KM census is "
                "grid-sized",
    tags=("stats", "survival", "forecast"),
)
def orders_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return weibull_fit_from_km(orders_survival_km(spark, sf_dir))


def weibull_fit_from_km(km: DataFrame) -> DataFrame:
    """Linearized Weibull OLS over any (duration_days, survival) KM
    grid — split out so synthetic exact-Weibull grids can pin the
    recovery (tests/test_stats.py)."""
    pts = (km.filter((F.col("duration_days") > 0)
                     & (F.col("survival") > 0) & (F.col("survival") < 1))
           .select(F.round(F.ln(F.col("duration_days").cast("double"))
                           * 1_000_000).cast("long").alias("x"),
                   F.round(F.ln(-F.ln("survival")) * 1_000_000)
                   .cast("long").alias("y")))
    d38 = "decimal(38,0)"
    m = pts.agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("x").cast(d38)).alias("sx"),
                F.sum(F.col("y").cast(d38)).alias("sy"),
                F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
                F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = ((dd("n") * dd("sxy") - dd("sx") * dd("sy"))
             / (dd("n") * dd("sxx") - dd("sx") * dd("sx")))
    intercept = ((dd("sy") - slope * dd("sx")) / dd("n")
                 / F.lit(1000000.0))
    return m.select("n", slope.alias("shape_k"),
                    intercept.alias("intercept"),
                    (-intercept / slope).alias("ln_scale"))


def _weibull_gof_oracle() -> str:
    # splice BOTH certified oracles verbatim (the kappa composition
    # pattern): the KM grid and the Weibull fit cannot drift from the
    # rows they certify. The window over the event grid is fine in the
    # oracle (DuckDB, bounded rows); the Spark side folds the same
    # sorted bounded array instead (no single-partition exchange).
    from g1_etl_spark.plans.registry import REGISTRY
    km = REGISTRY["orders_survival_km"].oracle
    fit = REGISTRY["orders_weibull_fit"].oracle
    return f"""
    WITH km AS ({km}),
    fit AS ({fit}),
    pts AS (SELECT duration_days AS t, n_risk, n_events, survival
            FROM km WHERE duration_days > 0),
    sw AS (
      SELECT p.t, p.n_risk, p.n_events, p.survival,
             GREATEST(
               CAST(round(exp(-(
                 CAST(round(exp(f.shape_k *
                   (CAST(round(ln(CAST(p.t AS DOUBLE)) * 1000000)
                         AS BIGINT) / 1000000.0 - f.ln_scale))
                   * 1000000) AS BIGINT) / 1000000.0))
                 * 1000000) AS BIGINT) / 1000000.0,
               0.000001) AS s_w
      FROM pts p CROSS JOIN fit f),
    lagd AS (
      SELECT t, n_risk, n_events, survival, s_w,
             COALESCE(LAG(s_w) OVER (ORDER BY t), 1.0) AS s_w_prev
      FROM sw),
    terms AS (
      SELECT n_events,
             CAST(round(CAST(n_risk AS DOUBLE)
                  * LEAST(GREATEST(1.0 - s_w / s_w_prev, 0.0), 1.0)
                  * 1000000) AS BIGINT) AS e_w,
             CAST(round(abs(survival - s_w) * 1000000) AS BIGINT) AS dv
      FROM lagd),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_grid,
                   CAST(SUM(n_events) AS BIGINT) AS obs,
                   SUM(CAST(e_w AS HUGEINT)) AS exp_w,
                   MAX(dv) AS ks_w
            FROM terms)
    SELECT a.n_grid, f.shape_k, f.ln_scale,
           a.obs AS observed_events,
           CAST(a.exp_w AS DOUBLE) / 1000000.0 AS expected_events,
           (CAST(a.obs AS DOUBLE)
            - CAST(a.exp_w AS DOUBLE) / 1000000.0)
           * (CAST(a.obs AS DOUBLE)
              - CAST(a.exp_w AS DOUBLE) / 1000000.0)
           / (CAST(a.exp_w AS DOUBLE) / 1000000.0) AS chi2_logrank,
           CAST(a.ks_w AS DOUBLE) / 1000000.0 AS ks_distance
    FROM agg a CROSS JOIN fit f
    """


@register(
    "orders_weibull_gof",
    oracle=_weibull_gof_oracle(),
    description="Weibull-vs-KM goodness of fit, closing the survival "
                "arc (KM curve -> log-rank -> Weibull fit -> does the "
                "parametric model actually FIT): one-sample log-rank "
                "chi-square — observed churn events vs the fitted "
                "Weibull's censoring-aware expectation "
                "sum(n_risk_i * h_w_i) with h_w_i the model's "
                "conditional interval hazard 1 - S_w(t_i)/S_w(t_i-1) "
                "— plus the KS-style sup|S_km - S_w| distance over "
                "the same grid. Both upstream oracles are spliced "
                "verbatim (the kappa composition pattern). "
                "Determinism: both cross-engine exp() calls pin to "
                "the 1e-6 grid at birth, expectation terms sum as "
                "exact scaled BIGINTs, S_w floors at 1e-6 so the "
                "hazard ratio never divides by a pinned zero. Scale "
                "shape: everything after the two KM censuses is "
                "grid-sized (k-row-codebook class); the Spark side "
                "folds ONE sorted bounded array — no window, no "
                "single-partition exchange",
    tags=("stats", "survival", "quality"),
)
def orders_weibull_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    km = orders_survival_km(spark, sf_dir).localCheckpoint(eager=True)
    fit = weibull_fit_from_km(km)
    pts = (km.filter(F.col("duration_days") > 0)
           .select(F.col("duration_days").alias("t"), "n_risk",
                   "n_events", "survival"))
    arr = pts.agg(F.sort_array(F.collect_list(
        F.struct("t", "n_risk", "n_events", "survival"))).alias("a"))
    g = arr.crossJoin(F.broadcast(fit))

    def s_w(elem):
        # pinned Weibull survival exp(-(t/lambda)^k): both libm exp()
        # calls pinned to 1e-6, identical structure to the oracle
        lx = (F.round(F.ln(elem["t"].cast("double")) * 1_000_000)
              .cast("long"))
        z = F.col("shape_k") * (lx.cast("double") / 1e6
                                - F.col("ln_scale"))
        hp = F.round(F.exp(z) * 1_000_000).cast("long") \
            .cast("double") / 1e6
        sp = F.round(F.exp(-hp) * 1_000_000).cast("long") \
            .cast("double") / 1e6
        return F.greatest(sp, F.lit(0.000001))

    def term(i):
        cur = F.element_at("a", i)
        # index clamped so element_at never sees 0 (ANSI error) even
        # though the when() branch for i=1 is the one evaluated
        prev_sw = F.when(i == F.lit(1), F.lit(1.0)) \
            .otherwise(s_w(F.element_at("a", F.greatest(i - 1,
                                                        F.lit(1)))))
        h = F.least(F.greatest(F.lit(1.0) - s_w(cur) / prev_sw,
                               F.lit(0.0)), F.lit(1.0))
        return F.struct(
            cur["n_events"].alias("d"),
            F.round(cur["n_risk"].cast("double") * h * 1_000_000)
            .cast("long").alias("e_w"),
            F.round(F.abs(cur["survival"] - s_w(cur)) * 1_000_000)
            .cast("long").alias("dv"))

    terms = g.select(
        F.size("a").cast("long").alias("n_grid"), "shape_k", "ln_scale",
        F.transform(F.sequence(F.lit(1), F.size("a")), term).alias("ts"))
    d38 = "decimal(38,0)"
    zero38 = F.lit(0).cast(d38)
    out = terms.select(
        "n_grid", "shape_k", "ln_scale",
        F.aggregate("ts", F.lit(0).cast("long"),
                    lambda acc, x: acc + x["d"])
        .alias("observed_events"),
        (F.aggregate("ts", zero38,
                     lambda acc, x: acc + x["e_w"].cast(d38))
         .cast("double") / 1e6).alias("expected_events"),
        F.aggregate("ts", F.lit(0).cast("long"),
                    lambda acc, x: F.greatest(acc, x["dv"]))
        .cast("double").alias("ks_w"))
    chi = ((F.col("observed_events").cast("double")
            - F.col("expected_events"))
           * (F.col("observed_events").cast("double")
              - F.col("expected_events"))
           / F.col("expected_events"))
    return out.select("n_grid", "shape_k", "ln_scale",
                      "observed_events", "expected_events",
                      chi.alias("chi2_logrank"),
                      (F.col("ks_w") / 1e6).alias("ks_distance"))


@register(
    "stats_mann_kendall",
    oracle="""
    WITH g AS (SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x
               FROM orders GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM g),
    s AS (SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                               WHEN b.x < a.x THEN -1 ELSE 0 END)
                      AS BIGINT) AS s_stat
          FROM g a JOIN g b ON a.d < b.d),
    ties AS (SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0)
                         AS BIGINT) AS tt
             FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
                   FROM g GROUP BY x) q
             WHERE t > 1)
    SELECT n.n AS n_days, s.s_stat,
           (CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
            - CAST(ties.tt AS DOUBLE)) / 18.0 AS var_s,
           CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1.0)
                WHEN s.s_stat < 0 THEN (s.s_stat + 1.0)
                ELSE 0.0 END
           / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                   - CAST(ties.tt AS DOUBLE)) / 18.0) AS z
    FROM n CROSS JOIN s CROSS JOIN ties
    """,
    description="Mann-Kendall trend test on the daily order-count "
                "series: S = sum of sign(x_j - x_i) over all ordered "
                "day pairs, tie-corrected variance, continuity-"
                "corrected z — the nonparametric is-demand-trending "
                "screen (no distribution assumed, robust to the "
                "outliers that break an OLS slope test; the "
                "time-series sibling of stats_kendall_tau). Exact: S "
                "and the tie term are pure integer aggregates; z is "
                "one shared double tree (sqrt is IEEE-correctly-"
                "rounded). Scale shape: orders are unbounded but the "
                "daily grid is bounded by the date span, so the "
                "pairwise day join is k-row-codebook class — the only "
                "data-sized stage is the per-day groupBy",
    tags=("stats", "forecast"),
)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g = (o.groupBy(F.col("o_orderdate").alias("d"))
         .agg(F.count(F.lit(1)).cast("long").alias("x"))
         .localCheckpoint(eager=True))  # bounded grid, feeds 3 branches
    n = g.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    s = (a.join(b, F.col("a.d") < F.col("b.d"))
         .agg(F.sum(F.when(F.col("b.x") > F.col("a.x"), 1)
                    .when(F.col("b.x") < F.col("a.x"), -1)
                    .otherwise(0)).cast("long").alias("s_stat")))
    ties = (g.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("t"))
            .filter(F.col("t") > 1)
            .agg(F.coalesce(F.sum(F.col("t") * (F.col("t") - 1)
                                  * (2 * F.col("t") + 5)), F.lit(0))
                 .cast("long").alias("tt")))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    var_s = ((dd("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
              - dd("tt")) / F.lit(18.0))
    z = (F.when(F.col("s_stat") > 0, F.col("s_stat") - F.lit(1.0))
         .when(F.col("s_stat") < 0, F.col("s_stat") + F.lit(1.0))
         .otherwise(F.lit(0.0)) / F.sqrt(var_s))
    return (n.crossJoin(s).crossJoin(ties)
            .select(F.col("n").alias("n_days"), "s_stat",
                    var_s.alias("var_s"), z.alias("z")))


_FDR_ALPHA = 0.10


@register(
    "stats_fdr_bh",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      CAST(round(value * 1000000) AS BIGINT) AS v,
                      epoch_us(ts) AS us
               FROM events),
    anchor AS (SELECT min(us) AS tmin, max(us) AS tmax FROM s),
    d AS (SELECT event_type, v,
                 CASE WHEN 2 * us <= tmin + tmax THEN 1 ELSE 0 END
                   AS h1
          FROM s CROSS JOIN anchor),
    g AS (SELECT event_type, v,
                 CAST(SUM(h1) AS BIGINT) AS c1,
                 CAST(COUNT(*) - SUM(h1) AS BIGINT) AS c2
          FROM d GROUP BY 1, 2),
    c AS (SELECT event_type,
                 SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2
          FROM g WINDOW w AS (PARTITION BY event_type ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW)),
    t AS (SELECT event_type,
                 MAX(cum1) AS n1, MAX(cum2) AS n2
          FROM c GROUP BY event_type),
    dmax AS (SELECT c.event_type,
                    MAX(abs(CAST(t.n2 AS HUGEINT) * c.cum1
                            - CAST(t.n1 AS HUGEINT) * c.cum2)) AS dw
             FROM c JOIN t USING (event_type)
             GROUP BY c.event_type),
    ks AS (SELECT t.event_type,
                  CAST(t.n1 AS BIGINT) AS n_first,
                  CAST(t.n2 AS BIGINT) AS n_second,
                  CAST(dmax.dw AS DOUBLE)
                  / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
                    AS ks_d
           FROM t JOIN dmax USING (event_type)),
    p AS (SELECT event_type, n_first, n_second, ks_d,
                 CAST(round(LEAST(2.0 * exp(
                     -2.0 * ks_d * ks_d
                     * (CAST(n_first AS DOUBLE) * n_second
                        / (n_first + n_second))), 1.0) * 1000000)
                   AS BIGINT) AS pw
          FROM ks),
    r AS (SELECT *,
                 ROW_NUMBER() OVER (ORDER BY pw, event_type) AS j,
                 CAST(COUNT(*) OVER () AS BIGINT) AS k
          FROM p),
    jstar AS (SELECT COALESCE(MAX(CASE WHEN CAST(pw AS DOUBLE) / 1000000.0
                              <= j * {_FDR_ALPHA} / k THEN j END), 0)
                AS js
              FROM r)
    SELECT event_type, n_first, n_second, ks_d,
           CAST(pw AS DOUBLE) / 1000000.0 AS p_value,
           CAST(j AS BIGINT) AS bh_rank,
           j <= js AS rejected
    FROM r CROSS JOIN jstar
    ORDER BY bh_rank
    """,
    description="Benjamini-Hochberg FDR control over the per-type "
                "two-half KS drift family: for EVERY event type, the "
                "exact two-sample KS statistic between first- and "
                "second-half value distributions (the per-type form "
                "of stats_ks_value_purchase), its one-term asymptotic "
                "p-value 2*exp(-2*D^2*m) pinned to the 1e-6 grid, "
                "then the BH step-up at alpha=0.10 — the "
                "multiple-testing discipline a pipeline needs the "
                "moment it monitors MANY columns for drift (5 "
                "uncorrected tests at alpha=0.1 false-alarm ~40% of "
                "clean corpora). Exact: per-type cumulative counts "
                "ride ONE grouped_prefix_aggs pass (group-contiguous "
                "range repartition, driver carries bounded at "
                "partitions x types); D is a 128-bit integer max; "
                "the only libm call is the one pinned exp per type. "
                "Scale shape: data-sized stages are the value census "
                "and one repartition; the BH fold is a k-row array",
    tags=("stats", "dq", "scale"),
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type",
                  F.round(F.col("value") * 1_000_000).cast("long")
                  .alias("v"),
                  F.unix_micros("ts").alias("us"))
    anchor = s.agg(F.min("us").alias("tmin"), F.max("us").alias("tmax"))
    d = (s.crossJoin(F.broadcast(anchor))
         .select("event_type", "v",
                 F.when(2 * F.col("us") <= F.col("tmin") + F.col("tmax"),
                        1).otherwise(0).alias("h1")))
    g = (d.groupBy("event_type", "v")
         .agg(F.sum("h1").cast("long").alias("c1"),
              (F.count(F.lit(1)) - F.sum("h1")).cast("long")
              .alias("c2")))
    c, _ = grouped_prefix_aggs(g, ["event_type"], ["v"],
                               {"cum1": "c1", "cum2": "c2"})
    t = (c.groupBy("event_type")
         .agg(F.max("cum1").alias("n1"), F.max("cum2").alias("n2")))
    d38 = "decimal(38,0)"
    dmax = (c.join(F.broadcast(t), "event_type")
            .select("event_type",
                    F.abs(F.col("n2").cast(d38) * F.col("cum1")
                          - F.col("n1").cast(d38) * F.col("cum2"))
                    .alias("adw"))
            .groupBy("event_type").agg(F.max("adw").alias("dw")))
    dd = lambda c_: F.col(c_).cast("double")  # noqa: E731
    ks = (t.join(dmax, "event_type")
          .select("event_type",
                  F.col("n1").cast("long").alias("n_first"),
                  F.col("n2").cast("long").alias("n_second"),
                  (F.col("dw").cast("double") / (dd("n1") * dd("n2")))
                  .alias("ks_d")))
    m = (dd("n_first") * F.col("n_second")
         / (F.col("n_first") + F.col("n_second")))
    pw = F.round(F.least(
        F.lit(2.0) * F.exp(F.lit(-2.0) * F.col("ks_d") * F.col("ks_d")
                           * m),
        F.lit(1.0)) * 1_000_000).cast("long")
    p = ks.select("event_type", "n_first", "n_second", "ks_d",
                  pw.alias("pw"))
    # BH step-up over the bounded type set: one sorted array fold, no
    # single-partition window
    arr = p.agg(F.sort_array(F.collect_list(F.struct(
        "pw", "event_type", "n_first", "n_second", "ks_d"))).alias("a"))
    k = F.size("a").cast("long")
    cond = lambda i: (F.element_at("a", i)["pw"].cast("double")  # noqa: E731
                      / 1e6) <= (i.cast("double") * _FDR_ALPHA / k)
    jstar = F.aggregate(
        F.sequence(F.lit(1), F.size("a")), F.lit(0).cast("long"),
        lambda acc, i: F.when(cond(i), i.cast("long")).otherwise(acc))
    rows = arr.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.size("a")),
        lambda i: F.struct(
            F.element_at("a", i)["event_type"].alias("event_type"),
            F.element_at("a", i)["n_first"].alias("n_first"),
            F.element_at("a", i)["n_second"].alias("n_second"),
            F.element_at("a", i)["ks_d"].alias("ks_d"),
            (F.element_at("a", i)["pw"].cast("double") / 1e6)
            .alias("p_value"),
            i.cast("long").alias("bh_rank"),
            (i.cast("long") <= jstar).alias("rejected")))).alias("r"))
    return rows.select("r.event_type", "r.n_first", "r.n_second",
                       "r.ks_d", "r.p_value", "r.bh_rank",
                       "r.rejected").orderBy("bh_rank")


@register(
    "stats_jarque_bera",
    oracle="""
    WITH s AS (SELECT event_type,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    m AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(v AS HUGEINT)) AS s1,
                 SUM(CAST(v AS HUGEINT) * v) AS s2,
                 SUM(CAST(v AS HUGEINT) * v * v) AS s3,
                 SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
          FROM s GROUP BY 1),
    d AS (SELECT event_type, n,
                 (CAST(((s1) - (s1) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s1) % 1073741824 AS DOUBLE)) AS r1d, (CAST(((s2) - (s2) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s2) % 1073741824 AS DOUBLE)) AS r2d,
                 (CAST(((s3) - (s3) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s3) % 1073741824 AS DOUBLE)) AS r3d, (CAST(((s4) - (s4) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((s4) % 1073741824 AS DOUBLE)) AS r4d
          FROM m),
    c AS (SELECT event_type, n,
                 r1d / n AS mu,
                 r2d / n - (r1d / n) * (r1d / n) AS m2,
                 r3d / n
                   - 3.0 * (r1d / n) * (r2d / n)
                   + 2.0 * (r1d / n) * (r1d / n) * (r1d / n) AS m3,
                 r4d / n
                   - 4.0 * (r1d / n) * (r3d / n)
                   + 6.0 * (r1d / n) * (r1d / n) * (r2d / n)
                   - 3.0 * (r1d / n) * (r1d / n)
                     * (r1d / n) * (r1d / n) AS m4
          FROM d)
    SELECT event_type, n,
           mu / 100.0 AS mean,
           m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) AS skewness,
           m4 / (m2 * m2) - 3.0 AS kurtosis_excess,
           CAST(n AS DOUBLE) / 6.0
           * ((m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
              * (m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)))
              + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0)
                / 4.0) AS jb_stat
    FROM c ORDER BY event_type
    """,
    description="Jarque-Bera normality screen per event type: "
                "skewness and excess kurtosis assembled from FOUR "
                "exact 128-bit raw power sums of cent-scaled values "
                "in ONE pass (the central moments expand from raws "
                "in a shared double tree — no second scan, no "
                "subtract-the-mean numerical trap at these "
                "magnitudes), JB = n/6 (S^2 + K^2/4), chi2(2) under "
                "normality — the is-this-Gaussian gate that decides "
                "whether the z-score anomaly flags and the "
                "3-sigma rules elsewhere in the repo are even "
                "calibrated for this column (expect heavy rejection: "
                "event values are exponential-ish). Scale shape: one "
                "scan, one map-side-combined per-type aggregate, "
                "everything after is 5 rows",
    tags=("stats", "dq"),
)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type",
                  F.round(F.col("value") * 100).cast("long").alias("v"))
    d38 = "decimal(38,0)"
    vd = F.col("v").cast(d38)
    m = (s.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(vd).alias("s1"),
              F.sum(vd * F.col("v")).alias("s2"),
              F.sum(vd * F.col("v") * F.col("v")).alias("s3"),
              F.sum(vd * F.col("v") * F.col("v") * F.col("v"))
              .alias("s4")))
    from g1_etl_spark.plans._util import big_to_double

    # past 2^53 a direct decimal->double cast diverges from DuckDB's
    # truncating hugeint->double (s4 ~ 3e19 here) — split-convert
    mu = big_to_double(F.col("s1")) / F.col("n")
    r2 = big_to_double(F.col("s2")) / F.col("n")
    r3 = big_to_double(F.col("s3")) / F.col("n")
    r4 = big_to_double(F.col("s4")) / F.col("n")
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3.0) * mu * r2 + F.lit(2.0) * mu * mu * mu
    m4 = (r4 - F.lit(4.0) * mu * r3 + F.lit(6.0) * mu * mu * r2
          - F.lit(3.0) * mu * mu * mu * mu)
    sk = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    ku = m4 / (m2 * m2) - F.lit(3.0)
    jb = dd("n") / F.lit(6.0) * (sk * sk + ku * ku / F.lit(4.0))
    return (m.select("event_type", "n", (mu / F.lit(100.0)).alias("mean"),
                     sk.alias("skewness"), ku.alias("kurtosis_excess"),
                     jb.alias("jb_stat"))
            .orderBy("event_type"))


@register(
    "stats_levene_value",
    oracle="""
    WITH s AS (SELECT event_type,
                      CAST(round(value * 100) AS BIGINT) AS v
               FROM events),
    mu AS (SELECT event_type,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(round(CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE)
                             / COUNT(*)) AS BIGINT) AS muw
           FROM s GROUP BY 1),
    z AS (SELECT s.event_type, abs(s.v - mu.muw) AS z
          FROM s JOIN mu USING (event_type)),
    g AS (SELECT event_type,
                 CAST(COUNT(*) AS BIGINT) AS nj,
                 SUM(CAST(z AS HUGEINT)) AS sj,
                 SUM(CAST(z AS HUGEINT) * z) AS sjj
          FROM z GROUP BY 1),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(nj) AS BIGINT) AS n,
                 CAST(SUM(sj) AS HUGEINT) AS st,
                 list_sum(list_sort(list(
                     CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
                     / CAST(nj AS DOUBLE)))) AS ssq_over_n,
                 (CAST(((SUM(sjj)) - (SUM(sjj)) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((SUM(sjj)) % 1073741824 AS DOUBLE)) AS szz
          FROM g)
    SELECT k AS k_groups, n,
           (CAST(n - k AS DOUBLE) / CAST(k - 1 AS DOUBLE))
           * (ssq_over_n
              - ((CAST(((st) - (st) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((st) % 1073741824 AS DOUBLE)) / 100.0)
                * ((CAST(((st) - (st) % 1073741824) // 1073741824 AS DOUBLE) * 1073741824.0 + CAST((st) % 1073741824 AS DOUBLE)) / 100.0) * 10000.0 / n)
           / (szz - ssq_over_n) AS levene_w
    FROM t
    """,
    description="Levene's test (mean-centered form) of variance "
                "homogeneity across event types: are the per-type "
                "value SPREADS equal — the precondition check for "
                "stats_anova_f (whose F statistic assumes "
                "homoscedasticity) and the scale-drift complement of "
                "the location tests. Two passes: per-type pinned "
                "integer mean, then exact |v - mu| deviations whose "
                "group sums and sums of squares accumulate in "
                "128-bit integers; W = one-way ANOVA F over the "
                "deviations, assembled in one shared double tree "
                "(the grand-sum square routed through /100 * 1e4 so "
                "both engines keep the identical op sequence). Scale "
                "shape: two scans + map-side-combined per-type "
                "aggregates; everything after is k=5 rows",
    tags=("stats", "dq"),
)
def stats_levene_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.plans._util import big_to_double

    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type",
                  F.round(F.col("value") * 100).cast("long").alias("v"))
    d38 = "decimal(38,0)"
    mu = (s.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.round(F.sum(F.col("v").cast(d38)).cast("double")
                       / F.count(F.lit(1))).cast("long").alias("muw")))
    z = (s.join(F.broadcast(mu.select("event_type", "muw")),
                "event_type")
         .select("event_type",
                 F.abs(F.col("v") - F.col("muw")).alias("z")))
    g = (z.groupBy("event_type")
         .agg(F.count(F.lit(1)).cast("long").alias("nj"),
              F.sum(F.col("z").cast(d38)).alias("sj"),
              F.sum(F.col("z").cast(d38) * F.col("z")).alias("sjj")))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    # the five per-group double terms fold in SORTED order (the
    # _SORTSUM idiom) so partial-aggregation order can't ulp-drift;
    # integer sums stay exact and convert once
    t = g.agg(F.count(F.lit(1)).cast("long").alias("k"),
              F.sum("nj").cast("long").alias("n"),
              F.sum("sj").alias("st"),
              F.aggregate(F.array_sort(F.collect_list(
                  dd("sj") * dd("sj") / dd("nj"))), F.lit(0.0),
                  lambda a, x: a + x).alias("ssq_over_n"),
              big_to_double(F.sum("sjj")).alias("szz"))
    std = big_to_double(F.col("st"))
    w = ((F.col("n") - F.col("k")).cast("double")
         / (F.col("k") - 1).cast("double")
         * (F.col("ssq_over_n")
            - (std / F.lit(100.0)) * (std / F.lit(100.0))
            * F.lit(10000.0) / F.col("n"))
         / (F.col("szz") - F.col("ssq_over_n")))
    return t.select(F.col("k").alias("k_groups"), "n",
                    w.alias("levene_w"))


@register(
    "stats_runs_test",
    oracle="""
    WITH g0 AS (SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x
                FROM orders GROUP BY 1),
    span AS (SELECT min(d) AS dmin, max(d) AS dmax FROM g0),
    grid AS (SELECT UNNEST(generate_series(dmin, dmax,
                                           INTERVAL 1 DAY)) AS d
             FROM span),
    g AS (SELECT grid.d, CAST(COALESCE(g0.x, 0) AS BIGINT) AS x
          FROM grid LEFT JOIN g0 USING (d)),
    arr AS (SELECT list(x ORDER BY d) AS a,
                   CAST(COUNT(*) AS BIGINT) AS nd,
                   CAST(SUM(x) AS BIGINT) AS stot FROM g),
    sgn AS (SELECT list_filter(list_transform(a,
                     x -> CASE WHEN x * nd > stot THEN 1
                               WHEN x * nd < stot THEN -1 END),
                     s -> s IS NOT NULL) AS s
            FROM arr),
    cnt AS (SELECT s,
                   CAST(len(list_filter(s, v -> v = 1)) AS BIGINT)
                     AS n1,
                   CAST(len(list_filter(s, v -> v = -1)) AS BIGINT)
                     AS n2,
                   CAST(1 + list_sum(list_transform(
                       range(1, len(s)),
                       i -> CASE WHEN s[CAST(i AS INTEGER)]
                                      <> s[CAST(i + 1 AS INTEGER)]
                                 THEN 1 ELSE 0 END)) AS BIGINT) AS runs
            FROM sgn)
    SELECT n1 AS n_above, n2 AS n_below, runs,
           2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             / (n1 + n2) + 1.0 AS expected_runs,
           (CAST(runs AS DOUBLE)
            - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               / (n1 + n2) + 1.0))
           / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     - (n1 + n2))
                  / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                     * (n1 + n2 - 1))) AS z
    FROM cnt
    """,
    description="Wald-Wolfowitz runs test on the daily order-count "
                "series (dense day grid): is demand RANDOM around its "
                "mean, or does "
                "it cluster (too few runs = momentum/regimes, too "
                "many = oscillation) — the model-free randomness "
                "screen that complements Mann-Kendall's monotone-"
                "trend question. Dichotomized at the MEAN via the "
                "exact integer predicate x*n <=> sum(x) (no float "
                "threshold anywhere; a median split degenerates when "
                "most days are zero), exact-tie days dropped per the "
                "standard treatment, runs counted by one adjacent-"
                "difference "
                "fold; the z normalization is one shared double tree "
                "over three exact integers. Scale shape: the only "
                "data-sized stage is the per-day groupBy; the grid "
                "is date-span-bounded",
    tags=("stats", "forecast"),
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    g0 = (o.groupBy(F.col("o_orderdate").alias("d"))
          .agg(F.count(F.lit(1)).cast("long").alias("x")))
    # dense day grid: zero-order days are real observations — without
    # them a sparse sf has no below-median class and the z divides by 0
    span = g0.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    grid = span.select(F.explode(F.sequence(
        "dmin", "dmax", F.expr("INTERVAL 1 DAY"))).alias("d"))
    g = (grid.join(g0, "d", "left")
         .select("d", F.coalesce("x", F.lit(0)).cast("long").alias("x")))
    arr = g.agg(F.array_sort(F.collect_list(F.struct("d", "x")))
                .alias("dx"),
                F.count(F.lit(1)).cast("long").alias("nd"),
                F.sum("x").cast("long").alias("stot"))
    arr = arr.select(F.transform("dx", lambda e: e["x"]).alias("a"),
                     "nd", "stot")
    # dichotomize at the MEAN via the exact integer predicate
    # x*nd <=> stot (a median threshold degenerates on the sparse
    # sf: most days are zero, so no below class exists)
    sgn = arr.select(F.filter(
        F.transform("a", lambda x: F.when(x * F.col("nd")
                                          > F.col("stot"), 1)
                    .when(x * F.col("nd") < F.col("stot"), -1)),
        lambda s: s.isNotNull()).alias("s"))
    cnt = sgn.select(
        F.size(F.filter("s", lambda v: v == 1)).cast("long").alias("n1"),
        F.size(F.filter("s", lambda v: v == -1)).cast("long")
        .alias("n2"),
        (F.lit(1) + F.when(F.size("s") > 1, F.aggregate(
            F.sequence(F.lit(1), F.size("s") - 1),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.when(
                F.element_at("s", i.cast("int"))
                != F.element_at("s", (i + 1).cast("int")), 1)
            .otherwise(0))).otherwise(F.lit(0)))
        .cast("long").alias("runs"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    n = F.col("n1") + F.col("n2")
    two = F.lit(2.0) * dd("n1") * dd("n2")
    exp_r = two / n + F.lit(1.0)
    var = (two * (two - n)
           / (n.cast("double") * n.cast("double") * (n - 1)))
    return cnt.select(F.col("n1").alias("n_above"),
                      F.col("n2").alias("n_below"), "runs",
                      exp_r.alias("expected_runs"),
                      ((dd("runs") - exp_r) / F.sqrt(var)).alias("z"))


_CROSTON_MOD = 97  # probe slice: every 97th part (sparse demand)


@register(
    "orders_croston",
    oracle=f"""
    WITH RECURSIVE pk AS (
      SELECT p_partkey FROM part WHERE p_partkey % {_CROSTON_MOD} = 0),
    li AS (SELECT l.l_partkey AS p_partkey,
                  (year(l.l_shipdate) * 12 + month(l.l_shipdate)) AS ym,
                  CAST(round(l.l_quantity) AS BIGINT) AS q
           FROM lineitem l JOIN pk ON pk.p_partkey = l.l_partkey),
    span AS (SELECT min(ym) AS ym0, max(ym) AS ym1 FROM li),
    grid AS (SELECT p_partkey, UNNEST(range(0, ym1 - ym0 + 1)) AS mi
             FROM pk CROSS JOIN span),
    d AS (SELECT g.p_partkey, g.mi,
                 CAST(COALESCE(s.y, 0) AS BIGINT) AS y
          FROM grid g
          LEFT JOIN (SELECT p_partkey, ym - ym0 AS mi,
                            SUM(q) AS y
                     FROM li CROSS JOIN span
                     GROUP BY 1, 2) s
            ON s.p_partkey = g.p_partkey AND s.mi = g.mi),
    mm AS (SELECT CAST(ym1 - ym0 + 1 AS BIGINT) AS m FROM span),
    k(mi, p_partkey, seen, z, p, since) AS (
      SELECT -1, p_partkey, FALSE, CAST(0.0 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)
      FROM pk
      UNION ALL
      SELECT k.mi + 1, k.p_partkey,
             k.seen OR d.y > 0,
             CASE WHEN d.y > 0 AND NOT k.seen THEN CAST(d.y AS DOUBLE)
                  WHEN d.y > 0 THEN (CAST(d.y AS DOUBLE) + k.z) / 2
                  ELSE k.z END,
             CASE WHEN d.y > 0 AND NOT k.seen THEN 1.0
                  WHEN d.y > 0
                  THEN (CAST(k.since + 1 AS DOUBLE) + k.p) / 2
                  ELSE k.p END,
             CASE WHEN d.y > 0 THEN CAST(0 AS BIGINT)
                  ELSE k.since + CASE WHEN k.seen THEN 1 ELSE 0 END END
      FROM k JOIN d ON d.p_partkey = k.p_partkey AND d.mi = k.mi + 1
      CROSS JOIN mm
      WHERE k.mi + 1 < mm.m),
    fin AS (SELECT * FROM k CROSS JOIN mm WHERE k.mi = mm.m - 1),
    cnts AS (SELECT p_partkey,
                    CAST(SUM(CASE WHEN y > 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_demand_months
             FROM d GROUP BY 1)
    SELECT f.p_partkey, mm.m AS n_months, c.n_demand_months,
           f.z AS croston_level, f.p AS croston_interval,
           CASE WHEN f.p > 0 THEN f.z / f.p END AS forecast_per_month
    FROM fin f JOIN cnts c USING (p_partkey) CROSS JOIN mm
    ORDER BY f.p_partkey
    """,
    description="Croston's method for INTERMITTENT demand (alpha = "
                "1/2) over a sparse part slice: per part, separate "
                "exponential smoothing of nonzero demand SIZE and of "
                "the INTERVAL between demands over the dense monthly "
                "grid; forecast = level/interval — the standard "
                "spare-parts/slow-mover forecaster where Holt-class "
                "smoothers (which treat zero months as demand "
                "crashes) fail. Determinism: monthly quantities are "
                "exact integers, and both engines fold the identical "
                "month-ordered IEEE sequence (Spark: one struct "
                "aggregate per part over the bounded month array; "
                "oracle: recursive CTE advancing all parts one month "
                "per step — state as ROWS, never a list_reduce "
                "struct accumulator). Scale shape: one data-sized "
                "month census; the fold is months-bounded per part "
                "and parts fold independently",
    tags=("stats", "forecast", "orders"),
)
def orders_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pk = (load_table(spark, sf_dir, "part")
          .filter(F.col("p_partkey") % _CROSTON_MOD == 0)
          .select("p_partkey"))
    lij = (li.join(pk, li.l_partkey == pk.p_partkey)
           .select("p_partkey",
                   (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
                   .alias("ym"),
                   F.round("l_quantity").cast("long").alias("q")))
    span = lij.agg(F.min("ym").alias("ym0"), F.max("ym").alias("ym1"))
    s = (lij.crossJoin(F.broadcast(span))
         .groupBy("p_partkey", (F.col("ym") - F.col("ym0")).alias("mi"))
         .agg(F.sum("q").cast("long").alias("y")))
    grid = (pk.crossJoin(F.broadcast(span))
            .select("p_partkey",
                    F.explode(F.sequence(
                        F.lit(0), F.col("ym1") - F.col("ym0")))
                    .alias("mi")))
    d = (grid.join(s, ["p_partkey", "mi"], "left")
         .select("p_partkey", "mi",
                 F.coalesce("y", F.lit(0)).cast("long").alias("y")))
    arr = (d.groupBy("p_partkey")
           .agg(F.array_sort(F.collect_list(F.struct("mi", "y")))
                .alias("a"),
                F.count(F.lit(1)).cast("long").alias("n_months"),
                F.sum(F.when(F.col("y") > 0, 1).otherwise(0))
                .cast("long").alias("n_demand_months")))
    seed = F.struct(F.lit(False).alias("seen"),
                    F.lit(0.0).alias("z"), F.lit(0.0).alias("p"),
                    F.lit(0).cast("long").alias("since"))

    def step(acc, e):
        y = e["y"]
        pos = y > 0
        first = pos & ~acc["seen"]
        return F.struct(
            (acc["seen"] | pos).alias("seen"),
            F.when(first, y.cast("double"))
            .when(pos, (y.cast("double") + acc["z"]) / 2)
            .otherwise(acc["z"]).alias("z"),
            F.when(first, F.lit(1.0))
            .when(pos, ((acc["since"] + 1).cast("double")
                        + acc["p"]) / 2)
            .otherwise(acc["p"]).alias("p"),
            F.when(pos, F.lit(0).cast("long"))
            .otherwise(acc["since"]
                       + F.when(acc["seen"], 1).otherwise(0))
            .cast("long").alias("since"))

    fin = arr.select(
        "p_partkey", "n_months", "n_demand_months",
        F.aggregate("a", seed, step).alias("st"))
    return (fin.select(
        "p_partkey", "n_months", "n_demand_months",
        F.col("st.z").alias("croston_level"),
        F.col("st.p").alias("croston_interval"),
        F.when(F.col("st.p") > 0, F.col("st.z") / F.col("st.p"))
        .alias("forecast_per_month"))
        .orderBy("p_partkey"))
