"""Driver-facing time-series analysis queries (round 11).

Classical decomposition, robust trend (Theil-Sen), portmanteau
whiteness (Ljung-Box), Friedman rank test, a randomization test, and
LZ78 complexity of the SAX symbol stream — the univariate-analysis
shelf on top of the hourly event-count grid the SAX/periodogram/xcorr
family established.

Shared determinism idioms (see events_plans.py): counts and moment
sums are exact integers (decimal(38,0) / HUGEINT); any float reduction
over more than a fixed expression tree runs sorted-sequential (the
sortsum idiom) so both engines add identical doubles in identical
order; libm-valued terms are pinned to the 1e-6 grid before
comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.plans.registry import register

# Dense anchored hourly count grid over events — the exact CTE set the
# SAX / periodogram / xcorr family uses (events_plans.py): hr is the
# double-division + truncation both engines share, the grid is
# time-span-bounded, and v is an exact long count.
_GRID_CTES = """
    s AS (SELECT epoch_us(ts) AS us FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT (us - tmin) // 3600000000 AS hr
          FROM s CROSS JOIN anchor),
    span AS (SELECT max(hr) AS hmax FROM h),
    grid AS (SELECT UNNEST(range(0, hmax + 1)) AS hr FROM span),
    c AS (SELECT g.hr, CAST(COALESCE(x.c, 0) AS BIGINT) AS v
          FROM grid g
          LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h GROUP BY 1) x
            USING (hr))
"""

_HOUR_US = 3_600_000_000


def _hour_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hr, v): dense hourly event-count grid anchored at min(ts) —
    the Spark twin of _GRID_CTES (same values as events_sax_symbols'
    grid). The (tmin, tmax) pair is collected as one-row METADATA
    (the pagerank-n class) so the whole grid costs ONE data-sized
    scan (the hour census) instead of three; hmax = trunc((tmax -
    tmin) / hour) equals max over events of the per-row double
    division because rounding a monotone sequence stays monotone."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"))
    r = s.agg(F.min("us"), F.max("us")).collect()[0]
    tmin = int(r[0])
    hmax = int((int(r[1]) - tmin) / _HOUR_US)
    h = s.select(((F.col("us") - F.lit(tmin)) / F.lit(_HOUR_US))
                 .cast("long").alias("hr"))
    cnt = h.groupBy("hr").agg(F.count(F.lit(1)).alias("c"))
    grid = spark.range(0, hmax + 1).select(F.col("id").alias("hr"))
    return (grid.join(cnt, "hr", "left")
            .select("hr", F.coalesce("c", F.lit(0)).cast("long")
                    .alias("v")))


def _sortsum(expr):
    """Order-pinned float reduction: sort the terms, then fold left to
    right — both engines add identical doubles in identical order."""
    return F.aggregate(F.array_sort(F.collect_list(expr)),
                       F.lit(0.0), lambda acc, x: acc + x)


_STL_HALF = 12  # centered moving-average half width (25-hour window)


@register(
    "events_stl_decompose",
    oracle=f"""
    WITH {_GRID_CTES},
    t AS (SELECT a.hr, SUM(b.v) AS t25, COUNT(*) AS cnt
          FROM c a JOIN c b
            ON b.hr BETWEEN a.hr - {_STL_HALF} AND a.hr + {_STL_HALF}
          GROUP BY a.hr),
    tr AS (SELECT hr, CAST(t25 AS BIGINT) AS t25 FROM t
           WHERE cnt = {2 * _STL_HALF + 1}),
    d AS (SELECT c.hr, c.hr % 24 AS hh,
                 25 * c.v - tr.t25 AS d25
          FROM c JOIN tr USING (hr)),
    se AS (SELECT hh, CAST(SUM(d25) AS DOUBLE) / COUNT(*) AS s_raw
           FROM d GROUP BY hh),
    ctr AS (SELECT list_sum(list_sort(list(s_raw))) / COUNT(*) AS m
            FROM se),
    sea AS (SELECT hh, (s_raw - m) / 25.0 AS seasonal
            FROM se CROSS JOIN ctr)
    SELECT c.hr, c.v,
           CAST(tr.t25 AS DOUBLE) / 25.0 AS trend,
           sea.seasonal AS seasonal,
           CASE WHEN tr.t25 IS NOT NULL
                THEN c.v - CAST(tr.t25 AS DOUBLE) / 25.0 - sea.seasonal
           END AS remainder
    FROM c LEFT JOIN tr USING (hr)
    JOIN sea ON sea.hh = c.hr % 24
    ORDER BY c.hr
    """,
    description="classical additive decomposition of the hourly "
                "event-count series: trend = centered 25-hour moving "
                "average (exact integer window sums via a bounded "
                "grid self-join — no ordered window), seasonal = "
                "hour-of-day mean of the detrended series (kept as "
                "the exact integer 25*v - sum25 until one double "
                "division), centered so the 24 seasonal terms sum to "
                "zero (the 24-term centering mean runs "
                "sorted-sequential), remainder = v - trend - "
                "seasonal. Edge hours (first/last 12) carry NULL "
                "trend/remainder, exactly as both engines' join "
                "structure implies. The decomposition screen before "
                "any forecast: how much of the series is shape vs "
                "season vs noise. Scale shape: the grid is "
                "time-span-bounded, so the 25-way self-join and the "
                "24-row seasonal frame are codebook-class; the one "
                "data-sized stage is the shared hour census",
    tags=("events", "stats", "timeseries", "forecast"),
)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _hour_grid(spark, sf_dir).localCheckpoint(eager=True)
    w = 2 * _STL_HALF + 1
    off = F.explode(F.sequence(F.lit(-_STL_HALF), F.lit(_STL_HALF)))
    probe = c.select(F.col("hr").alias("chr"), off.alias("o")) \
        .select("chr", (F.col("chr") + F.col("o")).alias("hr"))
    t = (probe.join(c, "hr")
         .groupBy("chr")
         .agg(F.sum("v").alias("t25"), F.count(F.lit(1)).alias("cnt")))
    tr = (t.filter(F.col("cnt") == w)
          .select(F.col("chr").alias("hr"), F.col("t25")))
    d = (c.join(tr, "hr")
         .select((F.col("hr") % 24).alias("hh"),
                 (F.lit(25) * F.col("v") - F.col("t25")).alias("d25")))
    se = (d.groupBy("hh")
          .agg((F.sum("d25").cast("double") / F.count(F.lit(1)))
               .alias("s_raw")))
    ctr = se.agg((_sortsum(F.col("s_raw"))
                  / F.count(F.lit(1))).alias("m"))
    sea = (se.crossJoin(F.broadcast(ctr))
           .select("hh", ((F.col("s_raw") - F.col("m")) / F.lit(25.0))
                   .alias("seasonal")))
    trend = F.col("t25").cast("double") / F.lit(25.0)
    return (c.join(tr, "hr", "left")
            .withColumn("hh", F.col("hr") % 24)
            .join(F.broadcast(sea), "hh")
            .select("hr", "v", trend.alias("trend"), "seasonal",
                    F.when(F.col("t25").isNotNull(),
                           F.col("v") - trend - F.col("seasonal"))
                    .alias("remainder"))
            .orderBy("hr"))


@register(
    "events_theil_sen",
    oracle=f"""
    WITH {_GRID_CTES},
    p AS (SELECT CAST(b.v - a.v AS DOUBLE) / (b.hr - a.hr) AS slope
          FROM c a JOIN c b ON b.hr > a.hr),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   list_sort(list(slope)) AS sl,
                   CAST(SUM(CASE WHEN slope > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos,
                   CAST(SUM(CASE WHEN slope < 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_neg
            FROM p)
    SELECT n_pairs, sl[CAST((n_pairs + 1) // 2 AS INT)] AS sen_slope,
           n_pos, n_neg
    FROM agg
    """,
    description="Theil-Sen robust trend of the hourly event-count "
                "series: the LOWER MEDIAN of all pairwise slopes "
                "(v_j - v_i) / (hr_j - hr_i) over the anchored hour "
                "grid — the outlier-immune alternative to the OLS "
                "slope (breakdown point 29%), plus the "
                "positive/negative slope census that feeds "
                "Mann-Kendall-style direction reads. Determinism: "
                "every slope is one double division of exact longs "
                "(numerators bounded by hourly counts, denominators "
                "by the span, so distinct rationals are separated "
                "far above double ulp and the sort order is exact); "
                "the median is an exact element pick at rank "
                "(n+1) div 2 — no interpolation. Scale shape: the "
                "pair frame is span^2-bounded (codebook class — "
                "independent of event volume); the one data-sized "
                "stage is the shared hour census",
    tags=("events", "stats", "timeseries"),
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _hour_grid(spark, sf_dir).localCheckpoint(eager=True)
    a = c.select(F.col("hr").alias("h1"), F.col("v").alias("v1"))
    b = c.select(F.col("hr").alias("h2"), F.col("v").alias("v2"))
    p = (a.join(b, F.col("h2") > F.col("h1"))
         .select(((F.col("v2") - F.col("v1")).cast("double")
                  / (F.col("h2") - F.col("h1"))).alias("slope")))
    agg = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sort_array(F.collect_list("slope")).alias("sl"),
        F.sum(F.when(F.col("slope") > 0, 1).otherwise(0)).cast("long")
        .alias("n_pos"),
        F.sum(F.when(F.col("slope") < 0, 1).otherwise(0)).cast("long")
        .alias("n_neg"))
    return agg.select(
        "n_pairs",
        F.expr("element_at(sl, cast((n_pairs + 1) div 2 as int))")
        .alias("sen_slope"),
        "n_pos", "n_neg")


_LB_LAGS = 5
_LB_CRIT_W = 11_070_498  # round(chi2_0.95,df=5 * 1e6) = 11.070498


@register(
    "stats_ljung_box",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      CAST(round(value * 1000000) AS BIGINT) AS xs,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY epoch_us(ts), event_id)
                        AS i
               FROM events),
    tot AS (SELECT event_type, COUNT(*) AS n,
                   SUM(CAST(xs AS HUGEINT)) AS t,
                   SUM(CAST(xs AS HUGEINT) * xs) AS ss
            FROM s GROUP BY event_type),
    l AS (SELECT UNNEST(range(1, {_LB_LAGS + 1})) AS lag),
    p AS (SELECT a.event_type, l.lag,
                 SUM(CAST(a.xs AS HUGEINT) * b.xs) AS nk,
                 SUM(CAST(a.xs AS HUGEINT)) AS s1,
                 SUM(CAST(b.xs AS HUGEINT)) AS s2,
                 COUNT(*) AS c
          FROM s a CROSS JOIN l
          JOIN s b ON a.event_type = b.event_type AND b.i = a.i - l.lag
          GROUP BY a.event_type, l.lag),
    acf AS (SELECT p.event_type, p.lag, tot.n,
                   (CAST(nk AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE))
                      * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                    + CAST(c AS DOUBLE)
                      * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))
                   / (CAST(ss AS DOUBLE)
                      - CAST(n AS DOUBLE)
                        * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))
                     AS r
            FROM p JOIN tot USING (event_type)),
    lb AS (SELECT event_type, CAST(n AS BIGINT) AS n,
                  CAST(round(CAST(n AS DOUBLE) * (n + 2)
                             * list_sum(list_sort(list(
                                 r * r / (n - lag)))) * 1000000)
                       AS BIGINT) AS lbw
           FROM acf GROUP BY event_type, n)
    SELECT event_type, n, CAST(lbw AS DOUBLE) / 1000000.0 AS lb_stat,
           CAST({_LB_LAGS} AS BIGINT) AS df,
           lbw > {_LB_CRIT_W} AS reject_whiteness
    FROM lb ORDER BY event_type
    """,
    description=f"Ljung-Box portmanteau whiteness test per event "
                f"type: Q = n(n+2) * sum_k acf_k^2/(n-k) over lags "
                f"1..{_LB_LAGS}, against the chi-square 95% critical "
                "value — 'is this series just noise' asked ONCE "
                "instead of eyeballing five ACF bars; the gate before "
                "fitting anything AR-shaped. Composes the certified "
                "events_acf plan verbatim (its acf values are "
                "bit-identical in both engines), squares/weights the "
                f"{_LB_LAGS} terms sorted-sequentially, and pins Q to "
                "the 1e-6 grid BEFORE the threshold compare so the "
                "reject decision is an integer comparison (n per type "
                "recovered exactly as n_pairs + lag — no extra scan). "
                "Scale shape: inherits events_acf's blocked-window "
                "form; everything after it is (types x 5)-bounded",
    tags=("events", "stats", "timeseries"),
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.plans.events_plans import events_acf

    acf = events_acf(spark, sf_dir)
    # n per type = n_pairs + lag (exact: the lag-k pair census over an
    # index join is n - k rows); max() collapses identical values.
    base = acf.select("event_type", "lag", "acf",
                      (F.col("n_pairs") + F.col("lag")).alias("n"))
    term = (F.col("acf") * F.col("acf")
            / (F.col("n") - F.col("lag")).cast("double"))
    lb = (base.groupBy("event_type", "n")
          .agg(_sortsum(term).alias("ssum")))
    lbw = F.round(F.col("n").cast("double") * (F.col("n") + 2)
                  * F.col("ssum") * 1_000_000).cast("long")
    return (lb.select("event_type", F.col("n").cast("long").alias("n"),
                      lbw.alias("lbw"))
            .select("event_type", "n",
                    (F.col("lbw").cast("double") / 1e6).alias("lb_stat"),
                    F.lit(_LB_LAGS).cast("long").alias("df"),
                    (F.col("lbw") > _LB_CRIT_W)
                    .alias("reject_whiteness"))
            .orderBy("event_type"))


_FR_CRIT_W = 9_487_729  # round(chi2_0.95,df=4 * 1e6) = 9.487729


@register(
    "stats_friedman_daily",
    oracle=f"""
    WITH d0 AS (SELECT CAST(ts AS DATE) AS d, event_type AS t
                FROM events),
    days AS (SELECT DISTINCT d FROM d0),
    types AS (SELECT DISTINCT t FROM d0),
    g AS (SELECT days.d, types.t,
                 CAST(COALESCE(x.c, 0) AS BIGINT) AS cnt
          FROM days CROSS JOIN types
          LEFT JOIN (SELECT d, t, COUNT(*) AS c FROM d0
                     GROUP BY 1, 2) x USING (d, t)),
    r AS (SELECT a.d, a.t,
                 2 * SUM(CASE WHEN b.cnt < a.cnt THEN 1 ELSE 0 END)
                 + SUM(CASE WHEN b.cnt = a.cnt THEN 1 ELSE 0 END) + 1
                   AS rank2
          FROM g a JOIN g b ON a.d = b.d
          GROUP BY a.d, a.t, a.cnt),
    rs AS (SELECT t, CAST(SUM(rank2) AS BIGINT) AS r2 FROM r
           GROUP BY t),
    dims AS (SELECT CAST(COUNT(*) AS BIGINT) AS b FROM days),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM types),
    st AS (SELECT CAST(round((3.0 * SUM(CAST(r2 AS HUGEINT) * r2)
                              / (CAST(b AS DOUBLE) * k * (k + 1))
                              / 4.0 * 4.0
                              - 3.0 * (CAST(b AS DOUBLE) * (k + 1)))
                             * 1000000) AS BIGINT) AS fw,
                  b, k
           FROM rs CROSS JOIN dims CROSS JOIN kk GROUP BY b, k)
    SELECT rs.t AS event_type,
           CAST(rs.r2 AS DOUBLE) / (2.0 * st.b) AS mean_rank,
           st.b AS n_blocks, st.k AS k_treatments,
           CAST(st.fw AS DOUBLE) / 1000000.0 AS friedman_chi2,
           st.fw > {_FR_CRIT_W} AS reject_equal
    FROM rs CROSS JOIN st ORDER BY rs.t
    """,
    description="Friedman rank test across event types with days as "
                "blocks: daily counts on the dense day x type grid, "
                "average ranks within each day (ties -> midrank, "
                "carried as EXACT doubled-rank integers via the "
                "k x k within-block self-join — no ordered window), "
                "chi2_F = 12/(bk(k+1)) sum R_j^2 - 3b(k+1) against "
                "the 95% critical value — 'do the types have the "
                "same daily level' as a nonparametric repeated-"
                "measures test (the rank-based complement to the "
                "value-space ANOVA already on the shelf; "
                "uncorrected-for-ties form, documented). Every rank "
                "and rank-square sum is an exact integer; the "
                "statistic is one fixed double tree pinned to the "
                "1e-6 grid before the threshold compare. Scale "
                "shape: grids are (days x types)-bounded codebook "
                "frames; the one data-sized stage is the daily "
                "count census",
    tags=("events", "stats"),
)
def stats_friedman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.select(F.to_date("ts").alias("d"),
                   F.col("event_type").alias("t"))
    # ONE data-sized census; every later frame (day list, type list,
    # dense grid, b/k scalars) derives from this bounded checkpoint —
    # the first cut re-derived days/types/dims from the raw scan and
    # paid FIVE full scans (100x probe: 115 s; this form re-reads the
    # ~days*types-row census instead)
    cnts = (d0.groupBy("d", "t").agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True))
    days = cnts.select("d").distinct()
    types = cnts.select("t").distinct()
    g = (days.crossJoin(F.broadcast(types))
         .join(cnts, ["d", "t"], "left")
         .select("d", "t", F.coalesce("c", F.lit(0)).cast("long")
                 .alias("cnt"))
         .localCheckpoint(eager=True))  # bounded; feeds both join arms
    b_side = g.select(F.col("d").alias("d2"), F.col("cnt").alias("cnt2"))
    r = (g.join(b_side, F.col("d") == F.col("d2"))
         .groupBy("d", "t", "cnt")
         .agg((2 * F.sum(F.when(F.col("cnt2") < F.col("cnt"), 1)
                         .otherwise(0))
               + F.sum(F.when(F.col("cnt2") == F.col("cnt"), 1)
                       .otherwise(0)) + 1).alias("rank2")))
    rs = r.groupBy("t").agg(F.sum("rank2").cast("long").alias("r2"))
    dims = days.agg(F.count(F.lit(1)).cast("long").alias("b"))
    kk = types.agg(F.count(F.lit(1)).cast("long").alias("k"))
    d38 = "decimal(38,0)"
    st = (rs.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(kk))
          .groupBy("b", "k")
          .agg(F.round((F.lit(3.0)
                        * F.sum(F.col("r2").cast(d38) * F.col("r2"))
                        .cast("double")
                        / (F.col("b").cast("double") * F.col("k")
                           * (F.col("k") + 1)) / F.lit(4.0) * F.lit(4.0)
                        - F.lit(3.0) * (F.col("b").cast("double")
                                        * (F.col("k") + 1)))
                       * 1_000_000).cast("long").alias("fw")))
    return (rs.crossJoin(F.broadcast(st))
            .select(F.col("t").alias("event_type"),
                    (F.col("r2").cast("double")
                     / (F.lit(2.0) * F.col("b"))).alias("mean_rank"),
                    F.col("b").alias("n_blocks"),
                    F.col("k").alias("k_treatments"),
                    (F.col("fw").cast("double") / 1e6)
                    .alias("friedman_chi2"),
                    (F.col("fw") > _FR_CRIT_W).alias("reject_equal"))
            .orderBy("event_type"))


_PERM_R = 64
_PERM_A, _PERM_B = "purchase", "view"


@register(
    "stats_permutation_mean",
    oracle=f"""
    WITH s AS (SELECT event_id, event_type,
                      CAST(round(value * 1000000) AS BIGINT) AS xw
               FROM events
               WHERE event_type IN ('{_PERM_A}', '{_PERM_B}')),
    obs AS (SELECT
              CAST(SUM(CASE WHEN event_type = '{_PERM_A}' THEN 1
                       ELSE 0 END) AS BIGINT) AS n_a,
              CAST(SUM(CASE WHEN event_type = '{_PERM_B}' THEN 1
                       ELSE 0 END) AS BIGINT) AS n_b,
              CAST(SUM(CASE WHEN event_type = '{_PERM_A}'
                       THEN CAST(xw AS HUGEINT) END) AS DOUBLE)
              / SUM(CASE WHEN event_type = '{_PERM_A}' THEN 1
                    ELSE 0 END)
              - CAST(SUM(CASE WHEN event_type = '{_PERM_B}'
                         THEN CAST(xw AS HUGEINT) END) AS DOUBLE)
                / SUM(CASE WHEN event_type = '{_PERM_B}' THEN 1
                      ELSE 0 END) AS dw
            FROM s),
    mem AS (
      SELECT t.r, s.xw,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)
                                          || '#'
                                          || CAST(t.r AS VARCHAR)),
                                      1, 8)) AS BIGINT) % 2 = 0 AS ga
      FROM s, LATERAL unnest(generate_series(1, {_PERM_R})) t(r)),
    pd AS (SELECT r,
                  CAST(SUM(CASE WHEN ga THEN CAST(xw AS HUGEINT) END)
                       AS DOUBLE)
                  / SUM(CASE WHEN ga THEN 1 ELSE 0 END)
                  - CAST(SUM(CASE WHEN NOT ga
                             THEN CAST(xw AS HUGEINT) END) AS DOUBLE)
                    / SUM(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS dr
           FROM mem GROUP BY r)
    SELECT obs.n_a, obs.n_b, obs.dw / 1000000.0 AS obs_diff,
           CAST({_PERM_R} AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN abs(pd.dr) >= abs(obs.dw) THEN 1
                    ELSE 0 END) AS BIGINT) AS n_extreme,
           (1.0 + SUM(CASE WHEN abs(pd.dr) >= abs(obs.dw) THEN 1
                      ELSE 0 END)) / (1.0 + {_PERM_R}) AS p_value
    FROM pd CROSS JOIN obs
    GROUP BY obs.n_a, obs.n_b, obs.dw
    """,
    description=f"randomization (permutation) test for the mean-value "
                f"difference between '{_PERM_A}' and '{_PERM_B}' "
                f"events: {_PERM_R} deterministic label reshuffles "
                "(membership = md5(event_id#r) parity — the same "
                "engine-portable 'randomness' as the bootstrap; "
                "binomial reassignment, documented, rather than a "
                "size-preserving permutation), each permuted diff an "
                "exact scaled-integer-sum division, p = (1 + "
                "#extreme) / (R + 1) with the add-one guard. The "
                "distribution-free two-sample test that needs NO "
                "variance formula — the companion to the Welch t "
                "already on the shelf. Extreme-compare |d_r| >= |d| "
                "is exact: both sides are identical doubles from "
                "exact integer sums in both engines. Scale shape: one "
                "narrow spread repartition (id+type+value only), then "
                "the 64-way fan-out (explode, map-side combine, 64-row "
                "aggregate) — a fixed small multiple of one scan at "
                "any sf",
    tags=("events", "stats", "sampling"),
)
def stats_permutation_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # event_id# is computed once per row; each reshuffle r appends a
    # FOLDABLE literal suffix (one cast+concat per row, not 64)
    # the testdata parquet is one row group, so the scan stage is ONE
    # task — spread the narrow (id, type, value) rows across the cores
    # BEFORE the 64-md5-per-row fan-out (the operators' `spread`
    # idiom; shuffle payload is metadata-sized, the md5 CPU is not).
    # Measured at sf0.1 (fresh plan per trial, min-of-4, noop): 4.1 s
    # -> 1.2 s. A one-pass 134-conditional-agg form was tried and
    # REJECTED: the >100-field aggregate disables whole-stage codegen
    # (spark.sql.codegen.maxFields) and its expression tree costs
    # ~2.5 s of driver PLANNING per run — worse than the explode.
    spread = spark.sparkContext.defaultParallelism
    s = (ev.filter(F.col("event_type").isin(_PERM_A, _PERM_B))
         .select("event_id", "event_type",
                 F.round(F.col("value") * 1_000_000).cast("long")
                 .alias("xw"))
         .repartition(spread, "event_id"))
    d38 = "decimal(38,0)"
    is_a = F.col("event_type") == _PERM_A
    obs = s.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        (F.sum(F.when(is_a, F.col("xw").cast(d38))).cast("double")
         / F.sum(F.when(is_a, 1).otherwise(0))
         - F.sum(F.when(~is_a, F.col("xw").cast(d38))).cast("double")
         / F.sum(F.when(~is_a, 1).otherwise(0))).alias("dw"))
    mem = (s.select("event_id", "xw",
                    F.explode(F.sequence(F.lit(1), F.lit(_PERM_R)))
                    .alias("r"))
           .select("r", "xw",
                   (F.conv(F.substring(F.md5(F.concat(
                       F.col("event_id").cast("string"), F.lit("#"),
                       F.col("r").cast("string"))), 1, 8), 16, 10)
                    .cast("long") % 2 == 0).alias("ga")))
    pd_ = (mem.groupBy("r")
           .agg((F.sum(F.when(F.col("ga"), F.col("xw").cast(d38)))
                 .cast("double")
                 / F.sum(F.when(F.col("ga"), 1).otherwise(0))
                 - F.sum(F.when(~F.col("ga"), F.col("xw").cast(d38)))
                 .cast("double")
                 / F.sum(F.when(~F.col("ga"), 1).otherwise(0)))
                .alias("dr")))
    ex = F.sum(F.when(F.abs(F.col("dr")) >= F.abs(F.col("dw")), 1)
               .otherwise(0)).cast("long")
    return (pd_.crossJoin(F.broadcast(obs))
            .groupBy("n_a", "n_b", "dw")
            .agg(ex.alias("n_extreme"))
            .select("n_a", "n_b",
                    (F.col("dw") / 1e6).alias("obs_diff"),
                    F.lit(_PERM_R).cast("long").alias("n_perms"),
                    "n_extreme",
                    ((F.lit(1.0) + F.col("n_extreme"))
                     / F.lit(1.0 + _PERM_R)).alias("p_value")))


_SAX_SEG = 8
_SAX_BP_W = 674490


@register(
    "events_lz_complexity",
    oracle=f"""
    WITH RECURSIVE {_GRID_CTES},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(v AS HUGEINT)) AS sv,
                 SUM(CAST(v AS HUGEINT) * v) AS svv
          FROM c),
    paa AS (SELECT hr // {_SAX_SEG} AS seg,
                   CAST(COUNT(*) AS BIGINT) AS seg_n,
                   SUM(CAST(v AS HUGEINT)) AS seg_sv
            FROM c GROUP BY 1),
    z AS (SELECT seg,
                 CAST(round((CAST(seg_sv AS DOUBLE) / seg_n
                             - CAST(sv AS DOUBLE) / n)
                   / sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                           - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                          / (CAST(n AS DOUBLE) * (n - 1)))
                   * 1000000) AS BIGINT) AS zw
          FROM paa CROSS JOIN m),
    sym AS (SELECT seg,
                   CASE WHEN zw < -{_SAX_BP_W} THEN 'a'
                        WHEN zw < 0 THEN 'b'
                        WHEN zw < {_SAX_BP_W} THEN 'c'
                        ELSE 'd' END AS sch
            FROM z),
    seq AS (SELECT list(sch ORDER BY seg) AS sy,
                   CAST(COUNT(*) AS BIGINT) AS n FROM sym),
    k(i, ph, cur) AS (
      SELECT 0, CAST([] AS VARCHAR[]), CAST('' AS VARCHAR)
      UNION ALL
      SELECT k.i + 1,
             CASE WHEN list_contains(k.ph, k.cur || sy[k.i + 1])
                  THEN k.ph
                  ELSE list_append(k.ph, k.cur || sy[k.i + 1]) END,
             CASE WHEN list_contains(k.ph, k.cur || sy[k.i + 1])
                  THEN k.cur || sy[k.i + 1] ELSE '' END
      FROM k CROSS JOIN seq WHERE k.i < seq.n),
    fin AS (SELECT CAST(len(k.ph) + CASE WHEN k.cur <> '' THEN 1
                                         ELSE 0 END AS BIGINT)
                     AS n_phrases
            FROM k CROSS JOIN seq WHERE k.i = seq.n)
    SELECT seq.n AS n_symbols, fin.n_phrases,
           CAST(fin.n_phrases AS DOUBLE) / seq.n AS complexity_ratio
    FROM seq CROSS JOIN fin
    """,
    description="Lempel-Ziv (LZ78) complexity of the SAX symbol "
                "stream: parse the 4-letter hourly-grid symbolization "
                "(the certified events_sax_symbols quartile alphabet, "
                "recomputed expression-for-expression) into its "
                "incremental phrase dictionary and report the phrase "
                "count and ratio — the classic model-free "
                "'how compressible is this series' measure that "
                "separates periodic traffic from bursty noise, and "
                "the payoff of symbolizing: a TEXT algorithm running "
                "on sensor data. The parse is a single bounded fold "
                "(one phrase-dictionary accumulator over the "
                "span/8-bounded symbol array; oracle = recursive CTE "
                "running the identical recurrence with cast seeds). "
                "Deterministic end to end: symbols come from integer "
                "threshold compares on the 1e-6-pinned z grid, the "
                "parse is pure string/array logic. Scale shape: the "
                "symbol frame is span-bounded (codebook class); the "
                "one data-sized stage is the shared hour census",
    tags=("events", "text", "timeseries"),
)
def events_lz_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.plans.events_plans import events_sax_symbols

    sym = events_sax_symbols(spark, sf_dir).select("seg", "symbol")
    seq = sym.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("seg", "symbol"))),
            lambda x: x["symbol"]).alias("sy"),
        F.count(F.lit(1)).cast("long").alias("n"))
    acc0 = F.struct(F.array().cast("array<string>").alias("ph"),
                    F.lit("").alias("cur"))
    parse = F.aggregate(
        F.col("sy"), acc0,
        lambda acc, s: F.when(
            F.array_contains(acc["ph"], F.concat(acc["cur"], s)),
            F.struct(acc["ph"].alias("ph"),
                     F.concat(acc["cur"], s).alias("cur")))
        .otherwise(F.struct(
            F.array_append(acc["ph"], F.concat(acc["cur"], s))
            .alias("ph"),
            F.lit("").alias("cur"))),
        lambda acc: (F.size(acc["ph"])
                     + F.when(acc["cur"] != "", 1).otherwise(0))
        .cast("long"))
    return seq.select(F.col("n").alias("n_symbols"),
                      parse.alias("n_phrases"),
                      (parse.cast("double") / F.col("n"))
                      .alias("complexity_ratio"))


_KAL_Q = 0.01   # process noise (level random walk)
_KAL_R = 1.0    # observation noise


@register(
    "events_kalman_level",
    oracle=f"""
    WITH RECURSIVE ord AS (
      SELECT user_id, CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i
      FROM events),
    h AS (
      SELECT user_id, i, x AS l, CAST(1.0 AS DOUBLE) AS p
      FROM ord WHERE i = 1
      UNION ALL
      SELECT o.user_id, o.i,
             h.l + ((h.p + {_KAL_Q}) / ((h.p + {_KAL_Q}) + {_KAL_R}))
                   * (o.x - h.l),
             (1.0 - ((h.p + {_KAL_Q})
                     / ((h.p + {_KAL_Q}) + {_KAL_R})))
             * (h.p + {_KAL_Q})
      FROM h JOIN ord o ON o.user_id = h.user_id AND o.i = h.i + 1),
    n AS (SELECT user_id, max(i) AS n_events FROM ord GROUP BY user_id)
    SELECT h.user_id, CAST(n.n_events AS BIGINT) AS n_events,
           h.l AS level, h.p AS variance,
           (h.p + {_KAL_Q}) / ((h.p + {_KAL_Q}) + {_KAL_R})
             AS next_gain
    FROM h JOIN n ON h.user_id = n.user_id AND h.i = n.n_events
    ORDER BY h.user_id
    """,
    description=f"per-user 1-D Kalman filter (local-level model, "
                f"q={_KAL_Q}, r={_KAL_R}) over event values in "
                "(ts, event_id) order: the optimal linear state "
                "estimate that completes the forecasting ladder "
                "EWMA -> Holt -> Holt-Winters with a principled, "
                "uncertainty-carrying level — plus the posterior "
                "variance and the NEXT gain (how much the filter "
                "would trust a new observation, the monitoring "
                "knob). The recursion carries (level, variance) as "
                "an ordered fold; every step is the IDENTICAL IEEE "
                "sequence in both engines (Spark aggregate() over "
                "the time-sorted array; oracle = recursive CTE — "
                "the events_holt_forecast pattern, with the gain "
                "expression written out in full on both sides so "
                "the trees match node for node). Scale shape: one "
                "groupBy user, per-user arrays (the events_ewma "
                "SCALE BOUND class)",
    tags=("events", "stats", "forecast", "timeseries"),
)
def events_kalman_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id",
                                             "value"))),
        lambda s: s["value"].cast("double"))
    g = ev.groupBy("user_id").agg(vals.alias("vals"))
    seed = F.struct(F.element_at("vals", 1).alias("l"),
                    F.lit(1.0).alias("p"))

    def step(acc, x):
        gain = ((acc["p"] + _KAL_Q)
                / ((acc["p"] + _KAL_Q) + _KAL_R))
        return F.struct(
            (acc["l"] + gain * (x - acc["l"])).alias("l"),
            ((F.lit(1.0) - gain) * (acc["p"] + _KAL_Q)).alias("p"))

    st = F.aggregate(F.expr("slice(vals, 2, size(vals) - 1)"), seed,
                     step)
    next_gain = ((st["p"] + _KAL_Q) / ((st["p"] + _KAL_Q) + _KAL_R))
    return (g.select("user_id",
                     F.size("vals").cast("long").alias("n_events"),
                     st["l"].alias("level"), st["p"].alias("variance"),
                     next_gain.alias("next_gain"))
            .orderBy("user_id"))


@register(
    "events_tail_pot",
    oracle="""
    WITH s AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS xw
               FROM events),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(xw AS HUGEINT)) AS sx,
                 SUM(CAST(xw AS HUGEINT) * xw) AS sxx
          FROM s),
    u AS (SELECT n,
                 CAST(round(CAST(sx AS DOUBLE) / n
                       + 2.0 * sqrt((CAST(n AS DOUBLE)
                                     * CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE)
                                       * CAST(sx AS DOUBLE))
                                    / (CAST(n AS DOUBLE) * (n - 1))))
                      AS BIGINT) AS uw
          FROM m),
    e AS (SELECT s.xw - u.uw AS y FROM s CROSS JOIN u
          WHERE s.xw > u.uw),
    em AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                  SUM(CAST(y AS HUGEINT)) AS sy,
                  SUM(CAST(y AS HUGEINT) * y) AS syy
           FROM e)
    SELECT CAST(u.uw AS DOUBLE) / 1000000.0 AS threshold,
           em.k AS n_exceed,
           CAST(em.k AS DOUBLE) / u.n AS exceed_share,
           CAST(em.sy AS DOUBLE) / em.k / 1000000.0 AS mean_excess,
           0.5 * (1.0 - (CAST(em.sy AS DOUBLE) / em.k)
                        * (CAST(em.sy AS DOUBLE) / em.k)
                        / ((CAST(em.syy AS DOUBLE)
                            - (CAST(em.sy AS DOUBLE) / em.k)
                              * CAST(em.sy AS DOUBLE))
                           / (em.k - 1))) AS gpd_xi,
           0.5 * (CAST(em.sy AS DOUBLE) / em.k / 1000000.0)
               * ((CAST(em.sy AS DOUBLE) / em.k)
                  * (CAST(em.sy AS DOUBLE) / em.k)
                  / ((CAST(em.syy AS DOUBLE)
                      - (CAST(em.sy AS DOUBLE) / em.k)
                        * CAST(em.sy AS DOUBLE))
                     / (em.k - 1)) + 1.0) AS gpd_beta
    FROM em CROSS JOIN u
    """,
    description="peaks-over-threshold extreme-value profile of event "
                "values: a pinned moment threshold u = mean + 2 sd "
                "(rounded to the 1e-6 grid, so the exceedance set is "
                "decided by an integer compare), then the "
                "generalized-Pareto moment estimators over the "
                "excesses — xi = (1 - m^2/s^2)/2 and beta = m(m^2/s^2 "
                "+ 1)/2 — 'how heavy is this tail and how big is the "
                "next extreme', the capacity-planning / anomaly-"
                "budget primitive beyond z-scores (xi > 0 flags a "
                "heavy tail no Gaussian monitor will see). Every "
                "moment is an exact 128-bit integer sum; the "
                "estimators are one fixed double tree. Scale shape: "
                "two full scans with map-side-combined moment "
                "aggregates (the second filtered by the broadcast "
                "one-row threshold) — no shuffle wider than one row",
    tags=("events", "stats", "quality"),
)
def events_tail_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.round(F.col("value") * 1_000_000).cast("long")
                  .alias("xw"))
    d38 = "decimal(38,0)"
    m = s.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col("xw").cast(d38)).alias("sx"),
              F.sum(F.col("xw").cast(d38) * F.col("xw")).alias("sxx"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    u = m.select(
        "n",
        F.round(dd("sx") / F.col("n")
                + F.lit(2.0) * F.sqrt((F.col("n").cast("double")
                                       * dd("sxx") - dd("sx") * dd("sx"))
                                      / (F.col("n").cast("double")
                                         * (F.col("n") - 1))))
        .cast("long").alias("uw"))
    e = (s.crossJoin(F.broadcast(u))
         .filter(F.col("xw") > F.col("uw"))
         .select((F.col("xw") - F.col("uw")).alias("y"), "uw", "n"))
    em = (e.groupBy("uw", "n")
          .agg(F.count(F.lit(1)).cast("long").alias("k"),
               F.sum(F.col("y").cast(d38)).alias("sy"),
               F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy")))
    mexc = dd("sy") / F.col("k")
    s2 = (dd("syy") - mexc * dd("sy")) / (F.col("k") - 1)
    ratio = mexc * mexc / s2
    return em.select(
        (F.col("uw").cast("double") / 1e6).alias("threshold"),
        F.col("k").alias("n_exceed"),
        (F.col("k").cast("double") / F.col("n")).alias("exceed_share"),
        (mexc / F.lit(1000000.0)).alias("mean_excess"),
        (F.lit(0.5) * (F.lit(1.0) - ratio)).alias("gpd_xi"),
        (F.lit(0.5) * (mexc / F.lit(1000000.0)) * (ratio + F.lit(1.0)))
        .alias("gpd_beta"))


# The certified events_acf CTE chain (events_plans.py), reused verbatim
# by the Ljung-Box and PACF oracles: (event_type, lag, r) for lags 1..5
# with every accumulation an exact 128-bit integer sum.
_ACF_CTES = """
    s AS (SELECT event_type,
                 CAST(round(value * 1000000) AS BIGINT) AS xs,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY epoch_us(ts), event_id)
                   AS i
          FROM events),
    tot AS (SELECT event_type, COUNT(*) AS n,
                   SUM(CAST(xs AS HUGEINT)) AS t,
                   SUM(CAST(xs AS HUGEINT) * xs) AS ss
            FROM s GROUP BY event_type),
    l AS (SELECT UNNEST(range(1, 6)) AS lag),
    p AS (SELECT a.event_type, l.lag,
                 SUM(CAST(a.xs AS HUGEINT) * b.xs) AS nk,
                 SUM(CAST(a.xs AS HUGEINT)) AS s1,
                 SUM(CAST(b.xs AS HUGEINT)) AS s2,
                 COUNT(*) AS c
          FROM s a CROSS JOIN l
          JOIN s b ON a.event_type = b.event_type AND b.i = a.i - l.lag
          GROUP BY a.event_type, l.lag),
    acf AS (SELECT p.event_type, p.lag,
                   (CAST(nk AS DOUBLE)
                    - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE))
                      * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                    + CAST(c AS DOUBLE)
                      * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))
                   / (CAST(ss AS DOUBLE)
                      - CAST(n AS DOUBLE)
                        * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))
                     AS r
            FROM p JOIN tot USING (event_type))
"""


@register(
    "events_pacf_yw",
    oracle=f"""
    WITH {_ACF_CTES},
    rv AS (SELECT event_type,
                  MAX(CASE WHEN lag = 1 THEN r END) AS r1,
                  MAX(CASE WHEN lag = 2 THEN r END) AS r2,
                  MAX(CASE WHEN lag = 3 THEN r END) AS r3,
                  MAX(CASE WHEN lag = 4 THEN r END) AS r4,
                  MAX(CASE WHEN lag = 5 THEN r END) AS r5
           FROM acf GROUP BY event_type),
    l1 AS (SELECT *, r1 AS p11 FROM rv),
    l2 AS (SELECT *,
                  (r2 - p11 * r1) / (1.0 - p11 * r1) AS p22
           FROM l1),
    l2b AS (SELECT *, p11 - p22 * p11 AS p21 FROM l2),
    l3 AS (SELECT *,
                  (r3 - (p21 * r2 + p22 * r1))
                  / (1.0 - (p21 * r1 + p22 * r2)) AS p33
           FROM l2b),
    l3b AS (SELECT *, p21 - p33 * p22 AS p31,
                   p22 - p33 * p21 AS p32 FROM l3),
    l4 AS (SELECT *,
                  (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
                  / (1.0 - (p31 * r1 + p32 * r2 + p33 * r3)) AS p44
           FROM l3b),
    l4b AS (SELECT *, p31 - p44 * p33 AS p41,
                   p32 - p44 * p32 AS p42,
                   p33 - p44 * p31 AS p43 FROM l4),
    l5 AS (SELECT *,
                  (r5 - (p41 * r4 + p42 * r3 + p43 * r2 + p44 * r1))
                  / (1.0 - (p41 * r1 + p42 * r2 + p43 * r3 + p44 * r4))
                    AS p55
           FROM l4b)
    SELECT event_type, CAST(u.lag AS BIGINT) AS lag,
           CASE u.lag WHEN 1 THEN p11 WHEN 2 THEN p22 WHEN 3 THEN p33
                      WHEN 4 THEN p44 ELSE p55 END AS pacf
    FROM l5 CROSS JOIN (SELECT UNNEST(range(1, 6)) AS lag) u
    ORDER BY event_type, lag
    """,
    description="partial autocorrelation (lags 1..5) per event type "
                "via the Durbin-Levinson recursion on the certified "
                "ACF values — the Box-Jenkins identification pair's "
                "second half (ACF says MA order, PACF says AR order; "
                "together with Ljung-Box this completes the "
                "model-identification shelf). The recursion is "
                "UNROLLED into five chained projection levels with "
                "every inner product written left-to-right "
                "identically in both engines, so each phi_kk is one "
                "fixed double tree on bit-identical ACF inputs — no "
                "iteration state, no tolerance. Scale shape: "
                "inherits events_acf's blocked-window form; the "
                "recursion operates on a (types x 5)-bounded frame",
    tags=("events", "stats", "timeseries", "forecast"),
)
def events_pacf_yw(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.plans.events_plans import events_acf

    acf = events_acf(spark, sf_dir)
    rv = acf.groupBy("event_type").agg(
        *[F.max(F.when(F.col("lag") == k, F.col("acf")))
          .alias(f"r{k}") for k in range(1, 6)])
    r = lambda k: F.col(f"r{k}")  # noqa: E731
    l1 = rv.withColumn("p11", r(1))
    l2 = l1.withColumn(
        "p22", (r(2) - F.col("p11") * r(1))
        / (F.lit(1.0) - F.col("p11") * r(1)))
    l2b = l2.withColumn("p21", F.col("p11") - F.col("p22") * F.col("p11"))
    l3 = l2b.withColumn(
        "p33", (r(3) - (F.col("p21") * r(2) + F.col("p22") * r(1)))
        / (F.lit(1.0) - (F.col("p21") * r(1) + F.col("p22") * r(2))))
    l3b = (l3.withColumn("p31", F.col("p21") - F.col("p33") * F.col("p22"))
           .withColumn("p32", F.col("p22") - F.col("p33") * F.col("p21")))
    l4 = l3b.withColumn(
        "p44", (r(4) - (F.col("p31") * r(3) + F.col("p32") * r(2)
                        + F.col("p33") * r(1)))
        / (F.lit(1.0) - (F.col("p31") * r(1) + F.col("p32") * r(2)
                         + F.col("p33") * r(3))))
    l4b = (l4.withColumn("p41", F.col("p31") - F.col("p44") * F.col("p33"))
           .withColumn("p42", F.col("p32") - F.col("p44") * F.col("p32"))
           .withColumn("p43", F.col("p33") - F.col("p44") * F.col("p31")))
    l5 = l4b.withColumn(
        "p55", (r(5) - (F.col("p41") * r(4) + F.col("p42") * r(3)
                        + F.col("p43") * r(2) + F.col("p44") * r(1)))
        / (F.lit(1.0) - (F.col("p41") * r(1) + F.col("p42") * r(2)
                         + F.col("p43") * r(3) + F.col("p44") * r(4))))
    melt = F.explode(F.array(*[
        F.struct(F.lit(k).cast("long").alias("lag"),
                 F.col(f"p{k}{k}").alias("pacf"))
        for k in range(1, 6)]))
    return (l5.withColumn("_m", melt)
            .select("event_type", "_m.lag", "_m.pacf")
            .orderBy("event_type", "lag"))


_WX_A, _WX_B = "purchase", "view"
_WX_CRIT_W = 1_959_964  # round(z_0.975 * 1e6)


@register(
    "stats_wilcoxon_signed",
    oracle=f"""
    WITH s AS (SELECT user_id, event_type,
                      CAST(round(value * 1000000) AS BIGINT) AS xw
               FROM events
               WHERE event_type IN ('{_WX_A}', '{_WX_B}')),
    pu AS (SELECT user_id,
                  CAST(SUM(CASE WHEN event_type = '{_WX_A}'
                           THEN CAST(xw AS HUGEINT) END) AS DOUBLE)
                  / SUM(CASE WHEN event_type = '{_WX_A}' THEN 1
                        ELSE 0 END) AS ma,
                  CAST(SUM(CASE WHEN event_type = '{_WX_B}'
                           THEN CAST(xw AS HUGEINT) END) AS DOUBLE)
                  / SUM(CASE WHEN event_type = '{_WX_B}' THEN 1
                        ELSE 0 END) AS mb
           FROM s GROUP BY user_id
           HAVING SUM(CASE WHEN event_type = '{_WX_A}' THEN 1
                      ELSE 0 END) > 0
              AND SUM(CASE WHEN event_type = '{_WX_B}' THEN 1
                      ELSE 0 END) > 0),
    d AS (SELECT user_id, ma - mb AS dv, abs(ma - mb) AS av
          FROM pu WHERE ma - mb <> 0.0),
    vm AS (SELECT av, COUNT(*) AS cnt FROM d GROUP BY av),
    rm AS (SELECT av, 2 * SUM(cnt) OVER (ORDER BY av
                                         ROWS BETWEEN UNBOUNDED
                                         PRECEDING AND CURRENT ROW)
                   - cnt + 1 AS r2
           FROM vm),
    w AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN d.dv > 0 THEN rm.r2 ELSE 0 END)
                      AS BIGINT) AS w2p
          FROM d JOIN rm USING (av)),
    tie AS (SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS t
            FROM vm)
    SELECT w.n AS n_pairs, w.w2p AS w2_plus,
           (CAST(w.w2p AS DOUBLE)
            - CAST(w.n AS DOUBLE) * (w.n + 1) / 2.0)
           / sqrt(CAST(w.n AS DOUBLE) * (w.n + 1) * (2 * w.n + 1) / 6.0
                  - CAST(tie.t AS DOUBLE) / 12.0) AS z,
           abs(CAST(round(((CAST(w.w2p AS DOUBLE)
                - CAST(w.n AS DOUBLE) * (w.n + 1) / 2.0)
           / sqrt(CAST(w.n AS DOUBLE) * (w.n + 1) * (2 * w.n + 1) / 6.0
                  - CAST(tie.t AS DOUBLE) / 12.0)) * 1000000)
               AS BIGINT)) > {_WX_CRIT_W} AS reject_equal
    FROM w CROSS JOIN tie
    """,
    description=f"Wilcoxon signed-rank test on per-user paired means "
                f"('{_WX_A}' vs '{_WX_B}' values, users with both): "
                "the distribution-free PAIRED test completing the "
                "inference family (the permutation test is unpaired, "
                "Kruskal is k-group) — 'do the same users spend "
                "differently across the two actions'. Zero diffs "
                "dropped (standard), midranks carried as exact "
                "DOUBLED integers off a cumulative count over the "
                "distinct-|d| grid (the Kruskal rank machinery — "
                "operators/analytics.grouped_prefix_aggs, never a "
                "raw-row window), the normal z with the exact tie "
                "correction, pinned to the 1e-6 grid before the "
                "5%-level compare (no continuity correction, "
                "documented). Scale shape: one per-user aggregate, "
                "one distinct-value census, one range-partitioned "
                "prefix — the stats_kruskal_value_type class",
    tags=("events", "stats"),
)
def stats_wilcoxon_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    ev = load_table(spark, sf_dir, "events")
    s = (ev.filter(F.col("event_type").isin(_WX_A, _WX_B))
         .select("user_id", "event_type",
                 F.round(F.col("value") * 1_000_000).cast("long")
                 .alias("xw")))
    d38 = "decimal(38,0)"
    is_a = F.col("event_type") == _WX_A
    na = F.sum(F.when(is_a, 1).otherwise(0))
    nb = F.sum(F.when(~is_a, 1).otherwise(0))
    pu = (s.groupBy("user_id")
          .agg((F.sum(F.when(is_a, F.col("xw").cast(d38)))
                .cast("double") / na).alias("ma"),
               (F.sum(F.when(~is_a, F.col("xw").cast(d38)))
                .cast("double") / nb).alias("mb"),
               na.alias("_na"), nb.alias("_nb"))
          .filter((F.col("_na") > 0) & (F.col("_nb") > 0)))
    d = (pu.select("user_id", (F.col("ma") - F.col("mb")).alias("dv"),
                   F.abs(F.col("ma") - F.col("mb")).alias("av"))
         .filter(F.col("dv") != 0.0))
    vm = d.groupBy("av").agg(F.count(F.lit(1)).alias("cnt"))
    rm = (grouped_prefix_aggs(vm, [], ["av"], {"cum": "cnt"})[0]
          .select("av",
                  (2 * F.col("cum") - F.col("cnt") + 1).alias("r2")))
    w = (d.join(rm, "av")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.when(F.col("dv") > 0, F.col("r2")).otherwise(0))
              .cast("long").alias("w2p")))
    tie = vm.agg(F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt")
                       - F.col("cnt")).cast("long").alias("t"))
    nd = F.col("n").cast("double")
    z = ((F.col("w2p").cast("double") - nd * (F.col("n") + 1) / F.lit(2.0))
         / F.sqrt(nd * (F.col("n") + 1) * (2 * F.col("n") + 1)
                  / F.lit(6.0)
                  - F.col("t").cast("double") / F.lit(12.0)))
    return (w.crossJoin(F.broadcast(tie))
            .select(F.col("n").alias("n_pairs"),
                    F.col("w2p").alias("w2_plus"),
                    z.alias("z"),
                    (F.abs(F.round(z * 1_000_000).cast("long"))
                     > _WX_CRIT_W).alias("reject_equal")))


@register(
    "events_burstiness",
    oracle="""
    WITH s AS (SELECT epoch_us(ts) AS us, event_type AS et FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT et, (us - tmin) // 3600000000 AS hr
          FROM s CROSS JOIN anchor),
    span AS (SELECT max(hr) AS hmax FROM h),
    grid AS (SELECT UNNEST(range(0, hmax + 1)) AS hr FROM span),
    c AS (SELECT t.et, g.hr, CAST(COALESCE(x.c, 0) AS BIGINT) AS v
          FROM grid g CROSS JOIN (SELECT DISTINCT et FROM h) t
          LEFT JOIN (SELECT et, hr, COUNT(*) AS c FROM h
                     GROUP BY 1, 2) x
            ON x.et = t.et AND x.hr = g.hr),
    fano AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n_hours,
                    SUM(CAST(v AS HUGEINT)) AS sv,
                    SUM(CAST(v AS HUGEINT) * v) AS svv
             FROM c GROUP BY et)
    SELECT et AS event_type, n_hours,
           CAST(sv AS BIGINT) AS n_events,
           ((CAST(svv AS DOUBLE)
             - CAST(sv AS DOUBLE) * (CAST(sv AS DOUBLE) / n_hours))
            / (n_hours - 1))
           / (CAST(sv AS DOUBLE) / n_hours) AS fano_factor,
           (sqrt((CAST(svv AS DOUBLE)
                  - CAST(sv AS DOUBLE)
                    * (CAST(sv AS DOUBLE) / n_hours))
                 / (n_hours - 1))
            - CAST(sv AS DOUBLE) / n_hours)
           / (sqrt((CAST(svv AS DOUBLE)
                    - CAST(sv AS DOUBLE)
                      * (CAST(sv AS DOUBLE) / n_hours))
                   / (n_hours - 1))
              + CAST(sv AS DOUBLE) / n_hours) AS burstiness_b
    FROM fano ORDER BY event_type
    """,
    description="burstiness profile per event type over the shared "
                "anchored hour grid: the Fano factor (variance-to-"
                "mean of hourly counts — 1 for Poisson, >1 "
                "overdispersed) and the Goh-Barabasi burstiness "
                "B = (sigma - mu)/(sigma + mu) of the count series "
                "(-1 regular, 0 Poisson-like, ->1 bursty) — the "
                "dispersion screen that says WHICH series need the "
                "heavy drift/changepoint machinery (a Poisson-like "
                "type doesn't). Zero-count grid hours are real "
                "observations (the dense per-type grid), every "
                "moment an exact 128-bit integer sum, both "
                "statistics one fixed double tree. Scale shape: one "
                "(type, hour) census; the grid frame is (types x "
                "span)-bounded",
    tags=("events", "stats", "timeseries"),
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"),
                  F.col("event_type").alias("et"))
    # (tmin, hmax) as one-row metadata + ONE data-sized census; the
    # type list derives from the checkpointed bounded census (the
    # _hour_grid shape — no broadcast hint ever sits over an
    # sf-scaled scan)
    r = s.agg(F.min("us"), F.max("us")).collect()[0]
    tmin = int(r[0])
    hmax = int((int(r[1]) - tmin) / _HOUR_US)
    h = s.select("et", ((F.col("us") - F.lit(tmin)) / F.lit(_HOUR_US))
                 .cast("long").alias("hr"))
    cnt = (h.groupBy("et", "hr").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint(eager=True))  # bounded: types x span
    grid = (spark.range(0, hmax + 1).select(F.col("id").alias("hr"))
            .crossJoin(F.broadcast(cnt.select("et").distinct())))
    c = (grid.join(cnt, ["et", "hr"], "left")
         .select("et", "hr", F.coalesce("c", F.lit(0)).cast("long")
                 .alias("v")))
    d38 = "decimal(38,0)"
    fano = (c.groupBy("et")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hours"),
                 F.sum(F.col("v").cast(d38)).alias("sv"),
                 F.sum(F.col("v").cast(d38) * F.col("v")).alias("svv")))
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    mu = dd("sv") / F.col("n_hours")
    var = (dd("svv") - dd("sv") * mu) / (F.col("n_hours") - 1)
    sd = F.sqrt(var)
    return (fano.select(F.col("et").alias("event_type"), "n_hours",
                        F.col("sv").cast("long").alias("n_events"),
                        (var / mu).alias("fano_factor"),
                        ((sd - mu) / (sd + mu)).alias("burstiness_b"))
            .orderBy("event_type"))
