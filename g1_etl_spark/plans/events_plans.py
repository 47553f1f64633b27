"""Driver-facing event-stream analytics on the events table (batch form).
g1_etl_spark/streaming/ holds one Structured Streaming exemplar per
mechanism; the streaming forms of events_tumbling_window,
events_sessionization, events_range_join and events_pattern_seq are
among them, checked against batch in tests/test_streaming.py.

Window alignment: Spark's window(ts, w) buckets are epoch-aligned, same
as DuckDB's time_bucket — starts match exactly. Sums go through the
exact-decimal pattern (plans/_util.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.plans._util import dsum, sql_dsum
from g1_etl_spark.plans.registry import register


@register(
    "events_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum('value', 'total_value')}
    FROM events
    GROUP BY 1, 2
    """,
    description="tumbling 1h window: counts, distinct users, exact sum",
    tags=("events", "window"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 dsum("value", "total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "n_users", "total_value"))


@register(
    "events_sliding_window",
    oracle=f"""
    WITH offsets AS (SELECT unnest([0, 1, 2, 3]) AS k),
    assigned AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - k * INTERVAL '15 minutes' AS window_start,
             value
      FROM events, offsets
      WHERE ts < time_bucket(INTERVAL '15 minutes', ts)
              - k * INTERVAL '15 minutes' + INTERVAL '1 hour')
    SELECT window_start, COUNT(*) AS n_events,
           {sql_dsum('value', 'total_value')}
    FROM assigned GROUP BY 1
    """,
    description="sliding window 1h/15min: each event in 4 overlapping "
                "windows",
    tags=("events", "window"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 dsum("value", "total_value"))
            .select(F.col("w.start").alias("window_start"),
                    "n_events", "total_value"))


@register(
    "events_sessionization",
    oracle=f"""
    WITH g AS (
      SELECT user_id, event_id, epoch_us(ts) AS us, value,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id)
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      -- CAST: DuckDB's windowed SUM(int) promotes to HUGEINT (INT128);
      -- Spark emits BIGINT. The driver's value hasher distinguishes the
      -- representations even when every value is identical (round-2 red).
      SELECT user_id, us, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS duration_us,
           {sql_dsum('value', 'session_value')}
    FROM s GROUP BY user_id, session_id
    """,
    description="batch sessionization: 30-min-gap split via lag+cumsum "
                "(streaming form: session_window in "
                "streaming/windows.session_aggregates)",
    tags=("events", "window"),
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    # (us, event_id) tie-break: two same-timestamp events for one user
    # must fold into the cumsum in the same total order as the oracle
    ws = W.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow)
    return (ev
            .withColumn("new_session",
                        F.when(gap > 1800 * 1_000_000, 1).otherwise(0))
            .withColumn("session_id", F.sum("new_session").over(ws))
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.max("us") - F.min("us")).alias("duration_us"),
                 dsum("value", "session_value")))


@register(
    "events_pattern_seq",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2,
             LEAD(epoch_us(ts), 2) OVER w AS us2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    SELECT user_id, event_id AS start_event_id, us AS start_us,
           us2 AS end_us, us2 - us AS duration_us
    FROM o
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
      AND us2 - us <= 86400000000
    """,
    description="MATCH_RECOGNIZE-style strict-sequence detection: "
                "view -> click -> purchase adjacent in a user's event "
                "stream within 24 hours — per-user lead window, no "
                "self-joins (the funnel counts stage reach; this emits "
                "the concrete matched sequences)",
    tags=("events", "window"),
)
def events_pattern_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "us", F.unix_micros("ts"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    t1 = F.lead("event_type", 1).over(w)
    t2 = F.lead("event_type", 2).over(w)
    us2 = F.lead("us", 2).over(w)
    return (ev
            .select("user_id", "event_id", "event_type", "us",
                    t1.alias("t1"), t2.alias("t2"), us2.alias("us2"))
            .filter((F.col("event_type") == "view")
                    & (F.col("t1") == "click")
                    & (F.col("t2") == "purchase")
                    & (F.col("us2") - F.col("us") <= 86_400_000_000))
            .select("user_id",
                    F.col("event_id").alias("start_event_id"),
                    F.col("us").alias("start_us"),
                    F.col("us2").alias("end_us"),
                    (F.col("us2") - F.col("us")).alias("duration_us")))


@register(
    "events_dedup_ids",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                       ORDER BY ts, user_id, event_type,
                                                value) AS rn
          FROM events)
    WHERE rn = 1
    """,
    description="event-id dedup (batch twin of "
                "dropDuplicatesWithinWatermark)",
    tags=("events", "dedup"),
)
def events_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # full tie-break chain: duplicate event_ids sharing a ts must resolve
    # to the same surviving row in Spark and the oracle
    w = W.partitionBy("event_id").orderBy("ts", "user_id", "event_type",
                                          "value")
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("event_id", "ts", "user_id", "event_type", "value"))


@register(
    "events_asof_join",
    oracle="""
    WITH purch AS (
      SELECT user_id, ts, MAX(value) AS purchase_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    clicks AS (
      SELECT event_id, ts, user_id, value
      FROM events WHERE event_type = 'click')
    SELECT c.event_id, c.ts, c.user_id, c.value,
           p.ts AS r_ts, p.purchase_value AS r_purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    description="as-of join: each click joined to the user's most recent "
                "purchase at-or-before it (union + per-key window carry-"
                "forward; DuckDB native ASOF JOIN as oracle)",
    tags=("events", "join", "temporal"),
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    # right side deduped to one row per (user, ts): ASOF is otherwise
    # nondeterministic when several right rows share the match timestamp
    purch = (ev.filter(F.col("event_type") == "purchase")
             .groupBy("user_id", "ts")
             .agg(F.max("value").alias("purchase_value")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("event_id", "ts", "user_id", "value"))
    return asof_join(clicks, purch, on="user_id")


@register(
    "events_range_join",
    oracle=f"""
    WITH win AS (
      SELECT user_id, ts AS start_ts, ts + INTERVAL '30 minutes' AS end_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT w.user_id, w.start_ts,
           COUNT(c.ts) AS n_clicks,
           {sql_dsum('COALESCE(c.value, 0)', 'click_value')}
    FROM win w LEFT JOIN clicks c
      ON w.user_id = c.user_id AND c.ts >= w.start_ts AND c.ts < w.end_ts
    GROUP BY w.user_id, w.start_ts
    """,
    description="range join: clicks bucketed into 30-min post-purchase "
                "windows via interval-bucket equi-join (never a cross "
                "product), zero-click windows kept",
    tags=("events", "join", "temporal"),
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    win = (ev.filter(F.col("event_type") == "purchase")
           .select("user_id", F.col("ts").alias("start_ts")).distinct()
           .select("user_id", "start_ts",
                   (F.col("start_ts") + F.expr("INTERVAL 30 MINUTES"))
                   .alias("end_ts")))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    matched = range_join(clicks, win, on="user_id", bucket="30 minutes")
    counts = (matched.groupBy("user_id", "start_ts")
              .agg(F.count(F.lit(1)).alias("n_clicks"),
                   dsum("value", "click_value")))
    # left semantics: purchase windows with zero clicks survive
    return (win.join(counts, ["user_id", "start_ts"], "left")
            .select("user_id", "start_ts",
                    F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
                    F.coalesce("click_value", F.lit(0.0))
                    .alias("click_value")))


@register(
    "events_hypertable_rollup",
    oracle=f"""
    SELECT CASE res WHEN 0 THEN '15m' WHEN 1 THEN '1h' ELSE '1d' END
             AS resolution,
           bucket, event_type, n, total_value
    FROM (
      SELECT 0 AS res, time_bucket(INTERVAL '15 minutes', ts) AS bucket,
             event_type, COUNT(*) AS n, {sql_dsum('value', 'total_value')}
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT 1, time_bucket(INTERVAL '1 hour', ts), event_type,
             COUNT(*), {sql_dsum('value', 'total_value')}
      FROM events GROUP BY 2, 3
      UNION ALL
      SELECT 2, time_bucket(INTERVAL '1 day', ts), event_type,
             COUNT(*), {sql_dsum('value', 'total_value')}
      FROM events GROUP BY 2, 3)
    """,
    description="hypertable-style multi-resolution rollup (15m/1h/1d "
                "continuous-aggregate shape): coarse resolutions fold "
                "from the fine rollup, not from raw events",
    tags=("events", "agg", "rollup"),
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale shape: raw events are scanned ONCE for the finest
    resolution; 1h folds from 15m and 1d folds from 1h (decimal partial
    sums re-aggregate exactly), so each coarser level aggregates
    4-24 rows per bucket instead of re-reading the fact table — the
    TimescaleDB continuous-aggregate / OLAP cube-refresh pattern."""
    ev = load_table(spark, sf_dir, "events")
    # scaled-long partials (see plans/_util.py): re-aggregate exactly
    # across resolutions and stay in primitive codegen
    scaled = F.sum(F.round(F.col("value") * 1_000_000).cast("long"))
    fine = (ev.groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), scaled.alias("dv"))
            .select(F.col("w.start").alias("bucket"), "event_type",
                    "n", "dv"))
    fine.cache()

    def coarsen(df, width):
        return (df.groupBy(F.window("bucket", width).alias("w"),
                           "event_type")
                .agg(F.sum("n").alias("n"), F.sum("dv").alias("dv"))
                .select(F.col("w.start").alias("bucket"), "event_type",
                        "n", "dv"))

    hourly = coarsen(fine, "1 hour")
    hourly.cache()
    daily = coarsen(hourly, "1 day")

    def finish(df, label):
        return df.select(
            F.lit(label).alias("resolution"), "bucket", "event_type", "n",
            (F.col("dv").cast("double") / 1_000_000).alias("total_value"))

    return (finish(fine, "15m")
            .unionByName(finish(hourly, "1h"))
            .unionByName(finish(daily, "1d")))


@register(
    "events_gapfill_locf",
    oracle=f"""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             COUNT(*) AS n, {sql_dsum('value', 'total_value')}
      FROM events WHERE user_id < 10 GROUP BY 1, 2),
    spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b
      GROUP BY user_id),
    grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
      FROM spans),
    filled AS (
      SELECT g.user_id, g.bucket,
             COALESCE(b.n, 0) AS n,
             b.total_value,
             COUNT(b.total_value) OVER (PARTITION BY g.user_id
                                        ORDER BY g.bucket) AS grp
      FROM grid g LEFT JOIN b USING (user_id, bucket))
    SELECT user_id, bucket, n,
           FIRST_VALUE(total_value) OVER (PARTITION BY user_id, grp
                                          ORDER BY bucket) AS locf_value
    FROM filled
    """,
    description="time-series gap fill: dense hourly grid per user "
                "(sequence explode) + last-observation-carried-forward "
                "via window over observed rows",
    tags=("events", "window", "timeseries"),
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    b = (ev.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
         .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
         .select("user_id", F.col("w.start").alias("bucket"), "n",
                 "total_value"))
    # dense grid: per-user [min, max] hourly sequence, exploded. The
    # sequence is per-user span-sized (bounded), never global.
    grid = (b.groupBy("user_id")
            .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
            .select("user_id",
                    F.explode(F.sequence(
                        "lo", "hi", F.expr("INTERVAL 1 HOUR")))
                    .alias("bucket")))
    filled = (grid.join(b, ["user_id", "bucket"], "left"))
    w = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow)
    return (filled.select(
        "user_id", "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("total_value", ignorenulls=True).over(w).alias("locf_value")))


@register(
    "events_gapfill_linear",
    oracle=f"""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS bucket,
             COUNT(*) AS n, {sql_dsum('value', 'total_value')}
      FROM events WHERE user_id < 10 GROUP BY 1, 2),
    spans AS (
      SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b
      GROUP BY user_id),
    grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket
      FROM spans),
    filled AS (
      SELECT g.user_id, g.bucket, COALESCE(b.n, 0) AS n, b.total_value
      FROM grid g LEFT JOIN b USING (user_id, bucket)),
    anchored AS (
      SELECT user_id, bucket, n, total_value,
             LAST_VALUE(total_value IGNORE NULLS) OVER wp AS pv,
             LAST_VALUE(CASE WHEN total_value IS NOT NULL THEN bucket END
                        IGNORE NULLS) OVER wp AS pb,
             FIRST_VALUE(total_value IGNORE NULLS) OVER wn AS nv,
             FIRST_VALUE(CASE WHEN total_value IS NOT NULL THEN bucket END
                         IGNORE NULLS) OVER wn AS nb
      FROM filled
      WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, bucket, n,
           CASE WHEN total_value IS NOT NULL THEN total_value
                ELSE pv + (nv - pv)
                     * (CAST(epoch_us(bucket) - epoch_us(pb) AS DOUBLE)
                        / CAST(epoch_us(nb) - epoch_us(pb) AS DOUBLE))
           END AS interp_value
    FROM anchored
    """,
    description="time-series gap fill by LINEAR interpolation: dense "
                "hourly grid per user, previous/next observed anchors "
                "via ignore-nulls windows, gap rows get "
                "pv + (nv-pv)*(step/span) — engine-exact because both "
                "engines evaluate the identical IEEE expression tree "
                "on identical anchors (grid edges are observed rows, "
                "so no extrapolation case exists); the interpolating "
                "complement of events_gapfill_locf",
    tags=("events", "window", "timeseries"),
)
def events_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    b = (ev.groupBy("user_id", F.window("ts", "1 hour").alias("w"))
         .agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))
         .select("user_id", F.col("w.start").alias("bucket"), "n",
                 "total_value"))
    grid = (b.groupBy("user_id")
            .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
            .select("user_id",
                    F.explode(F.sequence(
                        "lo", "hi", F.expr("INTERVAL 1 HOUR")))
                    .alias("bucket")))
    filled = grid.join(b, ["user_id", "bucket"], "left")
    wp = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow)
    wn = W.partitionBy("user_id").orderBy("bucket").rowsBetween(
        W.currentRow, W.unboundedFollowing)
    obs_bucket = F.when(F.col("total_value").isNotNull(), F.col("bucket"))
    anchored = filled.select(
        "user_id", "bucket",
        F.coalesce("n", F.lit(0)).alias("n"), "total_value",
        F.last("total_value", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_bucket, ignorenulls=True).over(wp).alias("pb"),
        F.first("total_value", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_bucket, ignorenulls=True).over(wn).alias("nb"))
    step = (F.unix_micros("bucket") - F.unix_micros("pb")).cast("double")
    span = (F.unix_micros("nb") - F.unix_micros("pb")).cast("double")
    interp = F.when(
        F.col("total_value").isNotNull(), F.col("total_value")
    ).otherwise(F.col("pv")
                + (F.col("nv") - F.col("pv")) * (step / span))
    return anchored.select("user_id", "bucket", "n",
                           interp.alias("interp_value"))


@register(
    "events_rate_per_type",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {sql_dsum('value', 'total')},
           COUNT(*) / (CAST(MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS DOUBLE)
                       / 1000000) AS events_per_sec
    FROM events GROUP BY event_type
    """,
    description="per-type event rates over the observed span",
    tags=("events", "agg"),
)
def events_rate_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    span_sec = ((F.max(F.unix_micros("ts"))
                 - F.min(F.unix_micros("ts"))).cast("double") / 1_000_000)
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("value", "total"),
                 (F.count(F.lit(1)) / span_sec).alias("events_per_sec")))


@register(
    "events_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR event_type <> prev)
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL AS is_current
    FROM changes
    """,
    description="SCD2 dimension history: per-user event_type treated as "
                "a changing attribute; consecutive duplicates collapse, "
                "each change opens a half-open validity interval "
                "(operators/temporal.py:scd2_intervals)",
    tags=("events", "temporal", "scd"),
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    return scd2_intervals(ev, key_col="user_id", ts_col="ts",
                          state_col="event_type", tie_col="event_id")


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
      GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           CASE WHEN p.t_purchase IS NOT NULL THEN 3
                WHEN c.t_click IS NOT NULL THEN 2
                ELSE 1 END AS funnel_depth
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
    description="ordered 3-step funnel (view -> click -> purchase): "
                "strictly-increasing step timestamps per user; every "
                "stage aggregates and joins on user_id so the exchanges "
                "co-locate and AQE reuses them",
    tags=("events",),
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel progression per user. Each step's earliest qualifying
    timestamp must come strictly after the previous step's.

    The per-step frames (v, c) are eagerly checkpointed: each is a tiny
    one-row-per-user aggregate that THREE downstream subtrees reference
    — without the barrier Catalyst inlines the subtree everywhere and
    the events table is scanned five times instead of three (once per
    step, with the event_type filter pushed down). The checkpointed
    step frames then broadcast into the next step's join."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"))
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("us").alias("t_view"))
         .localCheckpoint(eager=True))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("us") > F.col("t_view"))
         .groupBy("user_id").agg(F.min("us").alias("t_click"))
         .localCheckpoint(eager=True))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("us") > F.col("t_click"))
         .groupBy("user_id").agg(F.min("us").alias("t_purchase")))
    return (v.join(c, "user_id", "left").join(p, "user_id", "left")
            .select("user_id", "t_view", "t_click", "t_purchase",
                    F.when(F.col("t_purchase").isNotNull(), F.lit(3))
                    .when(F.col("t_click").isNotNull(), F.lit(2))
                    .otherwise(F.lit(1)).alias("funnel_depth")))


@register(
    "events_rolling_1h",
    oracle="""
    SELECT user_id, event_id, epoch_us(ts) AS us,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w
                AS DOUBLE) / 1000000 AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
    description="per-user rolling 1h count+sum via a RANGE window frame "
                "over epoch-micros (exact scaled-long sum)",
    tags=("events", "window"),
)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (not ROWS): the frame holds every event
    of the same user in the trailing hour, ties included — identical
    set semantics in Spark and DuckDB, so no tie-break is needed. The
    sum accumulates scaled longs (exact, order-insensitive)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("sv"))
    w = (W.partitionBy("user_id").orderBy("us")
         .rangeBetween(-(3_600_000_000 - 1), 0))
    return ev.select(
        "user_id", "event_id", "us",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.sum("sv").over(w).cast("double") / 1_000_000).alias("sum_1h"))


@register(
    "events_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id,
             time_bucket(INTERVAL '7 days', MIN(ts),
                         TIMESTAMP '1970-01-01') AS cohort_week
      FROM events GROUP BY user_id),
    act AS (
      SELECT DISTINCT user_id,
             time_bucket(INTERVAL '7 days', ts,
                         TIMESTAMP '1970-01-01') AS act_week
      FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7
                AS BIGINT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM first f JOIN act a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    description="weekly cohort retention matrix: users bucketed by "
                "first-seen week x activity-week offset (epoch-aligned "
                "7-day windows; DuckDB needs the explicit 1970-01-01 "
                "origin — its default day-bucket origin is 2000-01-03)",
    tags=("events",),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both aggregates key on user_id (one co-located exchange); the
    retention matrix itself is tiny (weeks x offsets)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first = (ev.groupBy("user_id")
             .agg(F.min("ts").alias("_first_ts"))
             .select("user_id", F.window("_first_ts", "7 days").start
                     .alias("cohort_week")))
    act = (ev.select("user_id",
                     F.window("ts", "7 days").start.alias("act_week"))
           .distinct())
    return (first.join(act, "user_id")
            .select("cohort_week",
                    (F.datediff("act_week", "cohort_week") / 7)
                    .cast("long").alias("week_offset"),
                    "user_id")
            .groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("user_id").alias("n_users")))


@register(
    "events_transition_matrix",
    oracle="""
    WITH j AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n
    FROM j WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    description="user-journey transition matrix: (event, next event) "
                "bigram counts per user via LEAD over (ts, event_id) — "
                "the Markov-chain view of event streams",
    tags=("events", "window"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exchange on user_id for the window, then a partial+final
    count on the (from, to) pair — the matrix is |event_types|^2 rows."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.select(F.col("event_type").alias("from_type"),
                      F.lead("event_type").over(w).alias("to_type"))
            .filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n")))


# Contract row: the HLL estimate is engine-specific, but the bucket
# keys, the fine-bucket counts, the EXACT weekly distinct count, and
# the estimate's error bound are all checkable. lgConfigK=12 gives
# ~1.6% relative error; the contract allows max(2, 5%) — the same
# margin tests/test_temporal.py pins. DuckDB's time_bucket with an
# explicit 1970-01-01 origin matches Spark's epoch-aligned week
# windows (both land Thursday-aligned 7-day buckets).
@register(
    "events_hll_rollup",
    oracle="""
    SELECT event_type,
           time_bucket(INTERVAL '7 days', ts, TIMESTAMP '1970-01-01')
             AS window_start,
           CAST(COUNT(DISTINCT time_bucket(INTERVAL '1 day', ts))
                AS BIGINT) AS n_fine_buckets,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS err_ok
    FROM events GROUP BY event_type, window_start
    """,
    description="mergeable HLL sketches: daily per-type user sketches "
                "merged to weekly estimates without rescanning raw "
                "events — the 100 TB distinct-count rollup pattern; "
                "registered with the exact weekly distinct joined in "
                "and err_ok = |estimate - exact| <= max(2, 5% exact)",
    tags=("events", "sketch", "contract"),
)
def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import hll_sketch_rollup

    ev = load_table(spark, sf_dir, "events")
    roll = hll_sketch_rollup(ev)
    exact = (ev.groupBy("event_type",
                        F.window(F.date_trunc("day", "ts"),
                                 "1 week").alias("_w"))
             .agg(F.countDistinct("user_id").alias("exact_users"))
             .select("event_type", F.col("_w.start").alias("window_start"),
                     "exact_users"))
    return (roll.join(exact, ["event_type", "window_start"])
            .select("event_type", "window_start", "n_fine_buckets",
                    "exact_users",
                    (F.abs(F.col("approx_users") - F.col("exact_users"))
                     <= F.greatest(F.lit(2.0),
                                   F.col("exact_users") * 0.05))
                    .alias("err_ok")))


@register(
    "orders_overlap_pairs",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 7 AS e
      FROM orders),
    f AS (SELECT * FROM o WHERE o_custkey % 10 = 0)
    SELECT a.o_custkey, a.o_orderkey AS id_a, b.o_orderkey AS id_b,
           CAST(datediff('day', greatest(a.s, b.s), least(a.e, b.e))
                AS BIGINT) AS overlap_days
    FROM f a JOIN f b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND a.s < b.e AND b.s < a.e
    """,
    description="interval x interval overlap join (7-day order windows "
                "per customer) via epoch-bucket equi-join — no per-key "
                "cross join; exact predicate verifies candidates",
    tags=("events", "join", "temporal"),
)
def orders_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import interval_overlap_pairs

    o = load_table(spark, sf_dir, "orders")
    iv = (o.filter(F.col("o_custkey") % 10 == 0)
          .select("o_custkey", "o_orderkey",
                  F.to_date("o_orderdate").alias("s"),
                  F.date_add("o_orderdate", 7).alias("e")))
    return interval_overlap_pairs(iv, "o_custkey", "o_orderkey", "s", "e",
                                  bucket_days=7)


@register(
    "events_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    framed AS (
      SELECT event_type, hr, cnt,
             COUNT(*) OVER w AS n,
             SUM(cnt) OVER w AS s,
             SUM(cnt * cnt) OVER w AS ss
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
    SELECT event_type, hr, CAST(cnt AS BIGINT) AS cnt,
           (cnt - CAST(s AS DOUBLE) / n)
             / sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS z,
           abs((cnt - CAST(s AS DOUBLE) / n)
               / sqrt((ss - CAST(s AS DOUBLE) * s / n) / (n - 1))) > 3.0
             AS is_anomaly
    FROM framed
    WHERE n >= 12
      AND (ss - CAST(s AS DOUBLE) * s / n) / (n - 1) > 0
    """,
    description="rolling z-score anomaly flags on hourly event rates: "
                "trailing-24h mean/std from exact integer window sums "
                "(engine-identical doubles), |z| > 3 flagged",
    tags=("events", "window", "stats"),
)
def events_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("hr"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    w = (W.partitionBy("event_type").orderBy("hr")
         .rowsBetween(-24, -1))
    framed = hourly.select(
        "event_type", "hr", "cnt",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cnt").over(w).alias("s"),
        F.sum(F.col("cnt") * F.col("cnt")).over(w).alias("ss"))
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (ss - s.cast("double") * s / n) / (n - 1)
    z = (F.col("cnt") - s.cast("double") / n) / F.sqrt(var)
    return (framed.filter((n >= 12) & (var > 0))
            .select("event_type", "hr",
                    F.col("cnt").cast("long").alias("cnt"),
                    z.alias("z"),
                    (F.abs(z) > 3.0).alias("is_anomaly")))


@register(
    "events_session_docs",
    oracle="""
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                         OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id)
                       > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    s AS (
      SELECT user_id, event_id, event_type, us,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY us, event_id
                                         ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM g)
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MAX(us) - MIN(us) AS duration_us,
           string_agg(event_type, ' ' ORDER BY us, event_id) AS doc
    FROM s GROUP BY user_id, session_id
    """,
    description="session-to-document assembly: 30-min-gap sessions "
                "folded into ordered token strings — the events-to-text "
                "step for sequence-model training corpora; one exchange "
                "on the user key serves all three stages",
    tags=("events", "curation"),
)
def events_session_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import session_documents

    return session_documents(load_table(spark, sf_dir, "events"))


@register(
    "events_percentile_rollup",
    oracle="""
    WITH fine AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', ts) AS d,
             CAST(floor(value / 10.0) AS BIGINT) AS bin,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2, 3),
    merged AS (
      SELECT event_type,
             time_bucket(INTERVAL '7 days', d, TIMESTAMP '1970-01-01')
               AS window_start,
             bin, CAST(SUM(n) AS BIGINT) AS n
      FROM fine GROUP BY 1, 2, 3),
    est AS (
      SELECT event_type, window_start, bin, n,
             SUM(n) OVER (PARTITION BY event_type, window_start
                          ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n) OVER (PARTITION BY event_type, window_start)
               AS total
      FROM merged),
    hit AS (
      SELECT event_type, window_start,
             CAST(total AS BIGINT) AS n_rows,
             CAST(bin * 10.0 AS DOUBLE) AS p_lo,
             CAST((bin + 1) * 10.0 AS DOUBLE) AS p_hi,
             CAST(ceil(total * 0.5) AS BIGINT) AS k
      FROM est WHERE cum >= ceil(total * 0.5)
                 AND cum - n < ceil(total * 0.5)),
    exact AS (
      SELECT event_type,
             time_bucket(INTERVAL '7 days',
                         time_bucket(INTERVAL '1 day', ts),
                         TIMESTAMP '1970-01-01') AS window_start,
             value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type,
                 time_bucket(INTERVAL '7 days',
                             time_bucket(INTERVAL '1 day', ts),
                             TIMESTAMP '1970-01-01')
               ORDER BY value, event_id) AS rn
      FROM events)
    SELECT h.event_type, h.window_start, h.n_rows, h.p_lo, h.p_hi,
           e.value AS exact_p50,
           e.value >= h.p_lo AND e.value < h.p_hi AS est_ok
    FROM hit h JOIN exact e
      ON e.event_type = h.event_type
     AND e.window_start = h.window_start AND e.rn = h.k
    """,
    description="mergeable-histogram percentile rollup: daily "
                "(type, bin) count sketches merged to weekly with a "
                "plain SUM — no raw-event rescan — and the median read "
                "off the merged histogram; contract row joins the exact "
                "weekly k-th value back in and asserts it falls inside "
                "the estimated bin (error <= one bin width by "
                "construction)",
    tags=("events", "sketch", "contract"),
)
def events_percentile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.temporal import histogram_percentile_rollup

    ev = load_table(spark, sf_dir, "events")
    roll = histogram_percentile_rollup(ev)
    w = W.partitionBy("event_type",
                      F.window(F.date_trunc("day", "ts"), "1 week"))
    exact = (ev.withColumn("rn", F.row_number().over(
        w.orderBy("value", "event_id")))
        .select("event_type",
                F.window(F.date_trunc("day", "ts"), "1 week")
                .start.alias("window_start"),
                F.col("value").alias("exact_p50"), "rn"))
    return (roll.join(
        exact,
        (roll.event_type == exact.event_type)
        & (roll.window_start == exact.window_start)
        & (exact.rn == F.ceil(roll.n_rows * 0.5).cast("long")))
        .select(roll.event_type, roll.window_start, "n_rows",
                "p_lo", "p_hi", "exact_p50",
                ((F.col("exact_p50") >= F.col("p_lo"))
                 & (F.col("exact_p50") < F.col("p_hi"))).alias("est_ok")))


@register(
    "events_heavy_hitters",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id, COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (
      SELECT event_type, user_id, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rank
      FROM c)
    SELECT event_type, user_id, n, rank FROM r WHERE rank <= 16
    """,
    description="exact per-type heavy hitters (top-16 users by event "
                "count, deterministic tie-break); one count shuffle + "
                "two-stage top-k",
    tags=("events", "agg", "topk"),
)
def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = (ev.groupBy("event_type", "user_id")
              .agg(F.count(F.lit(1)).alias("n")))
    order = [F.desc("n"), F.asc("user_id")]
    lw = (W.partitionBy("event_type", "_pid").orderBy(*order))
    pruned = (counts.withColumn("_pid", F.spark_partition_id())
              .withColumn("rank", F.row_number().over(lw))
              .filter(F.col("rank") <= 16).drop("_pid", "rank"))
    w = W.partitionBy("event_type").orderBy(*order)
    return (pruned.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 16))


# Contract row, same discipline as events_hll_rollup: the HLL numbers
# are engine-specific, so the oracle checks the EXACT intersection and
# the Spark side carries err_ok. Inclusion-exclusion compounds three
# sketch errors (est_a + est_b - est_union), so the bound scales with
# the UNION size (the largest of the three operands), not the
# intersection: max(5, 7.5% of exact_union). Pairs whose exact
# intersection is empty drop out of both engines (inner join / inner
# enumeration) — the contract certifies estimates only where an
# intersection exists.
@register(
    "events_hll_intersection",
    oracle="""
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS exact_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2),
    uni AS (
      SELECT x.type_a, x.type_b,
             CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS exact_union
      FROM inter x JOIN ut u
        ON u.event_type IN (x.type_a, x.type_b)
      GROUP BY 1, 2)
    SELECT i.type_a, i.type_b, i.exact_both, u.exact_union,
           TRUE AS err_ok
    FROM inter i JOIN uni u
      ON i.type_a = u.type_a AND i.type_b = u.type_b
    ORDER BY 1, 2
    """,
    description="HLL set-INTERSECTION estimates by inclusion-exclusion "
                "(est_a + est_b - est_union over mergeable per-type "
                "user sketches): the audience-overlap question answered "
                "from O(types * 2^lgK) sketch state instead of a "
                "user-level distinct join — at 100 TB the sketches are "
                "built once per type and every pairwise overlap is "
                "sketch algebra; exact intersection/union joined in, "
                "err_ok = |est - exact_both| <= max(5, 7.5% "
                "exact_union)",
    tags=("events", "sketch", "contract"),
)
def events_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sk = (ev.groupBy("event_type")
          .agg(F.hll_sketch_agg("user_id").alias("_sk"))
          .select("event_type", "_sk",
                  F.hll_sketch_estimate("_sk").alias("_est")))
    a = sk.select(F.col("event_type").alias("type_a"),
                  F.col("_sk").alias("_ska"), F.col("_est").alias("_ea"))
    b = sk.select(F.col("event_type").alias("type_b"),
                  F.col("_sk").alias("_skb"), F.col("_est").alias("_eb"))
    # types are a tiny dim: the pair frame is |types|^2 rows, broadcast
    pairs = (a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
             .select("type_a", "type_b", "_ea", "_eb",
                     F.hll_sketch_estimate(
                         F.hll_union("_ska", "_skb")).alias("_eu")))
    est_inter = F.col("_ea") + F.col("_eb") - F.col("_eu")
    # ut feeds three consumers (both intersection sides + the union
    # count) and inter two — checkpoint both, or events is re-scanned
    # and re-distincted once per consumer (plan-audited: 7 scans -> 2)
    ut = (ev.select("event_type", "user_id").distinct()
          .localCheckpoint(eager=True))
    ia = ut.select(F.col("event_type").alias("type_a"),
                   F.col("user_id").alias("_u"))
    ib = ut.select(F.col("event_type").alias("type_b"),
                   F.col("user_id").alias("_u"))
    inter = (ia.join(ib, "_u")
             .filter(F.col("type_a") < F.col("type_b"))
             .groupBy("type_a", "type_b")
             .agg(F.count(F.lit(1)).alias("exact_both"))
             .localCheckpoint(eager=True))
    # explode the pair to its two member types -> plain equi-join on
    # event_type (an isin(col, col) membership join would plan as a
    # broadcast nested loop)
    uni = (inter.select(
        "type_a", "type_b",
        F.explode(F.array("type_a", "type_b")).alias("event_type"))
        .join(ut, "event_type")
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").alias("exact_union")))
    return (pairs.join(inter, ["type_a", "type_b"])
            .join(uni, ["type_a", "type_b"])
            .select("type_a", "type_b", "exact_both", "exact_union",
                    (F.abs(est_inter - F.col("exact_both"))
                     <= F.greatest(F.lit(5.0),
                                   F.col("exact_union") * 0.075))
                    .alias("err_ok"))
            .orderBy("type_a", "type_b"))


@register(
    "orders_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 7 AS e
      FROM orders),
    m AS (
      SELECT o_custkey, s, e,
             MAX(e) OVER (PARTITION BY o_custkey ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS pm
      FROM iv)
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(GREATEST(0, datediff('day',
                GREATEST(s, COALESCE(pm, s)), e))) AS BIGINT)
             AS covered_days
    FROM m GROUP BY 1 ORDER BY 1
    """,
    description="interval-UNION coverage: total distinct days covered "
                "by each customer's (overlapping) 7-day order windows "
                "— the classic sweep line as pure window algebra: sort "
                "intervals per key, clip each at the running max of "
                "prior ends (strictly-preceding frame), sum the "
                "non-negative remainders; all-integer day arithmetic, "
                "per-key windows only (never a global sort), the "
                "aggregate complement of orders_overlap_pairs",
    tags=("events", "window", "temporal"),
)
def orders_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("s"),
        F.date_add(F.to_date("o_orderdate"), 7).alias("e"))
    w = (W.partitionBy("o_custkey").orderBy("s", "e")
         .rowsBetween(W.unboundedPreceding, -1))
    m = iv.withColumn("pm", F.max("e").over(w))
    clip = F.greatest(F.col("s"), F.coalesce(F.col("pm"), F.col("s")))
    contrib = F.greatest(F.lit(0), F.datediff(F.col("e"), clip))
    return (m.groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(contrib).cast("long").alias("covered_days"))
            .orderBy("custkey"))


@register(
    "events_time_weighted_avg",
    oracle=f"""
    WITH e AS (
      SELECT user_id, value, epoch_us(ts) AS t_us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt_us
      FROM events),
    seg AS (
      SELECT user_id, value,
             CAST(nxt_us - t_us AS DOUBLE) / 1000000 AS dt_sec
      FROM e WHERE nxt_us IS NOT NULL)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           {sql_dsum('dt_sec', 'span_sec')},
           {sql_dsum('value * dt_sec', 'weighted_sum')},
           CAST(SUM(CAST(round((value * dt_sec) * 1000000) AS BIGINT))
                AS DOUBLE)
             / CAST(SUM(CAST(round(dt_sec * 1000000) AS BIGINT))
                    AS DOUBLE) AS twap
    FROM seg GROUP BY user_id
    """,
    description="time-weighted average (TWAP / TimescaleDB time_weight "
                "parity): each reading holds until the user's next "
                "event (LOCF weighting), so the mean is integral-"
                "weighted, not row-weighted — the correct rollup for "
                "irregularly-sampled series; per-user window + one "
                "aggregate, both partitioned on user_id (no single-"
                "partition exchange); both weighted sums go through "
                "the scaled-long exact path and the ratio is one IEEE "
                "divide of the two exact sums",
    tags=("events", "temporal"),
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    seg = (ev.select("user_id", "value", t.alias("t_us"),
                     F.lead(t).over(w).alias("nxt_us"))
           .filter(F.col("nxt_us").isNotNull())
           .withColumn("dt_sec",
                       (F.col("nxt_us") - F.col("t_us")).cast("double")
                       / 1000000))

    def _sc(c):
        return F.sum(F.round(c * 1000000).cast("long"))

    num = _sc(F.col("value") * F.col("dt_sec"))
    den = _sc(F.col("dt_sec"))
    return (seg.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_segments"),
                 (den.cast("double") / 1000000).alias("span_sec"),
                 (num.cast("double") / 1000000).alias("weighted_sum"),
                 (num.cast("double") / den.cast("double")).alias("twap")))


_TOUCH_TYPES = ("click", "view", "signup")


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view',
                                                 'signup')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS channel
      FROM events),
    conv AS (SELECT COALESCE(channel, 'none') AS channel, value
             FROM seq WHERE event_type = 'purchase')
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS conversions,
           {sql_dsum('value', 'revenue')}
    FROM conv GROUP BY channel
    """,
    description="last-touch attribution: each purchase credits the "
                "user's most recent prior touch event (click/view/"
                "signup; 'none' when cold) — the marketing-analytics "
                "staple, expressed as one ignore-nulls last_value over "
                "a per-user ordered window (rows to 1 PRECEDING, so a "
                "purchase never self-attributes) + one small groupBy; "
                "revenue through the exact scaled-long sum",
    tags=("events", "temporal"),
)
def events_attribution_last_touch(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    touch = F.when(F.col("event_type").isin(*_TOUCH_TYPES),
                   F.col("event_type"))
    seq = ev.select("user_id", "event_type", "value",
                    F.last(touch, ignorenulls=True).over(w)
                    .alias("channel"))
    conv = (seq.filter(F.col("event_type") == "purchase")
            .select(F.coalesce(F.col("channel"), F.lit("none"))
                    .alias("channel"), "value"))
    return (conv.groupBy("channel")
            .agg(F.count(F.lit(1)).alias("conversions"),
                 dsum("value", "revenue")))


_MK_ITERS = 10
_MK_SCALE = 1_000_000_000_000


def _mk_iter_cte(k: int) -> str:
    return f"""
    d{k} AS (
      SELECT t.state, COALESCE(s.v, 0.0) AS dp
      FROM types t LEFT JOIN (
        SELECT m.j AS state,
               CAST(SUM(CAST(round(d.dp * m.p * {_MK_SCALE})
                             AS BIGINT)) AS DOUBLE) / {_MK_SCALE} AS v
        FROM d{k - 1} d JOIN mat m ON d.state = m.i
        GROUP BY m.j) s USING (state))
"""


_MARKOV_SQL = ("""
    WITH types AS (SELECT DISTINCT event_type AS state FROM events),
    cnt AS (SELECT COUNT(*) AS c FROM types),
    seq AS (SELECT event_type AS i,
                   LEAD(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS j
            FROM events),
    pairs AS (SELECT i, j FROM seq WHERE j IS NOT NULL),
    cnts AS (SELECT i, j, COUNT(*) AS c FROM pairs GROUP BY i, j),
    tot AS (SELECT i, COUNT(*) AS n_i FROM pairs GROUP BY i),
    mat AS (SELECT cnts.i, cnts.j,
                   CAST(c AS DOUBLE) / CAST(n_i AS DOUBLE) AS p
            FROM cnts JOIN tot USING (i)),
    d0 AS (SELECT state, CAST(1.0 AS DOUBLE) / cnt.c AS dp
           FROM types CROSS JOIN cnt)
""" + ","
               + ",".join(_mk_iter_cte(k)
                          for k in range(1, _MK_ITERS + 1))
               + f"""
    SELECT state, dp AS stationary_p FROM d{_MK_ITERS} ORDER BY state
""")


@register(
    "events_markov_stationary",
    oracle=_MARKOV_SQL,
    description="stationary distribution of the user-behavior Markov "
                "chain (10 power iterations from uniform over the "
                "event-type transition matrix): where sessions spend "
                "their time in the long run — the behavioral-model "
                "summary on top of events_transition_matrix; the "
                "matrix is |types|^2 rows (constant at any corpus "
                "scale) so every iteration joins a broadcast-tiny "
                "frame, the one data-sized pass is the lead-window "
                "pair census (partitioned per user); per-iteration "
                "sums go through the pagerank scaled-long trick so "
                "the fixed point is engine-exact, oracle = the same "
                "10 iterations unrolled as chained CTEs",
    tags=("events", "graph", "iterative"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded-alphabet fold (operators/folded; the TextRank shape):
    # the |types|^2 matrix collapses to one guarded row after the
    # data-sized lead-window pair census, and the 10 power iterations
    # run as one expression instead of 30+ tiny scheduled stages.
    # Per-edge arithmetic is the exact round(dp*p*1e12)-sum-BIGINT
    # tree of the former loop (integer sums re-associate freely), so
    # the fixed point is bit-identical to the unrolled-CTE oracle;
    # types with no in-edges fold an empty list to 0 + /scale = 0.0,
    # matching the old left-join COALESCE(v, 0.0).
    from g1_etl_spark.operators.folded import (bind, bounded_graph_row,
                                               in_adjacency, iterate)

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("i"),
                       F.lead("event_type").over(w).alias("j"))
             .filter(F.col("j").isNotNull()))
    cnts = pairs.groupBy("i", "j").agg(F.count(F.lit(1)).alias("c"))
    tot = pairs.groupBy("i").agg(F.count(F.lit(1)).alias("n_i"))
    mat = (cnts.join(tot, "i")
           .select("i", "j", (F.col("c").cast("double")
                              / F.col("n_i").cast("double")).alias("p"))
           .localCheckpoint(eager=True))  # feeds edge fold + types
    # the state list still comes from events (not from mat's
    # endpoints): a type with no transition row must emit dp = 0.0
    types = ev.select(F.col("event_type").alias("state")).distinct()
    row = bounded_graph_row(types, "state", mat, ["i", "j", "p"])
    ids = F.col("ids")

    def build(inm):
        def contrib(m, v):
            return F.aggregate(
                F.element_at(inm, v), F.lit(0).cast("long"),
                lambda acc, g: acc
                + F.round(F.element_at(m, g["i"]) * g["p"]
                          * _MK_SCALE).cast("long"))

        def step(m, _k):
            return F.map_from_arrays(ids, F.transform(ids, lambda v:
                contrib(m, v).cast("double") / _MK_SCALE))

        d0 = F.map_from_arrays(ids, F.transform(
            ids, lambda v: F.lit(1.0).cast("double") / F.size(ids)))
        return iterate(_MK_ITERS, d0, step)

    fin = bind(in_adjacency(ids, F.col("edges"), "j"), build)
    return (row.select(F.explode(fin).alias("state", "stationary_p"))
            .orderBy("state"))


@register(
    "events_ewma_value",
    oracle="""
    WITH s AS (SELECT user_id,
                      list(value ORDER BY ts, event_id) AS vals
               FROM events GROUP BY user_id)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(vals, (acc, x) -> (x + acc) / 2) AS ewma
    FROM s
    """,
    description="per-user EWMA (alpha = 1/2) of event values in (ts, "
                "event_id) order, computed as the LITERAL recursion "
                "y_n = (x_n + y_{n-1}) / 2 via an ordered fold "
                "(aggregate over the time-sorted array / DuckDB "
                "list_reduce): both engines execute the identical "
                "IEEE op sequence — one add and one exact "
                "exponent-shift halving per step — so the result is "
                "bit-deterministic. Scale shape: one groupBy user, "
                "per-user arrays bounded by per-user event counts",
    tags=("events", "window", "stats"),
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SCALE BOUND (explicit): each user's full (ts, event_id, value)
    # history materializes as ONE array row before the fold — memory
    # per task is O(max events per user) ≈ 24 B/struct, so ~1 M events
    # for a single pathological key (bot traffic) is ~24 MB in one row:
    # tolerable, verified by tests/test_stats.py::
    # test_ewma_fold_survives_1m_event_skew_key. user_id is
    # high-cardinality — the partition key is fine; the bound is about
    # one hot key, not the key count.
    ev = load_table(spark, sf_dir, "events")
    # sort struct(ts, event_id, value) lexicographically = time order,
    # then fold the value sequence with first element as the seed
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"])
    g = ev.groupBy("user_id").agg(vals.alias("vals"))
    return g.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        F.aggregate(F.expr("slice(vals, 2, size(vals) - 1)"),
                    F.element_at("vals", 1),
                    lambda acc, x: (x + acc) / 2).alias("ewma"))


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id, value, epoch_us(ts) AS us,
             COUNT(*) OVER w AS n,
             SUM(CAST(round(value * 1000000) AS BIGINT)) OVER w AS sx,
             SUM(CAST(round(value * value * 1000000) AS BIGINT)) OVER w
               AS sxx
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT event_type, event_id, value, n,
             (value - CAST(sx AS DOUBLE) / 1000000.0 / n)
               / sqrt(((CAST(sxx AS DOUBLE) / 1000000.0)
                       - (CAST(sx AS DOUBLE) / 1000000.0)
                         * (CAST(sx AS DOUBLE) / 1000000.0) / n)
                      / (n - 1)) AS zscore
      FROM s
      WHERE n >= 30
        AND ((CAST(sxx AS DOUBLE) / 1000000.0)
             - (CAST(sx AS DOUBLE) / 1000000.0)
               * (CAST(sx AS DOUBLE) / 1000000.0) / n) > 0)
    SELECT event_type, event_id, value, CAST(n AS BIGINT) AS n_window,
           zscore
    FROM z WHERE abs(zscore) > 3
    """,
    description="rolling-window anomaly flags: per event type, each "
                "event's z-score against the trailing-1h mean/std "
                "(RANGE frame over epoch-micros), emitting |z| > 3 "
                "rows — the monitoring primitive over irregular "
                "streams. Window moments are exact scaled-long sums "
                "(value and value^2 pre-scaled per row), so mean/std/"
                "z are fixed expression trees on identical doubles in "
                "both engines; windows with n < 30 or zero variance "
                "are excluded. Scale shape: the RANGE window is keyed "
                "(event_type, hour-bucket), NOT the constant-"
                "cardinality type alone — each row is computed in its "
                "own bucket and carried (one duplicate) into the next "
                "bucket, whose trailing-1h frames are the only ones "
                "that can reach back to it, so partition count grows "
                "with the time span and no task ever owns a full "
                "type's history",
    tags=("events", "window", "stats", "quality"),
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Trailing-1h RANGE window, computed bucket-locally: bucket b holds
    # the rows born in hour b plus a carried copy of every hour-(b-1)
    # row. A row at time t in bucket b has t - 3_599_999_999 >
    # (b-1)*H, so its frame can only reach rows in buckets b-1 and b —
    # both present in partition (event_type, b) exactly once. The
    # window sums are therefore over the IDENTICAL row sets as a
    # per-type global window (exact scaled-long sums — order-free), at
    # the cost of one duplicated pass of the input instead of a
    # one-task-per-type sort at 100 TB.
    hour_us = 3_600_000_000
    s = ev.select(
        "event_type", "event_id", "value",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 1000000).cast("long").alias("xs"),
        F.round(F.col("value") * F.col("value") * 1000000)
        .cast("long").alias("xxs"))
    s = s.withColumn("_hb", F.expr(f"us div {hour_us}"))
    fan = F.explode(F.array(
        F.struct(F.col("_hb").alias("b"), F.lit(False).alias("carry")),
        F.struct((F.col("_hb") + F.lit(1)).alias("b"),
                 F.lit(True).alias("carry"))))
    u = (s.withColumn("_f", fan)
         .select("event_type", "event_id", "value", "us", "xs", "xxs",
                 F.col("_f.b").alias("b"), F.col("_f.carry").alias("carry")))
    w = (W.partitionBy("event_type", "b").orderBy("us")
         .rangeBetween(-3_599_999_999, 0))
    st = u.select(
        "event_type", "event_id", "value", "carry",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("xs").over(w).alias("sx"),
        F.sum("xxs").over(w).alias("sxx"))
    sx_d = F.col("sx").cast("double") / 1000000.0
    sxx_d = F.col("sxx").cast("double") / 1000000.0
    n = F.col("n")
    var = (sxx_d - sx_d * sx_d / n) / (n - 1)
    z = (F.col("value") - sx_d / n) / F.sqrt(var)
    return (st.filter(~F.col("carry"))
            .filter((n >= 30) & ((sxx_d - sx_d * sx_d / n) > 0))
            .withColumn("zscore", z)
            .filter(F.abs(F.col("zscore")) > 3)
            .select("event_type", "event_id", "value",
                    n.cast("long").alias("n_window"), "zscore"))


def _type_prefixes(ev: DataFrame) -> DataFrame:
    """Per event: its type's inclusive running sum `prefix` of the
    scaled value `xs` and 1-based index `i` over (us, event_id), plus
    the type's count `n` and scaled sum `total` — the CUSUM family's
    exact-integer inputs (the oracles' ``run``/``tot`` CTEs).
    """
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    s = ev.select("event_type", "event_id",
                  F.unix_micros("ts").alias("us"),
                  F.round(F.col("value") * 1000000).cast("long")
                  .alias("xs"),
                  F.lit(1).cast("long").alias("one"))
    run, _ = grouped_prefix_aggs(s, ["event_type"], ["us", "event_id"],
                                 {"prefix": "xs", "i": "one"})
    # bounded: one row per event type; the inner join drops a NULL
    # type, as the oracles' JOIN tot USING (event_type) does
    tot = (s.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("xs").alias("total")))
    return run.join(F.broadcast(tot), "event_type")


@register(
    "events_cusum_drift",
    oracle="""
    WITH s AS (SELECT event_type,
                      CAST(round(value * 1000000) AS BIGINT) AS xs,
                      epoch_us(ts) AS us, event_id
               FROM events),
    tot AS (SELECT event_type, COUNT(*) AS n, SUM(xs) AS total
            FROM s GROUP BY event_type),
    run AS (SELECT s.event_type, n, total,
                   ROW_NUMBER() OVER w AS i,
                   SUM(xs) OVER (PARTITION BY s.event_type
                                 ORDER BY us, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS prefix
            FROM s JOIN tot USING (event_type)
            WINDOW w AS (PARTITION BY s.event_type
                         ORDER BY us, event_id)),
    dev AS (SELECT event_type, n,
                   abs(CAST(n AS HUGEINT) * prefix
                       - CAST(i AS HUGEINT) * total) AS d
            FROM run)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(MAX(d) AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1000000.0) AS max_cusum
    FROM dev GROUP BY event_type, n
    """,
    description="CUSUM drift statistic per event type: max over time "
                "of |running sum of (x_i - mean)| in event order — "
                "the change-point screening primitive. Computed "
                "EXACTLY in integers via the identity n*S_i = "
                "n*prefix_i - i*total (128-bit products), so no float "
                "accumulates across rows; the single division by "
                "n*scale happens once per type. Scale shape: the "
                "per-type running sum and index ride "
                "analytics.grouped_prefix_aggs over (event_type, us, "
                "event_id) (one range-repartition + per-(partition, "
                "type) local sums + driver carries bounded at "
                "partitions x types); n and total join back as a "
                "one-row-per-type broadcast — no per-type single-task "
                "ordered window anywhere",
    tags=("events", "window", "stats", "quality", "streaming"),
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    run = _type_prefixes(load_table(spark, sf_dir, "events"))
    d38 = "decimal(38,0)"
    d = F.abs(F.col("n").cast(d38) * F.col("prefix")
              - F.col("i").cast(d38) * F.col("total"))
    return (run.withColumn("d", d)
            .groupBy("event_type", "n")
            .agg(F.max("d").alias("maxd"))
            .select("event_type", F.col("n").cast("long").alias("n_events"),
                    (F.col("maxd").cast("double")
                     / (F.col("n").cast("double") * 1000000.0))
                    .alias("max_cusum")))


@register(
    "events_acf",
    oracle="""
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
    l AS (SELECT UNNEST(range(1, 6)) AS lag),
    p AS (SELECT a.event_type, l.lag,
                 SUM(CAST(a.xs AS HUGEINT) * b.xs) AS nk,
                 SUM(CAST(a.xs AS HUGEINT)) AS s1,
                 SUM(CAST(b.xs AS HUGEINT)) AS s2,
                 COUNT(*) AS c
          FROM s a CROSS JOIN l
          JOIN s b ON a.event_type = b.event_type AND b.i = a.i - l.lag
          GROUP BY a.event_type, l.lag)
    SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag,
           CAST(p.c AS BIGINT) AS n_pairs,
           (CAST(nk AS DOUBLE)
            - (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE))
              * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
            + CAST(c AS DOUBLE)
              * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE)))
           / (CAST(ss AS DOUBLE)
              - CAST(n AS DOUBLE)
                * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))
                * (CAST(t AS DOUBLE) / CAST(n AS DOUBLE))) AS acf
    FROM p JOIN tot USING (event_type)
    ORDER BY p.event_type, p.lag
    """,
    description="lag-1..5 autocorrelation of event values per type "
                "(the seasonality/burstiness screen before fitting "
                "anything AR-shaped): ACF_k = sum((x_i - m)(x_{i-k} - "
                "m)) / sum((x_i - m)^2), expanded so EVERY "
                "accumulation is an exact 128-bit integer sum of "
                "scaled longs (sum x_i*x_{i-k}, the two lagged "
                "marginal sums, count, total, sum of squares) and the "
                "mean-centering happens once per (type, lag) in a "
                "fixed double expression tree both engines share. "
                "Scale shape: the per-type event index rides the "
                "distributed prefix-sum helper (no per-type ordered "
                "window — event_type is constant-cardinality), then "
                "ALL five lags come from one window pass over "
                "(type, 64Ki-index-block) partitions with the previous "
                "block's last 5 rows carried forward (carry fraction "
                "5/65536; partition count grows with data), and every "
                "aggregate is (types x 5)-row bounded — no lag "
                "fan-out join",
    tags=("events", "stats", "scale"),
)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12 restructure (guide §2.4 remove shuffles outright): the old
    # form paid a prefix-sum pass (range exchange + per-pid window +
    # offsets COLLECT + createDataFrame + broadcast join) just to build
    # a per-type row index, then a SECOND full-data exchange + sort
    # (explode + (type, block) window) to evaluate the 5 lags. But the
    # range order (event_type, us, event_id) already makes each type's
    # rows CONTIGUOUS, so the lags can come from ONE per-partition
    # window pass directly: lag_k within the range partition, with the
    # <= 5 head rows of each partition fixed up against the <= 5 tail
    # rows of earlier partitions via a bounded (10 x n_partitions)-row
    # side frame. Removes one full-data exchange+sort, the explode, the
    # totals collect barrier and the createDataFrame; the per-type
    # totals join stays fully lazy. Every per-pair integer product is
    # unchanged, so the summed moments — and the final double tree —
    # are bit-identical (oracle-verified at sf0.001 + sf0.01).
    n_lags = 5
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type", "event_id",
                  F.unix_micros("ts").alias("us"),
                  F.round(F.col("value") * 1000000).cast("long")
                  .alias("xs"))
    d38 = "decimal(38,0)"
    npart = spark.sparkContext.defaultParallelism
    w = W.partitionBy("_pid").orderBy("event_type", "us", "event_id")
    wcnt = W.partitionBy("_pid")
    # lag values masked to same-type only (cross-type adjacency in the
    # global order is not a pair; types are contiguous, so within one
    # type the partition-local distance IS the per-type index distance)
    lagged = (s.repartitionByRange(npart, "event_type", "us", "event_id")
              .withColumn("_pid", F.spark_partition_id())
              .select("event_type", "xs", "_pid",
                      F.row_number().over(w).alias("_rn"),
                      F.count(F.lit(1)).over(wcnt).alias("_cnt"),
                      *[F.when(F.lag("event_type", k).over(w)
                               == F.col("event_type"),
                               F.lag("xs", k).over(w)).alias(f"l{k}")
                        for k in range(1, n_lags + 1)])
              .localCheckpoint(eager=True))  # freeze pid assignment;
    # feeds the main aggregate, the totals aggregate and the boundary
    # frame without recomputing the sort+window pass
    p = lagged.groupBy("event_type").agg(
        *[x for k in range(1, n_lags + 1) for x in (
            F.sum(F.col("xs").cast(d38) * F.col(f"l{k}"))
            .alias(f"nk{k}"),
            F.sum(F.when(F.col(f"l{k}").isNotNull(), F.col("xs")))
            .alias(f"s1_{k}"),
            F.sum(f"l{k}").alias(f"s2_{k}"),
            F.count(F.col(f"l{k}")).alias(f"c{k}"))])
    melt = F.explode(F.array(*[
        F.struct(F.lit(k).cast("long").alias("lag"),
                 F.col(f"nk{k}").alias("nk"),
                 F.col(f"s1_{k}").alias("s1"),
                 F.col(f"s2_{k}").alias("s2"),
                 F.col(f"c{k}").alias("c"))
        for k in range(1, n_lags + 1)]))
    p = (p.withColumn("_m", melt)
         .select("event_type", "_m.lag", "_m.nk", "_m.s1", "_m.s2",
                 "_m.c"))
    # Cross-partition pairs: a head row (_rn <= n_lags) pairs with a
    # tail row (_rn > _cnt - n_lags) of an EARLIER partition when their
    # global-index distance is <= n_lags. Both frames are bounded by
    # n_lags x n_partitions rows; the global index needs only per-pid
    # counts (window over a <= n_partitions-row frame — bounded).
    bnd = (lagged.filter((F.col("_rn") <= n_lags)
                         | (F.col("_rn") > F.col("_cnt") - n_lags))
           .select("event_type", "xs", "_pid", "_rn", "_cnt"))
    woff = (W.orderBy("_pid")
            .rowsBetween(W.unboundedPreceding, -1))
    offs = (bnd.groupBy("_pid").agg(F.max("_cnt").alias("_c"))
            .select("_pid", F.coalesce(F.sum("_c").over(woff),
                                       F.lit(0)).alias("_off")))
    g = (bnd.join(F.broadcast(offs), "_pid")
         .select("event_type", "xs", "_pid",
                 (F.col("_off") + F.col("_rn")).alias("_gi")))
    a, b = g.alias("a"), g.alias("b")
    dist = F.col("a._gi") - F.col("b._gi")
    bsum = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                   & (F.col("a._pid") > F.col("b._pid"))
                   & dist.between(1, n_lags))
            .select(F.col("a.event_type").alias("event_type"),
                    dist.alias("lag"),
                    F.col("a.xs").alias("ax"),
                    F.col("b.xs").alias("bx"))
            .groupBy("event_type", "lag")
            .agg(F.sum(F.col("ax").cast(d38) * F.col("bx")).alias("bnk"),
                 F.sum("ax").alias("bs1"),
                 F.sum("bx").alias("bs2"),
                 F.count(F.lit(1)).alias("bc")))
    tot = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xs").alias("t"),
        F.sum(F.col("xs").cast(d38) * F.col("xs")).alias("ss"))
    merged = p.join(F.broadcast(bsum), ["event_type", "lag"], "left")
    c_t = F.col("c") + F.coalesce(F.col("bc"), F.lit(0))
    z38 = F.lit(0).cast(d38)
    nk_t = F.when(c_t > 0, F.coalesce(F.col("nk"), z38)
                  + F.coalesce(F.col("bnk"), z38))
    s1_t = F.when(c_t > 0, F.coalesce(F.col("s1"), F.lit(0))
                  + F.coalesce(F.col("bs1"), F.lit(0)))
    s2_t = F.when(c_t > 0, F.coalesce(F.col("s2"), F.lit(0))
                  + F.coalesce(F.col("bs2"), F.lit(0)))
    out = (merged.select("event_type", "lag", nk_t.alias("nk"),
                         s1_t.alias("s1"), s2_t.alias("s2"),
                         c_t.alias("c"))
           .join(F.broadcast(tot), "event_type"))
    n_d = F.col("n").cast("double")
    m = F.col("t").cast("double") / n_d
    num = (F.col("nk").cast("double")
           - (F.col("s1").cast("double") + F.col("s2").cast("double")) * m
           + F.col("c").cast("double") * m * m)
    den = F.col("ss").cast("double") - n_d * m * m
    return (out.select("event_type", F.col("lag").cast("long").alias("lag"),
                       F.col("c").cast("long").alias("n_pairs"),
                       (num / den).alias("acf"))
            .orderBy("event_type", "lag"))


@register(
    "events_seasonal_hour",
    oracle="""
    WITH s AS (SELECT event_type, EXTRACT(hour FROM ts) AS hh,
                      CAST(round(value * 1000000) AS BIGINT) AS xs
               FROM events),
    h AS (SELECT event_type, hh, COUNT(*) AS nh,
                 SUM(CAST(xs AS HUGEINT)) AS th
          FROM s GROUP BY event_type, hh),
    tot AS (SELECT event_type, COUNT(*) AS n,
                   SUM(CAST(xs AS HUGEINT)) AS t,
                   SUM(CAST(xs AS HUGEINT) * xs) AS ss
            FROM s GROUP BY event_type),
    st AS (SELECT event_type,
                  (list_sum(list_sort(list(
                       CAST(th AS DOUBLE) * CAST(th AS DOUBLE)
                       / CAST(nh AS DOUBLE))))
                   - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                     / CAST(n AS DOUBLE))
                  / (CAST(ss AS DOUBLE)
                     - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                       / CAST(n AS DOUBLE)) AS strength
           FROM h JOIN tot USING (event_type)
           GROUP BY event_type, n, t, ss)
    SELECT h.event_type, CAST(hh AS BIGINT) AS hour,
           CAST(nh AS BIGINT) AS n_events,
           CAST(th AS DOUBLE) / CAST(nh AS DOUBLE) / 1000000.0
             AS mean_value,
           strength AS seasonal_strength
    FROM h JOIN st USING (event_type)
    ORDER BY h.event_type, hh
    """,
    description="hour-of-day seasonal profile per event type: mean "
                "value per (type, hour) plus the type's seasonal "
                "STRENGTH = between-hour sum of squares over total sum "
                "of squares (the eta-squared screen for 'does hour of "
                "day explain this metric'). Hourly and per-type "
                "moments are exact 128-bit sums of scaled longs; the "
                "only order-sensitive float reduction — the 24 "
                "per-hour terms of the between-hour SS — runs "
                "sorted-sequential (the repo's sortsum idiom) so both "
                "engines add identical doubles in identical order. "
                "Scale shape: two grouped aggregates (types x 24 and "
                "types rows), one equi-join between them — nothing "
                "wider than the 120-row profile ever shuffles",
    tags=("events", "stats"),
)
def events_seasonal_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    s = ev.select("event_type", F.hour("ts").alias("hh"),
                  F.round(F.col("value") * 1000000).cast("long")
                  .alias("xs"))
    h = s.groupBy("event_type", "hh").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(F.col("xs").cast(d38)).alias("th"))
    tot = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("xs").cast(d38)).alias("t"),
        F.sum(F.col("xs").cast(d38) * F.col("xs")).alias("ss"))

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    t_d = F.col("t").cast("double")
    n_d = F.col("n").cast("double")
    grand = t_d * t_d / n_d
    st = (h.join(tot, "event_type")
          .groupBy("event_type", "n", "t", "ss")
          .agg(sortsum(F.col("th").cast("double")
                       * F.col("th").cast("double")
                       / F.col("nh").cast("double")).alias("bsum"))
          .select("event_type",
                  ((F.col("bsum") - grand)
                   / (F.col("ss").cast("double") - grand))
                  .alias("strength")))
    return (h.join(st, "event_type")
            .select("event_type", F.col("hh").cast("long").alias("hour"),
                    F.col("nh").cast("long").alias("n_events"),
                    (F.col("th").cast("double")
                     / F.col("nh").cast("double") / 1000000.0)
                    .alias("mean_value"),
                    F.col("strength").alias("seasonal_strength"))
            .orderBy("event_type", "hour"))


@register(
    "events_holt_forecast",
    oracle="""
    WITH RECURSIVE ord AS (
      SELECT user_id, CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i
      FROM events),
    h AS (
      SELECT user_id, i, x AS l, CAST(0.0 AS DOUBLE) AS b
      FROM ord WHERE i = 1
      UNION ALL
      SELECT o.user_id, o.i,
             (o.x + (h.l + h.b)) / 2,
             (((o.x + (h.l + h.b)) / 2 - h.l) + h.b) / 2
      FROM h JOIN ord o ON o.user_id = h.user_id AND o.i = h.i + 1),
    n AS (SELECT user_id, max(i) AS n_events FROM ord GROUP BY user_id)
    SELECT h.user_id, CAST(n.n_events AS BIGINT) AS n_events,
           h.l AS level, h.b AS trend,
           h.l + 3.0 * h.b AS forecast_3
    FROM h JOIN n ON h.user_id = n.user_id AND h.i = n.n_events
    """,
    description="per-user Holt double exponential smoothing (alpha = "
                "beta = 1/2) of event values in (ts, event_id) order, "
                "plus the 3-step-ahead linear forecast level + 3*trend "
                "— events_ewma_value's trend-aware sibling. The "
                "recursion l' = (x + (l + b))/2, b' = ((l' - l) + b)/2 "
                "runs as an ordered fold carrying a (level, trend) "
                "struct (Spark aggregate() over the time-sorted array; "
                "the oracle iterates the same recursion as a recursive "
                "CTE — NOT list_reduce, whose struct accumulator in "
                "DuckDB 1.0 is mutated field-by-field, so a 'b' "
                "expression reading acc.l would see the already-"
                "updated level); every step is one add, one subtract "
                "and two exact exponent-shift halvings executed in the "
                "IDENTICAL IEEE sequence in both engines, so the result "
                "is bit-deterministic with no tolerance. Scale shape "
                "and per-user array bound are exactly "
                "events_ewma_value's (see its SCALE BOUND note)",
    tags=("events", "window", "stats", "forecast"),
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: s["value"].cast("double"))
    g = ev.groupBy("user_id").agg(vals.alias("vals"))
    seed = F.struct(F.element_at("vals", 1).alias("l"),
                    F.lit(0.0).alias("b"))

    def step(acc, x):
        lvl = (x + (acc["l"] + acc["b"])) / 2
        return F.struct(lvl.alias("l"),
                        (((lvl - acc["l"]) + acc["b"]) / 2).alias("b"))

    st = F.aggregate(F.expr("slice(vals, 2, size(vals) - 1)"), seed, step)
    return g.select(
        "user_id",
        F.size("vals").cast("long").alias("n_events"),
        st["l"].alias("level"), st["b"].alias("trend"),
        (st["l"] + F.lit(3.0) * st["b"]).alias("forecast_3"))


@register(
    "events_changepoint_split",
    oracle="""
    WITH s AS (
      SELECT event_type, event_id, epoch_us(ts) AS us,
             CAST(round(value * 1000000) AS BIGINT) AS xs
      FROM events),
    p AS (
      SELECT event_type, us,
             ROW_NUMBER() OVER w AS i,
             SUM(xs) OVER w AS prefix,
             COUNT(*) OVER (PARTITION BY event_type) AS n,
             SUM(xs) OVER (PARTITION BY event_type) AS total
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT event_type, us, i, prefix, n, total,
             abs(CAST(n AS HUGEINT) * prefix
                 - CAST(i AS HUGEINT) * total) AS dev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY abs(CAST(n AS HUGEINT) * prefix
                                             - CAST(i AS HUGEINT) * total)
                                           DESC, i ASC) AS rn
      FROM p WHERE i < n)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(i AS BIGINT) AS split_i, us AS split_us,
           CAST(prefix AS DOUBLE)
             / (CAST(i AS DOUBLE) * 1000000.0) AS mean_before,
           CAST(total - prefix AS DOUBLE)
             / (CAST(n - i AS DOUBLE) * 1000000.0) AS mean_after,
           CAST(total - prefix AS DOUBLE)
             / (CAST(n - i AS DOUBLE) * 1000000.0)
           - CAST(prefix AS DOUBLE)
             / (CAST(i AS DOUBLE) * 1000000.0) AS mean_delta
    FROM d WHERE rn = 1
    """,
    description="single change-point estimate per event type (binary "
                "segmentation, depth 1): the split index maximizing "
                "|n*prefix_i - i*total| — the exact-integer CUSUM "
                "deviation events_cusum_drift maxes over — with the "
                "level shift (pre/post means) at the argmax, the "
                "follow-up question CUSUM's max statistic raises "
                "('WHERE did the level change, and by how much?'). "
                "Deviations are 128-bit integer products, so the "
                "argmax and its (d DESC, i ASC) tie-break are exact; "
                "the three output means are fixed one-division double "
                "trees. Scale shape: the per-type prefixes ride the "
                "same grouped_prefix_aggs pass + one-row-per-type "
                "(n, total) broadcast as events_cusum_drift (no per-type "
                "ordered window over raw rows — the oracle's windowed "
                "form is the same integers), and the argmax is a "
                "partial+final MAX over a lexicographic struct, not a "
                "ranked window",
    tags=("events", "window", "stats", "quality"),
)
def events_changepoint_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d38 = "decimal(38,0)"
    run = (_type_prefixes(load_table(spark, sf_dir, "events"))
           .filter(F.col("i") < F.col("n")))
    dev = F.abs(F.col("n").cast(d38) * F.col("prefix")
                - F.col("i").cast(d38) * F.col("total"))
    # argmax as a lexicographic struct MAX (partial+final agg — no
    # ranked window): max dev, then SMALLEST i via the negated field
    best = (run.withColumn("dev", dev)
            .groupBy("event_type", "n", "total")
            .agg(F.max(F.struct(
                F.col("dev"), (-F.col("i")).alias("negi"),
                F.col("i"), F.col("us"), F.col("prefix"))).alias("b")))
    i_d = F.col("b.i").cast("double")
    n_d = F.col("n").cast("double")
    before = (F.col("b.prefix").cast("double")
              / (i_d * F.lit(1000000.0)))
    after = ((F.col("total") - F.col("b.prefix")).cast("double")
             / ((n_d - i_d) * F.lit(1000000.0)))
    return best.select(
        "event_type", F.col("n").cast("long").alias("n_events"),
        F.col("b.i").cast("long").alias("split_i"),
        F.col("b.us").alias("split_us"),
        before.alias("mean_before"), after.alias("mean_after"),
        (after - before).alias("mean_delta"))


@register(
    "events_gtest_halves",
    oracle="""
    WITH s AS (SELECT event_type, epoch_us(ts) AS us FROM events),
    anchor AS (SELECT min(us) AS tmin, max(us) AS tmax FROM s),
    d AS (SELECT event_type,
                 CASE WHEN 2 * us <= tmin + tmax THEN 0 ELSE 1 END
                   AS half
          FROM s CROSS JOIN anchor),
    obs AS (SELECT event_type, half,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM d GROUP BY 1, 2),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r
           FROM obs GROUP BY 1),
    ct AS (SELECT half, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM rt),
    g AS (SELECT CAST(SUM(CAST(o AS HUGEINT)
                          * CAST(round(ln((CAST(o AS DOUBLE)
                                           * CAST(n AS DOUBLE))
                                          / (CAST(r AS DOUBLE)
                                             * CAST(c AS DOUBLE)))
                                       * 1000000) AS BIGINT))
                      AS BIGINT) AS gw
         FROM obs JOIN rt USING (event_type) JOIN ct USING (half)
         CROSS JOIN nt),
    h AS (SELECT CAST(SUM(CASE WHEN half = 0 THEN o ELSE 0 END)
                      AS BIGINT) AS n_first,
                 CAST(SUM(CASE WHEN half = 1 THEN o ELSE 0 END)
                      AS BIGINT) AS n_second
          FROM obs)
    SELECT n, k, n_first, n_second,
           2.0 * CAST(gw AS DOUBLE) / 1000000.0 AS g_stat,
           CAST((k - 1) * 1 AS BIGINT) AS df
    FROM g CROSS JOIN nt CROSS JOIN kk CROSS JOIN h
    """,
    description="G-test (likelihood-ratio chi-square) of event-type "
                "MIX drift between the first and second halves of the "
                "time range: did the composition of traffic change, "
                "the categorical sibling of CUSUM's level-shift "
                "question. The half split is pure integer arithmetic "
                "(2*us <= tmin+tmax — no epoch division), the 5x2 "
                "observed cells and both margins are exact BIGINTs, "
                "and G = 2*sum(o*ln(o*n/(r*c))) rides the pinned-ln "
                "weighted-integer fold the MI/Theil family certified "
                "(G = 2n*MI(nats) by identity — computed here in one "
                "expression). Scale shape: one min/max anchor pass + "
                "one groupBy to 10 cells, scalar crosses after",
    tags=("events", "stats"),
)
def events_gtest_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type", F.unix_micros("ts").alias("us"))
    anchor = s.agg(F.min("us").alias("tmin"), F.max("us").alias("tmax"))
    d = (s.crossJoin(F.broadcast(anchor))
         .select("event_type",
                 F.when(2 * F.col("us") <= F.col("tmin") + F.col("tmax"),
                        0).otherwise(1).alias("half")))
    obs = d.groupBy("event_type", "half").agg(
        F.count(F.lit(1)).cast("long").alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").cast("long").alias("r"))
    ct = obs.groupBy("half").agg(F.sum("o").cast("long").alias("c"))
    nt = obs.agg(F.sum("o").cast("long").alias("n"))
    kk = rt.agg(F.count(F.lit(1)).cast("long").alias("k"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    d38 = "decimal(38,0)"
    pin = F.round(F.ln((dd("o") * dd("n")) / (dd("r") * dd("c")))
                  * 1_000_000).cast("long")
    g = (obs.join(rt, "event_type").join(ct, "half")
         .crossJoin(F.broadcast(nt))
         .select((F.col("o").cast(d38) * pin).alias("t"))
         .agg(F.sum("t").cast("long").alias("gw")))
    h = obs.agg(
        F.sum(F.when(F.col("half") == 0, F.col("o")).otherwise(0))
        .cast("long").alias("n_first"),
        F.sum(F.when(F.col("half") == 1, F.col("o")).otherwise(0))
        .cast("long").alias("n_second"))
    return (g.crossJoin(nt).crossJoin(kk).crossJoin(h)
            .select("n", "k", "n_first", "n_second",
                    (F.lit(2.0) * dd("gw") / F.lit(1000000.0))
                    .alias("g_stat"),
                    ((F.col("k") - 1) * 1).cast("long").alias("df")))


@register(
    "events_holtwinters",
    oracle="""
    WITH RECURSIVE ord AS (
      SELECT user_id, event_id, CAST(value AS DOUBLE) AS x,
             CAST(hour(ts) AS INTEGER) AS h,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i
      FROM events),
    hw AS (
      SELECT user_id, i, x AS l, CAST(0.0 AS DOUBLE) AS b,
             list_transform(generate_series(1, 24),
                            j -> CAST(0.0 AS DOUBLE)) AS s
      FROM ord WHERE i = 1
      UNION ALL
      SELECT user_id, i, l2 AS l, ((l2 - l) + b) / 2 AS b,
             list_transform(generate_series(1, 24),
                            j -> CASE WHEN j = h + 1
                                      THEN ((x - l2) + s[j]) / 2
                                      ELSE s[j] END) AS s
      FROM (SELECT o.user_id, o.i, o.x, o.h, hw.l, hw.b, hw.s,
                   ((o.x - hw.s[o.h + 1]) + (hw.l + hw.b)) / 2 AS l2
            FROM hw JOIN ord o
              ON o.user_id = hw.user_id AND o.i = hw.i + 1)),
    n AS (SELECT user_id, max(i) AS n_events FROM ord GROUP BY user_id),
    fin AS (
      SELECT hw.user_id, n.n_events, hw.l, hw.b, hw.s, o2.h AS hlast
      FROM hw JOIN n ON hw.user_id = n.user_id AND hw.i = n.n_events
      JOIN ord o2 ON o2.user_id = n.user_id AND o2.i = n.n_events)
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           l AS level, b AS trend,
           s[((hlast + 1) % 24) + 1] AS s_next,
           l + b + s[((hlast + 1) % 24) + 1] AS forecast_next,
           list_aggregate(s, 'max') - list_aggregate(s, 'min')
             AS s_spread
    FROM fin
    """,
    description="per-user additive Holt-Winters (alpha = beta = gamma "
                "= 1/2, hour-of-day season m=24) of event values in "
                "(ts, event_id) order — completes the forecasting "
                "ladder EWMA -> Holt -> Holt-Winters with the first "
                "MULTI-STATE ordered fold: the accumulator carries "
                "(level, trend, 24 seasonals) and every step is adds, "
                "subtracts and exact exponent-shift halvings in the "
                "IDENTICAL IEEE sequence in both engines (oracle = "
                "recursive CTE carrying a LIST column — per the "
                "list_reduce struct-mutation quirk, recursive CTEs "
                "are the only safe DuckDB form for multi-state "
                "folds). Emits the next-hour seasonal forecast "
                "level + trend + s[next slot] and the seasonal "
                "spread. Scale shape: per-user arrays (the "
                "events_ewma_value SCALE BOUND note applies "
                "verbatim)",
    tags=("events", "window", "stats", "forecast", "timeseries"),
)
def events_holtwinters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    items = F.transform(
        F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
        lambda s: F.struct(s["value"].cast("double").alias("x"),
                           F.hour(s["ts"]).cast("int").alias("h")))
    g = ev.groupBy("user_id").agg(items.alias("it"))
    seed = F.struct(
        F.element_at("it", 1)["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.array_repeat(F.lit(0.0), 24).alias("s"))

    def step(acc, e):
        l2 = ((e["x"] - F.element_at(acc["s"], e["h"] + 1))
              + (acc["l"] + acc["b"])) / 2
        s2 = F.transform(
            F.sequence(F.lit(1), F.lit(24)),
            lambda j: F.when(
                j == e["h"] + 1,
                ((e["x"] - l2) + F.element_at(acc["s"], j)) / 2)
            .otherwise(F.element_at(acc["s"], j)))
        return F.struct(l2.alias("l"),
                        (((l2 - acc["l"]) + acc["b"]) / 2).alias("b"),
                        s2.alias("s"))

    st = F.aggregate(F.expr("slice(it, 2, size(it) - 1)"), seed, step)
    hlast = F.element_at("it", F.size("it"))["h"]
    snext = F.element_at(st["s"], ((hlast + F.lit(1)) % 24) + 1)
    return g.select(
        "user_id", F.size("it").cast("long").alias("n_events"),
        st["l"].alias("level"), st["b"].alias("trend"),
        snext.alias("s_next"),
        (st["l"] + st["b"] + snext).alias("forecast_next"),
        (F.array_max(st["s"]) - F.array_min(st["s"])).alias("s_spread"))


_BV_INF = 1_000_000_000_000_000


@register(
    "events_burst_viterbi",
    oracle=f"""
    WITH RECURSIVE ord AS (
      SELECT user_id, epoch_us(ts) AS us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS i
      FROM events),
    nn AS (SELECT user_id, max(i) AS n, min(us) AS us0, max(us) AS usn
           FROM ord GROUP BY user_id
           HAVING max(i) >= 2 AND max(us) > min(us)),
    rates AS (
      SELECT user_id, n,
             CAST(n - 1 AS DOUBLE)
               / (CAST(usn - us0 AS DOUBLE) / 1000000) AS a0,
             CAST(n - 1 AS DOUBLE)
               / (CAST(usn - us0 AS DOUBLE) / 1000000) * 2.0 AS a1,
             CAST(round(ln(CAST(n - 1 AS DOUBLE)) * 1000000)
                  AS BIGINT) AS tau
      FROM nn),
    gaps AS (
      SELECT o2.user_id, o2.i - 1 AS i,
             CAST(o2.us - o1.us AS DOUBLE) / 1000000 AS x
      FROM ord o2 JOIN ord o1
        ON o1.user_id = o2.user_id AND o1.i = o2.i - 1),
    v AS (
      SELECT user_id, 0 AS i, CAST(0 AS BIGINT) AS c0,
             CAST({_BV_INF} AS BIGINT) AS c1,
             CAST(0 AS BIGINT) AS b0, CAST(0 AS BIGINT) AS b1
      FROM rates
      UNION ALL
      SELECT user_id, i, LEAST(c0, c1) + e0 AS c0,
             LEAST(c0 + tau, c1) + e1 AS c1,
             CASE WHEN c0 <= c1 THEN b0 ELSE b1 END AS b0,
             CASE WHEN c0 + tau < c1 THEN b0 + 1 ELSE b1 END AS b1
      FROM (SELECT v.user_id, g.i, v.c0, v.c1, v.b0, v.b1, r.tau,
                   CAST(round((r.a0 * g.x - ln(r.a0)) * 1000000)
                        AS BIGINT) AS e0,
                   CAST(round((r.a1 * g.x - ln(r.a1)) * 1000000)
                        AS BIGINT) AS e1
            FROM v JOIN gaps g
              ON g.user_id = v.user_id AND g.i = v.i + 1
            JOIN rates r ON r.user_id = v.user_id))
    SELECT v.user_id, CAST(r.n AS BIGINT) AS n_events,
           CASE WHEN c0 <= c1 THEN b0 ELSE b1 END AS n_bursts,
           CAST(LEAST(c0, c1) AS DOUBLE) / 1000000 AS min_cost,
           c1 < c0 AS in_burst_at_end
    FROM v JOIN rates r ON r.user_id = v.user_id AND v.i = r.n - 1
    ORDER BY v.user_id
    """,
    description="Kleinberg 2-state burst detection per user, exactly: "
                "gaps between consecutive events feed a min-plus "
                "VITERBI over a base state (rate a0 = n_gaps/span) "
                "and a burst state (a1 = 2*a0), up-transition cost "
                "gamma*ln(n); reports the optimal-path burst count, "
                "its cost, and whether the user ends inside a burst — "
                "the principled 'is this activity spike real' "
                "primitive that thresholded rate anomaly flags "
                "approximate. The fold state is FOUR integers "
                "(c0, c1 path costs + burst counts carried through "
                "each argmin with strict/non-strict tie-breaks that "
                "prefer the base state), every emission cost "
                "a_i*x - ln(a_i) is pinned to the 1e-6 grid at birth, "
                "so the whole dynamic program is exact integer "
                "min-plus — oracle = recursive CTE running the "
                "identical recurrence. Scale shape: per-user ordered "
                "fold, the events_ewma_value SCALE BOUND class. A "
                "streaming form carries the same four integers per "
                "user but needs a0 fixed up front (a base-period "
                "estimate) — the batch rates here are whole-series, "
                "deliberately",
    tags=("events", "window", "stats", "timeseries"),
)
def events_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("user_id", F.unix_micros("ts").alias("us"), "event_id")
    g = (s.groupBy("user_id")
         .agg(F.array_sort(F.collect_list(F.struct("us", "event_id")))
              .alias("arr")))
    g = g.filter((F.size("arr") >= 2)
                 & (F.element_at("arr", F.size("arr"))["us"]
                    > F.element_at("arr", 1)["us"]))
    n = F.size("arr")
    span = ((F.element_at("arr", n)["us"]
             - F.element_at("arr", 1)["us"]).cast("double")
            / F.lit(1000000))
    a0 = (n - 1).cast("double") / span
    a1 = a0 * F.lit(2.0)
    tau = F.round(F.ln((n - 1).cast("double")) * 1_000_000).cast("long")
    g = g.select("user_id", "arr", n.alias("n"), a0.alias("a0"),
                 a1.alias("a1"), tau.alias("tau"))
    gaps = F.transform(
        F.sequence(F.lit(2), F.col("n")),
        lambda i: (F.element_at("arr", i)["us"]
                   - F.element_at("arr", i - 1)["us"]).cast("double")
        / F.lit(1000000))
    seed = F.struct(
        F.lit(0).cast("long").alias("c0"),
        F.lit(_BV_INF).cast("long").alias("c1"),
        F.lit(0).cast("long").alias("b0"),
        F.lit(0).cast("long").alias("b1"))

    def step(acc, x):
        e0 = F.round((F.col("a0") * x - F.ln("a0")) * 1_000_000) \
            .cast("long")
        e1 = F.round((F.col("a1") * x - F.ln("a1")) * 1_000_000) \
            .cast("long")
        f01 = acc["c0"] + F.col("tau")
        return F.struct(
            (F.least(acc["c0"], acc["c1"]) + e0).alias("c0"),
            (F.least(f01, acc["c1"]) + e1).alias("c1"),
            F.when(acc["c0"] <= acc["c1"], acc["b0"])
            .otherwise(acc["b1"]).alias("b0"),
            F.when(f01 < acc["c1"], acc["b0"] + 1)
            .otherwise(acc["b1"]).alias("b1"))

    st = F.aggregate(gaps, seed, step)
    return (g.select(
        "user_id", F.col("n").cast("long").alias("n_events"),
        F.when(st["c0"] <= st["c1"], st["b0"]).otherwise(st["b1"])
        .alias("n_bursts"),
        (F.least(st["c0"], st["c1"]).cast("double") / F.lit(1000000))
        .alias("min_cost"),
        (st["c1"] < st["c0"]).alias("in_burst_at_end"))
        .orderBy("user_id"))


@register(
    "events_markov_entropy",
    oracle="""
    WITH j AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    obs AS (SELECT event_type AS f, next_type AS t,
                   CAST(COUNT(*) AS BIGINT) AS o
            FROM j WHERE next_type IS NOT NULL GROUP BY 1, 2),
    rt AS (SELECT f, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY f),
    nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    h AS (SELECT CAST(SUM(CAST(o AS HUGEINT)
                          * CAST(round(ln(CAST(r AS DOUBLE)
                                          / CAST(o AS DOUBLE))
                                       * 1000000) AS BIGINT))
                      AS BIGINT) AS hw
          FROM obs JOIN rt USING (f)),
    hm AS (SELECT CAST(SUM(CAST(r AS HUGEINT)
                           * CAST(round(ln(CAST(n AS DOUBLE)
                                           / CAST(r AS DOUBLE))
                                        * 1000000) AS BIGINT))
                       AS BIGINT) AS hmw
           FROM rt CROSS JOIN nt)
    SELECT n,
           CAST(hw AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
             AS h_cond_nats,
           CAST(hmw AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
             AS h_marginal_nats,
           1.0 - (CAST(hw AS DOUBLE)
                  / (CAST(n AS DOUBLE) * 1000000.0))
                 / (CAST(hmw AS DOUBLE)
                    / (CAST(n AS DOUBLE) * 1000000.0))
             AS predictability_gain
    FROM h CROSS JOIN hm CROSS JOIN nt
    """,
    description="entropy rate of the user-journey Markov chain: the "
                "conditional entropy H(next|current) over the "
                "transition bigrams vs the marginal H(next) — "
                "predictability_gain = 1 - H(next|cur)/H(next) is the "
                "fraction of next-step uncertainty the current state "
                "removes (0 here would mean journeys are memoryless). "
                "The information-theoretic summary of "
                "events_transition_matrix, on the same one-exchange "
                "bigram census: both entropies are exact "
                "count-weighted pinned-ln integer folds over the "
                "5x5-bounded matrix (the MI/Theil idiom), so each "
                "output is a division of exact bigints",
    tags=("events", "stats"),
)
def events_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    obs = (ev.select(F.col("event_type").alias("f"),
                     F.lead("event_type").over(w).alias("t"))
           .filter(F.col("t").isNotNull())
           .groupBy("f", "t").agg(F.count(F.lit(1)).cast("long")
                                  .alias("o")))
    rt = obs.groupBy("f").agg(F.sum("o").cast("long").alias("r"))
    nt = obs.agg(F.sum("o").cast("long").alias("n"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    d38 = "decimal(38,0)"
    pin = lambda x: F.round(F.ln(x) * 1_000_000).cast("long")  # noqa: E731
    h = (obs.join(rt, "f")
         .select((F.col("o").cast(d38) * pin(dd("r") / dd("o")))
                 .alias("tw"))
         .agg(F.sum("tw").cast("long").alias("hw")))
    hm = (rt.crossJoin(F.broadcast(nt))
          .select((F.col("r").cast(d38) * pin(dd("n") / dd("r")))
                  .alias("tw"))
          .agg(F.sum("tw").cast("long").alias("hmw")))
    hc = dd("hw") / (dd("n") * F.lit(1000000.0))
    hmn = dd("hmw") / (dd("n") * F.lit(1000000.0))
    return (h.crossJoin(hm).crossJoin(nt)
            .select("n", hc.alias("h_cond_nats"),
                    hmn.alias("h_marginal_nats"),
                    (F.lit(1.0) - hc / hmn).alias("predictability_gain")))


_PH_DELTA_W = 500_000        # 0.5 slack, scaled 1e6
_PH_LAMBDA_W = 1_000_000_000  # 1000.0 alarm threshold, scaled 1e6


@register(
    "events_page_hinkley",
    oracle=f"""
    WITH s AS (SELECT event_type, event_id, epoch_us(ts) AS us,
                      CAST(round(value * 1000000) AS BIGINT) AS xw
               FROM events),
    mu AS (SELECT event_type,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(round(CAST(SUM(CAST(xw AS HUGEINT)) AS DOUBLE)
                             / COUNT(*)) AS BIGINT) AS muw
           FROM s GROUP BY 1),
    dev AS (SELECT s.event_type, s.event_id, s.us,
                   s.xw - mu.muw - {_PH_DELTA_W} AS d
            FROM s JOIN mu USING (event_type)),
    pm AS (SELECT event_type, event_id, us,
                  SUM(d) OVER w AS m
           FROM dev
           WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW)),
    ex AS (SELECT event_type, us,
                  m - MIN(m) OVER w AS exc
           FROM pm
           WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW))
    SELECT mu.event_type, mu.n,
           CAST(mu.muw AS DOUBLE) / 1000000.0 AS mu,
           CAST(MAX(ex.exc) AS DOUBLE) / 1000000.0 AS max_excursion,
           CAST(SUM(CASE WHEN ex.exc > {_PH_LAMBDA_W} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_alarms,
           MIN(CASE WHEN ex.exc > {_PH_LAMBDA_W} THEN ex.us END)
             AS first_alarm_us
    FROM ex JOIN mu USING (event_type)
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
    description="Page-Hinkley upward-drift detector per event type "
                "(two-pass reference-mean form): cumulative deviation "
                "m_t = sum(x_i - mu - delta) and its running minimum "
                "M_t; an alarm fires when the excursion m_t - M_t "
                "exceeds lambda — the classic sequential "
                "change-detection statistic next to CUSUM's argmax "
                "form, answering WHEN the value level drifted up, "
                "per type. Exact: values pinned at birth, mu pinned "
                "once per type, every running quantity an exact "
                "integer. Scale shape: both the per-type prefix SUM "
                "and the prefix MIN of it ride grouped_prefix_aggs "
                "(range-repartition + per-(partition,type) windows + "
                "driver carries bounded at partitions x types) — no "
                "per-type ordered window over raw rows",
    tags=("events", "stats", "streaming", "scale"),
)
def events_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type", "event_id",
                  F.unix_micros("ts").alias("us"),
                  F.round(F.col("value") * 1_000_000).cast("long")
                  .alias("xw"))
    d38 = "decimal(38,0)"
    mu = (s.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.round(F.sum(F.col("xw").cast(d38)).cast("double")
                       / F.count(F.lit(1))).cast("long").alias("muw")))
    dev = (s.join(F.broadcast(mu), "event_type")
           .select("event_type", "event_id", "us",
                   (F.col("xw") - F.col("muw") - F.lit(_PH_DELTA_W))
                   .alias("d")))
    # one-pass running sum + running min-of-sum (r11): identical exact
    # integers to the former two-call chain, one repartition + one
    # ordered pass instead of two
    pm, _ = grouped_prefix_aggs(dev, ["event_type"], ["us", "event_id"],
                                {"m": "d"}, min_of_sums={"mm": "m"})
    ex = pm.select("event_type", "us",
                   (F.col("m") - F.col("mm")).alias("exc"))
    alarm = F.col("exc") > _PH_LAMBDA_W
    agg = (ex.groupBy("event_type")
           .agg((F.max("exc").cast("double") / 1e6)
                .alias("max_excursion"),
                F.sum(F.when(alarm, 1).otherwise(0)).cast("long")
                .alias("n_alarms"),
                F.min(F.when(alarm, F.col("us"))).alias("first_alarm_us")))
    return (mu.join(agg, "event_type")
            .select("event_type", "n",
                    (F.col("muw").cast("double") / 1e6).alias("mu"),
                    "max_excursion", "n_alarms", "first_alarm_us")
            .orderBy("event_type"))


_XC_A, _XC_B = "click", "purchase"
_XC_MAXLAG = 6


@register(
    "events_xcorr_types",
    oracle=f"""
    WITH s AS (SELECT epoch_us(ts) AS us, event_type FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT (us - tmin) // 3600000000 AS hr, event_type
          FROM s CROSS JOIN anchor),
    span AS (SELECT max(hr) AS hmax FROM h),
    grid AS (SELECT UNNEST(range(0, hmax + 1)) AS hr FROM span),
    ca AS (SELECT g.hr,
                  CAST(COALESCE(x.c, 0) AS BIGINT) AS a,
                  CAST(COALESCE(y.c, 0) AS BIGINT) AS b
           FROM grid g
           LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h
                      WHERE event_type = '{_XC_A}' GROUP BY 1) x
             USING (hr)
           LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h
                      WHERE event_type = '{_XC_B}' GROUP BY 1) y
             USING (hr)),
    l AS (SELECT UNNEST(range(-{_XC_MAXLAG}, {_XC_MAXLAG} + 1))
            AS lag),
    p AS (SELECT l.lag, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(u.a AS HUGEINT)) AS sx,
                 SUM(CAST(v.b AS HUGEINT)) AS sy,
                 SUM(CAST(u.a AS HUGEINT) * u.a) AS sxx,
                 SUM(CAST(v.b AS HUGEINT) * v.b) AS syy,
                 SUM(CAST(u.a AS HUGEINT) * v.b) AS sxy
          FROM ca u CROSS JOIN l JOIN ca v ON v.hr = u.hr + l.lag
          GROUP BY l.lag)
    SELECT lag, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / NULLIF(sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                    0.0) AS xcorr
    FROM p ORDER BY lag
    """,
    description=f"lead-lag cross-correlation between the hourly "
                f"'{_XC_A}' and '{_XC_B}' count series at lags "
                f"-{_XC_MAXLAG}..{_XC_MAXLAG}: does click activity "
                "LEAD purchases (positive lag = clicks earlier)? The "
                "causal-direction screen next to events_acf's "
                "self-similarity. Densified hour grid (missing hours "
                "are real zeros, not absent rows), exact HUGEINT/"
                "decimal moment sums per lag, Pearson assembled in "
                "one shared double tree (sqrt is IEEE-correctly-"
                "rounded, so cross-engine safe; NULLIF guards a "
                "constant series). Scale shape: the grid is bounded "
                "by the time span (k-row-codebook class) — the only "
                "data-sized stage is the hour groupBy",
    tags=("events", "stats", "forecast"),
)
def events_xcorr_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"), "event_type")
    anchor = s.agg(F.min("us").alias("tmin"))
    h = (s.crossJoin(F.broadcast(anchor))
         .select(((F.col("us") - F.col("tmin"))
                  / F.lit(3_600_000_000)).cast("long").alias("hr"),
                 "event_type"))
    cnt = lambda t: (h.filter(F.col("event_type") == t)  # noqa: E731
                     .groupBy("hr").agg(F.count(F.lit(1)).alias("c")))
    span = h.agg(F.max("hr").alias("hmax"))
    grid = (span.select(F.explode(F.sequence(F.lit(0), F.col("hmax")))
                        .alias("hr")))
    # bounded (time-span) grid, checkpointed eagerly: it feeds BOTH
    # sides of the lag self-join below and unioned/self-joined branches
    # get no CSE — without this the data-sized counts run twice
    ca = (grid.join(cnt(_XC_A).withColumnRenamed("c", "ac"), "hr",
                    "left")
          .join(cnt(_XC_B).withColumnRenamed("c", "bc"), "hr", "left")
          .select("hr", F.coalesce("ac", F.lit(0)).cast("long")
                  .alias("a"),
                  F.coalesce("bc", F.lit(0)).cast("long").alias("b"))
          .localCheckpoint(eager=True))
    lags = spark.range(-_XC_MAXLAG, _XC_MAXLAG + 1) \
        .select(F.col("id").cast("long").alias("lag"))
    d38 = "decimal(38,0)"
    u, v = ca.alias("u"), ca.alias("v")
    p = (u.crossJoin(F.broadcast(lags))
         .join(v, F.col("v.hr") == F.col("u.hr") + F.col("lag"))
         .groupBy("lag")
         .agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col("u.a").cast(d38)).alias("sx"),
              F.sum(F.col("v.b").cast(d38)).alias("sy"),
              F.sum(F.col("u.a").cast(d38) * F.col("u.a"))
              .alias("sxx"),
              F.sum(F.col("v.b").cast(d38) * F.col("v.b"))
              .alias("syy"),
              F.sum(F.col("u.a").cast(d38) * F.col("v.b"))
              .alias("sxy")))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    num = dd("n") * dd("sxy") - dd("sx") * dd("sy")
    den = (F.sqrt(dd("n") * dd("sxx") - dd("sx") * dd("sx"))
           * F.sqrt(dd("n") * dd("syy") - dd("sy") * dd("sy")))
    return (p.select("lag", "n",
                     (num / F.nullif(den, F.lit(0.0))).alias("xcorr"))
            .orderBy("lag"))


_HAAR_N = 512  # 2^9 hours from tmin; 9 decomposition levels


def _haar_oracle() -> str:
    # unrolled halving: level k holds 2^(9-k) approximation sums and
    # 2^(9-k) detail differences; energies are exact integer sums
    lvls = []
    for k in range(1, 10):
        prev = f"a{k - 1}"
        lvls.append(f"""
    a{k} AS (SELECT list_transform(range(1, len(a) // 2 + 1),
                      i -> a[2 * i - 1] + a[2 * i]) AS a,
                    list_transform(range(1, len(a) // 2 + 1),
                      i -> a[2 * i - 1] - a[2 * i]) AS d
             FROM {prev})""")
    energy_rows = ",\n      ".join(
        f"({k}, (SELECT CAST(len(d) AS BIGINT) FROM a{k}), "
        f"(SELECT CAST(COALESCE(list_sum(list_transform(d, "
        f"x -> CAST(x AS HUGEINT) * x)), 0) AS BIGINT) FROM a{k}))"
        for k in range(1, 10))
    return f"""
    WITH s AS (SELECT epoch_us(ts) AS us FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT (us - tmin) // 3600000000 AS hr
          FROM s CROSS JOIN anchor
          WHERE (us - tmin) // 3600000000 < {_HAAR_N}),
    c AS (SELECT g.hr, CAST(COALESCE(x.c, 0) AS BIGINT) AS v
          FROM (SELECT UNNEST(range(0, {_HAAR_N})) AS hr) g
          LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h GROUP BY 1) x
            USING (hr)),
    a0 AS (SELECT list(v ORDER BY hr) AS a FROM c),{",".join(lvls)}
    SELECT * FROM (VALUES
      {energy_rows}) t(level, n_coeffs, detail_energy)
    ORDER BY level
    """


@register(
    "events_wavelet_haar",
    oracle=_haar_oracle(),
    description=f"unnormalized Haar wavelet decomposition of the "
                f"first {_HAAR_N} hours of the event-count series: "
                "per level, the sum of squared detail coefficients "
                "(a_odd - a_even differences of the previous level's "
                "pairwise sums) — the multi-resolution burstiness "
                "spectrum: level-1 energy = hour-to-hour jitter, "
                "level-9 = half-window-vs-half-window drift, the "
                "scale-localized complement of events_acf. "
                "Unnormalized ints (no sqrt2) keep every coefficient "
                "and every energy an EXACT integer — zero float "
                "anywhere. Scale shape: one data-sized hour groupBy, "
                f"then nine folds over a constant {_HAAR_N}-element "
                "array on a one-row frame",
    tags=("events", "stats", "forecast"),
)
def events_wavelet_haar(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"))
    anchor = s.agg(F.min("us").alias("tmin"))
    h = (s.crossJoin(F.broadcast(anchor))
         .select(((F.col("us") - F.col("tmin"))
                  / F.lit(3_600_000_000)).cast("long").alias("hr"))
         .filter(F.col("hr") < _HAAR_N))
    cnt = h.groupBy("hr").agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = spark.range(_HAAR_N).select(F.col("id").alias("hr"))
    c = (grid.join(cnt, "hr", "left")
         .select("hr", F.coalesce("c", F.lit(0)).cast("long")
                 .alias("v")))
    # eager one-row checkpoint: the nine per-level branches below are
    # UNIONed (no CSE), so without it each branch would re-run the
    # data-sized hour census
    a0 = c.agg(F.array_sort(F.collect_list(F.struct("hr", "v")))
               .alias("s")).select(
        F.transform("s", lambda x: x["v"]).alias("a")) \
        .localCheckpoint(eager=True)

    # ONE transform producing (sum, diff) structs per level, split
    # afterward. Two sibling transforms over the same sequence would
    # be the obvious shape, but whole-stage codegen's common-
    # subexpression elimination merges their identical sequence
    # arguments and mis-binds the lambda variables across the two
    # ArrayTransforms — element_at then indexes the SEQUENCE instead
    # of the data array and throws INVALID_ARRAY_INDEX (reproduced on
    # Spark 4.1: two halves() in one select fail even over a
    # checkpointed plain column; the struct form runs 9 levels deep).
    def _level(frame):
        pairs = F.transform(
            F.sequence(F.lit(1), (F.size("a") / 2).cast("int")),
            lambda i: F.struct(
                (F.element_at("a", (i * 2 - 1).cast("int"))
                 + F.element_at("a", (i * 2).cast("int"))).alias("s"),
                (F.element_at("a", (i * 2 - 1).cast("int"))
                 - F.element_at("a", (i * 2).cast("int"))).alias("d")))
        return frame.select(pairs.alias("p")).select(
            F.transform("p", lambda x: x["s"]).alias("a"),
            F.transform("p", lambda x: x["d"]).alias("d"))

    d38 = "decimal(38,0)"
    rows = []
    cur = a0
    for k in range(1, 10):
        cur = _level(cur)
        rows.append(cur.select(
            F.lit(k).cast("long").alias("level"),
            F.size("d").cast("long").alias("n_coeffs"),
            F.aggregate("d", F.lit(0).cast(d38),
                        lambda acc, x: acc + x.cast(d38) * x)
            .cast("long").alias("detail_energy")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out.orderBy("level")


_SAX_SEG = 8          # hours per PAA segment
_SAX_BP_W = 674490    # round(0.6745 * 1e6): N(0,1) quartile breakpoints


@register(
    "events_sax_symbols",
    oracle=f"""
    WITH s AS (SELECT epoch_us(ts) AS us FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT (us - tmin) // 3600000000 AS hr
          FROM s CROSS JOIN anchor),
    span AS (SELECT max(hr) AS hmax FROM h),
    grid AS (SELECT UNNEST(range(0, hmax + 1)) AS hr FROM span),
    c AS (SELECT g.hr, CAST(COALESCE(x.c, 0) AS BIGINT) AS v
          FROM grid g
          LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h GROUP BY 1) x
            USING (hr)),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(v AS HUGEINT)) AS sv,
                 SUM(CAST(v AS HUGEINT) * v) AS svv
          FROM c),
    paa AS (SELECT hr // {_SAX_SEG} AS seg,
                   CAST(COUNT(*) AS BIGINT) AS seg_n,
                   SUM(CAST(v AS HUGEINT)) AS seg_sv
            FROM c GROUP BY 1),
    z AS (SELECT seg, seg_n,
                 CAST(seg_sv AS DOUBLE) / seg_n AS paa_mean,
                 CAST(round((CAST(seg_sv AS DOUBLE) / seg_n
                             - CAST(sv AS DOUBLE) / n)
                   / sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                           - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                          / (CAST(n AS DOUBLE) * (n - 1)))
                   * 1000000) AS BIGINT) AS zw
          FROM paa CROSS JOIN m)
    SELECT seg, seg_n, paa_mean,
           CAST(zw AS DOUBLE) / 1000000.0 AS z,
           CASE WHEN zw < -{_SAX_BP_W} THEN 'a'
                WHEN zw < 0 THEN 'b'
                WHEN zw < {_SAX_BP_W} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z ORDER BY seg
    """,
    description=f"SAX symbolization of the hourly event-count series: "
                f"PAA over {_SAX_SEG}-hour segments, z-normalization "
                "against the whole series (sample std), then the "
                "4-letter Gaussian-quartile alphabet (a < -0.6745 < "
                "b < 0 < c < 0.6745 < d) — the discretization that "
                "turns a time series into a STRING, unlocking the "
                "repo's text machinery (n-gram dedup, fingerprints, "
                "motif counting) for sensor/traffic data. "
                "Determinism: counts and moment sums are exact "
                "integers; z is pinned to the 1e-6 grid BEFORE the "
                "breakpoint comparison, and the breakpoints are "
                "scaled-integer constants, so the symbol decision is "
                "an integer comparison — no boundary ulp exposure. "
                "Scale shape: the grid is time-span-bounded; the one "
                "data-sized stage is the hour census",
    tags=("events", "text", "forecast", "streaming"),
)
def events_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"))
    anchor = s.agg(F.min("us").alias("tmin"))
    h = (s.crossJoin(F.broadcast(anchor))
         .select(((F.col("us") - F.col("tmin"))
                  / F.lit(3_600_000_000)).cast("long").alias("hr")))
    cnt = h.groupBy("hr").agg(F.count(F.lit(1)).alias("c"))
    span = h.agg(F.max("hr").alias("hmax"))
    grid = span.select(F.explode(F.sequence(F.lit(0), F.col("hmax")))
                       .alias("hr"))
    c = (grid.join(cnt, "hr", "left")
         .select("hr", F.coalesce("c", F.lit(0)).cast("long")
                 .alias("v"))
         .localCheckpoint(eager=True))  # bounded; feeds m and paa
    d38 = "decimal(38,0)"
    m = c.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col("v").cast(d38)).alias("sv"),
              F.sum(F.col("v").cast(d38) * F.col("v")).alias("svv"))
    paa = (c.groupBy((F.col("hr") / _SAX_SEG).cast("long").alias("seg"))
           .agg(F.count(F.lit(1)).cast("long").alias("seg_n"),
                F.sum(F.col("v").cast(d38)).alias("seg_sv")))
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    paa_mean = dd("seg_sv") / F.col("seg_n")
    std = F.sqrt((dd("n") * dd("svv") - dd("sv") * dd("sv"))
                 / (dd("n") * (F.col("n") - 1)))
    zw = F.round((paa_mean - dd("sv") / F.col("n")) / std
                 * 1_000_000).cast("long")
    z = (paa.crossJoin(F.broadcast(m))
         .select("seg", "seg_n", paa_mean.alias("paa_mean"),
                 zw.alias("zw")))
    sym = (F.when(F.col("zw") < -_SAX_BP_W, "a")
           .when(F.col("zw") < 0, "b")
           .when(F.col("zw") < _SAX_BP_W, "c")
           .otherwise("d"))
    return (z.select("seg", "seg_n", "paa_mean",
                     (F.col("zw").cast("double") / 1e6).alias("z"),
                     sym.alias("symbol"))
            .orderBy("seg"))


_HURST_N = 512
_HURST_WS = (16, 32, 64, 128)


def _hurst_oracle() -> str:
    per_w = []
    for w in _HURST_WS:
        per_w.append(f"""
    blk{w} AS (
      SELECT {w} AS w, b,
             (SELECT a FROM a0)[b * {w} + 1 : b * {w} + {w}] AS blk
      FROM (SELECT UNNEST(range(0, {_HURST_N // w})) AS b)),
    st{w} AS (
      SELECT w, b, blk,
             list_sum(blk) AS s,
             list_sum(list_transform(blk,
               x -> CAST(x AS HUGEINT) * x)) AS s2
      FROM blk{w}),
    rs{w} AS (
      SELECT w,
             CASE WHEN CAST(s2 AS DOUBLE) / {w}
                       - (CAST(s AS DOUBLE) / {w})
                         * (CAST(s AS DOUBLE) / {w}) > 0
             THEN CAST(round((
               list_max(list_transform(range(1, {w} + 1),
                 j -> CAST(list_sum(blk[1:j]) AS DOUBLE)
                      - j * (CAST(s AS DOUBLE) / {w})))
               - list_min(list_transform(range(1, {w} + 1),
                 j -> CAST(list_sum(blk[1:j]) AS DOUBLE)
                      - j * (CAST(s AS DOUBLE) / {w}))))
               / sqrt(CAST(s2 AS DOUBLE) / {w}
                      - (CAST(s AS DOUBLE) / {w})
                        * (CAST(s AS DOUBLE) / {w}))
               * 1000000) AS BIGINT) END AS rsw
      FROM st{w})""")
    union = " UNION ALL ".join(f"SELECT w, rsw FROM rs{w}"
                               for w in _HURST_WS)
    return f"""
    WITH s AS (SELECT epoch_us(ts) AS us FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT (us - tmin) // 3600000000 AS hr
          FROM s CROSS JOIN anchor
          WHERE (us - tmin) // 3600000000 < {_HURST_N}),
    c AS (SELECT g.hr, CAST(COALESCE(x.c, 0) AS BIGINT) AS v
          FROM (SELECT UNNEST(range(0, {_HURST_N})) AS hr) g
          LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h GROUP BY 1) x
            USING (hr)),
    a0 AS (SELECT list(v ORDER BY hr) AS a FROM c),{",".join(per_w)},
    allrs AS ({union}),
    pw AS (SELECT w,
                  CAST(COUNT(rsw) AS BIGINT) AS n_blocks,
                  CAST(SUM(rsw) AS BIGINT) AS rs_sum
           FROM allrs GROUP BY w),
    pts AS (SELECT w, n_blocks,
                   CAST(SUM(rs_sum) AS BIGINT) AS rs_sum,
                   CAST(round(ln(CAST(w AS DOUBLE)) * 1000000)
                        AS BIGINT) AS x,
                   CAST(round(ln(CAST(rs_sum AS DOUBLE)
                                 / n_blocks / 1000000.0) * 1000000)
                        AS BIGINT) AS y
            FROM pw GROUP BY w, n_blocks, rs_sum),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
                 SUM(CAST(x AS HUGEINT)) AS sx,
                 SUM(CAST(y AS HUGEINT)) AS sy,
                 SUM(CAST(x AS HUGEINT) * x) AS sxx,
                 SUM(CAST(x AS HUGEINT) * y) AS sxy
          FROM pts)
    SELECT k AS n_window_sizes,
           (CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS hurst_h
    FROM m
    """


@register(
    "events_hurst_rs",
    oracle=_hurst_oracle(),
    description=f"Hurst exponent of the hourly event-count series by "
                f"classic rescaled-range (R/S) analysis over the "
                f"first {_HURST_N} hours: for window sizes "
                f"{_HURST_WS}, each block's range of cumulative "
                "deviations over its std, averaged per size, then "
                "H = slope of ln(R/S) vs ln(w) — the long-range-"
                "dependence diagnostic (H=0.5 memoryless, H>0.5 "
                "persistent/bursty) that says whether the Holt/"
                "Holt-Winters smoothers' geometric-decay memory is "
                "even the right model class. Determinism: block "
                "prefix sums are exact integers, each block's R/S "
                "pins to the 1e-6 grid before the per-size mean, the "
                "two ln() calls pin at birth, and the 4-point OLS "
                "runs on exact integer moments; zero-variance "
                "(all-quiet) blocks are excluded by a pinned "
                "predicate identically in both engines. Scale shape: "
                "one data-sized hour census; everything after is a "
                "constant 60-block frame",
    tags=("events", "stats", "forecast"),
)
def events_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"))
    anchor = s.agg(F.min("us").alias("tmin"))
    h = (s.crossJoin(F.broadcast(anchor))
         .select(((F.col("us") - F.col("tmin"))
                  / F.lit(3_600_000_000)).cast("long").alias("hr"))
         .filter(F.col("hr") < _HURST_N))
    cnt = h.groupBy("hr").agg(F.count(F.lit(1)).cast("long").alias("c"))
    grid = spark.range(_HURST_N).select(F.col("id").alias("hr"))
    c = (grid.join(cnt, "hr", "left")
         .select("hr", F.coalesce("c", F.lit(0)).cast("long")
                 .alias("v")))
    a0 = (c.agg(F.array_sort(F.collect_list(F.struct("hr", "v")))
                .alias("s"))
          .select(F.transform("s", lambda x: x["v"]).alias("a"))
          .localCheckpoint(eager=True))  # one-row; feeds 4 w-branches
    # one ROW per (w, block): no sibling ArrayTransforms over identical
    # sequences in one select (the codegen CSE lambda bug — see
    # events_wavelet_haar)
    ws = F.explode(F.array(*[F.lit(w) for w in _HURST_WS])).alias("w")
    rows = (a0.select("a", ws)
            .select("a", "w",
                    F.explode(F.sequence(
                        F.lit(0),
                        (F.lit(_HURST_N) / F.col("w")).cast("int") - 1))
                    .alias("b"))
            .select("w", "b",
                    F.slice("a", (F.col("b") * F.col("w") + 1)
                            .cast("int"), F.col("w").cast("int"))
                    .alias("blk")))
    d38 = "decimal(38,0)"
    st = rows.select(
        "w", "blk",
        F.aggregate("blk", F.lit(0).cast("long"),
                    lambda acc, x: acc + x).alias("s"),
        F.aggregate("blk", F.lit(0).cast(d38),
                    lambda acc, x: acc + x.cast(d38) * x).alias("s2"))
    wd = F.col("w").cast("double")
    mu = F.col("s").cast("double") / wd
    var = F.col("s2").cast("double") / wd - mu * mu
    # y_j = P_j - j*mu: the fold carries (j, exact integer prefix P,
    # running min/max of the double y) — P stays exact, y is the same
    # shared double tree as the oracle's slice-sum form
    fold = F.aggregate(
        "blk",
        F.struct(F.lit(0).cast("long").alias("j"),
                 F.lit(0).cast("long").alias("p"),
                 F.lit(float("inf")).alias("mn"),
                 F.lit(float("-inf")).alias("mx")),
        lambda acc, x: F.struct(
            (acc["j"] + 1).alias("j"),
            (acc["p"] + x).alias("p"),
            F.least(acc["mn"],
                    (acc["p"] + x).cast("double")
                    - (acc["j"] + 1).cast("double") * mu).alias("mn"),
            F.greatest(acc["mx"],
                       (acc["p"] + x).cast("double")
                       - (acc["j"] + 1).cast("double") * mu)
            .alias("mx")))
    rsw = F.when(var > 0,
                 F.round((fold["mx"] - fold["mn"]) / F.sqrt(var)
                         * 1_000_000).cast("long"))
    pw = (st.select("w", rsw.alias("rsw"))
          .groupBy("w")
          .agg(F.count("rsw").cast("long").alias("n_blocks"),
               F.sum("rsw").cast("long").alias("rs_sum")))
    pts = pw.select(
        F.round(F.ln(F.col("w").cast("double")) * 1_000_000)
        .cast("long").alias("x"),
        F.round(F.ln(F.col("rs_sum").cast("double")
                     / F.col("n_blocks") / 1e6) * 1_000_000)
        .cast("long").alias("y"))
    m = pts.agg(F.count(F.lit(1)).cast("long").alias("k"),
                F.sum(F.col("x").cast(d38)).alias("sx"),
                F.sum(F.col("y").cast(d38)).alias("sy"),
                F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
                F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"))
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    slope = ((dd("k") * dd("sxy") - dd("sx") * dd("sy"))
             / (dd("k") * dd("sxx") - dd("sx") * dd("sx")))
    return m.select(F.col("k").alias("n_window_sizes"),
                    slope.alias("hurst_h"))


_PGRAM_PERIODS = (24, 12, 8, 6)  # hours


@register(
    "events_periodogram",
    oracle=f"""
    WITH s AS (SELECT epoch_us(ts) AS us FROM events),
    anchor AS (SELECT min(us) AS tmin FROM s),
    h AS (SELECT (us - tmin) // 3600000000 AS hr
          FROM s CROSS JOIN anchor),
    span AS (SELECT max(hr) AS hmax FROM h),
    grid AS (SELECT UNNEST(range(0, hmax + 1)) AS hr FROM span),
    c AS (SELECT g.hr, CAST(COALESCE(x.c, 0) AS BIGINT) AS v
          FROM grid g
          LEFT JOIN (SELECT hr, COUNT(*) AS c FROM h GROUP BY 1) x
            USING (hr)),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(CAST(v AS HUGEINT)) AS sv FROM c),
    p AS (SELECT UNNEST(ARRAY{list(_PGRAM_PERIODS)}) AS period),
    terms AS (
      SELECT p.period,
             CAST(SUM(CAST(round((c.v - CAST(m.sv AS DOUBLE) / m.n)
                 * cos((2.0 * pi() / p.period) * c.hr) * 1000000)
                 AS BIGINT)) AS BIGINT) AS cw,
             CAST(SUM(CAST(round((c.v - CAST(m.sv AS DOUBLE) / m.n)
                 * sin((2.0 * pi() / p.period) * c.hr) * 1000000)
                 AS BIGINT)) AS BIGINT) AS sw,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM c CROSS JOIN p CROSS JOIN m
      GROUP BY p.period)
    SELECT period, n AS n_hours,
           ((CAST(cw AS DOUBLE) / 1000000.0)
            * (CAST(cw AS DOUBLE) / 1000000.0)
            + (CAST(sw AS DOUBLE) / 1000000.0)
              * (CAST(sw AS DOUBLE) / 1000000.0)) / n AS power
    FROM terms ORDER BY period
    """,
    description=f"fixed-period periodogram of the mean-centered "
                f"hourly event-count series at candidate periods "
                f"{_PGRAM_PERIODS} hours: spectral power "
                "(|sum x_t e^(-2pi i t/T)|^2 / n) per period — the "
                "WHICH-cycle detector that generalizes "
                "events_seasonal_hour's fixed 24h assumption (a "
                "strong 24h line with weak 12h confirms a single "
                "daily cycle; comparable 12h power means two peaks a "
                "day and a different capacity plan). Determinism: "
                "every cos/sin product is pinned to the 1e-6 grid at "
                "birth and summed exactly (the pinned-libm class — "
                "order-free integer adds); the mean is one exact "
                "ratio both engines share. Scale shape: the grid is "
                "time-span-bounded; one data-sized hour census, then "
                "a constant 4-way fan-out",
    tags=("events", "stats", "forecast"),
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(F.unix_micros("ts").alias("us"))
    anchor = s.agg(F.min("us").alias("tmin"))
    h = (s.crossJoin(F.broadcast(anchor))
         .select(((F.col("us") - F.col("tmin"))
                  / F.lit(3_600_000_000)).cast("long").alias("hr")))
    cnt = h.groupBy("hr").agg(F.count(F.lit(1)).alias("c"))
    span = h.agg(F.max("hr").alias("hmax"))
    grid = span.select(F.explode(F.sequence(F.lit(0), F.col("hmax")))
                       .alias("hr"))
    c = (grid.join(cnt, "hr", "left")
         .select("hr", F.coalesce("c", F.lit(0)).cast("long")
                 .alias("v"))
         .localCheckpoint(eager=True))  # bounded; feeds m and terms
    d38 = "decimal(38,0)"
    m = c.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum(F.col("v").cast(d38)).alias("sv"))
    p = spark.createDataFrame([(w,) for w in _PGRAM_PERIODS],
                              "period long")
    centered = (F.col("v") - F.col("sv").cast("double") / F.col("n"))
    ang = (F.lit(2.0) * F.lit(math.pi) / F.col("period")) * F.col("hr")
    terms = (c.crossJoin(F.broadcast(p)).crossJoin(F.broadcast(m))
             .groupBy("period")
             .agg(F.sum(F.round(centered * F.cos(ang) * 1_000_000)
                        .cast("long")).cast("long").alias("cw"),
                  F.sum(F.round(centered * F.sin(ang) * 1_000_000)
                        .cast("long")).cast("long").alias("sw"),
                  F.count(F.lit(1)).cast("long").alias("n")))
    cd = F.col("cw").cast("double") / 1e6
    sd = F.col("sw").cast("double") / 1e6
    return (terms.select("period", F.col("n").alias("n_hours"),
                         ((cd * cd + sd * sd) / F.col("n"))
                         .alias("power"))
            .orderBy("period"))
