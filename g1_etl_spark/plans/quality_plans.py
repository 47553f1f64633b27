"""Driver-facing data-quality queries with exact DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.operators import quality as Q
from g1_etl_spark.plans.registry import register


@register(
    "dq_expectations",
    oracle="""
    WITH w AS (
      SELECT SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END)
               AS orderkey_not_null,
             SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
               AS totalprice_positive,
             SUM(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 0
                 ELSE 1 END) AS status_in_domain,
             SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
                 THEN 0 ELSE 1 END) AS orderdate_in_range
      FROM orders)
    SELECT u."check",
           -- DuckDB SUM(int) promotes to HUGEINT; Spark emits BIGINT
           -- and the driver hasher distinguishes the widths
           CAST(u.n_violations AS BIGINT) AS n_violations,
           u.n_violations = 0 AS pass
    FROM w, LATERAL (VALUES
      ('orderkey_not_null', w.orderkey_not_null),
      ('totalprice_positive', w.totalprice_positive),
      ('status_in_domain', w.status_in_domain),
      ('orderdate_in_range', w.orderdate_in_range))
      AS u("check", n_violations)
    """,
    description="declarative expectation suite (not-null, positive, "
                "domain, range) evaluated in ONE aggregate scan "
                "(operators/quality.py:expect)",
    tags=("quality",),
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return Q.expect(o, {
        "orderkey_not_null": F.col("o_orderkey").isNotNull(),
        "totalprice_positive": F.col("o_totalprice") > 0,
        "status_in_domain": F.col("o_orderstatus").isin("O", "F", "P"),
        "orderdate_in_range":
            F.col("o_orderdate") >= F.lit("1992-01-01").cast("timestamp"),
    })


@register(
    "dq_profile_orders",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS o_custkey_nulls,
           COUNT(DISTINCT o_custkey) AS o_custkey_distinct,
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS o_orderstatus_nulls,
           COUNT(DISTINCT o_orderstatus) AS o_orderstatus_distinct
    FROM orders
    """,
    description="single-pass column profile: null + distinct counts for "
                "audited columns (operators/quality.py:profile)",
    tags=("quality",),
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return Q.profile(o, ["o_custkey", "o_orderstatus"])


@register(
    "dq_orphan_orders",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL
    """,
    description="referential-integrity audit: orders whose customer is "
                "missing (anti join on FK; operators/quality.py:orphans)",
    tags=("quality",),
)
def dq_orphan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer")
    return Q.orphans(o, c, fk="o_custkey", pk="c_custkey")


@register(
    "dq_table_checksum",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(concat('0x', substr(md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 o_orderstatus)), 1, 8)) AS BIGINT)) AS BIGINT)
             AS checksum
    FROM orders
    """,
    description="order-insensitive table fingerprint: exact integer sum "
                "of per-row md5 prefixes — engine/partitioning/rerun- "
                "stable; the cheap cross-run reproducibility audit "
                "(same checksum = same rows, any order)",
    tags=("quality",),
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|", F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"), F.col("o_orderstatus"))
    row_h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return o.agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum(row_h).alias("checksum"))


@register(
    "dq_key_skew",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS cnt
               FROM events GROUP BY user_id),
    t AS (SELECT SUM(cnt) AS total, COUNT(*) AS nkeys FROM c),
    r AS (SELECT user_id, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id)
                   AS hot_rank
          FROM c)
    SELECT user_id, cnt,
           CAST(cnt AS DOUBLE) / total AS share,
           CAST(cnt AS DOUBLE) * nkeys / total AS skew_factor,
           CAST(hot_rank AS BIGINT) AS hot_rank
    FROM r, t WHERE hot_rank <= 20
    """,
    description="hot-key diagnosis before a join/groupBy: top-20 "
                "heaviest events.user_id keys with share and "
                "skew_factor (cnt / mean-rows-per-key) — the salt-or-"
                "AQE decision input (operators/quality.py:"
                "key_skew_profile)",
    tags=("quality", "scale"),
)
def dq_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.quality import key_skew_profile

    ev = load_table(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top=20)


@register(
    "dq_snapshot_diff",
    oracle="""
    WITH newsnap AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, o_orderdate,
             o_orderpriority
      FROM orders WHERE o_orderkey % 50 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT * FROM orders
      WHERE o_orderkey % 50 <> 0 AND o_orderkey % 89 <> 0),
    j AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             a.o_orderkey IS NULL AS a_miss,
             b.o_orderkey IS NULL AS b_miss,
             CAST(a.o_custkey IS DISTINCT FROM b.o_custkey AS INT)
               + CAST(a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                      AS INT)
               + CAST(a.o_totalprice IS DISTINCT FROM b.o_totalprice
                      AS INT)
               + CAST(a.o_orderdate IS DISTINCT FROM b.o_orderdate
                      AS INT)
               + CAST(a.o_orderpriority IS DISTINCT FROM
                      b.o_orderpriority AS INT) AS nch
      FROM orders a FULL JOIN newsnap b USING (o_orderkey))
    SELECT o_orderkey,
           CASE WHEN a_miss THEN 'added'
                WHEN b_miss THEN 'removed'
                WHEN nch > 0 THEN 'changed' END AS status,
           CASE WHEN NOT a_miss AND NOT b_miss AND nch > 0
                THEN CAST(nch AS BIGINT) END AS n_cols_changed
    FROM j
    WHERE a_miss OR b_miss OR nch > 0
    """,
    description="snapshot regression audit: full-outer diff of the "
                "orders table against a refreshed snapshot (updates at "
                "key%50, inserts at key%97, deletes at key%89) — "
                "delta-sized output of added/removed/changed keys with "
                "changed-column counts; one key-hashed shuffle per side",
    tags=("quality", "merge"),
)
def dq_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.quality import snapshot_diff

    base = load_table(spark, sf_dir, "orders")
    changed = (base.filter(F.col("o_orderkey") % 50 == 0)
               .withColumn("o_orderstatus", F.lit("U"))
               .withColumn("o_totalprice", F.col("o_totalprice") * 1.1))
    inserts = (base.filter(F.col("o_orderkey") % 97 == 0)
               .withColumn("o_orderkey",
                           F.col("o_orderkey") + 100_000_000)
               .withColumn("o_orderstatus", F.lit("N")))
    kept = base.filter((F.col("o_orderkey") % 50 != 0)
                       & (F.col("o_orderkey") % 89 != 0))
    new = changed.unionByName(inserts).unionByName(kept)
    return snapshot_diff(base, new, ["o_orderkey"])


@register(
    "dq_distribution_drift",
    oracle="""
    WITH tagged AS (
      SELECT o_totalprice AS x,
             CASE WHEN o_orderdate >= DATE '1996-01-01'
                  THEN 1 ELSE 0 END AS is_new
      FROM orders WHERE o_totalprice IS NOT NULL),
    rng AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM tagged),
    binned AS (
      SELECT CAST(CASE WHEN hi > lo
                       THEN LEAST(15, FLOOR((x - lo) / ((hi - lo) / 16)))
                       ELSE 0 END AS INTEGER) AS bin,
             CAST(SUM(CASE WHEN is_new = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN is_new = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_new
      FROM tagged CROSS JOIN rng GROUP BY 1),
    totals AS (SELECT CAST(SUM(n_old) AS BIGINT) AS t_old,
                      CAST(SUM(n_new) AS BIGINT) AS t_new FROM binned)
    SELECT bin, n_old, n_new,
           CAST(n_old AS DOUBLE) / t_old AS p_old,
           CAST(n_new AS DOUBLE) / t_new AS p_new,
           (CAST(n_old AS DOUBLE) / t_old - CAST(n_new AS DOUBLE) / t_new)
             * (CAST(n_old AS DOUBLE) / t_old
                - CAST(n_new AS DOUBLE) / t_new)
             / (CAST(n_old AS DOUBLE) / t_old
                + CAST(n_new AS DOUBLE) / t_new) AS contrib
    FROM binned CROSS JOIN totals
    ORDER BY bin
    """,
    description="distribution-drift audit: order-value histogram "
                "(16 equi-width bins over the combined range) compared "
                "between pre-/post-1996 snapshots — per-bin shares and "
                "symmetric chi-square contributions; chi-square not PSI "
                "because ln() is not bit-portable across engines while "
                "this is pure arithmetic",
    tags=("quality",),
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.operators.quality import distribution_drift
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1996-01-01").cast("date")
    return distribution_drift(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_totalprice", n_bins=16).orderBy("bin")


@register(
    "dq_benford",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
            FROM d GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
    SELECT o.digit, o.n_obs,
           CAST(o.n_obs AS DOUBLE) / CAST(t.n AS DOUBLE) AS observed_p,
           CAST(round(log10(1.0 + 1.0 / CAST(o.digit AS DOUBLE))
                      * 1000000000) AS BIGINT) AS benford_p_e9,
           CAST(round(CAST(o.n_obs AS DOUBLE) / CAST(t.n AS DOUBLE)
                      * 1000000000) AS BIGINT)
             - CAST(round(log10(1.0 + 1.0 / CAST(o.digit AS DOUBLE))
                          * 1000000000) AS BIGINT) AS dev_e9
    FROM obs o, tot t
    """,
    description="Benford first-significant-digit audit over order "
                "totals: observed digit shares vs the log10(1+1/d) "
                "law, deviation in scaled-integer billionths — the "
                "classic synthetic-data / fraud smell test; a 9-row "
                "aggregate with the total crossed in as a broadcast "
                "scalar, all shares single IEEE divides (no order-"
                "sensitive float summation anywhere)",
    tags=("quality", "stats"),
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digit = (F.substring(F.floor(F.col("o_totalprice")).cast("long")
                         .cast("string"), 1, 1).cast("long"))
    obs = (o.filter(F.col("o_totalprice") >= 1)
           .groupBy(digit.alias("digit"))
           .agg(F.count(F.lit(1)).alias("n_obs")))
    tot = obs.agg(F.sum("n_obs").alias("n"))
    p_obs = F.col("n_obs").cast("double") / F.col("n").cast("double")
    p_ben = (F.round(F.log10(F.lit(1.0)
                             + F.lit(1.0) / F.col("digit").cast("double"))
                     * 1000000000).cast("long"))
    return (obs.crossJoin(F.broadcast(tot))
            .select("digit", "n_obs", p_obs.alias("observed_p"),
                    p_ben.alias("benford_p_e9"),
                    (F.round(p_obs * 1000000000).cast("long") - p_ben)
                    .alias("dev_e9")))


@register(
    "dq_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.5) AS grp_median
      FROM orders GROUP BY o_orderpriority),
    dev AS (
      SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
             m.grp_median,
             abs(o.o_totalprice - m.grp_median) AS adev
      FROM orders o JOIN med m USING (o_orderpriority)),
    mad AS (
      SELECT o_orderpriority, quantile_cont(adev, 0.5) AS grp_mad
      FROM dev GROUP BY o_orderpriority)
    SELECT d.o_orderkey, d.o_orderpriority, d.o_totalprice,
           d.grp_median, m.grp_mad,
           CASE WHEN m.grp_mad > 0 THEN d.adev > 5.0 * m.grp_mad
                ELSE d.adev > 0 END AS is_outlier
    FROM dev d JOIN mad m USING (o_orderpriority)
    """,
    description="robust per-group outlier flags via median absolute "
                "deviation (|x - med| > 5*MAD): immune to the masking "
                "that defeats z-scores — the outlier inflates the std "
                "it is measured against, while median/MAD have a 50% "
                "breakdown point; two tiny quantile frames broadcast "
                "back, fact scanned twice and never shuffled "
                "(operators/quality.mad_outliers)",
    tags=("quality", "stats"),
)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice")
    return Q.mad_outliers(o, "o_totalprice", ["o_orderpriority"], k=5.0)


_FD_PAIRS = (
    ("custkey->orderpriority", "orders", "o_custkey", "o_orderpriority"),
    ("partkey->returnflag", "lineitem", "l_partkey", "l_returnflag"),
    ("suppkey->linestatus", "lineitem", "l_suppkey", "l_linestatus"),
)


def _fd_sql_one(name: str, table: str, a: str, b: str) -> str:
    return f"""
    SELECT '{name}' AS fd,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(mx) AS BIGINT) AS kept,
           CAST(SUM(mx) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS strength,
           SUM(mx) = SUM(c) AS holds_exactly
    FROM (SELECT {a}, SUM(cnt) AS c, MAX(cnt) AS mx
          FROM (SELECT {a}, {b}, COUNT(*) AS cnt
                FROM {table} GROUP BY 1, 2)
          GROUP BY 1)"""


@register(
    "dq_fd_audit",
    oracle=" UNION ALL ".join(_fd_sql_one(*p) for p in _FD_PAIRS)
           + " ORDER BY fd",
    description="approximate functional-dependency audit (the Tane g3 "
                "measure): for each candidate FD A -> B, the fraction "
                "of rows kept if every A-group dropped to its "
                "majority B value — 1.0 means the dependency holds "
                "exactly, lower quantifies how dirty it is. The "
                "schema-profiling primitive behind key discovery and "
                "denormalization checks, audited here for three "
                "candidate pairs. All exact integer counts (cell "
                "census -> per-key struct MAX -> one sum) + one "
                "division; no window, nothing wider than the cell "
                "frames shuffles",
    tags=("quality", "agg"),
)
def dq_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for name, table, a, b in _FD_PAIRS:
        t = load_table(spark, sf_dir, table)
        cells = (t.groupBy(F.col(a).alias("k"), F.col(b).alias("v"))
                 .agg(F.count(F.lit(1)).alias("cnt")))
        per_key = cells.groupBy("k").agg(F.sum("cnt").alias("c"),
                                         F.max("cnt").alias("mx"))
        outs.append(per_key.agg(
            F.lit(name).alias("fd"),
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("mx").cast("long").alias("kept"),
            (F.sum("mx").cast("double") / F.sum("c").cast("double"))
            .alias("strength"),
            (F.sum("mx") == F.sum("c")).alias("holds_exactly")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("fd")


def _drift_report_oracle() -> str:
    # verbatim-splice composition (the kappa/train_prep pattern): the
    # three drift monitors this report assembles cannot drift from
    # their certified parts
    from g1_etl_spark.plans.registry import REGISTRY

    fdr = REGISTRY["stats_fdr_bh"].oracle
    ph = REGISTRY["events_page_hinkley"].oracle
    gt = REGISTRY["events_gtest_halves"].oracle
    return f"""
    WITH fdr AS ({fdr}),
    ph AS ({ph}),
    gt AS ({gt})
    SELECT f.event_type,
           f.ks_d, f.p_value, f.bh_rank, f.rejected AS dist_drifted,
           p.max_excursion, p.n_alarms, p.first_alarm_us,
           g.g_stat AS mix_g_stat, g.df AS mix_df
    FROM fdr f
    JOIN ph p USING (event_type)
    CROSS JOIN gt g
    ORDER BY f.event_type
    """


@register(
    "dq_drift_report",
    oracle=_drift_report_oracle(),
    description="the one-stop per-type drift report a pipeline pages "
                "on: DISTRIBUTION drift (two-half KS + BH-corrected "
                "verdict at FDR 0.10 — stats_fdr_bh), LEVEL drift in "
                "time (Page-Hinkley excursion, alarm count, first "
                "alarm timestamp — events_page_hinkley), and the "
                "corpus-wide MIX drift context (G-test statistic over "
                "the type composition — events_gtest_halves), one row "
                "per event type. Pure composition: all three Spark "
                "plans are the registered fns called as-is, the "
                "oracle splices their certified SQL verbatim (the "
                "kappa pattern), so the report can never disagree "
                "with the monitors it aggregates. Scale shape: union "
                "of the parts' shapes — two grouped-prefix passes, "
                "one value census, one count census; the joins are "
                "k=|types| rows",
    tags=("dq", "stats", "events", "pipeline"),
)
def dq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.plans.registry import REGISTRY

    fdr = REGISTRY["stats_fdr_bh"].fn(spark, sf_dir).select(
        "event_type", "ks_d", "p_value", "bh_rank",
        F.col("rejected").alias("dist_drifted"))
    ph = REGISTRY["events_page_hinkley"].fn(spark, sf_dir).select(
        "event_type", "max_excursion", "n_alarms", "first_alarm_us")
    gt = REGISTRY["events_gtest_halves"].fn(spark, sf_dir).select(
        F.col("g_stat").alias("mix_g_stat"),
        F.col("df").alias("mix_df"))
    return (fdr.join(ph, "event_type")
            .crossJoin(F.broadcast(gt))
            .orderBy("event_type"))
