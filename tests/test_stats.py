"""Stats surface: the oracle-checked plans compute textbook formulas from
deterministic sorted-sum moments (plans/stats_plans.py); here the Spark
BUILT-IN aggregates (different accumulation order, last-ulp drift) are
asserted against those values within float tolerance."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.plans.stats_plans import agg_moments, agg_percentiles
from tests.conftest import SF_SMOKE


def test_builtin_moments_match_textbook(spark):
    textbook = {r["l_returnflag"]: r for r in
                agg_moments(spark, SF_SMOKE).collect()}
    builtin = {r["l_returnflag"]: r for r in (
        load_table(spark, SF_SMOKE, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.var_samp("l_quantity").alias("var_qty"),
             F.stddev_samp("l_quantity").alias("stddev_qty"),
             F.covar_samp("l_quantity", "l_extendedprice").alias("covar"),
             F.corr("l_quantity", "l_extendedprice").alias("corr"))
        .collect())}
    assert textbook.keys() == builtin.keys()
    for flag, t in textbook.items():
        b = builtin[flag]
        assert math.isclose(t["var_qty"], b["var_qty"], rel_tol=1e-9)
        assert math.isclose(t["stddev_qty"], b["stddev_qty"], rel_tol=1e-9)
        assert math.isclose(t["covar_qty_price"], b["covar"], rel_tol=1e-9)
        assert math.isclose(t["corr_qty_price"], b["corr"], rel_tol=1e-9)


def test_percentiles_bounded_by_min_max(spark):
    for r in agg_percentiles(spark, SF_SMOKE).collect():
        assert r["min_qty"] <= r["median_qty"] <= r["p90_qty"] <= r["max_qty"]


def test_approx_percentile_within_rank_error(spark):
    """GK sketch at accuracy 1e4 → rank error <= n/1e4. Compare the
    sketch's median against the exact rank window around 0.5 (the
    registered query is now the contract form; this test recomputes
    the raw sketch value and checks the window independently)."""
    li = load_table(spark, SF_SMOKE, "lineitem")
    approx = {r["l_returnflag"]: r["median_qty"]
              for r in li.groupBy("l_returnflag")
              .agg(F.percentile_approx("l_quantity", 0.5, 10_000)
                   .alias("median_qty")).collect()}
    for flag, med in approx.items():
        vals = sorted(r["l_quantity"] for r in
                      li.filter(F.col("l_returnflag") == flag)
                      .select("l_quantity").collect())
        n = len(vals)
        eps = max(1, n // 10_000)
        lo = vals[max(0, n // 2 - eps - 1)]
        hi = vals[min(n - 1, n // 2 + eps + 1)]
        assert lo <= med <= hi, (flag, lo, med, hi)


def test_cms_estimate_never_undercounts_any_key(spark):
    import random

    from pyspark.sql import functions as F
    from g1_etl_spark.operators.sketches import cms_build, cms_estimate

    rng = random.Random(7)
    # zipf-ish stream over a key space much wider than the sketch, so
    # collisions are guaranteed and the one-sided bound is actually
    # exercised (not vacuous)
    stream = [(rng.randint(0, 999) if rng.random() < 0.7
               else rng.randint(0, 49),) for _ in range(5000)]
    df = spark.createDataFrame(stream, "k LONG")
    sketch = cms_build(df, "k", width=64)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(sketch, exact, "k", width=64)
    rows = est.collect()
    assert len(rows) == exact.count()
    overcounted = 0
    for r in rows:
        assert r["cms_est"] >= r["exact"], r
        overcounted += int(r["cms_est"] > r["exact"])
    assert overcounted > 0  # the regime is collision-heavy by design


def test_cms_sketches_merge_by_addition(spark):
    from g1_etl_spark.operators.sketches import cms_build

    a = spark.createDataFrame([(i % 10,) for i in range(100)], "k LONG")
    b = spark.createDataFrame([(i % 7,) for i in range(70)], "k LONG")
    merged = {(r.j, r.bucket): r.c
              for r in cms_build(a.unionByName(b), "k").collect()}
    sa = {(r.j, r.bucket): r.c for r in cms_build(a, "k").collect()}
    sb = {(r.j, r.bucket): r.c for r in cms_build(b, "k").collect()}
    summed = dict(sa)
    for cell, c in sb.items():
        summed[cell] = summed.get(cell, 0) + c
    assert merged == summed


def test_cms_exact_when_width_exceeds_keys(spark):
    from pyspark.sql import functions as F
    from g1_etl_spark.operators.sketches import cms_build, cms_estimate

    # 8 keys into width 4096: collision probability ~0 per hash row,
    # and with depth 3 the min over rows recovers exact counts
    df = spark.createDataFrame([(i % 8,) for i in range(80)], "k LONG")
    sketch = cms_build(df, "k", width=4096)
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
    for r in cms_estimate(sketch, exact, "k", width=4096).collect():
        assert r["cms_est"] == r["exact"] == 10


def _brute_skyline(points):
    """Quadratic reference: keep p unless some q dominates it."""
    keep = []
    for i, (px, py) in enumerate(points):
        dominated = any(
            qx <= px and qy >= py and (qx < px or qy > py)
            for j, (qx, qy) in enumerate(points) if j != i)
        if not dominated:
            keep.append(i)
    return keep


def test_skyline_matches_brute_force_with_duplicates(spark):
    import random

    from g1_etl_spark.operators.analytics import skyline_2d

    rng = random.Random(13)
    pts = [(round(rng.uniform(0, 10), 1), rng.randint(0, 20))
           for _ in range(120)]
    pts += pts[:10]  # exact duplicates: neither dominates, both kept
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "id INT, x DOUBLE, y INT")
    got = sorted(r.id for r in skyline_2d(df, "x", "y").collect())
    assert got == _brute_skyline(pts)


def test_skyline_anticorrelated_keeps_all_correlated_keeps_extreme(spark):
    from g1_etl_spark.operators.analytics import skyline_2d

    # pure trade-off (cost and benefit rise together): every point is
    # Pareto-optimal under (min x, max y)
    tradeoff = spark.createDataFrame(
        [(i, float(i), i) for i in range(50)],
        "id INT, x DOUBLE, y INT")
    assert skyline_2d(tradeoff, "x", "y").count() == 50
    # one corner point beats everything (cheapest AND biggest y)
    corner = spark.createDataFrame(
        [(i, float(i), 100 - i) for i in range(50)],
        "id INT, x DOUBLE, y INT")
    rows = skyline_2d(corner, "x", "y").collect()
    assert len(rows) == 1 and rows[0].id == 0


def test_cms_join_size_never_undercounts(spark):
    import random

    from g1_etl_spark.operators.sketches import cms_build, cms_join_size

    rng = random.Random(21)
    a = spark.createDataFrame(
        [(rng.randint(0, 300),) for _ in range(2000)], "k LONG")
    b = spark.createDataFrame(
        [(rng.randint(100, 500),) for _ in range(1500)], "k LONG")
    est = cms_join_size(cms_build(a, "k", width=64),
                        cms_build(b, "k", width=64)).collect()[0]["est"]
    exact = a.join(b, "k").count()
    assert est >= exact > 0
    # and with a wide sketch (collision-free), the estimate is exact
    est_wide = cms_join_size(
        cms_build(a, "k", width=65536),
        cms_build(b, "k", width=65536)).collect()[0]["est"]
    assert est_wide == exact


def test_kmv_merge_identity_and_estimate_error(spark):
    """bottom-k(A u B) == bottom-k(bottom-k(A) u bottom-k(B)), and the
    full-sketch estimator lands within 5/sqrt(k) of the truth on a key
    space much larger than k."""
    from g1_etl_spark.operators.sketches import (kmv_build,
                                                 kmv_distinct_estimate,
                                                 kmv_union)

    a = spark.createDataFrame([(i * 3,) for i in range(4000)], "k LONG")
    b = spark.createDataFrame([(i * 5,) for i in range(2400)], "k LONG")
    direct = [r.h for r in
              kmv_build(a.unionByName(b), "k", k=128).collect()]
    merged = [r.h for r in
              kmv_union(kmv_build(a, "k", k=128),
                        kmv_build(b, "k", k=128), k=128).collect()]
    assert sorted(direct) == sorted(merged)

    exact = a.unionByName(b).distinct().count()
    row = kmv_distinct_estimate(
        kmv_build(a.unionByName(b), "k", k=128), k=128).collect()[0]
    assert row.k_used == 128
    assert abs(row.est / exact - 1.0) <= 5 / (128 ** 0.5)


def test_kmv_small_set_is_exact(spark):
    from g1_etl_spark.operators.sketches import (kmv_build,
                                                 kmv_distinct_estimate)

    df = spark.createDataFrame([(i,) for i in range(40)] * 3, "k LONG")
    row = kmv_distinct_estimate(kmv_build(df, "k", k=256),
                                k=256).collect()[0]
    assert row.k_used == 40 and row.est == 40.0


def test_kmv_jaccard_union_membership_no_false_negatives(spark):
    """Every union-sketch hash belonging to set A is <= A's k-th
    minimum, hence IS in A's sketch — so the match count can only
    miss pairs outside the bottom-k window, never within it; on a
    small-enough universe the estimate is exactly the true Jaccard."""
    from g1_etl_spark.operators.sketches import kmv_build, kmv_union

    a = spark.createDataFrame([(i,) for i in range(100)], "k LONG")
    b = spark.createDataFrame([(i,) for i in range(60, 160)], "k LONG")
    ka, kb = kmv_build(a, "k", k=256), kmv_build(b, "k", k=256)
    u = kmv_union(ka, kb, k=256)
    matches = (u.join(ka, "h", "left_semi").join(kb, "h", "left_semi")
               .count())
    assert u.count() == 160            # |A u B| < k -> sketch holds all
    assert matches == 40               # |A n B| exactly


def test_welch_ttest_separated_vs_identical_groups(spark):
    """Clearly separated groups reject at 95%; identical groups give
    t = 0. Hand-check t against the textbook formula."""
    from g1_etl_spark.plans import REGISTRY  # noqa: F401 (plan twin)
    from pyspark.sql import functions as F

    def welch(df):
        def sortsum(expr):
            return F.aggregate(F.array_sort(F.collect_list(expr)),
                               F.lit(0.0), lambda acc, x: acc + x)
        m = (df.groupBy("g")
             .agg(F.count(F.lit(1)).cast("double").alias("n"),
                  sortsum(F.col("x")).alias("sx"),
                  sortsum(F.col("x") * F.col("x")).alias("sxx")))
        n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
        g = m.select("g", n.alias("n"), (sx / n).alias("mean"),
                     (((sxx - sx * sx / n) / (n - 1)) / n).alias("v"))
        rows = {r.g: r for r in g.collect()}
        a, b = rows["a"], rows["b"]
        return (a.mean - b.mean) / ((a.v + b.v) ** 0.5)

    sep = spark.createDataFrame(
        [("a", float(v)) for v in range(10)]
        + [("b", float(v) + 100.0) for v in range(10)],
        "g STRING, x DOUBLE")
    assert abs(welch(sep)) > 1.96
    same = spark.createDataFrame(
        [("a", float(v)) for v in range(10)]
        + [("b", float(v)) for v in range(10)],
        "g STRING, x DOUBLE")
    assert welch(same) == 0.0


def test_pareto_abc_classes_and_prefix_exactness(spark):
    """Cumulative totals equal the single-window form; classes follow
    the 70/90 thresholds; top value is A, tail is C; an equal-value
    tie breaks by key."""
    from g1_etl_spark.operators.analytics import pareto_abc

    # values engineered so cum shares cross 0.7 and 0.9 mid-list
    vals = [("k1", 50), ("k2", 25), ("k3", 10), ("k4", 8),
            ("k5", 4), ("k6", 2), ("k7", 1)]            # total 100
    df = spark.createDataFrame(vals, "k STRING, v LONG")
    rows = {r.k: r for r in pareto_abc(df, "k", "v").collect()}
    assert rows["k1"].abc_class == "A"      # cum 50 <= 70
    assert rows["k2"].abc_class == "B"      # cum 75 crosses 70
    cums = sorted((r.cum_value, r.k) for r in rows.values())
    assert [c for c, _ in cums] == [50, 75, 85, 93, 97, 99, 100]
    # exact thresholds: cum*100 <= 7000 -> A; <= 9000 -> B
    for r in rows.values():
        want = ("A" if r.cum_value * 100 <= 7000
                else "B" if r.cum_value * 100 <= 9000 else "C")
        assert r.abc_class == want, r
    assert rows["k7"].abc_class == "C"


def test_pareto_abc_no_int64_overflow_near_scaled_long_bound(spark):
    """Round-6 advice: the old cum*100 comparison overflowed int64 once
    total scaled value passed ~9.2e16 (100x below the repo's 9.2e18
    scaled-long norm). Thresholds are now Python-bigint precomputed, so
    totals right up to the int64 bound classify correctly."""
    from g1_etl_spark.operators.analytics import pareto_abc

    e18 = 1_000_000_000_000_000_000
    vals = [("k1", 4 * e18), ("k2", e18 + e18 // 5), ("k3", e18 - e18 // 5)]
    df = spark.createDataFrame(vals, "k STRING, v LONG")
    rows = {r.k: r for r in pareto_abc(df, "k", "v").collect()}
    total = 6 * e18                                  # near the int64 max
    assert rows["k1"].abc_class == "A"               # cum 66.7%
    assert rows["k2"].abc_class == "B"               # cum 86.7%
    assert rows["k3"].abc_class == "C"               # cum 100%
    assert rows["k3"].cum_value == total             # exact, no wrap


def test_rfm_scores_are_quintiles(spark):
    """Driver-level sanity on the registered query at sf0.001: every
    score in 1..5, quintile sizes differ by at most one, rfm string
    matches the three scores."""
    from g1_etl_spark.plans import REGISTRY

    rows = REGISTRY["orders_rfm_scores"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    from collections import Counter
    for col in ("r_score", "f_score", "m_score"):
        vals = [getattr(r, col) for r in rows]
        assert set(vals) <= {1, 2, 3, 4, 5}
        sizes = Counter(vals).values()
        assert max(sizes) - min(sizes) <= 1
    for r in rows:
        assert r.rfm == f"{r.r_score}{r.f_score}{r.m_score}"


def test_cohort_ltv_shape_and_conservation(spark):
    """Cohort matrix at sf0.001: months_since >= 0 everywhere, the
    diagonal (months_since 0) contains every cohort's full customer
    count, and total revenue across cells equals the plain order sum."""
    from pyspark.sql import functions as F
    from g1_etl_spark.catalog import load_table
    from g1_etl_spark.plans import REGISTRY

    sf = "/root/testdata/sf0.001"
    rows = REGISTRY["orders_cohort_ltv"].fn(spark, sf).collect()
    assert rows and all(r.months_since >= 0 for r in rows)
    o = load_table(spark, sf, "orders")
    want_rev = (o.agg((F.sum(F.round(F.col("o_totalprice") * 1e6)
                             .cast("long")).cast("double") / 1e6)
                      .alias("t")).collect()[0].t)
    assert abs(sum(r.revenue for r in rows) - want_rev) < 1e-3
    n_cust = o.select("o_custkey").distinct().count()
    diag = [r for r in rows if r.months_since == 0]
    assert sum(r.n_customers for r in diag) == n_cust


def test_auc_perfect_and_tied_separation(spark):
    """Planted fixtures: perfectly separated scores give AUC=1, fully
    reversed give 0, and an all-tied score column gives exactly 0.5
    (the tie-corrected U counts half per tied pair)."""
    from g1_etl_spark.operators.analytics import global_prefix_sum

    def auc_of(rows):
        df = spark.createDataFrame(rows, "s DOUBLE, pos LONG")
        g = (df.groupBy("s")
             .agg(F.count(F.lit(1)).alias("cnt"), F.sum("pos").alias("pos"))
             .withColumn("neg", F.col("cnt") - F.col("pos")))
        c = global_prefix_sum(g, [F.col("s")], "neg", out_col="cum_neg")
        r = c.agg(
            F.sum("pos").alias("np"), F.sum("neg").alias("nn"),
            F.sum(F.col("pos") * (2 * (F.col("cum_neg") - F.col("neg"))
                                  + F.col("neg"))).alias("u2")).collect()[0]
        return r.u2 / (2.0 * r.np * r.nn)

    sep = [(float(i), 1 if i >= 5 else 0) for i in range(10)]
    assert auc_of(sep) == 1.0
    rev = [(float(i), 0 if i >= 5 else 1) for i in range(10)]
    assert auc_of(rev) == 0.0
    tied = [(7.0, 1)] * 3 + [(7.0, 0)] * 5
    assert auc_of(tied) == 0.5


def test_auc_registered_matches_sklearn_formula(spark):
    """The registered query's AUC equals the O(n log n) rank-sum AUC
    computed driver-side over the same sf0.001 events."""
    from g1_etl_spark.plans import REGISTRY

    row = REGISTRY["stats_auc_purchase"].fn(
        spark, "/root/testdata/sf0.001").collect()[0]
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("value", "event_type").collect())
    scored = sorted((r.value, r.event_type == "purchase") for r in ev)
    # average ranks with tie correction
    import itertools
    u = 0.0
    n_pos = sum(1 for _, p in scored if p)
    n_neg = len(scored) - n_pos
    rank = 0
    for _, grp in itertools.groupby(scored, key=lambda t: t[0]):
        grp = list(grp)
        avg_rank = rank + (len(grp) + 1) / 2.0
        u += sum(avg_rank for _, p in grp if p)
        rank += len(grp)
    auc = (u - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
    assert row.n_pos == n_pos and row.n_neg == n_neg
    assert abs(row.auc - auc) < 1e-12


def test_chi2_zero_on_exact_independence(spark):
    """An engineered contingency table with exact independence (every
    cell = row_total*col_total/n) must give chi2 == 0 and V == 0."""
    from g1_etl_spark.plans import REGISTRY  # noqa: F401  (idiom anchor)
    rows = []
    # 2x2 with perfectly proportional counts: (10,20) / (30,60)
    rows += [("a", "x")] * 10 + [("a", "y")] * 20
    rows += [("b", "x")] * 30 + [("b", "y")] * 60
    df = spark.createDataFrame(rows, "seg STRING, pri STRING")

    def sortsum(expr):
        return F.aggregate(F.array_sort(F.collect_list(expr)),
                           F.lit(0.0), lambda acc, x: acc + x)

    obs = df.groupBy("seg", "pri").agg(F.count(F.lit(1)).alias("o"))
    rt = obs.groupBy("seg").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("pri").agg(F.sum("o").alias("c"))
    nt = obs.agg(F.sum("o").alias("n"))
    cells = (obs.join(rt, "seg").join(ct, "pri").crossJoin(F.broadcast(nt))
             .withColumn("e", F.col("r").cast("double") * F.col("c")
                         / F.col("n"))
             .withColumn("t", (F.col("o") - F.col("e"))
                         * (F.col("o") - F.col("e")) / F.col("e")))
    chi2 = cells.agg(sortsum("t").alias("x")).collect()[0].x
    assert chi2 == 0.0


def test_ewma_fold_matches_recursion_bitwise(spark):
    """events_ewma_value is the literal recursion y_n = (x_n +
    y_{n-1}) / 2 as an ordered fold — the driver-side Python recursion
    executes the identical IEEE op sequence, so equality is EXACT, not
    within tolerance."""
    from g1_etl_spark.plans import REGISTRY

    got = {r.user_id: r for r in REGISTRY["events_ewma_value"].fn(
        spark, "/root/testdata/sf0.001").collect()}
    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .select("user_id", "ts", "event_id", "value").collect())
    from collections import defaultdict
    series = defaultdict(list)
    for r in ev:
        series[r.user_id].append((r.ts, r.event_id, r.value))
    for uid, rows in series.items():
        rows.sort()
        y = rows[0][2]
        for _, _, x in rows[1:]:
            y = (x + y) / 2
        assert got[uid].n_events == len(rows)
        assert got[uid].ewma == y, uid


def test_ewma_fold_survives_1m_event_skew_key(spark):
    """The documented scale bound of events_ewma_value (events_plans.py):
    one pathological user (bot traffic) with ~1 M events materializes
    its whole history as ONE array row before the fold — ~24 MB, which
    must complete AND still be the bit-exact recursion. Pins the bound
    at probe scale so 'fine for high-cardinality keys' stays an
    evidenced claim, not a hope."""
    import os
    import shutil
    import tempfile

    n = 1_000_000
    base_us = 1_735_689_600_000_000  # 2025-01-01 UTC in epoch micros
    bot = spark.range(n).select(
        F.col("id").alias("event_id"),
        F.lit("bot").alias("user_id"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * 1_000_000)
        .alias("ts"),
        F.lit("click").alias("event_type"),
        (((F.col("id") * 2654435761) % 1000).cast("double") / 100.0)
        .alias("value"))
    normal = spark.range(10).select(
        (F.col("id") + n).alias("event_id"),
        F.lit("human").alias("user_id"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * 1_000_000)
        .alias("ts"),
        F.lit("click").alias("event_type"),
        F.col("id").cast("double").alias("value"))
    df = bot.unionByName(normal)
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(
            os.path.join(tmp, "events.parquet"))
        from g1_etl_spark.plans import REGISTRY
        got = {r.user_id: r for r in
               REGISTRY["events_ewma_value"].fn(spark, tmp).collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got["bot"].n_events == n
    y = ((0 * 2654435761) % 1000) / 100.0
    for i in range(1, n):
        y = (((i * 2654435761) % 1000) / 100.0 + y) / 2
    assert got["bot"].ewma == y  # bit-exact, not approximate
    assert got["human"].n_events == 10


def test_gini_known_distributions(spark):
    """Engineered extremes: Gini = 0 for perfect equality and
    (n-1)/n when one customer holds everything; the registered query
    stays in [0, 1) on real data."""
    from g1_etl_spark.operators.retrieval import global_rank

    def gini_of(vals):
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k LONG, x LONG")
        rk = global_rank(df, [F.col("x"), F.col("k")], rank_col="i")
        d38 = "decimal(38,0)"
        r = rk.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("i").cast(d38) * F.col("x")).alias("six"),
                   F.sum(F.col("x").cast(d38)).alias("sx")).collect()[0]
        return float((2 * int(r.six) - (r.n + 1) * int(r.sx))
                     / (r.n * int(r.sx)))

    assert gini_of([100] * 8) == 0.0
    n = 10
    assert gini_of([0] * (n - 1) + [1000]) == (n - 1) / n
    from g1_etl_spark.plans import REGISTRY
    row = REGISTRY["stats_gini_customers"].fn(
        spark, "/root/testdata/sf0.001").collect()[0]
    assert 0.0 <= row.gini < 1.0 and row.n_customers > 0


def test_reliability_bins_partition_and_bounds(spark):
    """Bins cover all events exactly once; accuracy and confidence are
    probabilities; confidence sits inside its bin's range."""
    from g1_etl_spark.plans import REGISTRY

    rows = REGISTRY["stats_reliability_bins"].fn(
        spark, "/root/testdata/sf0.001").collect()
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert sum(r.n for r in rows) == ev.count()
    for r in rows:
        assert 0.0 <= r.accuracy <= 1.0
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0 + 1e-12
        assert lo <= r.confidence <= hi, r
        assert abs(r.gap - (r.accuracy - r.confidence)) < 1e-15


def test_anomaly_zscore_flags_planted_spike(spark):
    """A planted 100x spike inside a calm window must be flagged;
    z-scores of flagged rows replicate driver-side from the same
    trailing-window moments."""
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    rows = [(i, "t", base + dt.timedelta(seconds=30 * i),
             10.0 + (i % 5) * 0.01) for i in range(100)]
    rows.append((999, "t", base + dt.timedelta(seconds=30 * 60),
                 1000.0))  # spike inside the hour
    df = spark.createDataFrame(
        rows, "event_id LONG, event_type STRING, ts TIMESTAMP, "
              "value DOUBLE")
    from pyspark.sql import Window as W

    us = F.unix_micros("ts")
    w = (W.partitionBy("event_type").orderBy(us.alias("us"))
         .rangeBetween(-3_599_999_999, 0))
    s = df.select(
        "event_id", "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.round(F.col("value") * 1000000).cast("long")).over(w)
        .alias("sx"),
        F.sum(F.round(F.col("value") * F.col("value") * 1000000)
              .cast("long")).over(w).alias("sxx"))
    sx_d = F.col("sx").cast("double") / 1000000.0
    sxx_d = F.col("sxx").cast("double") / 1000000.0
    n = F.col("n")
    var = (sxx_d - sx_d * sx_d / n) / (n - 1)
    z = (F.col("value") - sx_d / n) / F.sqrt(var)
    flagged = (s.filter((n >= 30) & ((sxx_d - sx_d * sx_d / n) > 0))
               .withColumn("zscore", z)
               .filter(F.abs(F.col("zscore")) > 3).collect())
    assert any(r.event_id == 999 for r in flagged)
    # the calm rows are never flagged
    assert all(r.event_id == 999 for r in flagged)


def test_cusum_zero_for_constant_series(spark):
    """A constant series has S_i = 0 everywhere -> max_cusum == 0;
    a mean shift mid-series produces a strictly positive statistic
    that peaks near the change point."""
    import datetime as dt

    base = dt.datetime(2025, 1, 1)
    const = [(i, "c", base + dt.timedelta(seconds=i), 5.0)
             for i in range(50)]
    shift = [(i, "s", base + dt.timedelta(seconds=i),
              1.0 if i < 25 else 9.0) for i in range(50)]
    df = spark.createDataFrame(
        const + shift,
        "event_id LONG, event_type STRING, ts TIMESTAMP, value DOUBLE")
    import tempfile
    import os
    tmp = tempfile.mkdtemp()
    try:
        # route through parquet so the registered query's load path
        # (ns->us conversion) is exercised end-to-end
        df.write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet"))
        from g1_etl_spark.plans import REGISTRY
        out = {r.event_type: r for r in
               REGISTRY["events_cusum_drift"].fn(spark, tmp).collect()}
        assert out["c"].max_cusum == 0.0
        # shift magnitude 4 over half the series: S peaks at 25*(mean
        # diff)/... just assert clearly positive
        assert out["s"].max_cusum > 10.0
    finally:
        import shutil
        shutil.rmtree(tmp, ignore_errors=True)


def test_heaps_beta_in_natural_range(spark):
    from g1_etl_spark.plans import REGISTRY

    row = REGISTRY["text_heaps_fit"].fn(
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row.n_sources == 20
    assert 0.0 < row.heaps_beta < 1.0
    assert 0.0 <= row.r2 <= 1.0


def test_acf_alternating_series(spark):
    """An alternating +v/-v series has ACF_1 = -(n-1)/n and
    ACF_2 = (n-2)/n (mean exactly zero, every accumulation an exact
    integer in both engines)."""
    import datetime as dt
    import math
    import os
    import shutil
    import tempfile

    base = dt.datetime(2025, 1, 1)
    n = 40
    rows = [(i, "alt", base + dt.timedelta(seconds=i),
             4.0 if i % 2 == 0 else -4.0) for i in range(n)]
    df = spark.createDataFrame(
        rows, "event_id LONG, event_type STRING, ts TIMESTAMP, "
              "value DOUBLE")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(
            os.path.join(tmp, "events.parquet"))
        from g1_etl_spark.plans import REGISTRY
        out = {r.lag: r for r in
               REGISTRY["events_acf"].fn(spark, tmp).collect()}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].n_pairs == n - 1
    assert math.isclose(out[1].acf, -(n - 1) / n, rel_tol=1e-12)
    assert math.isclose(out[2].acf, (n - 2) / n, rel_tol=1e-12)


def test_seasonal_strength_pure_hour_signal(spark):
    """When value is a pure function of hour-of-day, the between-hour
    sum of squares IS the total sum of squares: strength == 1.0 exactly
    (identical integer sums on both sides of the ratio)."""
    import datetime as dt
    import os
    import shutil
    import tempfile

    base = dt.datetime(2025, 1, 1)
    rows = [(d * 24 + h, "s", base + dt.timedelta(days=d, hours=h),
             float(h + 1))
            for d in range(3) for h in range(24)]
    df = spark.createDataFrame(
        rows, "event_id LONG, event_type STRING, ts TIMESTAMP, "
              "value DOUBLE")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(
            os.path.join(tmp, "events.parquet"))
        from g1_etl_spark.plans import REGISTRY
        out = REGISTRY["events_seasonal_hour"].fn(spark, tmp).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert len(out) == 24
    for r in out:
        assert r.seasonal_strength == 1.0
        assert r.mean_value == float(r.hour + 1)
        assert r.n_events == 3


def test_mutual_information_independent_is_zero(spark):
    """A joint distribution that factorizes exactly (every customer
    orders once per priority) has every pointwise term ln(1) = 0, so
    MI == 0.0 exactly under the pinned-integer accumulation."""
    import os
    import shutil
    import tempfile

    cust = [(k, "SEG_A" if k < 2 else "SEG_B") for k in range(4)]
    orders = [(k * 10 + p, k, f"P{p}")
              for k in range(4) for p in range(3)]
    cdf = spark.createDataFrame(cust, "c_custkey LONG, c_mktsegment STRING")
    odf = spark.createDataFrame(
        orders, "o_orderkey LONG, o_custkey LONG, o_orderpriority STRING")
    tmp = tempfile.mkdtemp()
    try:
        cdf.write.mode("overwrite").parquet(
            os.path.join(tmp, "customer.parquet"))
        odf.write.mode("overwrite").parquet(
            os.path.join(tmp, "orders.parquet"))
        from g1_etl_spark.plans import REGISTRY
        row = REGISTRY["stats_mi_segment_priority"].fn(
            spark, tmp).collect()[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert row.n == 12
    assert row.n_cells == 6
    assert row.mi_nats == 0.0


def test_ks_proportional_zero_disjoint_one(spark):
    """KS D == 0.0 exactly when the two samples put proportional mass
    on every value, and == 1.0 exactly when their supports are
    disjoint (all-integer deviations in both cases)."""
    import datetime as dt
    import os
    import shutil
    import tempfile

    base = dt.datetime(2025, 1, 1)

    def write(rows):
        df = spark.createDataFrame(
            rows, "event_id LONG, event_type STRING, ts TIMESTAMP, "
                  "value DOUBLE")
        tmp = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(
            os.path.join(tmp, "events.parquet"))
        return tmp

    from g1_etl_spark.plans import REGISTRY
    # proportional: purchase sees each value once, other sees it twice
    rows = []
    for i, v in enumerate([1.0, 2.5, 7.0, 9.0]):
        rows.append((3 * i, "purchase", base + dt.timedelta(seconds=i), v))
        rows.append((3 * i + 1, "click", base + dt.timedelta(seconds=i), v))
        rows.append((3 * i + 2, "view", base + dt.timedelta(seconds=i), v))
    tmp = write(rows)
    try:
        r = REGISTRY["stats_ks_value_purchase"].fn(spark, tmp).collect()[0]
        assert (r.n_purchase, r.n_other) == (4, 8)
        assert r.ks_d == 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # disjoint supports: every purchase value below every other value
    rows = [(i, "purchase", base + dt.timedelta(seconds=i), float(i))
            for i in range(5)]
    rows += [(10 + i, "click", base + dt.timedelta(seconds=i),
              100.0 + i) for i in range(7)]
    tmp = write(rows)
    try:
        r = REGISTRY["stats_ks_value_purchase"].fn(spark, tmp).collect()[0]
        assert (r.n_purchase, r.n_other) == (5, 7)
        assert r.ks_d == 1.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_spearman_monotone_and_tied(spark):
    """rho == +/-1 for strictly monotone relations regardless of the
    marginal shapes, and the tie-averaged ranks reproduce scipy-style
    Spearman on a small tied example (hand-computed)."""
    import math
    import os
    import shutil
    import tempfile

    from g1_etl_spark.plans import REGISTRY

    def run(pairs):
        df = spark.createDataFrame(
            [(i, float(q), float(p)) for i, (q, p) in enumerate(pairs)],
            "l_orderkey LONG, l_quantity DOUBLE, l_extendedprice DOUBLE")
        tmp = tempfile.mkdtemp()
        try:
            df.write.mode("overwrite").parquet(
                os.path.join(tmp, "lineitem.parquet"))
            return REGISTRY["stats_spearman_qty_price"].fn(
                spark, tmp).collect()[0]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    up = run([(q, q * q + 1) for q in range(1, 20)])
    assert math.isclose(up.spearman_rho, 1.0, rel_tol=1e-12)
    down = run([(q, 1000 - q * q) for q in range(1, 20)])
    assert math.isclose(down.spearman_rho, -1.0, rel_tol=1e-12)
    # tied example: q = [1,1,2], p = [10,20,30] -> rank_q = [1.5,1.5,3],
    # rank_p = [1,2,3]; rho = cov/sd_q sd_p = 0.5/ (sqrt(1.5)*sqrt(2)/..
    # hand value: rho = sqrt(3)/2
    tied = run([(1, 10), (1, 20), (2, 30)])
    assert math.isclose(tied.spearman_rho, math.sqrt(3) / 2,
                        rel_tol=1e-12)


def test_ridge_recovers_planted_coefficients(spark):
    """With a wide-variance planted linear relation the fixed
    lambda = 1e6 (scaled units) shrinkage is ~1e-6 relative: the
    closed-form solution must recover y = 3*q + 50000*d + 7 to within
    0.1%."""
    import math
    import os
    import shutil
    import tempfile

    rows = []
    for i in range(2000):
        q = float(i % 997)
        disc = ((i * 7) % 11) / 100.0
        y = 3.0 * q + 50000.0 * disc + 7.0
        rows.append((i, q, disc, y))
    df = spark.createDataFrame(
        rows, "l_orderkey LONG, l_quantity DOUBLE, l_discount DOUBLE, "
              "l_extendedprice DOUBLE")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(
            os.path.join(tmp, "lineitem.parquet"))
        from g1_etl_spark.plans import REGISTRY
        r = REGISTRY["feat_ridge_price"].fn(spark, tmp).collect()[0]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert r.n == 2000
    assert math.isclose(r.coef_quantity, 3.0, rel_tol=1e-3)
    assert math.isclose(r.coef_discount, 50000.0, rel_tol=1e-2)
    # ridge shrinkage on the slopes lands in the intercept by the
    # centered identity b0 = mean(y) - b1*mean(x1) - b2*mean(x2)
    mq = sum(p[1] for p in rows) / len(rows)
    md = sum(p[2] for p in rows) / len(rows)
    my = sum(p[3] for p in rows) / len(rows)
    assert math.isclose(
        r.intercept, my - r.coef_quantity * mq - r.coef_discount * md,
        rel_tol=1e-9)


def test_bloom_filter_contract(spark):
    """No false negatives ever (construction guarantee), false
    positives inside the (m, k, n) envelope with headroom, sketch size
    bounded by width_words regardless of key count."""
    from g1_etl_spark.operators.sketches import (BLOOM_WORDS, bloom_build,
                                                 bloom_might_contain)

    dim = spark.range(0, 1000).select((F.col("id") * 13 + 7).alias("k"))
    fact = spark.range(0, 50000).select((F.col("id") % 20000).alias("k"))
    bl = bloom_build(dim, "k")
    # size bound: the one-row map holds at most width_words entries
    bitmap = bl.collect()[0]["bitmap"]
    assert len(bitmap) <= BLOOM_WORDS
    cand = bloom_might_contain(fact, "k", bl).select("k")
    true = fact.join(dim, "k", "left_semi")
    assert true.exceptAll(cand).count() == 0, "false negative"
    n_fact, n_true, n_cand = fact.count(), true.count(), cand.count()
    # theoretical FP rate at n=1000, m=16384, k=3 is ~0.17%; allow 10x
    fp = (n_cand - n_true) / max(n_fact - n_true, 1)
    assert fp <= 0.02, fp
    # and the pruning is real: candidates are a small fraction of fact
    assert n_cand < 0.2 * n_fact


def test_logrank_gehan_6mp_textbook(spark):
    """logrank_two_cohort on the Gehan/Freireich 6-MP leukemia trial —
    THE textbook log-rank dataset: 21 treated (9 relapses, 12
    right-censored) vs 21 placebo (all 21 relapse). Published answer:
    chi2(1) = 16.79, treated observed 9 vs ~19.25 expected. Pins the
    full statistic chain (at-risk prefix counts, hypergeometric
    variance, censoring handling) against independently known
    numbers, not just engine parity."""
    from g1_etl_spark.plans.stats_plans import logrank_two_cohort

    mp_ev = [6, 6, 6, 7, 10, 13, 16, 22, 23]
    mp_cens = [6, 9, 10, 11, 17, 19, 20, 25, 32, 32, 34, 35]
    pl_ev = [1, 1, 2, 2, 3, 4, 4, 5, 5, 8, 8, 8, 8,
             11, 11, 12, 12, 15, 17, 22, 23]
    rows = ([(t, 1, 1) for t in mp_ev] + [(t, 0, 1) for t in mp_cens]
            + [(t, 1, 0) for t in pl_ev])
    d = spark.createDataFrame(rows, "dur long, ev int, g1 int")
    r = logrank_two_cohort(d).collect()[0]
    assert r.observed_g1 == 9
    assert r.n_event_times == 17  # distinct event times across arms
    assert math.isclose(r.expected_g1, 19.250501, abs_tol=5e-5)
    assert math.isclose(r.o_minus_e, -10.250501, abs_tol=5e-5)
    assert math.isclose(r.variance, 6.256961, abs_tol=5e-5)
    assert math.isclose(r.chi2, 16.792941, abs_tol=5e-4)


def test_bloom_negative_keys_no_false_negatives(spark):
    """Regression (ADVICE r8): a negative key made _bloom_idx negative
    (Spark % keeps the dividend's sign), and build (shiftright = floor
    division) vs probe (div = truncation toward zero) then addressed
    DIFFERENT bitmap words — a false negative. pmod normalisation plus
    identical word/mask expressions on both sides closes it; signed
    keys must round-trip exactly like positive ones."""
    from g1_etl_spark.operators.sketches import (bloom_build,
                                                 bloom_might_contain)

    dim = spark.range(0, 500).select(
        (F.col("id") * -17 - 3).alias("k"))  # all strictly negative
    fact = spark.range(0, 20000).select(
        ((F.col("id") % 2000) * -17 - 3).alias("k"))
    bl = bloom_build(dim, "k")
    cand = bloom_might_contain(fact, "k", bl).select("k")
    true = fact.join(dim, "k", "left_semi")
    assert true.exceptAll(cand).count() == 0, "false negative on signed keys"
    # mixed-sign keys through one filter: still no false negatives
    dim2 = spark.range(0, 400).select(
        ((F.col("id") - 200) * 13 + 7).alias("k"))
    fact2 = spark.range(0, 10000).select(
        (((F.col("id") % 1000) - 500) * 13 + 7).alias("k"))
    bl2 = bloom_build(dim2, "k")
    cand2 = bloom_might_contain(fact2, "k", bl2).select("k")
    true2 = fact2.join(dim2, "k", "left_semi")
    assert true2.exceptAll(cand2).count() == 0


def test_bloom_empty_dim_prunes_everything(spark):
    from g1_etl_spark.operators.sketches import (bloom_build,
                                                 bloom_might_contain)

    dim = spark.range(0, 1).filter("id < 0").select(F.col("id").alias("k"))
    fact = spark.range(0, 100).select(F.col("id").alias("k"))
    assert bloom_might_contain(fact, "k", bloom_build(dim, "k")).count() == 0


def test_holt_forecast_linear_series_is_exact_continuation(spark):
    """On y = 5 + 2t, Holt's level/trend converge toward (y_n, 2) and
    the h-step forecast continues the line; with alpha=beta=1/2 and a
    zero-trend seed the state is NOT exactly (y_n, 2) after few steps,
    so assert convergence on a long series + the fold's first steps
    against a hand-rolled reference."""
    import datetime as dt

    from g1_etl_spark.plans.events_plans import events_holt_forecast

    # hand-check the recursion directly on the operator's own math
    rows = [(1, i, dt.datetime(2024, 1, 1, 0, i), 5.0 + 2.0 * i)
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    df.createOrReplaceTempView("_holt_in")
    import tempfile
    import shutil
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        out = {r.user_id: r for r in
               events_holt_forecast(spark, tmp).collect()}
        l, b = 5.0, 0.0
        for i in range(1, 50):
            x = 5.0 + 2.0 * i
            l2 = (x + (l + b)) / 2
            b = ((l2 - l) + b) / 2
            l = l2
        r = out[1]
        assert r.n_events == 50
        assert r.level == l and r.trend == b
        assert r.forecast_3 == l + 3.0 * b
        # convergence: trend near the true slope, forecast continues
        assert abs(r.trend - 2.0) < 0.05
        assert abs(r.forecast_3 - (5.0 + 2.0 * 52)) < 0.2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_kendall_tau_known_small_case(spark):
    """tau-b on a hand-computable configuration, including ties:
    x = [1,2,3,4], y = [1,3,2,4]  -> nc=5, nd=1, tau = 4/6
    and a tied variant checks the denominator discounting."""
    from g1_etl_spark.plans import REGISTRY  # noqa: F401 (registry import)

    # exercise the same pair/concordance algebra the plan uses, on a
    # tiny frame via the identical expressions
    data = spark.createDataFrame(
        [("a", 1, 1), ("b", 2, 3), ("c", 3, 2), ("d", 4, 4)],
        "k string, x long, y long")
    a1 = data.select(F.col("k").alias("k1"), F.col("x").alias("x1"),
                     F.col("y").alias("y1"))
    a2 = data.select(F.col("k").alias("k2"), F.col("x").alias("x2"),
                     F.col("y").alias("y2"))
    p = (a1.join(a2, F.col("k1") < F.col("k2"))
         .select(F.signum((F.col("x1") - F.col("x2")).cast("double"))
                 .alias("cx"),
                 F.signum((F.col("y1") - F.col("y2")).cast("double"))
                 .alias("cy")))
    r = p.agg(
        F.sum(F.when(F.col("cx") * F.col("cy") == 1, 1).otherwise(0))
        .alias("nc"),
        F.sum(F.when(F.col("cx") * F.col("cy") == -1, 1).otherwise(0))
        .alias("nd")).collect()[0]
    assert (r.nc, r.nd) == (5, 1)


def test_kruskal_matches_reference_formula(spark):
    """H on a tiny 3-group sample against the hand-computed textbook
    value (with ties), exercising the doubled-rank cancellation."""
    import tempfile
    import shutil
    import datetime as dt

    from g1_etl_spark.plans.stats_plans import stats_kruskal_value_type

    vals = {"a": [1.0, 2.0, 3.0], "b": [2.0, 4.0, 5.0],
            "c": [5.0, 6.0, 7.0]}
    rows = []
    i = 0
    for g, vs in vals.items():
        for v in vs:
            rows.append((i, dt.datetime(2024, 1, 1), 1, g, v, "{}"))
            i += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        r = stats_kruskal_value_type(spark, tmp).collect()[0]
        # reference: scipy-free hand computation
        import itertools
        allv = sorted(itertools.chain.from_iterable(vals.values()))
        n = len(allv)
        ranks = {}
        for v in set(allv):
            idx = [i + 1 for i, x in enumerate(allv) if x == v]
            ranks[v] = sum(idx) / len(idx)
        h = (12.0 / (n * (n + 1))
             * sum(sum(ranks[v] for v in vs) ** 2 / len(vs)
                   for vs in vals.values())
             - 3 * (n + 1))
        ties = {}
        for v in allv:
            ties[v] = ties.get(v, 0) + 1
        corr = 1 - sum(t ** 3 - t for t in ties.values()) / (n ** 3 - n)
        assert r.k_groups == 3 and r.n == 9
        assert abs(r.h - h) < 1e-9
        assert abs(r.h_tie_corrected - h / corr) < 1e-9
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_nb_lang_separable_corpus_is_diagonal(spark):
    """On a corpus whose languages use disjoint vocabularies the NB
    confusion matrix is exactly diagonal."""
    import tempfile
    import shutil

    from g1_etl_spark.plans.text_plans import text_nb_lang_confusion

    rows = []
    words = {"en": "the cat sat", "fr": "le chat assis",
             "de": "die katze sass"}
    i = 0
    for lang, text in words.items():
        for _ in range(4):
            rows.append((i, text + f" {text}", lang, "s0", len(text)))
            i += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {(r.actual_lang, r.predicted_lang): r.n_docs
               for r in text_nb_lang_confusion(spark, tmp).collect()}
        assert got == {("en", "en"): 4, ("fr", "fr"): 4, ("de", "de"): 4}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_changepoint_split_finds_planted_shift(spark):
    """A series that jumps from level 1.0 to 5.0 at index 60 of 100
    must split exactly there, with the pre/post means recovered."""
    import datetime as dt
    import shutil
    import tempfile

    from g1_etl_spark.plans.events_plans import events_changepoint_split

    rows = []
    for i in range(100):
        v = 1.0 if i < 60 else 5.0
        rows.append((i, dt.datetime(2024, 1, 1, 0, i // 60, i % 60),
                     1, "a", v, "{}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        r = events_changepoint_split(spark, tmp).collect()[0]
        assert r.event_type == "a" and r.n_events == 100
        assert r.split_i == 60
        assert r.mean_before == 1.0 and r.mean_after == 5.0
        assert r.mean_delta == 4.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_kaplan_meier_textbook_case(spark):
    """Classic KM hand case: durations (E=event, C=censored)
    1E 2C 3E 3E 4C 5E with study-end censoring arranged so exactly
    those statuses arise. S(1)=5/6, S(3)=5/6 * 2/4, S(5)=... * 0/1 = 0."""
    import datetime as dt
    import shutil
    import tempfile

    from g1_etl_spark.plans.stats_plans import orders_survival_km

    base = dt.datetime(2000, 1, 1)
    day = dt.timedelta(days=1)
    yr = dt.timedelta(days=366)
    # customer -> (duration_days, churned?): churned iff last order
    # < study_end - 365d. Anchor customer 99 fixes study_end.
    spec = [(1, 1, True), (2, 2, False), (3, 3, True), (4, 3, True),
            (5, 4, False), (6, 5, True)]
    rows = []
    oid = 0
    study_end = base + 10 * yr
    for cust, dur, churn in spec:
        t0 = (base if churn
              else study_end - dur * day)  # censored end at study end
        rows.append((oid, cust, "O", 1.0, t0, "1-URGENT")); oid += 1
        rows.append((oid, cust, "O", 1.0, t0 + dur * day, "1-URGENT"))
        oid += 1
    rows.append((oid, 99, "O", 1.0, study_end, "1-URGENT"))
    df = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string")
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        out = {r.duration_days: r for r in
               orders_survival_km(spark, tmp).collect()}
        # risk sets include the 0-duration anchor (total 7 subjects):
        # at d=1: 6 at risk (all with dur >= 1), 1 event -> 5/6
        # at d=3: 4 at risk (3,3,4,5), 2 events -> * 2/4
        # at d=5: 1 at risk, 1 event -> * 0 = 0
        assert out[1].n_risk == 6 and out[1].n_events == 1
        assert out[3].n_risk == 4 and out[3].n_events == 2
        assert out[5].n_risk == 1 and out[5].n_events == 1
        assert abs(out[1].survival - 5 / 6) < 1e-12
        assert abs(out[3].survival - (5 / 6) * (2 / 4)) < 1e-12
        assert out[5].survival == 0.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_logistic_irls_recovers_known_model(spark):
    """IRLS on synthetic cells generated from a KNOWN logistic model
    (b = (-1, 0.15, -0.2) in (1, q, dc) units) with n=5000 per cell:
    4 Newton steps from zero must land within the pinning granularity
    of the truth, and must agree with an independent UNPINNED pure-
    Python IRLS on the same cells to ~1e-3 (the 1e-6 p-grid is the
    only difference between the two)."""
    import math as m

    from g1_etl_spark.plans.feature_plans import logistic_irls_cells

    bt = (-1.0, 0.15, -0.2)
    rows = []
    for q in range(1, 21):
        for dc in range(0, 11):
            n = 5000
            p = 1.0 / (1.0 + m.exp(-(bt[0] + bt[1] * q + bt[2] * dc)))
            rows.append((q, dc, n, round(n * p)))
    cells = spark.createDataFrame(
        rows, "q long, dc long, n long, ny long")
    b = logistic_irls_cells(cells, iters=4)
    assert abs(b[0] - bt[0]) < 0.02, b
    assert abs(b[1] - bt[1]) < 0.005, b
    assert abs(b[2] - bt[2]) < 0.01, b

    # independent unpinned reference (numpy solve, float p/w)
    import numpy as np
    bb = np.zeros(3)
    X = np.array([[1.0, q, dc] for q, dc, _, _ in rows])
    nn = np.array([r[2] for r in rows], dtype=float)
    ny = np.array([r[3] for r in rows], dtype=float)
    for _ in range(4):
        eta = np.clip(X @ bb, -13, 13)
        p = 1.0 / (1.0 + np.exp(-eta))
        w = nn * p * (1 - p)
        A = X.T @ (w[:, None] * X)
        r = X.T @ (w * eta + (ny - nn * p))
        bb = np.linalg.solve(A, r)
    assert np.allclose(np.array(b), bb, atol=1e-3), (b, bb)


def test_anova_f_matches_pure_python_reference(spark):
    """stats_anova_f's pinned-moment algebra vs a transparent
    textbook computation (group means / SSB / SSW) on the same
    sf-smoke events — independent arithmetic path, float tolerance."""
    from collections import defaultdict

    from g1_etl_spark.plans.stats_plans import stats_anova_f

    rows = load_table(spark, SF_SMOKE, "events") \
        .select("event_type", "value").collect()
    by = defaultdict(list)
    for r in rows:
        by[r.event_type].append(round(r.value * 100) / 100.0)
    n = sum(len(v) for v in by.values())
    k = len(by)
    gm = sum(sum(v) for v in by.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - gm) ** 2 for v in by.values())
    ssw = sum(sum((x - sum(v) / len(v)) ** 2 for x in v)
              for v in by.values())
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    got = stats_anova_f(spark, SF_SMOKE).collect()[0]
    assert got.n == n and got.k == k
    assert math.isclose(got.ss_between, ssb, rel_tol=1e-6)
    assert math.isclose(got.ss_within, ssw, rel_tol=1e-6)
    assert math.isclose(got.f_stat, f_ref, rel_tol=1e-6)


def test_bootstrap_ci_brackets_true_mean_and_is_ordered(spark):
    """The 50 deterministic half-resamples' 2nd/49th sorted means must
    bracket the exact grand mean on smoke orders (a ~95% interval on
    50% subsamples is far wider than the grand mean's own wobble), and
    the whole row must be reproducible bit-for-bit across two runs."""
    from g1_etl_spark.plans.stats_plans import stats_bootstrap_ci_mean

    r1 = stats_bootstrap_ci_mean(spark, SF_SMOKE).collect()[0]
    assert r1.ci_lo < r1.ci_hi
    assert r1.ci_lo <= r1.grand_mean <= r1.ci_hi
    assert r1.n_resamples == 50
    r2 = stats_bootstrap_ci_mean(spark, SF_SMOKE).collect()[0]
    assert r1 == r2


def test_weibull_fit_recovers_exact_weibull_grid(spark):
    """Feeding an EXACT Weibull survival grid S(t) = exp(-(t/100)^1.5)
    through the linearized pinned OLS must recover shape 1.5 and
    ln(scale) = ln(100) to the 1e-6 pinning granularity — the
    regression is exact on its own model family, so any deviation
    beyond pinning is an algebra bug."""
    import math

    from g1_etl_spark.plans.stats_plans import weibull_fit_from_km

    rows = [(t, 0, 0, math.exp(-((t / 100.0) ** 1.5)))
            for t in range(5, 400, 7)]
    km = spark.createDataFrame(
        rows, "duration_days long, n_risk long, n_events long,"
              " survival double")
    r = weibull_fit_from_km(km).collect()[0]
    assert math.isclose(r.shape_k, 1.5, abs_tol=1e-4), r
    assert math.isclose(r.ln_scale, math.log(100.0), abs_tol=1e-4), r


def test_grouped_prefix_aggs_matches_pure_python(spark):
    """Per-group running sum AND running min over a total order, with
    enough rows that groups straddle range partitions — verified
    against a sequential fold."""
    import random

    from pyspark.sql import functions as F

    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    rng = random.Random(7)
    rows = [(g, i, rng.randint(-50, 50))
            for g in ("a", "b", "c") for i in range(500)]
    df = spark.createDataFrame(rows, "g string, i long, v long")
    # running-min of the running-sum, both as the pre-r11 two-call
    # chain and as the r11 one-pass min_of_sums form — both must match
    # the sequential fold exactly (events_page_hinkley's shape)
    out = grouped_prefix_aggs(df, ["g"], ["i"], sums={"cum": "v"})
    out = grouped_prefix_aggs(out, ["g"], ["i"], mins={"cmin": "cum"})
    got = {(r["g"], r["i"]): (r["cum"], r["cmin"])
           for r in out.collect()}
    one = grouped_prefix_aggs(df, ["g"], ["i"], sums={"cum": "v"},
                              min_of_sums={"cmin": "cum"})
    got_one = {(r["g"], r["i"]): (r["cum"], r["cmin"])
               for r in one.collect()}
    for g in ("a", "b", "c"):
        run, mn = 0, None
        seq = [v for (gg, i, v) in rows if gg == g]
        for i, v in enumerate(seq):
            run += v
            mn = run if mn is None else min(mn, run)
            assert got[(g, i)] == (run, mn), (g, i)
            assert got_one[(g, i)] == (run, mn), (g, i)


def test_grouped_prefix_aggs_rejects_nonintegral_values(spark):
    """ADVICE r10 #4: the driver carries are exact-integer state, so a
    double/decimal value column must raise at plan-build time instead
    of silently truncating."""
    import pytest

    from g1_etl_spark.operators.analytics import grouped_prefix_aggs

    df = spark.createDataFrame(
        [("a", 0, 1.5), ("a", 1, 2.5)], "g string, i long, v double")
    with pytest.raises(TypeError, match="non-integral"):
        grouped_prefix_aggs(df, ["g"], ["i"], sums={"cum": "v"})


def test_weibull_gof_perfect_fit_has_small_ks(spark):
    """On the real orders table the GOF row must be internally
    consistent: observed == sum of KM event counts, expected > 0,
    ks_distance in [0, 1]."""
    from g1_etl_spark.plans.registry import REGISTRY

    row = REGISTRY["orders_weibull_gof"].fn(
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row["observed_events"] > 0
    assert row["expected_events"] > 0
    assert 0.0 <= row["ks_distance"] <= 1.0
    assert row["chi2_logrank"] >= 0.0


def test_big_to_double_cross_engine_past_2_53(spark):
    """The trap this helper exists for: past 2^53, Spark's decimal->
    double rounds to nearest while DuckDB's hugeint->double truncates.
    The split-conversion must agree bit-for-bit across engines (and
    the naive casts must be shown to actually disagree, else the
    helper is dead weight)."""
    import duckdb

    from pyspark.sql import functions as F

    from g1_etl_spark.plans._util import big_to_double, sql_big_to_double

    v = 31293724858271074718  # a real 4th-moment sum; low bit rounds UP
    sp = spark.range(1).select(
        big_to_double(F.lit(str(v)).cast("decimal(38,0)")).alias("d"),
        F.lit(str(v)).cast("decimal(38,0)").cast("double").alias("naive")
    ).collect()[0]
    con = duckdb.connect()
    du, du_naive = con.execute(
        f"SELECT {sql_big_to_double(f'''CAST('{v}' AS HUGEINT)''')},"
        f" CAST(CAST('{v}' AS HUGEINT) AS DOUBLE)").fetchone()
    assert sp["d"] == du, (sp["d"].hex(), du.hex())
    # the naive casts genuinely diverge on this value
    assert sp["naive"] != du_naive, "trap no longer reproduces"
    assert sp["d"] == float(v)  # python int->float is correctly rounded
