"""Unit tests for operators/features and the k-means assignment query.
(Oracle parity for registered queries runs in test_oracle_parity.py.)"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from g1_etl_spark.operators import features as FE
from tests.conftest import SF_ORACLE, SF_SMOKE


def test_zscore_group_stats(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0)], ["g", "x"])
    rows = {(r["g"], r["x"]): r
            for r in FE.zscore_per_group(df, "x", ["g"]).collect()}
    assert rows[("a", 2.0)]["z"] == 0.0
    assert math.isclose(rows[("a", 3.0)]["z"], 1.0)  # std = 1.0
    assert rows[("b", 5.0)]["z"] is None  # single-row group


def test_minmax_bounds_and_constant_group(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("a", 20.0), ("a", 15.0), ("c", 7.0), ("c", 7.0)],
        ["g", "x"])
    rows = FE.minmax_per_group(df, "x", ["g"]).collect()
    scaled = {(r["g"], r["x"]): r["scaled"] for r in rows}
    assert scaled[("a", 10.0)] == 0.0 and scaled[("a", 20.0)] == 1.0
    assert scaled[("a", 15.0)] == 0.5
    assert scaled[("c", 7.0)] is None  # zero range


def test_equidepth_bin_sizes_differ_by_at_most_one(spark):
    df = spark.range(0, 103).select(
        F.col("id"), (F.col("id") * 17 % 97).alias("x"))
    out = FE.equidepth_bins(df, "x", ["id"], n_bins=10)
    sizes = [r["cnt"] for r in out.groupBy("bin")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()]
    assert len(sizes) == 10 and max(sizes) - min(sizes) <= 1
    assert out.count() == 103


def test_equidepth_bins_are_value_ordered(spark):
    df = spark.range(0, 50).select(
        F.col("id"), (49 - F.col("id")).alias("x"))
    rows = FE.equidepth_bins(df, "x", ["id"], n_bins=5).collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r["bin"], []).append(r["x"])
    for b in range(1, 5):
        assert max(by_bin[b]) < min(by_bin[b + 1])


def test_kmeans_deterministic_and_converging(spark):
    from g1_etl_spark.operators.similarity import (_assign_cells,
                                                   train_ivf_centroids)

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    c1 = train_ivf_centroids(emb, n_cells=4, iters=3)
    c2 = train_ivf_centroids(emb, n_cells=4, iters=3)
    assert (c1 == c2).all()  # hash-seeded init + exact means
    assigned = emb.select(
        _assign_cells(1, c1)(F.col("embedding"))[0].alias("c"))
    n_cells = assigned.distinct().count()
    assert 2 <= n_cells <= 4 and assigned.count() == emb.count()


def test_pca_power_recovers_planted_direction(spark):
    """Vectors spread widest along e1 with slight e2 jitter: the
    learned unit direction must align with e1 and the centered
    projections must sum to ~0."""
    rows = [(i, [float(i - 10), 0.1 * (i % 3 - 1), 0.0, 0.0])
            for i in range(21)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from g1_etl_spark.operators.features import (pca_power_direction,
                                                 pca_project)
    mu, v, n = pca_power_direction(emb, dim=4, iters=8)
    assert n == 21
    assert abs(abs(v[0]) - 1.0) < 1e-3
    assert sum(x * x for x in v) == __import__("pytest").approx(1.0, abs=1e-9)
    scores = {r["vec_id"]: r["score"]
              for r in pca_project(emb, dim=4, iters=8).collect()}
    # centered projections: mean ~ 0, ordered like the e1 coordinate
    assert abs(sum(scores.values())) < 1e-6 * 21
    ordered = [scores[i] for i in range(21)]
    assert ordered == sorted(ordered) or ordered == sorted(ordered,
                                                           reverse=True)


def test_whiten_per_group_identity_covariance(spark):
    """Two well-conditioned groups: whitened per-group covariance must
    be ~identity, and group structure must be preserved."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for g, scale in ((0, [3.0, 1.0, 0.5, 0.1]), (1, [0.2, 2.0, 1.0, 5.0])):
        X = rng.randn(200, 4) * scale
        for i, x in enumerate(X):
            rows.append((g, g * 1000 + i, [float(v) for v in x]))
    df = spark.createDataFrame(
        rows, "label int, vec_id long, embedding array<double>")
    from g1_etl_spark.operators.features import whiten_per_group
    out = whiten_per_group(df).collect()
    assert len(out) == 400
    for g in (0, 1):
        W = np.stack([r["whitened"] for r in out if r["label"] == g])
        cov = np.cov(W.T)
        assert np.allclose(cov, np.eye(4), atol=0.05)


def test_whiten_per_group_string_group_key(spark):
    """The output schema must carry the input's actual group-key type
    (a string lang key, not a hardcoded int)."""
    import numpy as np
    rng = np.random.RandomState(3)
    rows = [(lang, i, [float(v) for v in rng.randn(3)])
            for lang in ("en", "de") for i in range(40)]
    df = spark.createDataFrame(
        rows, "lang string, vec_id long, embedding array<double>")
    from g1_etl_spark.operators.features import whiten_per_group
    out = whiten_per_group(df, group_col="lang").collect()
    assert len(out) == 80 and {r["lang"] for r in out} == {"en", "de"}


def test_ols_recovers_planted_line(spark):
    from g1_etl_spark.operators.features import ols_per_group

    rows = [("g", float(x), 2.0 * x + 3.0) for x in range(50)]
    rows += [("one", 1.0, 5.0)]           # n=1 -> NULLs
    rows += [("flat", 4.0, float(y)) for y in range(5)]  # zero x-var
    df = spark.createDataFrame(rows, "grp STRING, x DOUBLE, y DOUBLE")
    out = {r.grp: r for r in
           ols_per_group(df, "x", "y", ["grp"]).collect()}
    assert abs(out["g"].slope - 2.0) < 1e-9
    assert abs(out["g"].intercept - 3.0) < 1e-9
    assert abs(out["g"].r2 - 1.0) < 1e-12
    assert out["one"].slope is None and out["one"].r2 is None
    assert out["flat"].slope is None


def test_winsorize_bounds_and_idempotence(spark):
    from g1_etl_spark.operators.features import winsorize_per_group

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(100)] + [("a", 1e9), ("a", -1e9)],
        "grp STRING, x DOUBLE")
    out = winsorize_per_group(df, "x", ["grp"])
    rows = out.collect()
    for r in rows:
        assert r.p_lo <= r.winsorized <= r.p_hi
    # interior values untouched; only values outside the band move
    inner = [r for r in rows if r.p_lo <= r.x <= r.p_hi]
    assert inner and all(r.winsorized == r.x for r in inner)
    moved = [r for r in rows if r.winsorized != r.x]
    assert all(r.x < r.p_lo or r.x > r.p_hi for r in moved)
    assert {r.x for r in moved} >= {1e9, -1e9}  # planted outliers clipped


def test_target_encoding_excludes_own_row(spark):
    """The encoded value for each row equals the mean of the OTHER
    rows in its category — verified by hand on a 3-row group — and a
    singleton category yields NULL."""
    from g1_etl_spark.plans import REGISTRY  # noqa: F401 (plan twin)
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0),
         (4, "solo", 99.0)],
        "o_orderkey long, o_orderpriority string, o_totalprice double")
    s = df.select("*", F.round(F.col("o_totalprice") * 1e6)
                  .cast("long").alias("_own"))
    g = (s.groupBy("o_orderpriority")
         .agg(F.sum("_own").alias("_sum"), F.count(F.lit(1)).alias("_n")))
    loo = ((F.col("_sum") - F.col("_own")).cast("double")
           / (F.col("_n") - 1) / 1e6)
    out = {r.o_orderkey: r.loo_mean for r in
           s.join(g, "o_orderpriority")
           .select("o_orderkey",
                   F.when(F.col("_n") > 1, loo).alias("loo_mean"))
           .collect()}
    assert out[1] == 25.0 and out[2] == 20.0 and out[3] == 15.0
    assert out[4] is None


def test_woe_iv_signs_track_bad_rate(spark):
    """Bins with below-average bad rate get positive WOE, above-average
    negative; bins partition the rows exactly."""
    from g1_etl_spark.plans import REGISTRY

    rows = REGISTRY["feat_woe_iv"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert rows == sorted(rows, key=lambda r: r.bin)
    tg = sum(r.good for r in rows)
    tb = sum(r.bad for r in rows)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert tg + tb == orders.count()
    overall = tb / (tg + tb)
    for r in rows:
        rate = r.bad / (r.good + r.bad)
        # smoothing keeps the sign aligned except within its ~0.5-count
        # epsilon of the boundary; the fixture bins sit well away
        if abs(rate - overall) > 0.01:
            assert (r.woe_e6 > 0) == (rate < overall), r
        assert r.iv_term >= -1e-9  # IV contributions are non-negative


def test_logistic_irls_coefficients_golden(spark):
    """feat_logistic_irls computes exp() on the driver with the host
    libm, so its pinned IRLS iterates depend on that libm. Pin the
    coefficient vector exactly (repr floats, no tolerance) so a libm
    drift fails here by name, not only through the downstream parity
    hash."""
    from g1_etl_spark.plans import REGISTRY

    want = {
        SF_SMOKE: (-0.6916095318067965, -0.0006926262528226312,
                   -0.16012799439006278),
        SF_ORACLE: (-0.6954778325939334, -0.00024066392181245233,
                    0.238031438256785),
    }
    for sf, coefs in want.items():
        (r,) = REGISTRY["feat_logistic_irls"].fn(spark, sf).collect()
        got = (r.coef_intercept, r.coef_quantity, r.coef_discount)
        assert got == coefs, (sf, got)
