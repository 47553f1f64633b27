"""Distributed prefix aggregation: the prefix-sum scan, Pareto/ABC
classes and the 2-D skyline.

No reference analog (superset scope; the reference folds running state
row by row in one iterator). :func:`grouped_prefix_aggs` is the repo's
ONE prefix scan — every running sum, running count and total-order rank
(retrieval.global_rank, curation.budget_fill, pareto_abc, the survival/
rank statistics, the per-type CUSUM family) calls it: range-repartition
on (group, order), per-partition local running sums, and a driver fold
of carries bounded at partitions x groups, broadcast back. No
single-partition window anywhere.

The classic 2-D skyline ("minimize x, maximize y": keep every row no
other row beats on both axes) is usually written as the quadratic NOT
EXISTS self-join — which is exactly what the DuckDB oracle runs. The
Spark form here is EXACT but linear: dominance in 2-D reduces to two
aggregates,

    dominated(r)  <=>  max(y | x <  r.x) >= r.y     (strictly-cheaper)
                    OR max(y | x == r.x) >  r.y     (same-x, bigger-y)

so the whole skyline is (1) a per-x group max, (2) a STRICT prefix max
over the x-ordered group table, (3) one equi-join back on x. No
pairwise comparisons anywhere, no prune-then-verify residue.

The strict prefix max has the prefix scan's shape but its own carry (a
strictly-preceding MAX is neither a sum nor a min-of-sum):
range-repartition the group table on x, take each partition's local
strictly-preceding running max with a per-partition window, and fold in
the (partition-count-sized, driver-held) max of all earlier partitions.
Exact duplicates — two rows with identical (x, y) — dominate neither
and are both kept, matching the strict-in-one NOT EXISTS semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def skyline_2d(df: DataFrame, min_col: str, max_col: str,
               partitions: int | None = None) -> DataFrame:
    """Rows on the Pareto front of (minimize `min_col`, maximize
    `max_col`), all input columns preserved. Exact — see module doc.
    """
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    pm = (df.groupBy(F.col(min_col).alias("_p"))
          .agg(F.max(max_col).alias("_gmax")))
    parts = (pm.repartitionByRange(n, F.col("_p"))
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint())  # freeze pid assignment
    pmax = {r["_pid"]: r["m"] for r in
            parts.groupBy("_pid").agg(F.max("_gmax").alias("m"))
            .collect()}
    best = None
    offsets = []
    for pid in sorted(pmax):
        offsets.append((pid, best))
        best = pmax[pid] if best is None else max(best, pmax[pid])
    # explicit schema: offsets may be empty / all-NULL (first partition
    # has no predecessor) — same idiom as grouped_prefix_aggs
    field = df.schema[max_col].dataType.simpleString()
    off_df = spark.createDataFrame(offsets, f"_pid INT, _off {field}")
    lw = (W.partitionBy("_pid").orderBy("_p")
          .rowsBetween(W.unboundedPreceding, -1))
    prefix = (parts.withColumn("_lm", F.max("_gmax").over(lw))
              .join(F.broadcast(off_df), "_pid")
              # greatest skips NULLs; NULL result = nothing cheaper
              .select("_p", "_gmax",
                      F.greatest("_lm", "_off").alias("_strict")))
    joined = df.join(prefix, df[min_col] == F.col("_p"))
    dominated = ((F.col("_strict").isNotNull()
                  & (F.col("_strict") >= F.col(max_col)))
                 | (F.col("_gmax") > F.col(max_col)))
    return joined.filter(~dominated).select(*df.columns)


def pareto_abc(df: DataFrame, key_col: str, value_col,
               a_pct: int = 70, b_pct: int = 90,
               partitions: int | None = None) -> DataFrame:
    """ABC / Pareto analysis: rank keys by a value (revenue) and class
    them by CUMULATIVE share — A while the running total is within
    a_pct% of the grand total, B within b_pct%, C after. The inventory/
    assortment staple ("which 20% of parts carry 80% of revenue").

    `value_col` must be an exact LONG (pre-scaled money; see
    plans/_util). The running total is :func:`grouped_prefix_aggs`
    with no group on (-value, key) order (one range-repartition, local
    running sum, driver-held per-partition offsets; the grand total
    comes back with it), and the class thresholds compare pure
    integers, so
    there is no float anywhere and any engine agrees bit-for-bit. The
    thresholds are precomputed on the driver with Python bigints
    (thr = total * pct // 100 — exactly equivalent to the oracle's
    cum * 100 <= total * pct for integer cum) so the executor-side
    comparison is a plain cum <= lit(thr) with full int64 headroom:
    no cum*100 blow-up, the operator is safe to the same ~9.2e18
    scaled-value bound as every other scaled-long sum in the repo.

    Returns (key, value, cum_value, cum_share, abc_class), descending
    value order with key tie-break.
    """
    base = df.select(F.col(key_col).alias("k"),
                     F.col(value_col).cast("long").alias("v"),
                     (-F.col(value_col).cast("long")).alias("_negv"))
    cum, totals = grouped_prefix_aggs(
        base, [], ["_negv", "k"], {"cum_value": "v"}, partitions=partitions)
    (total,) = totals[()]
    # Python-bigint thresholds; cum <= total*pct//100  ⟺  cum*100 <=
    # total*pct for integer cum, without the int64 overflow at cum*100.
    thr_a = total * a_pct // 100
    thr_b = total * b_pct // 100
    cls = (F.when(F.col("cum_value") <= F.lit(thr_a), "A")
           .when(F.col("cum_value") <= F.lit(thr_b), "B")
           .otherwise("C"))
    return (cum.select(F.col("k").alias(key_col),
                       F.col("v").alias("value"),
                       "cum_value",
                       (F.col("cum_value").cast("double")
                        / F.lit(float(total))).alias("cum_share"),
                       cls.alias("abc_class")))


def grouped_prefix_aggs(df: DataFrame, group_cols: list,
                        order_cols: list, sums: dict[str, str],
                        min_of_sums: dict[str, str] | None = None,
                        partitions: int | None = None,
                        ) -> tuple[DataFrame, dict[tuple, tuple]]:
    """Per-GROUP inclusive running SUMs over a total order within each
    group — the repo's one distributed prefix scan. ONE
    range-repartition on (group, order) keeps each group's rows
    contiguous across the partition range, per-(partition, group)
    local running sums, and driver-held carries — bounded at
    partitions x |groups| rows, so the driver state stays tiny. No
    ordered window over raw rows anywhere; the only windows are
    per-(partition, group), which AQE-sized partitions keep
    memory-bounded. ``group_cols=[]`` is the global prefix sum over
    one total order (retrieval.global_rank sums a constant 1).

    `sums` maps out_col -> value_col; every value column rides the
    same pass. `order_cols` must tie-break to a total order within
    each group. NULL group keys form their own group (SQL
    ``PARTITION BY`` semantics): the carries join null-safely.

    `min_of_sums` maps out_col -> an out_col of `sums`, emitting the
    running MIN of that running sum IN THE SAME PASS: the local
    window tracks min-over-local-prefix and the driver carry composes
    it with the sum carry (min(M_prev, S_prev + local_min)) — exact
    integers (the Page-Hinkley excursion shape).

    Returns ``(frame, totals)``: the input columns plus the out_cols,
    and ``totals[group_key_tuple]`` = the exact Python-int final sums
    of that group, in `sums` order — free here, since the driver fold
    already holds them. With ``group_cols=[]`` the one key ``()`` is
    always present (all zeros on empty input).

    INTEGER-ONLY CONTRACT (ADVICE r10 #4): every value column must be
    an integral type — the driver carries pass through ``int(t)`` and
    all outputs cast to long, so a double/decimal value column would
    be silently truncated. Enforced below: a non-integral value column
    raises at plan-build time rather than corrupting results.
    """
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    items = list(sums.items())
    mos = list((min_of_sums or {}).items())  # (out_col, sum_out_col)
    _integral = {"tinyint", "smallint", "int", "bigint"}
    vtypes = {f.name: f.dataType.simpleString() for f in df.schema}
    bad = [(v, vtypes[v]) for (_, v) in items if vtypes[v] not in _integral]
    if bad:
        raise TypeError(
            "grouped_prefix_aggs carries exact integer state; "
            f"non-integral value columns would be truncated: {bad}. "
            "Scale to a long (e.g. round(x * 1e6).cast('long')) first.")
    sum_idx = {o: i for i, (o, _) in enumerate(items)}
    for o, so in mos:
        if so not in sum_idx:
            raise ValueError(f"min_of_sums target {so!r} is not a "
                             f"sums output column ({sorted(sum_idx)})")
    parts = (df.repartitionByRange(n, *group_cols, *order_cols)
             .withColumn("_pid", F.spark_partition_id())
             .localCheckpoint())  # freeze pid assignment
    w = (W.partitionBy("_pid", *group_cols).orderBy(*order_cols)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    out = parts
    for i, (_, v) in enumerate(items):
        out = out.withColumn(f"_cl{i}", F.sum(v).over(w))
    for j, (_, so) in enumerate(mos):
        # running min over the LOCAL running sum (same sort order, so
        # no extra exchange); must be a separate projection step
        out = out.withColumn(
            f"_cm{j}", F.min(F.col(f"_cl{sum_idx[so]}")).over(w))
    if mos:
        # the carry collect below and the final join would otherwise
        # each evaluate the ordered window pass
        out = out.localCheckpoint()
    agg_rows = (out if mos else parts).groupBy("_pid", *group_cols).agg(
        *(F.sum(v).alias(f"_t{i}") for i, (_, v) in enumerate(items)),
        *(F.min(F.col(f"_cl{sum_idx[so]}")).alias(f"_tm{j}")
          for j, (_, so) in enumerate(mos))).collect()
    zero = [0] * len(items) + [None] * len(mos)
    run: dict = {} if group_cols else {(): zero}
    offsets = []
    for r in sorted(agg_rows, key=lambda r: r["_pid"]):
        g = tuple(r[c] for c in group_cols)
        st = run.get(g, zero)
        offsets.append((r["_pid"], *g, *st))
        new = [st[i] + int(r[f"_t{i}"] or 0) for i in range(len(items))]
        for j, (_, so) in enumerate(mos):
            # min-of-global-prefix so far: compose the pre-partition
            # sum carry with this partition's local min-of-prefix
            lm = r[f"_tm{j}"]
            prev = st[len(items) + j]
            if lm is None:
                new.append(prev)
            else:
                cand = st[sum_idx[so]] + int(lm)
                new.append(cand if prev is None else min(prev, cand))
        run[g] = new
    # explicit schema: offsets may be empty (empty input frame), and
    # inference would also widen _pid (int from spark_partition_id)
    off_schema = ", ".join(
        ["_opid INT"]
        + [f"_g{k} {vtypes[c]}" for k, c in enumerate(group_cols)]
        + [f"_off{i} BIGINT" for i in range(len(items) + len(mos))])
    off_df = spark.createDataFrame(offsets, off_schema)
    on = [F.col("_pid") == F.col("_opid")] + [
        F.col(c).eqNullSafe(F.col(f"_g{k}"))
        for k, c in enumerate(group_cols)]
    out = out.join(F.broadcast(off_df), on)
    for i, (o, _) in enumerate(items):
        out = out.withColumn(
            o, (F.col(f"_cl{i}") + F.col(f"_off{i}")).cast("long"))
    for j, (o, so) in enumerate(mos):
        # least() skips the NULL carry of a group's first partition
        out = out.withColumn(
            o, F.least(F.col(f"_cm{j}") + F.col(f"_off{sum_idx[so]}"),
                       F.col(f"_off{len(items) + j}")).cast("long"))
    drop = (["_pid", "_opid"]
            + [f"_g{k}" for k in range(len(group_cols))]
            + [f"_cl{i}" for i in range(len(items))]
            + [f"_off{i}" for i in range(len(items) + len(mos))]
            + [f"_cm{j}" for j in range(len(mos))])
    totals = {g: tuple(st[:len(items)]) for g, st in run.items()}
    return out.drop(*drop), totals
