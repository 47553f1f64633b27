"""Oracle-backed queries for the nested-structure constructors (N1–N6)
applied to driver testdata.

JSON parity rules (probed empirically, see tests/test_nested.py):
  - Spark to_json DROPS null struct fields; DuckDB keeps them -> struct
    fields are coalesced non-null in oracle-checked queries (the absent-key
    behavior itself is unit-tested Spark-side).
  - Timestamps are pre-formatted to strings before entering structs
    (engines format embedded timestamps differently).
  - Map key order follows construction order in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.functions import sql_text as sx
from g1_etl_spark.plans.registry import register


@register(
    "nested_keys_map",
    oracle="""
    SELECT c_custkey,
           to_json(map_from_entries(list_filter(
             [struct_pack(k := 'custkey',  v := CAST(c_custkey AS VARCHAR)),
              struct_pack(k := 'nation',   v := CAST(c_nationkey AS VARCHAR)),
              struct_pack(k := 'segment',  v := c_mktsegment),
              struct_pack(k := 'balance',  v := CAST(c_acctbal AS VARCHAR)),
              struct_pack(k := 'flag',     v := CAST(c_custkey % 2 AS VARCHAR))],
             e -> e.v IS NOT NULL AND e.v NOT IN ('', '0', '0.0', 'false', 'False')
           ))) AS keys_json,
           cardinality(map_from_entries(list_filter(
             [struct_pack(k := 'custkey',  v := CAST(c_custkey AS VARCHAR)),
              struct_pack(k := 'nation',   v := CAST(c_nationkey AS VARCHAR)),
              struct_pack(k := 'segment',  v := c_mktsegment),
              struct_pack(k := 'balance',  v := CAST(c_acctbal AS VARCHAR)),
              struct_pack(k := 'flag',     v := CAST(c_custkey % 2 AS VARCHAR))],
             e -> e.v IS NOT NULL AND e.v NOT IN ('', '0', '0.0', 'false', 'False')
           ))) AS n_keys
    FROM customer
    """,
    description="N1/F5: truthiness-pruned provenance map (mmjKeys) as JSON",
    tags=("nested",),
)
def nested_keys_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    keys = sx.truthiness_pruned_map({
        "custkey": "c_custkey",
        "nation": "c_nationkey",
        "segment": "c_mktsegment",
        "balance": "c_acctbal",
        "flag": "c_custkey % 2",
    })
    return c.selectExpr(
        "c_custkey",
        f"to_json({keys}) AS keys_json",
        f"size({keys}) AS n_keys",
    )


@register(
    "nested_member_doc",
    oracle="""
    SELECT c_custkey,
           to_json(struct_pack(
             id := c_custkey,
             memberType := CASE WHEN c_custkey % 2 = 1
                                THEN 'MEDICAL' ELSE 'RECREATIONAL' END,
             accountStatus := CASE WHEN c_acctbal >= 0
                                   THEN 'ACTIVE' ELSE 'INACTIVE' END,
             points := c_acctbal,
             identificationType := 'Drivers License',
             address := [struct_pack(
               line1 := 'PO Box ' || CAST(c_custkey AS VARCHAR),
               city := c_mktsegment,
               state := CAST(c_nationkey AS VARCHAR),
               zip := '00000')]
           )) AS doc
    FROM customer
    """,
    description="N2/N6: nested member-shaped document (struct + "
                "array-of-struct address) serialized to JSON",
    tags=("nested",),
)
def nested_member_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    doc = F.struct(
        F.col("c_custkey").alias("id"),
        F.when(F.col("c_custkey") % 2 == 1, "MEDICAL")
        .otherwise("RECREATIONAL").alias("memberType"),
        F.when(F.col("c_acctbal") >= 0, "ACTIVE")
        .otherwise("INACTIVE").alias("accountStatus"),
        F.col("c_acctbal").alias("points"),
        F.lit("Drivers License").alias("identificationType"),
        F.array(F.struct(
            F.concat(F.lit("PO Box "), F.col("c_custkey").cast("string"))
            .alias("line1"),
            F.col("c_mktsegment").alias("city"),
            F.col("c_nationkey").cast("string").alias("state"),
            F.lit("00000").alias("zip"),
        )).alias("address"),
    )
    return c.select("c_custkey", F.to_json(doc).alias("doc"))


@register(
    "nested_collect_orders",
    oracle="""
    SELECT o_custkey,
           to_json(list(struct_pack(orderkey := o_orderkey,
                                    price := o_totalprice)
                        ORDER BY o_orderkey)) AS orders_json,
           COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= DATE '2001-01-01'
    GROUP BY o_custkey
    """,
    description="N6: per-key document assembly — sorted collect_list of "
                "structs serialized to JSON",
    tags=("nested", "agg"),
)
def nested_collect_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"))
    # array_sort on struct sorts by fields in order; o_orderkey is unique,
    # so the result is deterministic regardless of partitioning.
    return (
        o.groupBy("o_custkey")
        .agg(
            F.to_json(F.array_sort(F.collect_list(F.struct(
                F.col("o_orderkey").alias("orderkey"),
                F.col("o_totalprice").alias("price"),
            )))).alias("orders_json"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "nested_explode_roundtrip",
    oracle="""
    SELECT l_orderkey, part_entry.pk AS exploded_partkey,
           part_entry.qty AS exploded_qty
    FROM (SELECT l_orderkey,
                 unnest(list(struct_pack(pk := l_partkey, qty := l_quantity)
                             ORDER BY l_partkey, l_linenumber, l_quantity))
                   AS part_entry
          FROM lineitem
          WHERE l_orderkey % 100 = 0
          GROUP BY l_orderkey)
    """,
    description="array build + explode round-trip (nest then flatten)",
    tags=("nested",),
)
def nested_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 100 == 0)
    nested = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list(F.struct(
            F.col("l_partkey").alias("pk"),
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").alias("qty"),
        ))).alias("entries"))
    )
    return (
        nested.select("l_orderkey",
                      F.explode("entries").alias("part_entry"))
        .select(
            "l_orderkey",
            F.col("part_entry.pk").alias("exploded_partkey"),
            F.col("part_entry.qty").alias("exploded_qty"),
        )
    )


@register(
    "json_parse_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           event_type
    FROM events
    WHERE CAST(json_extract(props, '$.k') AS BIGINT) > 50
    """,
    description="JSON source column parse + field extraction + filter "
                "(events.props)",
    tags=("nested", "json"),
)
def json_parse_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_id", k.alias("k_value"), "event_type")
        .filter(F.col("k_value") > 50)
    )
