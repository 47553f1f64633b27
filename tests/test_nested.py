"""Unit tests for the nested builders (functions/sql_text.py) — the
reference's absent-key and truthiness-prune semantics (SURVEY §2.8,
§7.4). Address structs and group-deleted fields are covered by the
vendor golden in tests/test_entities.py."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx


def test_truthiness_pruned_map(spark):
    df = spark.createDataFrame(
        [(1, 0, 0.0, "", "x", None)],
        "a long, b long, c double, d string, e string, f string")
    m = sx.truthiness_pruned_map({k: k for k in "abcdef"})
    out = df.select(F.expr(m).alias("m")).collect()[0]["m"]
    # falsy values (0, 0.0, '', NULL) dropped; truthy kept
    assert out == {"a": "1", "e": "x"}


def test_to_json_absent_key_semantics(spark):
    """Null struct fields vanish from JSON — the reference's key-delete
    behavior (mmj/entities/vendors.py:65-75)."""
    df = spark.createDataFrame([("x", None)], "a string, b string")
    j = df.select(F.to_json(F.struct("a", "b")).alias("j")).collect()[0]["j"]
    assert json.loads(j) == {"a": "x"}


def test_phone_array(spark):
    df = spark.createDataFrame([("705",), (None,)], "n string")
    rows = df.select(F.expr(sx.phone_array("n")).alias("p")).collect()
    assert rows[0]["p"][0].asDict() == {
        "name": "business", "number": "705", "default": True}
    assert rows[1]["p"] is None

