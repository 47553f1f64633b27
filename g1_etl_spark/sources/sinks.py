"""Sink — Spark-native rebuild of the reference's K1 JSON output
(SURVEY §2.1): etl_import.py:59-64, a distributed df.write.json with
ignoreNullFields (absent-key semantics); the single-document payload
goes through entities/assemble.py. The reference's K2 MongoDB sink
(utils.py:123-131) is not rebuilt: the JSON output is the product.

At scale: entity outputs partition by dispensary_id; one JSON part per
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_entity_json(df: DataFrame, path: str,
                      partition_by: str | None = None) -> None:
    """Distributed JSON sink with null fields dropped (the reference's
    deleted-key behavior; F4/N1 semantics)."""
    writer = (df.write.mode("overwrite")
              .option("ignoreNullFields", "true"))
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.json(path)

