"""Testdata catalog: the ten driver-provided parquet tables.

Scans stay declarative (`spark.read.parquet`) so Catalyst performs column
pruning and predicate pushdown into the parquet reader — the Spark-native
form of the reference's hand-rolled `SELECT * ... WHERE dispensary_id={id}`
pushdown (reference: mmj/utilities/utils.py:24-31).

At cluster scale the same API reads partitioned directories; nothing here
assumes single-file inputs.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor. At 100 TB
# the facts (lineitem/orders/events/documents/embeddings) grow; these stay
# dimension-sized, so broadcast-hash-join hints on them remain valid.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    try:
        # timestamps collect via the session timezone; the DuckDB oracle
        # is UTC-naive, so a non-UTC caller session (the driver owns its
        # own SparkSession) would shift every timestamp value. Runtime-
        # settable, so pin it here rather than trusting session.py ran.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    try:
        _tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # pragma: no cover - conf.get never raises today
        _tz = None
    if _tz != "UTC":
        # The set above was silently swallowed (immutable-conf session).
        # Instant derivation below is zone-free either way, but collected
        # timestamp RENDERINGS go through the session zone — surface it
        # instead of shifting values silently.
        warnings.warn(
            f"spark.sql.session.timeZone is {_tz!r} and could not be set "
            "to UTC; events.ts instants are derived zone-free, but "
            "collected timestamp renderings will be zone-shifted",
            RuntimeWarning, stacklevel=2)
    if name == "events":
        # events.parquet carries INT64 TIMESTAMP(NANOS), which Spark's
        # vectorized reader rejects unless this (runtime-settable) SQLConf
        # is on. Set it on the CALLER's session — queries() may run under
        # a driver-owned SparkSession that never went through get_spark().
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # immutable-conf session; fall through and let read try
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) parquet read as long via
            # spark.sql.legacy.parquet.nanosAsLong. INTEGER division: epoch
            # nanos (~1.7e18) exceeds double's 2^53 exact range, so a float
            # divide would be off by ±1µs on some rows (matches DuckDB's
            # ns->µs truncation in Python datetimes).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # timestamp[us] parquet without tz reads as TIMESTAMP_NTZ,
            # which unix_micros()/window() reject or treat differently.
            # NTZ minus the NTZ epoch is pure wall-clock integer
            # arithmetic — no session-zone dependence — so the resulting
            # instant is the parquet wall clock interpreted as UTC even
            # on an immutable-conf session stuck in a non-UTC zone (a
            # plain cast would shift every value there; the readback
            # warning above covers the rendering side).
            df = df.withColumn("ts", F.timestamp_micros(F.expr(
                "timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
    return df

