"""Query registry: name -> (Spark callable, optional DuckDB oracle SQL).

Contract (served through __spark_entry__.py, see its docstring):
  - fn(spark, sf_dir) -> DataFrame
  - oracle: ANSI SQL DuckDB can run against the same parquet tables,
    producing identical column NAMES and values (column order irrelevant —
    the driver sorts columns by name before hashing).

Cross-engine determinism rules used throughout the plan modules:
  - Sums over doubles are order-sensitive in IEEE float math, and Spark's
    partial aggregation order differs from DuckDB's. Any SUM/AVG over a
    double therefore goes through exact scaled-integer arithmetic
    (plans/_util.py dsum/davg): each value is multiplied by 1e6 and
    rounded to a BIGINT per row (deterministic — the doubles are
    identical in both engines), summed exactly in integers, then divided
    back to DOUBLE. Both engines produce bit-identical results.
  - COUNT family returns BIGINT in both engines.
  - Timestamps are emitted as DATE or formatted strings where feasible.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None
    description: str = ""
    tags: tuple = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str] = None, description: str = "",
             tags: tuple = ()):
    """Decorator: register fn under `name` with its oracle SQL."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        if fn.__name__ != name:
            # catches the silent-misregistration trap: inserting a
            # helper def between @register(...) and the intended query
            # fn registers the HELPER under the query's name (bit twice
            # in round 6 — triangle sparsification, payload roundtrip).
            # Fleet convention is fn name == registered name; rename
            # the fn if an alias is genuinely wanted.
            raise ValueError(
                f"@register({name!r}) decorates {fn.__name__!r} — "
                "helper inserted between decorator and query fn?")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                   description=description, tags=tags)
        return fn

    return deco
