"""Shared helpers for the entity pipelines."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def docs(df: DataFrame, doc_col: str = "doc") -> list[dict]:
    """Collect an entity output DataFrame to a list of plain dicts via
    to_json (null struct fields vanish = reference key-delete semantics).
    Driver-side; for tests and the single-org payload sink only — the
    distributed path writes df directly (sources/sinks.py)."""
    rows = (df.select(F.to_json(F.col(doc_col)).alias("j"))
            .collect())
    return [json.loads(r["j"]) for r in rows]
