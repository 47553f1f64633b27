"""Cross-engine determinism helpers shared by plan modules.

IEEE double addition is not associative, and Spark's partial/final
aggregation order differs from DuckDB's single-node order — so a naive
``SUM(double)`` hash-mismatches the oracle. Every money/measure sum goes
through exact integer arithmetic at fixed scale 1e6 instead:

    Spark : SUM(round(x * 1e6) cast long) cast double / 1e6
    DuckDB: CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
            / 1000000

Determinism: both engines compute the identical double product
``x * 1e6`` (one IEEE multiply), round it to an integer the same way
(half away from zero on an identical double — no decimal string
representation involved), sum exactly in integers, and perform the same
final divisions. Result: bit-identical aggregates, at primitive-long
codegen speed (~5× faster than the previous DECIMAL(38,6) route, which
is kept as ``DEC`` for giant-scale sums that could overflow int64 —
at scale-1e6 a long sum overflows only past ~9.2e12 in summed value).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,6)"
_SCALE = 1_000_000


def _scaled(c: Column) -> Column:
    return F.round(c * _SCALE).cast("long")


def dsum(col: Column | str, alias: str) -> Column:
    """Order-insensitive double sum (exact scaled-integer accumulation)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(_scaled(c)).cast("double") / _SCALE).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    """Order-insensitive double mean: exact integer sum / bigint count."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.sum(_scaled(c)).cast("double") / _SCALE)
            / F.count(c)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    return (f"CAST(SUM(CAST(round(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
            f" / 1000000 AS {alias}")


def sql_davg(expr: str, alias: str) -> str:
    return (f"CAST(SUM(CAST(round(({expr}) * 1000000) AS BIGINT)) AS DOUBLE)"
            f" / 1000000 / COUNT({expr}) AS {alias}")


_B30 = 1 << 30


def big_to_double(c: Column) -> Column:
    """Exact-integer (decimal(38,0) / HUGEINT-scale) -> double,
    IDENTICALLY in both engines. A direct cast diverges once the
    integer exceeds 2^53: Spark's decimal->double rounds to nearest
    while DuckDB's hugeint->double TRUNCATES toward zero (observed on
    a 3.1e19 4th-moment sum: ...140f1 vs ...140f0). Split into
    (quotient, remainder) by 2^30 — both parts < 2^53, so each
    converts exactly — and recombine with two IEEE ops (one multiply,
    one add) both engines share. Valid for |value| < 2^83; pair with
    :func:`sql_big_to_double`."""
    r = c % _B30
    q = ((c - r) / _B30).cast("long")
    return q.cast("double") * float(_B30) + r.cast("double")


def sql_big_to_double(expr: str) -> str:
    """DuckDB twin of :func:`big_to_double` (integer `//` keeps the
    quotient in HUGEINT — a bare `/` on DuckDB integers produces
    DOUBLE and would reintroduce the truncating cast)."""
    return (f"(CAST((({expr}) - ({expr}) % 1073741824) // 1073741824"
            f" AS DOUBLE) * 1073741824.0"
            f" + CAST(({expr}) % 1073741824 AS DOUBLE))")


# VERDICT r10 ask #5: driver-side materialization is legal ONLY over
# alphabet-bounded frames (nation labels, queries x pool). The cap is
# generous for every legitimate caller (25 nations; 25 queries x 40
# pool) yet tiny next to any real data-sized frame, so lifting one of
# these collects onto an unbounded input fails loudly instead of
# OOM-ing the driver at scale.
_MAX_DRIVER_ROWS = 100_000


def bounded_collect(df, what: str, limit: int = _MAX_DRIVER_ROWS):
    """Collect an alphabet-bounded frame to the driver, raising if the
    row count exceeds ``limit`` — the guard that keeps codebook-class
    collects (graph label sets, query x pool contract references) from
    being silently reused on data-sized inputs. Fetches ``limit + 1``
    rows via ``limit()`` so the overflow check never materializes an
    unbounded result."""
    rows = df.limit(limit + 1).collect()
    if len(rows) > limit:
        raise ValueError(
            f"{what}: driver-side collect exceeded the {limit}-row "
            "boundedness contract — this input is not alphabet-"
            "bounded; use a distributed form (e.g. star-contraction "
            "connected components) instead.")
    return rows
