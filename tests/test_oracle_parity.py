"""Every registered query with an oracle must match DuckDB exactly at
sf0.001 — a local version of the driver's t2 gate (the driver runs the
same comparison at sf0.01; .claude/skills/verify/SKILL.md has the recipe).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_utils import compare


def _specs():
    from g1_etl_spark.plans import REGISTRY

    return sorted(REGISTRY.items())


# Parity outliers excluded from the default driver-window gate (see
# pytest.ini): their DuckDB-side unrolled-CTE oracles alone cost
# ~26 min across both SFs (closeness 838 s, sssp 572 s, pca 164 s) —
# an order of magnitude above every other query. They stay in the full
# suite (-m "slow or not slow"), which the builder runs per round.
_SLOW_PARITY = {"graph_closeness_trade", "graph_sssp_trade",
                "feat_pca_project"}


def _params(specs):
    return [pytest.param(n, s, marks=pytest.mark.slow)
            if n in _SLOW_PARITY else (n, s) for n, s in specs]


@pytest.mark.parametrize("name,spec", _params(_specs()),
                         ids=[n for n, _ in _specs()])
def test_oracle_parity(spark, duck, name, spec):
    df = spec.fn(spark, SF_SMOKE)
    if spec.oracle is None:
        # rows-only check, mirroring the driver's weaker gate
        assert df.count() >= 0
        return
    compare(df, duck, spec.oracle, name=name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["n_name", "revenue", "n_items"]


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())


def test_queries_md_is_current():
    """QUERIES.md is exactly what scripts/gen_query_catalog.py prints
    from the live registry, so a description edit cannot leave the
    catalog stale (regenerate with
    ``python scripts/gen_query_catalog.py > QUERIES.md``)."""
    import contextlib
    import importlib.util
    import io
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_query_catalog", root / "scripts" / "gen_query_catalog.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        gen.main()
    assert (root / "QUERIES.md").read_text() == buf.getvalue(), (
        "QUERIES.md is stale: python scripts/gen_query_catalog.py "
        "> QUERIES.md")


def test_no_oracle_emits_hugeint_or_decimal(duck):
    """DuckDB promotes SUM over integers to HUGEINT (INT128) and leaves
    bare decimal literals as DECIMAL; the driver's value hasher
    distinguishes both from Spark's BIGINT/DOUBLE even when every value
    matches (round 2's only red row). Every oracle must CAST such
    columns — this pure-DuckDB sweep fails the moment a new oracle
    reintroduces the class. (JSON/UBIGINT columns are excluded: the
    nested family carried them through round 1 green.)"""
    from g1_etl_spark.plans import REGISTRY

    bad = []
    for name, spec in REGISTRY.items():
        if not spec.oracle:
            continue
        rel = duck.sql(spec.oracle)
        for col, t in zip(rel.columns, [str(x) for x in rel.types]):
            if "HUGEINT" in t or t.startswith("DECIMAL"):
                bad.append((name, col, t))
    assert not bad, f"oracles with driver-hostile output types: {bad}"


@pytest.mark.parametrize("name,spec",
                         _params([(n, s) for n, s in _specs()
                                  if s.oracle]),
                         ids=[n for n, s in _specs() if s.oracle])
def test_oracle_parity_driver_scale(spark, duck_driver_scale, name, spec):
    """The same hash comparison at sf0.01 — the driver's own scale.
    sf0.001 catches logic breaks cheaply; this catches the
    data-dependent class (quantile boundaries, banding collisions,
    contract margins) that only shows up with 10x rows, BEFORE the
    driver's window does."""
    from tests.conftest import SF_ORACLE

    compare(spec.fn(spark, SF_ORACLE), duck_driver_scale, spec.oracle,
            name=name)
