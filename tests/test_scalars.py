"""Unit tests for the scalar builders (C1–C26, functions/sql_text.py) on
handcrafted edge rows — the reference semantics cloned exactly
(SURVEY §7.4)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx


def _vals(spark, sql, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return [r[0] for r in df.select(F.expr(sql)).collect()]


def test_true_or_false_c1(spark):
    rows = [(1,), (0,), (2,), (None,)]
    out = _vals(spark, sx.true_or_false("x"), rows, "x int")
    assert out == [True, False, False, False]


def test_account_status_inverted_c2(spark):
    rows = [(1,), (0,), (7,), (None,)]
    out = _vals(spark, sx.account_status_inverted("x"), rows, "x int")
    assert out == ["INACTIVE", "ACTIVE", None, None]


def test_create_epoch_seconds_c3(spark):
    rows = [(dt.datetime(2017, 12, 4, 16, 7, 15),)]
    out = _vals(spark, sx.create_epoch("t"), rows, "t timestamp")
    assert out == [1512403635]  # SECONDS — not the golden doc's ms


def test_dollars_to_cents_truncates_c4(spark):
    rows = [(19.99,), (0.1,), (1.005,), (-2.5,), (None,)]
    out = _vals(spark, sx.dollars_to_cents("d"), rows, "d double")
    # int(19.99*100)=1998 (float artifact), int(0.1*100)=10,
    # int(1.005*100)=100, int(-2.5*100)=-250 (truncation toward zero)
    assert out == [1998, 10, 100, -250, None]


def test_iso_c5(spark):
    rows = [(dt.datetime(2017, 12, 4, 16, 7, 15),), (None,)]
    want = ["2017-12-04T16:07:15", None]
    assert _vals(spark, sx.iso("t"), rows, "t timestamp") == want
    # the format must stay a string literal when double quotes delimit
    # identifiers
    conf = "spark.sql.ansi.doubleQuotedIdentifiers"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        assert _vals(spark, sx.iso("t"), rows, "t timestamp") == want
    finally:
        spark.conf.set(conf, old)


def test_set_name_none_smith_c6(spark):
    rows = [("Jo", "Smith", "login1"), (None, "Smith", "login2"),
            ("Jo", None, "login3"), (None, None, "login4")]
    out = _vals(spark, sx.set_name("f", "l", "lg"), rows,
                "f string, l string, lg string")
    assert out == ["Jo Smith", "None Smith", "Jo None", "login4"]


def test_deterministic_email_c7(spark):
    out = _vals(spark, sx.deterministic_email("i"), [(1,), (1,), (2,)],
                "i long")
    assert out[0] == out[1] != out[2]
    assert all(e.endswith("@example.org") for e in out)


def test_member_type_c8(spark):
    out = _vals(spark, sx.member_type("x"), [(1,), (0,), (None,)], "x int")
    assert out == ["MEDICAL", "RECREATIONAL", "RECREATIONAL"]


def test_assign_role_c9(spark):
    out = _vals(spark, sx.assign_role("a"),
                [(1,), (2,), (3,), (4,), (None,)], "a int")
    assert out == ["site-admin", "site-admin", "store-manager",
                   "budtender", "budtender"]


def test_employee_active_c10(spark):
    out = _vals(spark, sx.employee_active_status("a"),
                [(1,), (None,), (0,)], "a int")
    assert out == ["ACTIVE", "INACTIVE", None]  # 0 falls through -> NULL


def test_map_uom_c12(spark):
    out = _vals(spark, sx.map_uom("m"), [(1,), (2,), (None,)], "m int")
    assert out == [2, 1, 1]


def test_map_categories_c13(spark):
    rows = [
        ("Cannabis", 90, 5), ("Cannabis", 5, 90), ("Cannabis", 50, 50),
        ("Cannabis", 90, 0),  # both>0 gate fails -> Hybrid (NOT Sativa)
        ("Cannabis", 0, 0), ("Cannabis", 0, 50), ("Cannabis", None, 50),
        ("CANNABIS", 90, 5),  # case-insensitive special
        ("Paraphernalia", 0, 0), ("Tincture", 0, 0), ("Prerolled", 0, 0),
        ("Seeds", 0, 0), ("Drinks", 0, 0), ("Edibles", 0, 0),
        ("Clone", 0, 0), ("Wax", 0, 0), ("Widget", 0, 0),
    ]
    out = _vals(spark, sx.map_categories("n", "s", "i"), rows,
                "n string, s int, i int")
    # Expected values traced through the reference decision order
    # (menu_items.py:277-304): the 50/50 cannabis falls through to the
    # CAT_MAP check ('Cannabis' not in CAT_MAP -> 'Other').
    assert out == ["Sativa", "Indica", "Other", "Hybrid",
                   "Hybrid", "Hybrid", "Hybrid",
                   "Sativa",
                   "Gear", "Tinctures", "Preroll",
                   "Seed", "Drink", "Edible", "Clone", "Wax", "Other"]


def test_strip_dr_prefix_c14(spark):
    rows = [("Dr. Jones",), ("dr Smith",), ("DRS Who",), ("Drake Ramoray",),
            ("Alice",), ("Drs. Foo",)]
    out = _vals(spark, sx.strip_dr_prefix("n"), rows, "n string")
    # Expected values confirmed against Python `re` with the reference's
    # exact pattern (mmj/entities/physicians.py:93-96) — including its
    # greedy-wildcard artifacts ('dr Smith' -> 'mith', 'Drake' -> 'ke ...').
    assert out == ["Jones", "mith", "Who", "ke Ramoray", "Alice", ". Foo"]


def test_dob_default_c16(spark):
    rows = [(dt.datetime(1990, 5, 1),), (None,)]
    out = _vals(spark, sx.dob_default("d"), rows, "d timestamp")
    assert out == [dt.datetime(1990, 5, 1), dt.datetime(1970, 1, 1)]


def test_net_marijuana_c18(spark):
    rows = [(2, 3.7), (1, 3.7), (2, None)]
    out = _vals(spark, sx.net_marijuana("u", "m"), rows,
                "u int, m double")
    assert out == [3, None, None]


def test_settings_and_member_scalars_c19_to_c26(spark):
    """C19–C23 and C26 in one select: NULL rows, int(2.6*2)=5 (multiply
    first, then truncate — not int(2.6)*2=4), constants, passthrough;
    plus a named_struct whose field name holds a quote."""
    exp = dt.datetime(2017, 11, 23)
    df = spark.createDataFrame(
        [(8.5, 2.6, exp, "late"), (None, None, None, None)],
        "amount double, two_week double, expires timestamp, reason string")
    out = [tuple(r) for r in df.select(
        F.expr(sx.tax_percent("amount")),
        F.expr(sx.monthly_purchase_limit("two_week")),
        F.expr(sx.expiry_date_copy("expires")),
        F.expr(sx.identification_type()),
        F.expr(sx.physician_specialty()),
        F.expr(sx.account_status_notes("reason")),
        F.to_json(F.expr(sx.named_struct(("it's", "reason"))))).collect()]
    assert out == [
        (0.085, 5, exp, "Drivers License", "General", "late",
         '{"it\'s":"late"}'),
        (None, None, None, "Drivers License", "General", None, "{}")]


def test_vendor_account_status_c24(spark):
    out = _vals(spark, sx.vendor_account_status("c"),
                [(1,), (0,), (None,)], "c int")
    assert out == ["ACTIVE", "INACTIVE", "INACTIVE"]


def test_no_python_udfs_in_scalar_plans(spark):
    """The whole scalar library must compile to native expressions —
    BatchEvalPython / ArrowEvalPython must not appear in any plan."""
    from g1_etl_spark.plans import REGISTRY

    for name, spec in REGISTRY.items():
        if "scalar" not in spec.tags:
            continue
        df = spec.fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, f"{name} uses a Python UDF"
