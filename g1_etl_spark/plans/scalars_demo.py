"""Oracle-backed queries exercising the scalar builders (C1–C26,
functions/sql_text.py) on the testdata tables.

The entity-specific semantics (category chains, role maps, truncating
cents, 'None Smith' concat, Dr-prefix strip, …) are applied to synthetic
driver columns so the DuckDB oracle can verify every branch at sf0.01.
Unit tests on handcrafted edge rows live in tests/test_scalars.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from g1_etl_spark.catalog import load_table
from g1_etl_spark.functions import sql_text as sx
from g1_etl_spark.plans.registry import register


@register(
    "scalar_flags_enums",
    oracle="""
    SELECT o_orderkey,
           COALESCE(o_orderkey % 2 = 1, FALSE) AS flag_c1,
           CASE WHEN o_orderkey % 2 = 1 THEN 'INACTIVE'
                WHEN o_orderkey % 2 = 0 THEN 'ACTIVE' END AS status_c2,
           CASE WHEN o_custkey % 2 = 1 THEN 'MEDICAL'
                ELSE 'RECREATIONAL' END AS member_type_c8,
           CASE WHEN o_custkey % 5 IN (1, 2) THEN 'site-admin'
                WHEN o_custkey % 5 = 3 THEN 'store-manager'
                ELSE 'budtender' END AS role_c9,
           CASE WHEN o_custkey % 3 = 1 THEN 'ACTIVE'
                WHEN o_custkey % 3 = 0 THEN 'INACTIVE' END AS emp_active_c10,
           CASE WHEN o_custkey % 3 = 1 THEN 2 ELSE 1 END AS uom_c12,
           CASE WHEN o_orderstatus = 'O' THEN 'ACTIVE'
                ELSE 'INACTIVE' END AS vendor_status_c24
    FROM orders
    """,
    description="C1/C2/C8/C9/C10/C12/C24: flag + enum when-chains",
    tags=("scalar",),
)
def scalar_flags_enums(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # emp_active_c10 semantics: active==1 -> ACTIVE, NULL -> INACTIVE,
    # 0 -> NULL. Synthesize active from o_custkey % 3:
    # 1 -> 1 (ACTIVE), 2 -> 0 (NULL path), 0 -> NULL (INACTIVE).
    active = ("CASE WHEN o_custkey % 3 = 1 THEN 1 "
              "WHEN o_custkey % 3 = 2 THEN 0 END")
    measurement = "CASE WHEN o_custkey % 3 = 1 THEN 1 ELSE 2 END"
    confirmed = "CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END"
    return o.selectExpr(
        "o_orderkey",
        f"{sx.true_or_false('o_orderkey % 2')} AS flag_c1",
        f"{sx.account_status_inverted('o_orderkey % 2')} AS status_c2",
        f"{sx.member_type('o_custkey % 2')} AS member_type_c8",
        f"{sx.assign_role('o_custkey % 5')} AS role_c9",
        f"{sx.employee_active_status(active)} AS emp_active_c10",
        f"{sx.map_uom(measurement)} AS uom_c12",
        f"{sx.vendor_account_status(confirmed)} AS vendor_status_c24",
    )


@register(
    "scalar_dates_money",
    oracle="""
    SELECT o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_c3,
           CAST(CASE WHEN o_totalprice * 100 >= 0
                     THEN FLOOR(o_totalprice * 100)
                     ELSE -FLOOR(-(o_totalprice * 100)) END AS BIGINT)
               AS cents_c4,
           strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_c5,
           COALESCE(NULL, TIMESTAMP '1970-01-01 00:00:00') AS dob_c16,
           TIMESTAMP '1970-01-01 02:30:00' AS emp_dob_c17,
           -- Spark's double->long cast truncates (= Python int()); DuckDB's
           -- CAST(double AS BIGINT) rounds, so trunc() explicitly here.
           CASE WHEN o_custkey % 3 = 1
                THEN CAST(trunc(o_totalprice) AS BIGINT) END AS net_mj_c18,
           o_totalprice / 100 AS tax_pct_c19,
           CAST(o_custkey AS BIGINT) * 2 AS monthly_c20,
           CASE WHEN o_orderdate IS NOT NULL THEN o_orderdate END AS expiry_c21,
           'Drivers License' AS id_type_c22,
           'General' AS specialty_c23
    FROM orders
    """,
    description="C3/C4/C5/C16/C17/C18/C19/C20/C21/C22/C23: date + money scalars",
    tags=("scalar",),
)
def scalar_dates_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    uom = "CASE WHEN o_custkey % 3 = 1 THEN 2 ELSE 1 END"
    return o.selectExpr(
        "o_orderkey",
        f"{sx.create_epoch('o_orderdate')} AS epoch_c3",
        f"{sx.dollars_to_cents('o_totalprice')} AS cents_c4",
        f"{sx.iso('o_orderdate')} AS iso_c5",
        f"{sx.dob_default('CAST(NULL AS TIMESTAMP)')} AS dob_c16",
        f"{sx.employee_const_dob()} AS emp_dob_c17",
        f"{sx.net_marijuana(uom, 'o_totalprice')} AS net_mj_c18",
        f"{sx.tax_percent('o_totalprice')} AS tax_pct_c19",
        f"{sx.monthly_purchase_limit('o_custkey')} AS monthly_c20",
        f"{sx.expiry_date_copy('o_orderdate')} AS expiry_c21",
        f"{sx.identification_type()} AS id_type_c22",
        f"{sx.physician_specialty()} AS specialty_c23",
    )


@register(
    "scalar_strings",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_custkey % 3 = 0 AND c_custkey % 2 = 0
                THEN c_name
                ELSE concat_ws(' ',
                       CASE WHEN c_custkey % 3 = 0 THEN 'None'
                            ELSE substr(c_name, 1, 8) END,
                       CASE WHEN c_custkey % 2 = 0 THEN 'None'
                            ELSE 'Smith' END)
           END AS full_name_c6,
           substr(sha256(CAST(c_custkey AS VARCHAR)), 1, 12) || '@example.org'
               AS email_c7,
           trim(regexp_replace(
                CASE WHEN c_custkey % 2 = 0 THEN 'Dr. ' || c_name
                     ELSE c_name END,
                '(?i)^(Dr(?:.)?s|(?:Dr.?))', '')) AS clean_name_c14,
           concat('https://wm-mmjmenu-images-production.s3.amazonaws.com',
                  '/customers/', CAST(c_custkey AS VARCHAR), '/original/',
                  c_name, '.jpg') AS url_c15,
           '42' AS org_id_c25,
           c_mktsegment AS notes_c26
    FROM customer
    """,
    description="C6/C7/C14/C15/C25/C26: string scalars (name concat, email, "
                "Dr-strip, URL build)",
    tags=("scalar",),
)
def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    first = "CASE WHEN c_custkey % 3 != 0 THEN substring(c_name, 1, 8) END"
    last = "CASE WHEN c_custkey % 2 != 0 THEN 'Smith' END"
    dr_name = ("CASE WHEN c_custkey % 2 = 0 THEN concat('Dr. ', c_name) "
               "ELSE c_name END")
    url = sx.image_url("customers", "c_custkey", "concat(c_name, '.jpg')")
    return c.selectExpr(
        "c_custkey",
        f"{sx.set_name(first, last, 'c_name')} AS full_name_c6",
        f"{sx.deterministic_email('c_custkey')} AS email_c7",
        f"{sx.strip_dr_prefix(dr_name)} AS clean_name_c14",
        f"{url} AS url_c15",
        f"{sx.organization_id_lit(42)} AS org_id_c25",
        f"{sx.account_status_notes('c_mktsegment')} AS notes_c26",
    )


@register(
    "scalar_category_chain",
    oracle="""
    SELECT p_partkey,
           CASE
             WHEN lower(cat) = 'cannabis' AND sativa > 0 AND indica > 0
                  AND sativa > 80 THEN 'Sativa'
             WHEN lower(cat) = 'cannabis' AND sativa > 0 AND indica > 0
                  AND indica > 80 THEN 'Indica'
             WHEN lower(cat) = 'cannabis' AND NOT (sativa > 0 AND indica > 0)
                  THEN 'Hybrid'
             WHEN lower(cat) = 'paraphernalia' THEN 'Gear'
             WHEN lower(cat) = 'tincture' THEN 'Tinctures'
             WHEN lower(cat) = 'prerolled' THEN 'Preroll'
             WHEN cat = 'Seeds' THEN 'Seed'
             WHEN cat = 'Drinks' THEN 'Drink'
             WHEN cat = 'Edibles' THEN 'Edible'
             WHEN cat NOT IN ('Indica','Sativa','Hybrid','Edible',
                              'Concentrate','Drink','Clone','Seed',
                              'Tinctures','Gear','Topicals','Preroll',
                              'Wax','Hash') THEN 'Other'
             ELSE cat END AS category_c13
    FROM (SELECT p_partkey,
                 ['Cannabis','Paraphernalia','Tincture','Prerolled','Seeds',
                  'Drinks','Edibles','Clone','Concentrate','Topicals','Widget'
                 ][(CAST(p_partkey AS INT) % 11) + 1] AS cat,
                 (p_size * 7) % 101 AS sativa,
                 (p_size * 13) % 101 AS indica
          FROM part)
    """,
    description="C13: full category normalization chain — exact reference "
                "decision order (cannabis both>0 gate, case-insensitive "
                "specials, CAT_MAP passthrough)",
    tags=("scalar",),
)
def scalar_category_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    cats = ["Cannabis", "Paraphernalia", "Tincture", "Prerolled", "Seeds",
            "Drinks", "Edibles", "Clone", "Concentrate", "Topicals", "Widget"]
    cat = ("array(" + ", ".join(f"'{x}'" for x in cats) + ")"
           "[CAST(p_partkey % 11 AS INT)]")
    sativa = "(p_size * 7) % 101"
    indica = "(p_size * 13) % 101"
    return p.selectExpr(
        "p_partkey",
        f"{sx.map_categories(cat, sativa, indica)} AS category_c13",
    )
