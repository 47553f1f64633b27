"""Driver-facing entity-pipeline queries.

The six entity transforms (g1_etl_spark/entities/*) are exercised against
mmj-shaped inputs DERIVED from the driver's testdata tables (the derivation
is plain column expressions, reproduced identically on the DuckDB side).
Outputs are flattened doc fields so nullable group-deletes hash cleanly.

members/vendors/physicians/employees have full oracles; settings and
menu_items run the full nested pipeline as doc-JSON smoke checks whose
VALUES are certified by the oracle-backed flat twins and whose nested
SHAPE is certified by the entity_*_json roundtrip contracts at the end
of this module (the fixture goldens in tests/test_entities.py pin the
exact semantics locally as well).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.plans.registry import REGISTRY, register

_TS = "1995-03-04 10:20:30"


def _customers_like(spark, sf_dir):
    # r12: one selectExpr over import-time strings — same expressions as
    # the former Column build (certified by the entity oracles), zero
    # per-call py4j tree construction
    c = load_table(spark, sf_dir, "customer")
    k, ks = "c_custkey", "CAST(c_custkey AS STRING)"
    return c.selectExpr(
        f"{k} AS id",
        "CAST(1 AS BIGINT) AS dispensary_id",
        f"CASE WHEN {k} % 3 <> 0 THEN concat(c_name, '.jpg') END"
        " AS picture_file_name",
        "c_name AS name",
        f"concat('u', {ks}, '@x.org') AS email",
        f"concat('555-', {ks}) AS phone_number",
        f"concat('A-', {ks}) AS address",
        "c_mktsegment AS city",
        "CAST(c_nationkey AS STRING) AS state",
        "'55812' AS zip_code",
        f"CASE WHEN {k} % 2 = 0 THEN"
        " CAST('1980-09-02 00:00:00' AS TIMESTAMP) END AS dob",
        f"CAST({k} % 2 AS INT) AS license_type",
        f"CASE WHEN {k} % 4 <> 0 THEN concat('REG', {ks}) END"
        " AS registry_no",
        f"{k} % 7 AS membership_id",
        f"CAST({k} % 2 AS INT) AS given_caregivership",
        f"CAST({k} % 3 AS INT) AS tax_exempt",
        f"concat('DL', {ks}) AS drivers_license_no",
        "c_acctbal AS points",
        f"CAST({k} % 2 AS INT) AS locked_visits",
        f"CASE WHEN {k} % 5 = 0 THEN 'flagged' END"
        " AS locked_visits_reason",
        f"{k} % 3 AS caregiver_id",
        f"CASE WHEN {k} % 2 = 1 THEN CAST('{_TS}' AS TIMESTAMP) END"
        " AS card_expires_at",
        f"CAST('{_TS}' AS TIMESTAMP) AS created_at",
        f"CAST('{_TS}' AS TIMESTAMP) AS updated_at",
        "CAST(NULL AS BIGINT) AS physician_id",
        f"CASE WHEN {k} % 4 <> 0 THEN concat('CM', {ks}) ELSE '' END"
        " AS custom_membership_id",
        "CAST(NULL AS STRING) AS organization_membership_id",
        "CAST(420 AS BIGINT) AS organization_id",
    )


_CUSTOMERS_LIKE_SQL = f"""
    SELECT c_custkey AS id,
           CASE WHEN c_custkey % 3 <> 0 THEN c_name || '.jpg' END
             AS picture_file_name,
           c_name AS name,
           c_acctbal AS points,
           c_custkey % 2 AS license_type,
           c_custkey % 2 AS given_caregivership,
           c_custkey % 3 AS tax_exempt,
           c_custkey % 2 AS locked_visits,
           CASE WHEN c_custkey % 5 = 0 THEN 'flagged' END
             AS locked_visits_reason,
           c_custkey % 3 AS caregiver_id,
           CASE WHEN c_custkey % 4 <> 0 THEN 'REG' || CAST(c_custkey AS VARCHAR) END
             AS registry_no,
           'DL' || CAST(c_custkey AS VARCHAR) AS drivers_license_no,
           CASE WHEN c_custkey % 2 = 0 THEN TIMESTAMP '1980-09-02 00:00:00' END
             AS dob,
           CASE WHEN c_custkey % 2 = 1 THEN TIMESTAMP '{_TS}' END
             AS card_expires_at,
           CASE WHEN c_custkey % 4 <> 0 THEN 'CM' || CAST(c_custkey AS VARCHAR)
                ELSE '' END AS custom_membership_id
    FROM customer
"""


@register(
    "entity_members",
    oracle=f"""
    WITH src AS ({_CUSTOMERS_LIKE_SQL})
    SELECT id AS custkey,
           name,
           CASE WHEN license_type = 1 THEN 'MEDICAL'
                ELSE 'RECREATIONAL' END AS member_type,
           CASE WHEN locked_visits = 1 THEN 'INACTIVE'
                WHEN locked_visits = 0 THEN 'ACTIVE' END AS account_status,
           strftime(COALESCE(dob, TIMESTAMP '1970-01-01 00:00:00'),
                    '%Y-%m-%dT%H:%M:%S') AS date_of_birth,
           COALESCE(given_caregivership = 1, FALSE) AS is_caregiver,
           COALESCE(tax_exempt = 1, FALSE) AS tax_exempt_out,
           registry_no AS mmj_card,
           drivers_license_no AS identification_number,
           points,
           strftime(card_expires_at, '%Y-%m-%dT%H:%M:%S') AS expiry_date,
           locked_visits_reason AS account_status_notes,
           CASE WHEN id <> 0 THEN id END AS keys_id,
           CASE WHEN caregiver_id <> 0 THEN caregiver_id END
             AS keys_caregiver_id,
           CASE WHEN custom_membership_id <> '' THEN custom_membership_id END
             AS keys_custom_membership_id,
           picture_file_name AS keys_picture_file_name
    FROM src
    """,
    description="members entity pipeline (C2/C8/C16/C21/C22, N1/N2, F5 "
                "pruning) over mmj-shaped inputs derived from customer",
    tags=("entity",),
)
def entity_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.entities.members import transform

    out = transform(_customers_like(spark, sf_dir), 1, 420)
    return out.select(F.col("_id").alias("custkey"),
                      *_members_flat_cols(F.col("doc")))


def _members_flat_cols(d):
    """Member-doc flat projection columns — shared by the direct flat
    twin and the whole-org payload contract, so the two cannot drift."""
    return [
        d["name"].alias("name"),
        d["memberType"].alias("member_type"),
        d["accountStatus"].alias("account_status"),
        d["dateOfBirth"].alias("date_of_birth"),
        d["isCaregiver"].alias("is_caregiver"),
        d["taxExempt"].alias("tax_exempt_out"),
        d["mmjCard"].alias("mmj_card"),
        d["identificationNumber"].alias("identification_number"),
        d["points"].alias("points"),
        d["expiryDate"].alias("expiry_date"),
        d["accountStatusNotes"].alias("account_status_notes"),
        d["keys"]["id"].alias("keys_id"),
        d["keys"]["caregiver_id"].alias("keys_caregiver_id"),
        d["keys"]["custom_membership_id"]
        .alias("keys_custom_membership_id"),
        d["keys"]["picture_file_name"].alias("keys_picture_file_name"),
    ]


def _vendors_like(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    k, ks = "p_partkey", "CAST(p_partkey AS STRING)"
    return p.selectExpr(
        f"{k} AS id",
        "CAST(1 AS BIGINT) AS dispensary_id",
        f"CASE WHEN {k} % 5 = 0 THEN '' ELSE concat('MV', {ks}) END"
        " AS mmjvenu_id",
        "p_name AS name",
        f"CASE WHEN {k} % 3 <> 0 THEN concat('705', {ks}) END"
        " AS phone_number",
        f"CASE WHEN {k} % 2 = 0 THEN concat('v', {ks}, '@x.org') END"
        " AS email",
        "'US' AS country",
        "'MN' AS state",
        "p_brand AS city",
        f"CASE WHEN {k} % 4 <> 0 THEN concat('Addr ', {ks}) END"
        " AS address",
        "'55812' AS zip_code",
        f"CASE WHEN {k} % 3 = 0 THEN concat('L', {ks}) END"
        " AS liscense_no",
        f"CAST({k} % 2 AS INT) AS confirmed",
        f"CASE WHEN {k} % 7 <> 0 THEN 'http://v.example' END AS website",
    )


_VENDORS_LIKE_SQL = """
    SELECT p_partkey AS id, p_name AS name, p_brand AS city,
           CASE WHEN p_partkey % 5 = 0 THEN ''
                ELSE 'MV' || CAST(p_partkey AS VARCHAR) END AS mmjvenu_id,
           CASE WHEN p_partkey % 3 <> 0
                THEN '705' || CAST(p_partkey AS VARCHAR) END AS phone_number,
           CASE WHEN p_partkey % 2 = 0
                THEN 'v' || CAST(p_partkey AS VARCHAR) || '@x.org' END AS email,
           CASE WHEN p_partkey % 4 <> 0
                THEN 'Addr ' || CAST(p_partkey AS VARCHAR) END AS address,
           CASE WHEN p_partkey % 3 = 0
                THEN 'L' || CAST(p_partkey AS VARCHAR) END AS liscense_no,
           p_partkey % 2 AS confirmed,
           CASE WHEN p_partkey % 7 <> 0 THEN 'http://v.example' END AS website
    FROM part
"""


@register(
    "entity_vendors",
    oracle=f"""
    WITH src AS ({_VENDORS_LIKE_SQL}),
    g AS (SELECT *,
                 (liscense_no IS NOT NULL AND email IS NOT NULL
                  AND website IS NOT NULL) AS grp
          FROM src)
    SELECT id AS vendor_id, name,
           CASE WHEN confirmed = 1 THEN 'ACTIVE' ELSE 'INACTIVE' END
             AS account_status,
           CASE WHEN grp THEN email END AS email_out,
           CASE WHEN grp THEN website END AS website_out,
           CASE WHEN grp THEN liscense_no END AS licence_number,
           phone_number AS phone_first_number,
           address AS address_line1,
           CASE WHEN address IS NOT NULL THEN city END AS address_city,
           CASE WHEN mmjvenu_id <> '' THEN mmjvenu_id END AS keys_mmjvenu_id
    FROM g
    """,
    description="vendors entity pipeline (C24, F4 group-delete, N2/N3) "
                "over mmj-shaped inputs derived from part",
    tags=("entity",),
)
def entity_vendors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.entities.vendors import transform

    out = transform(_vendors_like(spark, sf_dir), 1, 420)
    return out.select(
        F.col("_id").alias("vendor_id"),
        F.col("doc.name").alias("name"),
        F.col("doc.accountStatus").alias("account_status"),
        F.col("doc.email").alias("email_out"),
        F.col("doc.website").alias("website_out"),
        F.col("doc.licenceNumber").alias("licence_number"),
        F.col("doc.phone").getItem(0).getField("number")
        .alias("phone_first_number"),
        F.col("doc.address.line1").alias("address_line1"),
        F.col("doc.address.city").alias("address_city"),
        F.col("doc.keys.mmjvenu_id").alias("keys_mmjvenu_id"),
    )


def _physicians_like(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    k, ks = "c_custkey", "CAST(c_custkey AS STRING)"
    return c.selectExpr(
        f"{k} AS id",
        "CAST(1 AS BIGINT) AS dispensary_id",
        f"CASE WHEN {k} % 2 = 0 THEN concat('Dr. ', c_name)"
        " ELSE c_name END AS name",
        f"CASE WHEN {k} % 3 = 0 THEN concat('p', {ks}, '@x.org') END"
        " AS email",
        f"CAST('{_TS}' AS TIMESTAMP) AS created_at",
        f"CAST('{_TS}' AS TIMESTAMP) AS updated_at",
        f"CASE WHEN {k} % 4 <> 0 THEN concat('Care ', {ks}) END"
        " AS address",
        f"CASE WHEN {k} % 4 <> 0 THEN c_mktsegment END AS city",
        f"CASE WHEN {k} % 4 <> 0 THEN 'MN' END AS state",
        "CAST(NULL AS STRING) AS country",
        f"CASE WHEN {k} % 4 <> 0 THEN '55812' END AS zip_code",
        f"CASE WHEN {k} % 6 = 0 THEN 'http://verify.example' END"
        " AS website",
        f"CASE WHEN {k} % 3 = 0 THEN concat('MD', {ks}) END"
        " AS license_no",
        f"CASE WHEN {k} % 2 = 1 THEN concat('218', {ks}) END"
        " AS phone_number",
    )


_PHYSICIANS_LIKE_SQL = """
    SELECT c_custkey AS id,
           CASE WHEN c_custkey % 2 = 0 THEN 'Dr. ' || c_name
                ELSE c_name END AS name,
           CASE WHEN c_custkey % 3 = 0
                THEN 'p' || CAST(c_custkey AS VARCHAR) || '@x.org' END AS email,
           CASE WHEN c_custkey % 4 <> 0
                THEN 'Care ' || CAST(c_custkey AS VARCHAR) END AS address,
           CASE WHEN c_custkey % 4 <> 0 THEN c_mktsegment END AS city,
           CASE WHEN c_custkey % 4 <> 0 THEN 'MN' END AS state,
           CASE WHEN c_custkey % 4 <> 0 THEN '55812' END AS zip_code,
           CASE WHEN c_custkey % 6 = 0 THEN 'http://verify.example' END
             AS website,
           CASE WHEN c_custkey % 3 = 0
                THEN 'MD' || CAST(c_custkey AS VARCHAR) END AS license_no,
           CASE WHEN c_custkey % 2 = 1
                THEN '218' || CAST(c_custkey AS VARCHAR) END AS phone_number
    FROM customer
"""


@register(
    "entity_physicians",
    oracle=f"""
    WITH src AS ({_PHYSICIANS_LIKE_SQL}),
    g AS (SELECT *,
                 (license_no IS NOT NULL AND website IS NOT NULL
                  AND email IS NOT NULL) AS grp,
                 (COALESCE(city, '') <> '' OR COALESCE(address, '') <> ''
                  OR COALESCE(state, '') <> '' OR COALESCE(zip_code, '') <> '')
                   AS has_loc
          FROM src)
    SELECT id AS physician_id,
           trim(regexp_replace(name, '(?i)^(Dr(?:.)?s|(?:Dr.?))', ''))
             AS name,
           'General' AS specialty,
           CASE WHEN grp THEN email END AS email_out,
           CASE WHEN grp THEN website END AS verification_website,
           CASE WHEN grp THEN license_no END AS licence_number,
           phone_number AS phone_first_number,
           CASE WHEN has_loc THEN address END AS address_line1,
           CASE WHEN has_loc THEN city END AS address_city
    FROM g
    """,
    description="physicians entity pipeline (C14 Dr-strip, C23, F4 "
                "group-delete, conditional N2) over customer-derived inputs",
    tags=("entity",),
)
def entity_physicians(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.entities.physicians import transform

    out = transform(_physicians_like(spark, sf_dir), 1, 420)
    return out.select(
        F.col("_id").alias("physician_id"),
        F.col("doc.name").alias("name"),
        F.col("doc.specialty").alias("specialty"),
        F.col("doc.email").alias("email_out"),
        F.col("doc.verificationWebsite").alias("verification_website"),
        F.col("doc.licenceNumber").alias("licence_number"),
        F.col("doc.phone").getItem(0).getField("number")
        .alias("phone_first_number"),
        F.col("doc.address").getItem(0).getField("line1")
        .alias("address_line1"),
        F.col("doc.address").getItem(0).getField("city")
        .alias("address_city"),
    )


def _users_like(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    k, ks = "c_custkey", "CAST(c_custkey AS STRING)"
    return c.selectExpr(
        f"{k} AS id",
        f"concat('e', {ks}, '@real.org') AS email",
        f"CASE WHEN {k} % 3 <> 0 THEN concat('First', {ks}) END"
        " AS first_name",
        f"CASE WHEN {k} % 2 <> 0 THEN concat('Last', {ks}) END"
        " AS last_name",
        f"concat('login', {ks}) AS login",
        "CAST(420 AS BIGINT) AS organization_id",
        f"CAST('{_TS}' AS TIMESTAMP) AS created_at",
        f"CAST('{_TS}' AS TIMESTAMP) AS updated_at",
    )


def _dispensary_users_like(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    k = "c_custkey"
    return c.filter(F.col("c_custkey") % 10 != 0).selectExpr(
        f"{k} AS user_id",
        "CAST(1 AS BIGINT) AS dispensary_id",
        f"CAST(CASE WHEN {k} % 3 = 1 THEN 1 WHEN {k} % 3 = 2 THEN 0 END"
        " AS INT) AS active",
        f"CAST({k} % 5 AS INT) AS access",
    )


@register(
    "entity_employees",
    oracle="""
    WITH u AS (
      SELECT c_custkey AS id,
             'e' || CAST(c_custkey AS VARCHAR) || '@real.org' AS email,
             CASE WHEN c_custkey % 3 <> 0
                  THEN 'First' || CAST(c_custkey AS VARCHAR) END AS first_name,
             CASE WHEN c_custkey % 2 <> 0
                  THEN 'Last' || CAST(c_custkey AS VARCHAR) END AS last_name,
             'login' || CAST(c_custkey AS VARCHAR) AS login
      FROM customer),
    du AS (
      SELECT c_custkey AS user_id,
             CASE WHEN c_custkey % 3 = 1 THEN 1
                  WHEN c_custkey % 3 = 2 THEN 0 END AS active,
             c_custkey % 5 AS access
      FROM customer WHERE c_custkey % 10 <> 0)
    SELECT u.id AS employee_id,
           CASE WHEN first_name IS NULL AND last_name IS NULL THEN login
                ELSE concat_ws(' ', COALESCE(first_name, 'None'),
                               COALESCE(last_name, 'None')) END AS name,
           CASE WHEN access IN (1, 2) THEN 'site-admin'
                WHEN access = 3 THEN 'store-manager'
                ELSE 'budtender' END AS role,
           CASE WHEN active = 1 THEN 'ACTIVE'
                WHEN active IS NULL THEN 'INACTIVE' END AS account_status,
           email AS email_out
    FROM u JOIN du ON u.id = du.user_id
    """,
    description="employees entity pipeline (C6 'None Smith', C9 role "
                "intent, C10 active fallthrough; S4 N+1 -> broadcast join)",
    tags=("entity",),
)
def entity_employees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from g1_etl_spark.entities.employees import transform

    out = transform(_users_like(spark, sf_dir),
                    _dispensary_users_like(spark, sf_dir),
                    1, 420, fake_email=False, debug=False)
    return out.select(
        F.col("_id").alias("employee_id"),
        F.col("doc.name").alias("name"),
        F.col("doc.role").alias("role"),
        F.col("doc.accountStatus").alias("account_status"),
        F.col("doc.email").alias("email_out"),
    )


def _products_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """menu_items pipeline over part/supplier-derived inputs; shared by
    the rows-only smoke and the oracle-backed flat projection."""
    from g1_etl_spark.entities.menu_items import transform

    p = load_table(spark, sf_dir, "part")
    k = "p_partkey"
    menu_items = p.selectExpr(
        f"{k} AS id", f"{k} % 7 AS vendor_id",
        "CAST(1 AS BIGINT) AS menu_id",
        "CAST(1 AS BIGINT) AS dispensary_id",
        "CAST(NULL AS BIGINT) AS strain_id",
        f"CAST('{_TS}' AS TIMESTAMP) AS created_at",
        f"CAST('{_TS}' AS TIMESTAMP) AS updated_at",
        f"{k} % 4 AS category_id",
        "p_name AS name",
        "CAST((p_size * 7) % 101 AS INT) AS sativa",
        "CAST((p_size * 13) % 101 AS INT) AS indica",
        f"CAST({k} % 2 AS INT) AS on_hold",
        f"CAST({k} % 2 + 1 AS INT) AS product_type",
        f"CASE WHEN {k} % 3 = 0 THEN concat(p_brand, '.jpg') END"
        " AS image_file_name",
        "p_retailprice AS medicine_amount",
    )
    # literal dims via one spark.sql VALUES call each (a createDataFrame
    # here costs ~100 ms of schema parse + row shipping PER CALL; the
    # SQL form is one py4j round-trip and the same LocalRelation)
    categories = spark.sql(
        "SELECT CAST(id AS BIGINT) AS id, name, "
        "CAST(measurement AS INT) AS measurement, "
        "CAST(dispensary_id AS BIGINT) AS dispensary_id FROM VALUES "
        "(0, 'Cannabis', 2, 1), (1, 'Edibles', 1, 1), "
        "(2, 'Paraphernalia', 1, 1), (3, 'Widget', 2, 1) "
        "t(id, name, measurement, dispensary_id)")
    s = load_table(spark, sf_dir, "supplier")
    prices = s.selectExpr(
        "s_suppkey AS id",
        "s_suppkey AS menu_item_id",
        "CAST(1 AS BIGINT) AS dispensary_id",
        *[f"abs(s_acctbal % 100) AS {c}" for c in
          ("price_half_gram", "price_gram", "price_two_gram", "price_eigth",
           "price_quarter", "price_half", "price_ounce")])
    wm = (p.filter(F.col("p_partkey") % 5 == 0)
          .selectExpr("p_partkey AS menu_item_id"))
    dd = spark.sql(
        "SELECT CAST(7 AS BIGINT) AS id, "
        "CAST(1 AS BIGINT) AS dispensary_id, "
        "5.5D AS grams_hold_at, 3.0D AS units_hold_at")
    return transform(menu_items, categories, prices, wm, dd, 1, 420)


@register(
    "entity_products_smoke",
    oracle=None,  # full nested doc; VALUES certified by the flat twin,
    # nested SHAPE by entity_products_json (roundtrip contract)
    description="menu_items pipeline end-to-end (broadcast decorrelation "
                "of S4, nested locationProductDetails) — rows-only check",
    tags=("entity",),
)
def entity_products_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _products_doc(spark, sf_dir)
    return out.select(
        F.col("_id").alias("product_id"),
        F.to_json(F.col("doc")).alias("doc_json"),
    )


def _settings_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """settings pipeline over nation-derived inputs; shared by the
    rows-only smoke and the oracle-backed flat projection."""
    from g1_etl_spark.entities.settings import transform

    n = load_table(spark, sf_dir, "nation")
    k = "n_nationkey"
    dd = n.selectExpr(
        f"{k} AS id", "CAST(1 AS BIGINT) AS dispensary_id",
        f"CAST({k} % 2 AS INT) AS menu_show_tax",
        f"CASE WHEN {k} % 3 <> 0 THEN concat(n_name, '.png') END"
        " AS logo_file_name",
        "CAST(30 AS INT) AS inactivity_logout",
        f"CAST({k} % 2 AS INT) AS calculate_even_totals",
        f"CAST({k} % 3 = 0 AS INT) AS require_customer_referrer",
        f"CAST({k} % 2 AS INT) AS membership_fee_enabled",
        "CAST(1 AS INT) AS pp_enabled",
        f"CAST({k} % 10 AS DOUBLE) AS pp_global_dollars_to_points",
        f"CAST({k} % 5 AS DOUBLE) AS pp_global_points_to_dollars",
        "25.0D AS pp_points_per_referral",
        f"CAST({k} % 2 AS INT) AS allow_unpaid_visits",
        "CAST(1 AS INT) AS red_flags_enabled",
        f"CASE WHEN {k} % 4 = 0 THEN 'api-key' END AS mmjrevu_api_key",
        "5.5D AS grams_hold_at",
        "3.0D AS units_hold_at")
    # literal dims via spark.sql VALUES (see _products_doc note)
    memberships = spark.sql(
        "SELECT CAST(id AS BIGINT) AS id, "
        "CAST(dispensary_id AS BIGINT) AS dispensary_id "
        "FROM VALUES (1, 1), (2, 1) t(id, dispensary_id)")
    prices = spark.sql(
        "SELECT CAST(id AS BIGINT) AS id, "
        "CAST(membership_id AS BIGINT) AS membership_id, "
        "price_half_gram, price_gram, price_two_gram, price_eigth, "
        "price_quarter, price_half, price_ounce FROM VALUES "
        "(1, 1, 5.0D, 10.0D, 18.0D, 30.0D, 55.0D, 100.0D, 190.0D), "
        "(2, 2, 4.0D, 8.0D, 15.0D, 28.0D, 50.0D, 95.0D, 180.0D) "
        "t(id, membership_id, price_half_gram, price_gram, "
        "price_two_gram, price_eigth, price_quarter, price_half, "
        "price_ounce)")
    red_flags = spark.sql(
        "SELECT CAST(1 AS BIGINT) AS dispensary_id, "
        "100.0D AS daily_purchase_limit, 30.0D AS visit_purchase_limit, "
        "3.0D AS daily_visit_limit, 400.0D AS two_week_purchase_limit")
    taxes = spark.sql(
        "SELECT CAST(dispensary_id AS BIGINT) AS dispensary_id, amount, "
        "name FROM VALUES (1, 7.25D, 'state'), (1, 1.5D, 'city') "
        "t(dispensary_id, amount, name)")
    return transform(dd, memberships, prices, red_flags, taxes, 1, 420)


@register(
    "entity_settings",
    oracle=None,  # deeply-nested doc; VALUES certified by the flat twin,
    # nested SHAPE by entity_settings_json (roundtrip contract)
    description="settings pipeline end-to-end: last-row-wins dispensary "
                "details fold, membership price nest, red-flag limits, "
                "winner tax row (rows-only; goldens in "
                "tests/test_entities.py)",
    tags=("entity",),
)
def entity_settings(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _settings_doc(spark, sf_dir)
    return out.select(F.col("_id").alias("settings_id"),
                      F.to_json(F.col("doc")).alias("doc_json"))


@register(
    "entity_settings_flat",
    oracle="""
    WITH dd AS (
      SELECT n_nationkey AS id,
             n_nationkey % 2 AS menu_show_tax,
             CASE WHEN n_nationkey % 3 <> 0 THEN n_name || '.png' END
               AS logo_file_name,
             n_nationkey % 2 AS calculate_even_totals,
             CASE WHEN n_nationkey % 3 = 0 THEN 1 ELSE 0 END
               AS require_customer_referrer,
             n_nationkey % 2 AS membership_fee_enabled,
             CAST(n_nationkey % 10 AS DOUBLE) AS pp_d2p,
             CAST(n_nationkey % 5 AS DOUBLE) AS pp_p2d,
             n_nationkey % 2 AS allow_unpaid_visits,
             CASE WHEN n_nationkey % 4 = 0 THEN 'api-key' END
               AS mmjrevu_api_key
      FROM nation ORDER BY id DESC LIMIT 1),
    tax AS (SELECT name, CAST(amount AS DOUBLE) AS amount
            FROM (VALUES ('state', 7.25), ('city', 1.5)) t(name, amount)
            ORDER BY name DESC, amount DESC LIMIT 1),
    price AS (SELECT pid,
                     CAST(half_gram AS DOUBLE) AS half_gram,
                     CAST(gram AS DOUBLE) AS gram,
                     CAST(two_gram AS DOUBLE) AS two_gram,
                     CAST(eigth AS DOUBLE) AS eigth,
                     CAST(quarter AS DOUBLE) AS quarter,
                     CAST(half AS DOUBLE) AS half,
                     CAST(ounce AS DOUBLE) AS ounce
              FROM (VALUES
                (1, 5.0, 10.0, 18.0, 30.0, 55.0, 100.0, 190.0),
                (2, 4.0, 8.0, 15.0, 28.0, 50.0, 95.0, 180.0))
              p(pid, half_gram, gram, two_gram, eigth, quarter, half,
                ounce)
              ORDER BY pid ASC LIMIT 1),
    rf AS (SELECT CAST(100.0 AS DOUBLE) AS daily_purchase_limit,
                  CAST(30.0 AS DOUBLE) AS visit_purchase_limit,
                  CAST(3.0 AS DOUBLE) AS daily_visit_limit,
                  CAST(400.0 AS DOUBLE) AS two_week_purchase_limit)
    SELECT CAST(dd.id AS BIGINT) AS settings_id,
           '420' AS organization_id,
           CAST(30 AS BIGINT) AS session_timeout,
           CASE WHEN logo_file_name IS NOT NULL
                 AND mmjrevu_api_key IS NOT NULL
                THEN 'https://wm-mmjmenu-images-production.s3.amazonaws'
                     || '.com/logos/' || CAST(dd.id AS VARCHAR)
                     || '/original/' || logo_file_name END AS image_out,
           CASE WHEN logo_file_name IS NOT NULL
                 AND mmjrevu_api_key IS NOT NULL
                THEN mmjrevu_api_key END AS api_key_out,
           membership_fee_enabled = 1 AS crm_levels_enabled,
           pp_d2p AS crm_dollars_per_point,
           pp_p2d AS crm_points_per_dollar,
           CAST(25.0 AS DOUBLE) AS crm_referral_points,
           mmjrevu_api_key AS loc_api_key,
           allow_unpaid_visits = 1 AS paid_visits_enabled,
           require_customer_referrer = 1 AS mandatory_referral,
           TRUE AS has_limits,
           CAST(daily_purchase_limit AS BIGINT) AS daily_purchase_limit,
           CAST(visit_purchase_limit AS BIGINT) AS visit_purchase_limit,
           CAST(daily_visit_limit AS BIGINT) AS daily_visit_limit,
           CAST(two_week_purchase_limit * 2 AS BIGINT)
             AS monthly_purchase_limit,
           menu_show_tax = 1 AS enable_taxes_in,
           calculate_even_totals = 1 AS has_price_rounding,
           'Default' AS wp_name,
           TRUE AS wp_default_tier,
           CAST(trunc(half_gram * 100) AS BIGINT) AS bp_half_gram,
           CAST(trunc(gram * 100) AS BIGINT) AS bp_gram,
           CAST(trunc(two_gram * 100) AS BIGINT) AS bp_two_gram,
           CAST(trunc(eigth * 100) AS BIGINT) AS bp_eighth,
           CAST(trunc(quarter * 100) AS BIGINT) AS bp_quarter,
           CAST(trunc(half * 100) AS BIGINT) AS bp_half,
           CAST(trunc(ounce * 100) AS BIGINT) AS bp_ounce,
           tax.name AS tax_code,
           tax.amount / 100 AS tax_percent,
           'sales' AS tax_type,
           CAST(1 AS BIGINT) AS keys_dispensary_id,
           CAST(dd.id AS BIGINT) AS keys_id
    FROM dd, tax, price, rf
    """,
    description="settings pipeline, scalar leaves flattened for an exact "
                "DuckDB oracle: driver-verifies the last-row-wins "
                "dispensary fold, winner tax row, red-flag limits and "
                "cents breakpoints (reference settings.py:169-204) that "
                "the nested smoke could only rows-only check",
    tags=("entity",),
)
def entity_settings_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _settings_flat_select(_settings_doc(spark, sf_dir))


def _settings_flat_select(out: DataFrame) -> DataFrame:
    """Flat projection from a (_id, doc) frame — shared by the direct
    flat twin and the JSON-roundtrip shape contract, so the two paths
    cannot drift apart."""
    d = F.col("doc")
    ml = d["location_specific"]["members"]["medicalLimits"]
    bp = d["location_specific"]["inventory"]["weightPricing"]["breakpoints"]
    crm = d["crm_member_settings"]["membershipLevel"]
    return out.select(
        F.col("_id").cast("long").alias("settings_id"),
        d["organizationId"].alias("organization_id"),
        d["sessionTimeoutDuration"].cast("long").alias("session_timeout"),
        d["image"].alias("image_out"),
        d["apiKey"].alias("api_key_out"),
        crm["membershipLevelsEnabled"].alias("crm_levels_enabled"),
        crm["dollarsPerPoint"].alias("crm_dollars_per_point"),
        crm["pointsPerDollar"].alias("crm_points_per_dollar"),
        crm["referralPoints"].alias("crm_referral_points"),
        d["location_specific"]["apiKey"].alias("loc_api_key"),
        d["location_specific"]["members"]["paidVisitsEnabled"]
        .alias("paid_visits_enabled"),
        d["location_specific"]["members"]["mandatoryReferral"]
        .alias("mandatory_referral"),
        ml["hasLimits"].alias("has_limits"),
        ml["dailyPurchaseLimit"].cast("long").alias("daily_purchase_limit"),
        ml["visitPurchaseLimit"].cast("long").alias("visit_purchase_limit"),
        ml["dailyVisitLimit"].cast("long").alias("daily_visit_limit"),
        ml["monthlyPurchaseLimit"].cast("long")
        .alias("monthly_purchase_limit"),
        d["location_specific"]["sales"]["enableTaxesIn"]
        .alias("enable_taxes_in"),
        d["location_specific"]["sales"]["hasPriceRounding"]
        .alias("has_price_rounding"),
        d["location_specific"]["inventory"]["weightPricing"]["name"]
        .alias("wp_name"),
        d["location_specific"]["inventory"]["weightPricing"]["defaultTier"]
        .alias("wp_default_tier"),
        bp["price_half_gram"].cast("long").alias("bp_half_gram"),
        bp["price_gram"].cast("long").alias("bp_gram"),
        bp["price_two_gram"].cast("long").alias("bp_two_gram"),
        bp["price_eighth"].cast("long").alias("bp_eighth"),
        bp["price_quarter"].cast("long").alias("bp_quarter"),
        bp["price_half"].cast("long").alias("bp_half"),
        bp["price_ounce"].cast("long").alias("bp_ounce"),
        d["sales_settings_taxes"]["taxes"]["code"].alias("tax_code"),
        d["sales_settings_taxes"]["taxes"]["percent"].alias("tax_percent"),
        d["sales_settings_taxes"]["taxes"]["type"].alias("tax_type"),
        d["keys"]["dispensary_id"].cast("long").alias("keys_dispensary_id"),
        d["keys"]["id"].cast("long").alias("keys_id"),
    )


@register(
    "entity_products_flat",
    oracle="""
    WITH cats AS (SELECT * FROM (VALUES
                    (0, 'Cannabis', 2), (1, 'Edibles', 1),
                    (2, 'Paraphernalia', 1), (3, 'Widget', 2))
                  c(cid, cname, measurement)),
    price AS (SELECT CAST(abs(s_acctbal % 100) AS DOUBLE) AS pv
              FROM supplier ORDER BY s_suppkey DESC LIMIT 1),
    mi AS (
      SELECT p_partkey AS id,
             p_partkey % 7 AS vendor_id,
             p_partkey % 4 AS category_id,
             p_name AS name,
             (p_size * 7) % 101 AS sativa,
             (p_size * 13) % 101 AS indica,
             p_partkey % 2 AS on_hold,
             p_partkey % 2 + 1 AS product_type,
             CASE WHEN p_partkey % 3 = 0 THEN p_brand || '.jpg' END
               AS image_file_name,
             p_retailprice AS medicine_amount
      FROM part WHERE p_partkey % 2 = 1),
    j AS (SELECT mi.*, cname, measurement,
                 CASE WHEN measurement = 1 THEN 2 ELSE 1 END AS uom,
                 pv
          FROM mi LEFT JOIN cats ON mi.category_id = cats.cid
          CROSS JOIN price)
    SELECT CAST(id AS BIGINT) AS product_id,
           name,
           strftime(TIMESTAMP '1995-03-04 10:20:30', '%Y-%m-%dT%H:%M:%S')
             AS created_at_iso,
           CAST(epoch(TIMESTAMP '1995-03-04 10:20:30') AS BIGINT)
             AS created_epoch,
           id % 5 = 0 AS share_on_wm,
           CAST(uom AS BIGINT) AS unit_of_measure,
           CASE WHEN lower(cname) = 'cannabis' AND sativa > 0
                     AND indica > 0 AND sativa > 80 THEN 'Sativa'
                WHEN lower(cname) = 'cannabis' AND sativa > 0
                     AND indica > 0 AND indica > 80 THEN 'Indica'
                WHEN lower(cname) = 'cannabis'
                     AND NOT (sativa > 0 AND indica > 0) THEN 'Hybrid'
                WHEN lower(cname) = 'paraphernalia' THEN 'Gear'
                WHEN cname = 'Edibles' THEN 'Edible'
                WHEN cname NOT IN ('Indica', 'Sativa', 'Hybrid', 'Edible',
                                   'Concentrate', 'Drink', 'Clone', 'Seed',
                                   'Tinctures', 'Gear', 'Topicals',
                                   'Preroll', 'Wax', 'Hash') THEN 'Other'
                ELSE cname END AS category_out,
           CASE WHEN uom = 2 THEN CAST(trunc(medicine_amount) AS BIGINT)
             END AS net_marijuana,
           CAST(medicine_amount AS DOUBLE) AS medicine_amount,
           CASE WHEN image_file_name IS NOT NULL
                THEN 'https://wm-mmjmenu-images-production.s3.amazonaws'
                     || '.com/menu_items/images/' || CAST(id AS VARCHAR)
                     || '/large/' || image_file_name END AS image_url_out,
           TRUE AS lpd_active,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_half_gram,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_gram,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_two_gram,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_eighth,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_quarter,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_half,
           CAST(trunc(pv * 100) AS BIGINT) AS bp_ounce,
           CAST(3.0 AS DOUBLE) AS restock_level,
           CASE WHEN id % 7 <> 0 THEN CAST(id % 7 AS BIGINT) END
             AS keys_vendor_id,
           CASE WHEN id % 4 <> 0 THEN CAST(id % 4 AS BIGINT) END
             AS keys_category_id
    FROM j
    """,
    description="menu_items pipeline, scalar leaves flattened for an "
                "exact DuckDB oracle: driver-verifies the active-only "
                "purge intent (F3), category normalization chain (C13), "
                "uom flip (C12), menu_item_active (C11), cents "
                "breakpoints and last-wins price fold (N4) that the "
                "nested smoke could only rows-only check",
    tags=("entity",),
)
def entity_products_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _products_flat_select(_products_doc(spark, sf_dir))


def _products_flat_select(out: DataFrame) -> DataFrame:
    """Flat projection from a (_id, doc) frame — see
    _settings_flat_select."""
    d = F.col("doc")
    bp = d["locationProductDetails"]["weightPricing"]
    return out.select(
        F.col("_id").cast("long").alias("product_id"),
        d["name"].alias("name"),
        d["createdAt"].alias("created_at_iso"),
        d["createdAtEpoch"].cast("long").alias("created_epoch"),
        d["shareOnWM"].alias("share_on_wm"),
        d["unitOfMeasure"].cast("long").alias("unit_of_measure"),
        d["categoryId"].alias("category_out"),
        d["netMarijuana"].cast("long").alias("net_marijuana"),
        d["medicine_amount"].cast("double").alias("medicine_amount"),
        d["image_file_name"].alias("image_url_out"),
        d["locationProductDetails"]["active"].alias("lpd_active"),
        bp["price_half_gram"].cast("long").alias("bp_half_gram"),
        bp["price_gram"].cast("long").alias("bp_gram"),
        bp["price_two_gram"].cast("long").alias("bp_two_gram"),
        bp["price_eighth"].cast("long").alias("bp_eighth"),
        bp["price_quarter"].cast("long").alias("bp_quarter"),
        bp["price_half"].cast("long").alias("bp_half"),
        bp["price_ounce"].cast("long").alias("bp_ounce"),
        d["restockLevel"].cast("double").alias("restock_level"),
        d["keys"]["vendor_id"].cast("long").alias("keys_vendor_id"),
        d["keys"]["category_id"].cast("long").alias("keys_category_id"),
    )


# ------------------------------------------------------------------
# Nested-shape contracts for the two doc-JSON smoke twins.
#
# The flat twins certify VALUES by reading struct fields directly; the
# smoke twins emit the nested doc as JSON but were rows-only. These
# contracts close the loop: serialize the doc exactly as the smoke twin
# does, re-parse it against a PINNED schema literal (the DDL below is
# the contract — it is NOT derived from the live pipeline), then apply
# the same flat projection and hash against the same oracle. Any drift
# in key names, nesting levels, or leaf types makes from_json return
# nulls (or shifted values) and turns the driver row red — so the
# nested SHAPE itself is now oracle-certified, not just the values.
# ------------------------------------------------------------------

_SETTINGS_DOC_DDL = (
    "struct<organizationId:string,sessionTimeoutDuration:int,"
    "image:string,apiKey:string,"
    "crm_member_settings:struct<membershipLevel:struct<"
    "membershipLevelsEnabled:boolean,levelName:string,"
    "dollarsPerPoint:double,pointsPerDollar:double,"
    "referralPoints:double>>,"
    "location_specific:struct<apiKey:string,"
    "members:struct<paidVisitsEnabled:boolean,mandatoryReferral:boolean,"
    "medicalLimits:struct<hasLimits:boolean,dailyPurchaseLimit:bigint,"
    "visitPurchaseLimit:bigint,dailyVisitLimit:bigint,"
    "monthlyPurchaseLimit:bigint>>,"
    "sales:struct<enableTaxesIn:boolean,hasPriceRounding:boolean>,"
    "inventory:struct<weightPricing:struct<name:string,"
    "defaultTier:boolean,breakpoints:struct<price_half_gram:bigint,"
    "price_gram:bigint,price_two_gram:bigint,price_eighth:bigint,"
    "price_quarter:bigint,price_half:bigint,price_ounce:bigint>>>>,"
    "sales_settings_taxes:struct<taxes:struct<code:string,"
    "percent:double,type:string>>,"
    "keys:struct<dispensary_id:bigint,id:int>>")

_PRODUCTS_DOC_DDL = (
    "struct<name:string,createdAt:string,updatedAt:string,"
    "createdAtEpoch:bigint,shareOnWM:boolean,unitOfMeasure:int,"
    "categoryId:string,netMarijuana:bigint,medicine_amount:double,"
    "image_file_name:string,"
    "locationProductDetails:struct<id:bigint,active:boolean,"
    "weightPricing:struct<price_half_gram:bigint,price_two_gram:bigint,"
    "price_gram:bigint,price_eighth:bigint,price_quarter:bigint,"
    "price_half:bigint,price_ounce:bigint>>,"
    "restockLevel:double,"
    "keys:struct<dispensary_id:bigint,id:bigint,menu_id:bigint,"
    "vendor_id:bigint,strain_id:bigint,category_id:bigint>>")


def _json_roundtrip(out: DataFrame, ddl: str) -> DataFrame:
    return out.select(
        "_id", F.from_json(F.to_json(F.col("doc")), ddl).alias("doc"))


@register(
    "entity_settings_json",
    oracle=REGISTRY["entity_settings_flat"].oracle,
    description="nested-shape contract for the settings doc: the smoke "
                "twin's doc_json re-parsed against a PINNED schema "
                "literal, flat-projected through the shared select, "
                "hashed against the flat twin's oracle — key renames, "
                "nesting moves, or leaf-type changes in the nested doc "
                "turn this row red (closes the rows-only gap on "
                "entity_settings)",
    tags=("entity", "contract"),
)
def entity_settings_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _json_roundtrip(_settings_doc(spark, sf_dir), _SETTINGS_DOC_DDL)
    return _settings_flat_select(out)


@register(
    "entity_products_json",
    oracle=REGISTRY["entity_products_flat"].oracle,
    description="nested-shape contract for the menu_items doc: doc_json "
                "re-parsed against a PINNED schema literal, flat-"
                "projected through the shared select, hashed against "
                "the flat twin's oracle (closes the rows-only gap on "
                "entity_products_smoke)",
    tags=("entity", "contract"),
)
def entity_products_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _json_roundtrip(_products_doc(spark, sf_dir), _PRODUCTS_DOC_DDL)
    return _products_flat_select(out)


# ------------------------------------------------------------------
# Whole-org payload (N6) nested-shape contract.
#
# The reference's single import document (mmj/etl_import.py:21-58) is
# built by the product's own fold, entities/assemble.payload_doc (each
# entity list a sort_array(collect_list(struct)) fold, the org doc one
# struct), over entity frames derived from the testdata tables. This
# plan then runs the pinned-DDL to_json -> from_json roundtrip (the DDL
# literal below is the contract, NOT derived from the live pipeline)
# and flat-projects: members re-exploded through the shared
# _members_flat_cols projection (full per-row value coverage against
# the entity_members oracle) plus scalar probes into every other
# branch (counts, first-doc leaves, settings leaves, summary zeros).
# Any key rename, nesting move, or leaf-type drift anywhere in the
# payload makes from_json null out that branch and turns the row red.
#
# extractedDate is pinned (the reference stamps time.time(),
# etl_import.py:28 — nondeterministic, so the contract pins an epoch);
# employees run the real-email path (C7 fake-email is local-by-design,
# tests/test_entities.py).
# ------------------------------------------------------------------

_ORG_EXTRACTED_EPOCH = 1438387200

_MEMBERS_DOC_DDL = (
    "struct<name:string,phone_number:string,email:string,"
    "dateOfBirth:string,memberType:string,mmjCard:string,"
    "isCaregiver:boolean,identificationNumber:string,points:double,"
    "taxExempt:boolean,accountStatus:string,accountStatusNotes:string,"
    "address:array<struct<line1:string,city:string,state:string,"
    "zip:string>>,expiryDate:string,identificationType:string,"
    "createdAt:string,updatedAt:string,"
    "keys:struct<id:bigint,caregiver_id:bigint,dispensary_id:bigint,"
    "physician_id:bigint,custom_membership_id:string,"
    "organization_membership_id:string,picture_file_name:string,"
    "organization_id:bigint>>")

_EMPLOYEES_DOC_DDL = (
    "struct<name:string,role:string,createdAt:string,updatedAt:string,"
    "dateOfBirth:string,accountStatus:string,email:string,"
    "keys:struct<id:bigint,organization_id:bigint>>")

_VENDORS_DOC_DDL = (
    "struct<name:string,accountStatus:string,email:string,"
    "website:string,licenceNumber:string,"
    "phone:array<struct<name:string,number:string,default:boolean>>,"
    "address:struct<line1:string,line2:string,city:string,state:string,"
    "zip:string,country:string>,"
    "keys:struct<dispensary_id:bigint,id:bigint,mmjvenu_id:string>>")

_PHYSICIANS_DOC_DDL = (
    "struct<name:string,specialty:string,createdAt:string,"
    "updatedAt:string,email:string,verificationWebsite:string,"
    "licenceNumber:string,"
    "phone:array<struct<name:string,number:string,default:boolean>>,"
    "address:array<struct<line1:string,city:string,state:string,"
    "zip:string,country:string>>,"
    "keys:struct<dispensary_id:bigint,id:bigint>>")

_SUMMARY_ENTITY_DDL = "struct<valid:bigint,invalid:bigint>"

_ORG_PAYLOAD_DDL = (
    "struct<organizationId:string,source:string,extractedDate:bigint,"
    "validated:boolean,imported:boolean,"
    f"settings:{_SETTINGS_DOC_DDL},"
    f"employees:array<{_EMPLOYEES_DOC_DDL}>,"
    f"members:array<{_MEMBERS_DOC_DDL}>,"
    f"products:array<{_PRODUCTS_DOC_DDL}>,"
    f"vendors:array<{_VENDORS_DOC_DDL}>,"
    f"physicians:array<{_PHYSICIANS_DOC_DDL}>,"
    "summary:struct<"
    f"members:{_SUMMARY_ENTITY_DDL},employees:{_SUMMARY_ENTITY_DDL},"
    f"products:{_SUMMARY_ENTITY_DDL},vendors:{_SUMMARY_ENTITY_DDL},"
    f"physicians:{_SUMMARY_ENTITY_DDL}>>")


def _org_payload_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row (doc) frame holding the whole-org payload struct: the
    product's own fold (entities/assemble.payload_doc) over the derived
    entity frames, as one lazy plan — the form the pre-checkpoint plan
    lint inspects."""
    from g1_etl_spark.entities import (employees as emp, members as mem,
                                       physicians as phys,
                                       vendors as vend)
    from g1_etl_spark.entities.assemble import payload_doc

    frames = {
        "settings": _settings_doc(spark, sf_dir),
        "employees": emp.transform(_users_like(spark, sf_dir),
                                   _dispensary_users_like(spark, sf_dir),
                                   1, 420, fake_email=False, debug=False),
        "members": mem.transform(_customers_like(spark, sf_dir), 1, 420),
        "products": _products_doc(spark, sf_dir),
        "vendors": vend.transform(_vendors_like(spark, sf_dir), 1, 420),
        "physicians": phys.transform(_physicians_like(spark, sf_dir),
                                     1, 420),
    }
    return payload_doc(frames, 420, _ORG_EXTRACTED_EPOCH)


# composed from the sibling oracles so the payload contract can never
# disagree with the per-entity flat twins about what each list holds
# (str.format substitutes the template's placeholders only; the
# substituted oracle texts are inserted verbatim)
_ORG_PAYLOAD_ORACLE = f"""
    WITH m AS ({{members}}),
    emp AS ({{employees}}),
    prod AS ({{products}}),
    ven AS ({{vendors}}),
    phys AS ({{physicians}}),
    sett AS ({{settings}}),
    probes AS (SELECT
      '420' AS org_id, 'mmjMenu' AS src,
      CAST({_ORG_EXTRACTED_EPOCH} AS BIGINT) AS extracted_date,
      FALSE AS validated, FALSE AS imported,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_members,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM emp) AS n_employees,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM prod) AS n_products,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM ven) AS n_vendors,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM phys) AS n_physicians,
      (SELECT name FROM emp ORDER BY employee_id LIMIT 1)
        AS first_employee_name,
      (SELECT name FROM prod ORDER BY product_id LIMIT 1)
        AS first_product_name,
      (SELECT name FROM ven ORDER BY vendor_id LIMIT 1)
        AS first_vendor_name,
      (SELECT name FROM phys ORDER BY physician_id LIMIT 1)
        AS first_physician_name,
      (SELECT organization_id FROM sett) AS settings_org_id,
      (SELECT api_key_out FROM sett) AS settings_api_key,
      CAST(0 AS BIGINT) AS summary_members_valid)
    SELECT m.*, probes.* FROM m CROSS JOIN probes
"""


def _org_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint roundtrip plan — kept separate so the plan-lint
    can explain the full six-pipeline assembly (the registered query
    checkpoints it, which truncates the visible plan at an RDD scan;
    tests/test_plan_quality.py lints THIS frame for the upstream)."""
    return _org_payload_doc(spark, sf_dir).select(
        F.from_json(F.to_json(F.col("doc")), _ORG_PAYLOAD_DDL)
        .alias("doc"))


@register(
    "entity_org_payload_json",
    oracle=_ORG_PAYLOAD_ORACLE.format(
        members=REGISTRY["entity_members"].oracle,
        employees=REGISTRY["entity_employees"].oracle,
        products=REGISTRY["entity_products_flat"].oracle,
        vendors=REGISTRY["entity_vendors"].oracle,
        physicians=REGISTRY["entity_physicians"].oracle,
        settings=REGISTRY["entity_settings_flat"].oracle),
    description="whole-org payload (N6) nested-shape contract: the "
                "etl_import.py:21-58 document assembled distributively, "
                "serialized, re-parsed against a PINNED payload DDL, "
                "then members re-exploded through the shared flat "
                "projection (full entity_members value coverage) plus "
                "leaf probes into settings/employees/products/vendors/"
                "physicians/summary — the last nested shape leaves "
                "local-only status",
    tags=("entity", "contract"),
)
def entity_org_payload_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    # checkpoint the ONE-ROW roundtripped payload before branching: the
    # probes branch and the members-explode branch would otherwise each
    # re-run the whole six-pipeline assembly (no CSE across branches),
    # and carrying the full payload struct down the exploded rows for
    # the probe columns would materialize the whole document once PER
    # MEMBER (measured 32 s -> ~6 s at sf0.1)
    rt = _org_payload_roundtrip(spark, sf_dir).localCheckpoint(eager=True)
    p = F.col("doc")
    probes = rt.select(
        p["organizationId"].alias("org_id"),
        p["source"].alias("src"),
        p["extractedDate"].alias("extracted_date"),
        p["validated"].alias("validated"),
        p["imported"].alias("imported"),
        F.size(p["members"]).cast("long").alias("n_members"),
        F.size(p["employees"]).cast("long").alias("n_employees"),
        F.size(p["products"]).cast("long").alias("n_products"),
        F.size(p["vendors"]).cast("long").alias("n_vendors"),
        F.size(p["physicians"]).cast("long").alias("n_physicians"),
        F.element_at(p["employees"], 1)["name"]
        .alias("first_employee_name"),
        F.element_at(p["products"], 1)["name"]
        .alias("first_product_name"),
        F.element_at(p["vendors"], 1)["name"]
        .alias("first_vendor_name"),
        F.element_at(p["physicians"], 1)["name"]
        .alias("first_physician_name"),
        p["settings"]["organizationId"].alias("settings_org_id"),
        p["settings"]["apiKey"].alias("settings_api_key"),
        p["summary"]["members"]["valid"].alias("summary_members_valid"),
    )
    members = rt.select(F.explode(p["members"]).alias("mdoc")).select(
        # keys.id is falsy-pruned (id 0 -> NULL), so the row key comes
        # from the never-falsy identificationNumber ('DL{id}')
        F.substring(F.col("mdoc")["identificationNumber"], 3, 32)
        .cast("long").alias("custkey"),
        *_members_flat_cols(F.col("mdoc")))
    return members.crossJoin(F.broadcast(probes))
