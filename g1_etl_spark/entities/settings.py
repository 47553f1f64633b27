"""Settings entity pipeline — Spark-native rebuild of
/root/reference/mmj/entities/settings.py (transform at :41-233).

The reference's correlated per-dispensary queries (_medical_limits
:236-247, _get_taxes :250-263) and its last-row-wins folds (:169-204,
SURVEY A3) become broadcast joins against per-dispensary aggregates with
EXPLICIT deterministic ordering:

  - taxes: the reference keeps whichever DISTINCT row iterates last
    (undefined order) -> we take MAX(struct(name, amount)) per dispensary.
  - membership pricing: the source is ORDER BY id DESC and the loop is
    last-wins, so the WINNER is the MIN(id) row — cloned exactly.
  - multiple dispensary_details rows: dict.update last-wins -> MAX(id).

Output: a single settings document (one row), nested per the reference:
organizationId, sessionTimeoutDuration, image?/apiKey? (group-deleted
when either is NULL), keys{...}, crm_member_settings? (when pp_enabled),
location_specific{apiKey?, members{paidVisitsEnabled, mandatoryReferral,
medicalLimits?}, sales{enableTaxesIn, hasPriceRounding},
inventory{weightPricing{name, defaultTier, breakpoints{7 cent prices}}}?},
sales_settings_taxes{taxes?}.

r12: the one-row doc projection is assembled as a SQL string (built in
Python, parsed once by the JVM) instead of ~300 py4j Column calls per
invocation; the winner-row joins/windows stay in the Column API. See
members.py for the rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx


def _doc_sql(organization_id, debug: bool) -> str:
    img = sx.image_url("logos", "id", "logo_file_name", debug=debug)
    api_key = "mmjrevu_api_key"
    img_group_ok = f"(({img}) IS NOT NULL AND {api_key} IS NOT NULL)"

    crm = ("CASE WHEN " + sx.true_or_false("pp_enabled") + " THEN "
           + sx.named_struct(
               ("membershipLevel", sx.named_struct(
                   ("membershipLevelsEnabled",
                    sx.true_or_false("membership_fee_enabled")),
                   ("levelName", "'Unnamed'"),
                   ("dollarsPerPoint", "pp_global_dollars_to_points"),
                   ("pointsPerDollar", "pp_global_points_to_dollars"),
                   ("referralPoints", "pp_points_per_referral"),
               ))) + " END")

    medical_limits = (
        "CASE WHEN red_flags_enabled = 1 "
        "AND daily_purchase_limit IS NOT NULL THEN "
        + sx.named_struct(
            ("hasLimits", "TRUE"),
            ("dailyPurchaseLimit",
             "CAST(daily_purchase_limit AS BIGINT)"),
            ("visitPurchaseLimit",
             "CAST(visit_purchase_limit AS BIGINT)"),
            ("dailyVisitLimit", "CAST(daily_visit_limit AS BIGINT)"),
            ("monthlyPurchaseLimit",
             sx.monthly_purchase_limit("two_week_purchase_limit")),
        ) + " END")

    breakpoints = ("CASE WHEN price_gram IS NOT NULL THEN "
                   + sx.named_struct(
                       ("weightPricing", sx.named_struct(
                           ("name", "'Default'"),
                           ("defaultTier", "TRUE"),
                           ("breakpoints", sx.named_struct(
                               ("price_half_gram",
                                sx.dollars_to_cents("price_half_gram")),
                               ("price_gram",
                                sx.dollars_to_cents("price_gram")),
                               ("price_two_gram",
                                sx.dollars_to_cents("price_two_gram")),
                               ("price_eighth",
                                sx.dollars_to_cents("price_eigth")),
                               ("price_quarter",
                                sx.dollars_to_cents("price_quarter")),
                               ("price_half",
                                sx.dollars_to_cents("price_half")),
                               ("price_ounce",
                                sx.dollars_to_cents("price_ounce")),
                           )),
                       ))) + " END")

    taxes_struct = ("CASE WHEN tax_name IS NOT NULL THEN "
                    + sx.named_struct(
                        ("code", "tax_name"),
                        ("percent", sx.tax_percent("tax_amount")),
                        ("type", "'sales'"),
                    ) + " END")

    location_specific = sx.named_struct(
        ("apiKey", sx.falsy_to_null(api_key)),
        ("members", sx.named_struct(
            ("paidVisitsEnabled", sx.true_or_false("allow_unpaid_visits")),
            ("mandatoryReferral",
             sx.true_or_false("require_customer_referrer")),
            ("medicalLimits", medical_limits),
        )),
        ("sales", sx.named_struct(
            ("enableTaxesIn", sx.true_or_false("menu_show_tax")),
            ("hasPriceRounding",
             sx.true_or_false("calculate_even_totals")),
        )),
        ("inventory", breakpoints),
    )

    keys = sx.named_struct(
        ("dispensary_id", sx.falsy_to_null("dispensary_id")),
        ("id", sx.falsy_to_null("id")),
    )

    return sx.named_struct(
        ("organizationId", sx.organization_id_lit(organization_id)),
        ("sessionTimeoutDuration", "inactivity_logout"),
        ("image", f"CASE WHEN {img_group_ok} THEN {img} END"),
        ("apiKey", f"CASE WHEN {img_group_ok} THEN {api_key} END"),
        ("crm_member_settings", crm),
        ("location_specific", location_specific),
        ("sales_settings_taxes",
         sx.named_struct(("taxes", taxes_struct))),
        ("keys", keys),
    )


def transform(dispensary_details: DataFrame, memberships: DataFrame,
              membership_prices: DataFrame, red_flags: DataFrame,
              taxes: DataFrame, dispensary_id: int, organization_id,
              debug: bool = False) -> DataFrame:
    dd = dispensary_details.filter(F.col("dispensary_id") == dispensary_id)

    # last dispensary_details row wins (dict.update fold); the single-row
    # unpartitioned window is safe — there is one row per dispensary
    dd = (dd.withColumn("_rn", F.row_number().over(W.orderBy(F.desc("id"))))
          .filter(F.col("_rn") == 1).drop("_rn"))

    # winner tax row per dispensary (deterministic stand-in ordering)
    tax_win = (taxes.filter(F.col("dispensary_id") == dispensary_id)
               .dropDuplicates(["dispensary_id", "amount", "name"])
               .groupBy("dispensary_id")
               .agg(F.max(F.struct("name", "amount")).alias("_t"))
               .select("dispensary_id",
                       F.col("_t.name").alias("tax_name"),
                       F.col("_t.amount").alias("tax_amount")))

    limits_win = (red_flags.filter(F.col("dispensary_id") == dispensary_id)
                  .groupBy("dispensary_id")
                  .agg(F.max(F.struct(
                      "daily_purchase_limit", "visit_purchase_limit",
                      "daily_visit_limit", "two_week_purchase_limit"))
                      .alias("_l"))
                  .select("dispensary_id", "_l.*"))

    # membership pricing winner = MIN(id): source was ORDER BY id DESC and
    # the reference loop keeps the LAST iterated row
    price_win = (membership_prices
                 .join(F.broadcast(
                     memberships.filter(
                         F.col("dispensary_id") == dispensary_id)
                     .select(F.col("id").alias("membership_id"),
                             "dispensary_id")),
                     "membership_id")
                 .groupBy("dispensary_id")
                 .agg(F.min_by(F.struct(
                     "price_half_gram", "price_gram", "price_two_gram",
                     "price_eigth", "price_quarter", "price_half",
                     "price_ounce"), F.col("id")).alias("_p"))
                 .select("dispensary_id", "_p.*"))

    row = (dd
           .join(F.broadcast(tax_win), "dispensary_id", "left")
           .join(F.broadcast(limits_win), "dispensary_id", "left")
           .join(F.broadcast(price_win), "dispensary_id", "left"))

    doc = _doc_sql(organization_id, debug)
    return row.selectExpr("id AS _id", f"{doc} AS doc")
