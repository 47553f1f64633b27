"""Menu-items (products) entity pipeline — Spark-native rebuild of
/root/reference/mmj/entities/menu_items.py (transform at :52-206).

The reference issues 3+ correlated SQL queries PER ROW (_wm_integration
:237-251, _map_uom :254-274, _restock_level :219-234) plus an in-loop
re-scan of the price table (:111-116). Here each becomes one broadcast
join — the single biggest semantic-preserving rewrite (SURVEY §4):

  menu_items ⋈bcast categories        (unitOfMeasure flip + category name)
  menu_items ⋈bcast wm_integrations   (left -> shareOnWM existence bool)
  menu_items ⋈bcast dispensary_details(restockLevel by product_type)
  menu_items ⋈bcast price_winner      (per-dispensary last-wins price row)

All dimension-sized per dispensary => zero shuffles on the fact side at
any scale.

Fidelity (SURVEY §7.4):
  - weightPricing: the reference overwrites per price row, so the LAST
    row in natural MySQL order wins for EVERY item; stand-in ordering =
    MAX(id) (documented divergence: natural order ~ insertion id).
  - active = (on_hold == 1) cloned as-is (:210-216, suspect inverted).
  - inactive-item purge: the reference's remove-while-iterating skips
    elements (:196-199); we implement the intent (keep active only).
  - medicine_amount leaks into the reference output (never deleted);
    cloned for parity.

r12: the doc projection is assembled as a SQL string + one selectExpr
(joins unchanged) — see members.py for the rationale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx

_UOM = sx.map_uom("measurement")
_ACTIVE = sx.menu_item_active("on_hold")

_WEIGHT_PRICING = ("CASE WHEN price_gram IS NOT NULL THEN "
                   + sx.named_struct(
                       ("price_half_gram",
                        sx.dollars_to_cents("price_half_gram")),
                       ("price_two_gram",
                        sx.dollars_to_cents("price_two_gram")),
                       ("price_gram", sx.dollars_to_cents("price_gram")),
                       ("price_eighth",
                        sx.dollars_to_cents("price_eigth")),
                       ("price_quarter",
                        sx.dollars_to_cents("price_quarter")),
                       ("price_half", sx.dollars_to_cents("price_half")),
                       ("price_ounce",
                        sx.dollars_to_cents("price_ounce")),
                   ) + " END")

_KEYS = sx.named_struct(
    ("dispensary_id", sx.falsy_to_null("dispensary_id")),
    ("id", sx.falsy_to_null("id")),
    ("menu_id", sx.falsy_to_null("menu_id")),
    ("vendor_id", sx.falsy_to_null("vendor_id")),
    ("strain_id", sx.falsy_to_null("strain_id")),
    ("category_id", sx.falsy_to_null("category_id")),
)


def _doc_sql(debug: bool) -> str:
    return sx.named_struct(
        ("name", "name"),
        ("createdAt", sx.iso("created_at")),
        ("updatedAt", sx.iso("updated_at")),
        ("createdAtEpoch", sx.create_epoch("created_at")),
        ("shareOnWM", "COALESCE(_wm, FALSE)"),
        ("unitOfMeasure", _UOM),
        ("categoryId", sx.map_categories("category_name", "sativa",
                                         "indica")),
        ("netMarijuana", sx.net_marijuana(_UOM, "medicine_amount")),
        ("medicine_amount", "medicine_amount"),
        ("image_file_name", sx.image_url("menu_items/images", "id",
                                         "image_file_name", debug=debug)),
        ("locationProductDetails", sx.named_struct(
            ("id", "id"),
            ("active", _ACTIVE),
            ("weightPricing", _WEIGHT_PRICING),
        )),
        ("restockLevel", "CASE WHEN product_type = 1 THEN grams_hold_at "
                         "ELSE units_hold_at END"),
        ("keys", _KEYS),
    )


_DOC = _doc_sql(False)
_DOC_DEBUG = _doc_sql(True)


def transform(menu_items: DataFrame, categories: DataFrame,
              menu_item_prices: DataFrame, wm_integrations: DataFrame,
              dispensary_details: DataFrame, dispensary_id: int,
              organization_id, debug: bool = False) -> DataFrame:
    mi = menu_items.filter(F.col("dispensary_id") == dispensary_id)

    cats = (categories
            .select(F.col("id").alias("category_id"),
                    F.col("name").alias("category_name"),
                    "measurement")
            .dropDuplicates(["category_id"]))

    wm = (wm_integrations
          .select(F.col("menu_item_id").alias("id"))
          .distinct()
          .withColumn("_wm", F.lit(True)))

    dd = (dispensary_details
          .select("dispensary_id", "grams_hold_at", "units_hold_at")
          .dropDuplicates(["dispensary_id"]))

    # per-dispensary winning price row: last in natural order ~ MAX(id)
    price_win = (menu_item_prices
                 .filter(F.col("dispensary_id") == dispensary_id)
                 .groupBy("dispensary_id")
                 .agg(F.max_by(F.struct(
                     "price_half_gram", "price_gram", "price_two_gram",
                     "price_eigth", "price_quarter", "price_half",
                     "price_ounce"), F.col("id")).alias("_p"))
                 .select("dispensary_id", "_p.*"))

    j = (mi
         .join(F.broadcast(cats), "category_id", "left")
         # wm_integrations grows with the catalog — no hint; AQE decides
         .join(wm, "id", "left")
         .join(F.broadcast(dd), "dispensary_id", "left")
         .join(F.broadcast(price_win), "dispensary_id", "left"))

    doc = _DOC_DEBUG if debug else _DOC
    return (j.where(_ACTIVE)  # intent of the buggy purge (:196-199)
            .selectExpr("id AS _id", f"{doc} AS doc"))
