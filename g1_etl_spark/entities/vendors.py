"""Vendors entity pipeline — Spark-native rebuild of
/root/reference/mmj/entities/vendors.py (transform at :36-122).

Narrow select over `vendors` filtered by dispensary_id (the petl
fieldmap+merge collapses into one select, SURVEY §2.4 J3). Zero shuffles.

Output doc per vendor: name, accountStatus, email?/website?/
licenceNumber? (group-deleted if ANY is NULL, vendors.py:77-80),
phone[]?, address?, keys{dispensary_id,id,mmjvenu_id pruned}.

r12: doc assembled as one import-time SQL string + a single selectExpr
(see members.py docstring for the rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx

# licence/email/website vanish as a group when any is NULL
_GROUP_OK = ("(liscense_no IS NOT NULL AND email IS NOT NULL "
             "AND website IS NOT NULL)")

_ADDRESS = ("CASE WHEN address IS NOT NULL THEN " + sx.named_struct(
    ("line1", "address"),
    ("line2", "CAST(NULL AS STRING)"),
    ("city", "city"),
    ("state", "state"),
    ("zip", "zip_code"),
    ("country", "country"),
) + " END")

_KEYS = sx.named_struct(
    ("dispensary_id", sx.falsy_to_null("dispensary_id")),
    ("id", sx.falsy_to_null("id")),
    ("mmjvenu_id", sx.falsy_to_null("mmjvenu_id")),
)

_DOC_SQL = sx.named_struct(
    ("name", "name"),
    ("accountStatus", sx.vendor_account_status("confirmed")),
    ("email", f"CASE WHEN {_GROUP_OK} THEN email END"),
    ("website", f"CASE WHEN {_GROUP_OK} THEN website END"),
    ("licenceNumber", f"CASE WHEN {_GROUP_OK} THEN liscense_no END"),
    ("phone", sx.phone_array("phone_number", name="business")),
    ("address", _ADDRESS),
    ("keys", _KEYS),
)


def transform(vendors: DataFrame, dispensary_id: int,
              organization_id) -> DataFrame:
    v = vendors.filter(F.col("dispensary_id") == dispensary_id)
    return v.selectExpr("id AS _id", f"{_DOC_SQL} AS doc")
