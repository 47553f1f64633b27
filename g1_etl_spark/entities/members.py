"""Members entity pipeline — Spark-native rebuild of
/root/reference/mmj/entities/members.py (transform at :38-163).

One narrow select over `customers` filtered by dispensary_id: zero
shuffles, zero UDFs. At 100 TB this partitions by dispensary_id and
pipelines entirely map-side.

Output document per member (field set = the reference's post-delete dict;
the golden sample json_structure:4-33 differs from the code in places —
the code wins, SURVEY §5):
  name, phone_number, email, dateOfBirth, memberType, mmjCard,
  isCaregiver, identificationNumber, points, taxExempt, accountStatus,
  accountStatusNotes (divergence C26: the reference maps this backwards
  from a nonexistent column and then deletes it; we implement the intent),
  address[], expiryDate?, identificationType, createdAt, updatedAt,
  keys{...truthiness-pruned...}

r12: the doc expression is assembled as ONE SQL string at import time
from the functions/sql_text builders and applied with a single
``selectExpr`` call: building it through the Column API paid hundreds
of py4j round-trips per invocation, ~40% of entity_org_payload_json's
driver time (guide §1.2 — fix the per-query work).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx

_KEYS = sx.named_struct(
    ("id", sx.falsy_to_null("id")),
    ("caregiver_id", sx.falsy_to_null("caregiver_id")),
    ("dispensary_id", sx.falsy_to_null("dispensary_id")),
    ("physician_id", sx.falsy_to_null("physician_id")),
    ("custom_membership_id", sx.falsy_to_null("custom_membership_id")),
    ("organization_membership_id",
     sx.falsy_to_null("organization_membership_id")),
    ("picture_file_name", sx.falsy_to_null("picture_file_name")),
    ("organization_id", sx.falsy_to_null("organization_id")),
)

_DOC_SQL = sx.named_struct(
    ("name", "name"),
    ("phone_number", "phone_number"),
    ("email", "email"),
    # NULL dob -> epoch start (members.py:136-138)
    ("dateOfBirth", sx.iso(sx.dob_default("dob"))),
    ("memberType", sx.member_type("license_type")),
    ("mmjCard", "registry_no"),
    ("isCaregiver", sx.true_or_false("given_caregivership")),
    ("identificationNumber", "drivers_license_no"),
    ("points", "points"),
    ("taxExempt", sx.true_or_false("tax_exempt")),
    ("accountStatus", sx.account_status_inverted("locked_visits")),
    ("accountStatusNotes", sx.account_status_notes("locked_visits_reason")),
    ("address", "array(" + sx.named_struct(
        ("line1", "address"), ("city", "city"),
        ("state", "state"), ("zip", "zip_code")) + ")"),
    # expiryDate only when card_expires_at present (members.py:116-117)
    ("expiryDate", sx.iso(sx.expiry_date_copy("card_expires_at"))),
    ("identificationType", sx.identification_type()),
    ("createdAt", sx.iso("created_at")),
    ("updatedAt", sx.iso("updated_at")),
    ("keys", _KEYS),
)


def transform(customers: DataFrame, dispensary_id: int,
              organization_id) -> DataFrame:
    m = customers.filter(F.col("dispensary_id") == dispensary_id)
    return m.selectExpr("id AS _id", f"{_DOC_SQL} AS doc")
