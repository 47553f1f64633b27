"""Physicians entity pipeline — Spark-native rebuild of
/root/reference/mmj/entities/physicians.py (transform at :37-123).

Narrow select, zero shuffles. Output doc per physician:
  name (Dr-prefix stripped, physicians.py:93-96), specialty='General',
  createdAt, updatedAt, email?/verificationWebsite?/licenceNumber?
  (group-deleted if any NULL, physicians.py:109-113), phone[]? (name
  'work'), address[]? (built when ANY of the five location fields is
  truthy, physicians.py:84-91), keys{dispensary_id,id pruned}.

r12: doc assembled as one import-time SQL string + a single selectExpr
(see members.py docstring for the rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx


def _truthy_str(c: str) -> str:
    return f"({c} IS NOT NULL AND {c} <> '')"


_GROUP_OK = ("(license_no IS NOT NULL AND website IS NOT NULL "
             "AND email IS NOT NULL)")

_ANY_LOC = "(" + " OR ".join(_truthy_str(c) for c in
                             ("city", "address", "state", "zip_code",
                              "country")) + ")"

_ADDRESS = (f"CASE WHEN {_ANY_LOC} THEN array(" + sx.named_struct(
    ("line1", "address"),
    ("city", "city"),
    ("state", "state"),
    ("zip", "zip_code"),
    ("country", "country"),
) + ") END")

_KEYS = sx.named_struct(
    ("dispensary_id", sx.falsy_to_null("dispensary_id")),
    ("id", sx.falsy_to_null("id")),
)

_DOC_SQL = sx.named_struct(
    ("name", sx.strip_dr_prefix("name")),
    ("specialty", sx.physician_specialty()),
    ("createdAt", sx.iso("created_at")),
    ("updatedAt", sx.iso("updated_at")),
    ("email", f"CASE WHEN {_GROUP_OK} THEN email END"),
    ("verificationWebsite", f"CASE WHEN {_GROUP_OK} THEN website END"),
    ("licenceNumber", f"CASE WHEN {_GROUP_OK} THEN license_no END"),
    ("phone", sx.phone_array("phone_number", name="work")),
    ("address", _ADDRESS),
    ("keys", _KEYS),
)


def transform(physicians: DataFrame, dispensary_id: int,
              organization_id) -> DataFrame:
    p = physicians.filter(F.col("dispensary_id") == dispensary_id)
    return p.selectExpr("id AS _id", f"{_DOC_SQL} AS doc")
