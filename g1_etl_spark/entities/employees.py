"""Employees entity pipeline — Spark-native rebuild of
/root/reference/mmj/entities/employees.py (transform at :41-111).

The reference's per-row correlated queries against dispensary_users
(_active :135-152, _assign_role :155-177 — the N+1 pattern, SURVEY S4)
become ONE broadcast left join against a deduplicated dispensary_users
projection. dispensary_users is dimension-sized per dispensary, so the
join never shuffles the users side.

Fidelity notes (SURVEY §7.4):
  - role: the reference's `elif id == 3` tests the USER id (bug); we
    implement the intent (access == 3 -> store-manager).
  - the reference's _active/_assign_role re-query WITHOUT the dispensary
    filter; we keep the dispensary-scoped rows (intent).
  - the reference leaks the raw `updated_at` column into its output via
    petl merge; not cloned.
  - email: Faker safe_email() when fake_email or debug -> replaced by a
    deterministic sha-derived address (C7), excluded from hash goldens.
  - rows with multiple dispensary_users entries: the reference takes the
    first row of an unordered DISTINCT — we take MIN(access)/MAX(active)
    per user as the deterministic stand-in (documented divergence).

r12: doc assembled as an import-time SQL string + a single selectExpr
(see members.py docstring for the rationale); the broadcast join is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.functions import sql_text as sx

_KEYS = sx.named_struct(
    ("id", sx.falsy_to_null("id")),
    ("organization_id", sx.falsy_to_null("organization_id")),
)


def _doc_sql(email_expr: str) -> str:
    return sx.named_struct(
        ("name", sx.set_name("first_name", "last_name", "login")),
        ("role", sx.assign_role("access")),
        ("createdAt", sx.iso("created_at")),
        ("updatedAt", sx.iso("updated_at")),
        ("dateOfBirth", sx.iso(sx.employee_const_dob())),
        ("accountStatus", sx.employee_active_status("active")),
        ("email", email_expr),
        ("keys", _KEYS),
    )


_DOC_FAKE = _doc_sql(sx.deterministic_email("id"))
_DOC_REAL = _doc_sql("email")


def transform(users: DataFrame, dispensary_users: DataFrame,
              dispensary_id: int, organization_id,
              fake_email: bool = True, debug: bool = False) -> DataFrame:
    du = (dispensary_users
          .filter(F.col("dispensary_id") == dispensary_id)
          .groupBy("user_id")
          .agg(F.min("access").alias("access"),
               F.max("active").alias("active")))

    emp = (users
           .join(F.broadcast(du), users.id == du.user_id, "inner"))

    doc = _DOC_FAKE if (fake_email or debug) else _DOC_REAL
    return emp.selectExpr("id AS _id", f"{doc} AS doc")
