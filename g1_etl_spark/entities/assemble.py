"""Whole-organization payload assembly + sinks — Spark-native rebuild of
/root/reference/mmj/etl_import.py:21-71.

The reference builds one nested dict {organizationId, settings,
employees, members, products, vendors, physicians, validated, imported,
extractedDate, summary} and writes it to a local JSON file + a MongoDB
collection. Here the six entity pipelines (`ENTITIES`, the reference's
extract() call shapes, etl_import.py:10-16) stay distributed DataFrames,
and `payload_doc` folds each into one
`sort_array(collect_list(struct(_id, doc)))` list and crosses the six
one-row folds into the one-row document: one lazy plan, serialized with
one collect by `build_payload`. The registered query
entity_org_payload_json runs the same fold over its derived inputs.

At 100 TB the per-entity DataFrames write directly to partitioned sinks
(sources/sinks.py, CLI `entity`); the single-document path exists for
reference parity.
"""

from __future__ import annotations

import functools
import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from g1_etl_spark.entities import (employees as emp, members as mem,
                                   menu_items as prod, physicians as phys,
                                   settings as sett, vendors as vend)
from g1_etl_spark.entities.common import docs

# entity -> (sources, dispensary_id, organization_id, debug) -> (_id, doc)
# frame, in payload order
ENTITIES = {
    "settings": lambda s, d, o, debug: sett.transform(
        s["dispensary_details"], s["memberships"], s["membership_prices"],
        s["red_flags"], s["taxes"], d, o, debug=debug),
    "employees": lambda s, d, o, debug: emp.transform(
        s["users"], s["dispensary_users"], d, o, fake_email=True,
        debug=debug),
    "members": lambda s, d, o, debug: mem.transform(s["customers"], d, o),
    "products": lambda s, d, o, debug: prod.transform(
        s["menu_items"], s["categories"], s["menu_item_prices"],
        s["menu_item_weedmaps_integrations"], s["dispensary_details"], d, o,
        debug=debug),
    "vendors": lambda s, d, o, debug: vend.transform(s["vendors"], d, o),
    "physicians": lambda s, d, o, debug: phys.transform(
        s["physicians"], d, o),
}


def _fold(df: DataFrame, name: str) -> DataFrame:
    # ids are unique per entity, so the sort is total: the list comes
    # back in _id order
    lst = F.sort_array(F.collect_list(F.struct(
        F.col("_id").alias("k"), F.col("doc").alias("d"))))
    return df.agg(F.transform(lst, lambda x: x["d"]).alias(name))


def payload_doc(frames: dict[str, DataFrame], organization_id,
                extracted_date: int) -> DataFrame:
    """One-row (doc) frame holding the import document
    (etl_import.py:21-58) for the six `(_id, doc)` entity `frames`.

    The one-row folds combine by crossJoin (1x1 rows: the
    BroadcastNestedLoopJoins and single-partition folds are
    payload-boundary shapes, exempted in the plan lint). `settings` is
    the first settings doc, NULL when there is none. `summary` counters
    are structural zeros in the reference (etl_import.py:32-57, never
    incremented)."""
    row = functools.reduce(DataFrame.crossJoin,
                           [_fold(frames[e], e) for e in ENTITIES])
    lists = [e for e in ENTITIES if e != "settings"]
    zero = F.struct(F.lit(0).cast("long").alias("valid"),
                    F.lit(0).cast("long").alias("invalid"))
    return row.select(F.struct(
        F.lit(str(organization_id)).alias("organizationId"),
        F.lit("mmjMenu").alias("source"),
        F.lit(extracted_date).cast("long").alias("extractedDate"),
        F.lit(False).alias("validated"),
        F.lit(False).alias("imported"),
        F.try_element_at(F.col("settings"), F.lit(1)).alias("settings"),
        *[F.col(e) for e in lists],
        F.struct(*[zero.alias(e) for e in lists]).alias("summary"),
    ).alias("doc"))


def build_payload(sources: dict[str, DataFrame], dispensary_id: int,
                  organization_id, debug: bool = False,
                  extracted_date: int | None = None) -> dict:
    """The per-organization import document as a dict: `payload_doc`
    over the `ENTITIES` frames, one collect. No settings row gives
    `settings: {}` (the reference's default)."""
    frames = {e: build(sources, dispensary_id, organization_id, debug)
              for e, build in ENTITIES.items()}
    doc = payload_doc(frames, organization_id, int(
        extracted_date if extracted_date is not None else time.time()))
    payload = docs(doc)[0]
    payload.setdefault("settings", {})
    return payload


def write_payload_json(payload: dict, path: str) -> None:
    """K1 JSON file sink (etl_import.py:59-64): sorted keys, indent 4."""
    with open(path, "w") as f:
        json.dump(payload, f, sort_keys=True, indent=4)
