"""CLI entry point — the reference's shell/HTTP job surface rebuilt
(mmj/etl_import.py:73-74 `python etl_import.py <dispensary> <org>` and
mmj/server.py:6-11 POST /import/extract form params).

  python -m g1_etl_spark extract --dispensary 1 --org 420 \
      [--data DIR] [--out DIR] [--debug]
      -> runs every entity pipeline, assembles the per-organization
         import document, writes the reference-shaped mmj-{org}.json
         (etl_import.py:59-64)

  python -m g1_etl_spark entity --entity members --dispensary 1 --org 420 \
      [--data DIR] [--out DIR]
      -> one entity pipeline, written as DISTRIBUTED json (one part per
         partition) — the 100 TB path where a single driver-side
         document is not the product

--data points at a directory of {table}.parquet sources, read with the
declared schemas (FIXTURES.md §A, entities/schemas.py): absent tables
become empty frames and absent columns read as NULL, so the command runs
end-to-end on partial fixtures.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession

from g1_etl_spark.entities import schemas as S
from g1_etl_spark.entities.assemble import (ENTITIES, build_payload,
                                            write_payload_json)
from g1_etl_spark.sources.sinks import write_entity_json


def load_sources(spark: SparkSession, data_dir: str | None
                 ) -> dict[str, DataFrame]:
    """Each mmj source table read with its declared schema (the input
    contract, schemas.py): parquet when present, with absent columns
    read as NULL, else an empty frame."""
    out = {}
    for name, schema in S.ALL_SCHEMAS.items():
        path = os.path.join(data_dir, f"{name}.parquet") if data_dir else None
        if path and os.path.exists(path):
            out[name] = spark.read.schema(schema).parquet(path)
        else:
            out[name] = spark.createDataFrame([], schema)
    return out


def main(argv: list[str] | None = None) -> str:
    parser = argparse.ArgumentParser(prog="g1_etl_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    def common(p):
        p.add_argument("--dispensary", type=int, required=True)
        p.add_argument("--org", required=True)
        p.add_argument("--data", default=None,
                       help="directory of {table}.parquet fixtures")
        p.add_argument("--out", default=".")
        p.add_argument("--debug", action="store_true")

    common(sub.add_parser("extract", help="full org payload -> mmj-{org}.json"))
    pe = sub.add_parser("entity", help="one entity -> distributed json")
    common(pe)
    pe.add_argument("--entity", required=True, choices=sorted(ENTITIES))
    ps = sub.add_parser(
        "sql", help="ad-hoc SQL over the testdata tables (temp views)")
    ps.add_argument("query", help="SQL text; tables region/nation/.../"
                                  "documents/embeddings are views")
    ps.add_argument("--data", required=True,
                    help="directory of {table}.parquet sources")
    ps.add_argument("--limit", type=int, default=20)

    args = parser.parse_args(argv)

    # imported lazily so --help works without a JVM
    from g1_etl_spark.session import get_spark
    spark = get_spark(app_name=f"g1_etl_{args.cmd}")

    if args.cmd == "sql":
        from g1_etl_spark.plans.sql_plans import run_sql
        df = run_sql(spark, args.data, args.query)
        df.show(args.limit, truncate=False)
        return "sql"

    sources = load_sources(spark, args.data)
    os.makedirs(args.out, exist_ok=True)

    if args.cmd == "extract":
        payload = build_payload(sources, args.dispensary, args.org,
                                debug=args.debug)
        out_path = os.path.join(args.out, f"mmj-{args.org}.json")
        write_payload_json(payload, out_path)
    else:
        df = ENTITIES[args.entity](sources, args.dispensary, args.org,
                                   args.debug)
        out_path = os.path.join(args.out, f"{args.entity}-{args.org}.json")
        write_entity_json(df.select("doc.*"), out_path)
    print(out_path)
    return out_path


if __name__ == "__main__":
    main(sys.argv[1:])
