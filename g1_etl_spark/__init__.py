"""g1_etl_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference ETL service (tdelam/g1-etl),
re-expressed Spark-first.

Layout:
    session     — tuned SparkSession builder
    catalog     — testdata table loaders / temp-view registration
    functions/  — scalar Column-expression library (reference C1–C26 + text/vector helpers)
    operators/  — dedup, similarity, text analysis, multimodal plumbing, window helpers
    plans/      — named query registry (queries() + oracle_sql() pairs for the driver)
    entities/   — the six reference entity pipelines as declarative DataFrame transforms
    streaming/  — one Structured Streaming exemplar per mechanism (windows, joins, sinks, state)
    sources/    — readers and sinks
"""

__version__ = "0.1.0"
