"""Structured Streaming over the events schema — the rebuild's streaming
surface (the reference is strictly request-driven batch, SURVEY §2.10;
this is superset scope demanded by BASELINE.json).

Each builder takes a STREAMING DataFrame (spark.readStream...) and
returns the transformed streaming DataFrame; sinks are the caller's
choice (tests use the memory sink; production uses kafka/parquet with
checkpointing). Watermarks bound state for late data.

State-size design at 100 TB/day: every aggregation here keys on
(window x event_type) or (user_id session) with a watermark — state is
bounded by (keys x open windows), never by stream length.
`dropDuplicatesWithinWatermark` bounds the dedup buffer the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark, path: str, max_files_per_trigger: int = 1
                       ) -> DataFrame:
    """File-source stream over parquet event files (schema pinned —
    streaming sources never infer)."""
    return (spark.readStream
            .schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums with a watermark: late events beyond
    `watermark` are dropped and state for closed windows is evicted."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "total_value"))


def session_aggregates(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Native session windows (Spark 3.2+ session_window): a session
    closes after `gap` of silence per user; watermark bounds open-session
    state."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("session_value"))
            .select(F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "user_id",
                    "n_events", "session_value"))


def dedup_within_watermark(events: DataFrame,
                           watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-id within the watermark horizon — bounded-state
    streaming dedup on event_id."""
    return (events
            .withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(["event_id"]))


def purchase_attribution(events: DataFrame,
                         attribution_window: str = "30 minutes",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-STREAM join: purchases joined to the clicks that preceded
    them within the attribution window, per user.

    Both sides carry watermarks and the join condition bounds the time
    range (click_ts in [purchase_ts - window, purchase_ts]), so state
    for both streams is evicted once the watermark passes — the two
    requirements for a bounded-state stream-stream join. The batch twin
    is events_range_join/events_asof_join (plans/events_plans.py).
    """
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id"),
                      F.col("ts").alias("click_ts"),
                      F.col("value").alias("click_value"))
              .withWatermark("click_ts", watermark))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user_id"),
                         F.col("ts").alias("purchase_ts"),
                         F.col("value").alias("purchase_value"))
                 .withWatermark("purchase_ts", watermark))
    cond = ((clicks.user_id == purchases.p_user_id)
            & (clicks.click_ts <= purchases.purchase_ts)
            & (clicks.click_ts >=
               purchases.purchase_ts - F.expr(
                   f"INTERVAL {attribution_window}")))
    return (clicks.join(purchases, cond)
            .select("user_id", "click_ts", "click_value",
                    "purchase_ts", "purchase_value"))


def enrich_stream(events: DataFrame, dim: DataFrame, on: str,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: the static dimension is broadcast
    to every micro-batch (re-read per trigger, so slowly-changing dims
    pick up updates). No state, no watermark needed — the canonical
    dimension-lookup shape for a 100 TB/day stream."""
    return events.join(F.broadcast(dim), on, how)


def write_foreach_batch(stream_df: DataFrame, path: str, checkpoint: str):
    """foreachBatch sink: each micro-batch lands as
    `{path}/batch_id=N` via the batch writer — the escape hatch for
    sinks without native streaming support (JDBC, Mongo, multi-table
    fan-out). Restarted batches overwrite their own directory
    (idempotent replay => effectively exactly-once on top of the
    checkpointed source offsets)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}")

    return (stream_df.writeStream
            .foreachBatch(handle)
            .option("checkpointLocation", checkpoint)
            .start())


def run_to_memory(stream_df: DataFrame, name: str,
                  output_mode: str = "append", settles: int = 2):
    """Drive a streaming query to completion against the current backlog
    (test/bench harness): memory sink + processAllAvailable.

    processAllAvailable only waits for AVAILABLE DATA — a micro-batch
    whose sole job is firing event-time timers armed against the final
    watermark is not "available data", so a stateful query's terminal
    flush can land AFTER processAllAvailable returns. The settle loop
    gives the engine `settles` beats to run those timer-only batches
    and drains after each; without it the tail emission race is
    timing-dependent (the last user's sealed rows present or absent
    run to run)."""
    import time as _time

    q = (stream_df.writeStream
         .format("memory")
         .queryName(name)
         .outputMode(output_mode)
         .start())
    q.processAllAvailable()
    for _ in range(settles):
        _time.sleep(1.0)
        q.processAllAvailable()
    return q


def incremental_backfill(spark, src_path: str, dest_path: str,
                         checkpoint: str) -> int:
    """Checkpointed incremental ingest with Trigger.AvailableNow:
    process every file not yet seen by this checkpoint, write append-
    only parquet, then STOP — the batch-shaped front door to Structured
    Streaming that production incremental pipelines run from a
    scheduler. Re-running after new files land processes ONLY the new
    files (the checkpoint's file log is the exactly-once ledger; no
    manifest table, no bookkeeping code).

    Unlike Trigger.Once, AvailableNow respects source rate limits
    (maxFilesPerTrigger) by draining in multiple micro-batches, so a
    month-long backfill doesn't become one giant unbounded batch.
    Returns the number of micro-batches executed this run.
    """
    q = (read_events_stream(spark, src_path).writeStream
         .format("parquet")
         .option("path", dest_path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    progress = q.recentProgress
    return len([p for p in progress if p["numInputRows"] > 0])
