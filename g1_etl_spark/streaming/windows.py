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


def session_documents_stream(events: DataFrame, gap: str = "30 minutes",
                             watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of operators.temporal.session_documents: native
    session_window sessions folded into (time, id)-ordered token
    strings as they CLOSE (append mode — a session's document is
    immutable once the watermark passes its end, exactly the property
    a downstream training-data writer wants). State per open session is
    the buffered (us, id, token) structs — bounded by session length,
    the same bound as the batch fold."""
    ordered = F.array_sort(
        F.collect_list(F.struct(F.unix_micros("ts").alias("us"),
                                F.col("event_id").alias("_id"),
                                F.col("event_type").alias("_tok"))))
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.max(F.unix_micros("ts"))
                  - F.min(F.unix_micros("ts"))).alias("duration_us"),
                 F.array_join(F.transform(ordered, lambda x: x["_tok"]),
                              " ").alias("doc"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "duration_us", "doc"))


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


def write_foreach_batch(stream_df: DataFrame, path: str,
                        checkpoint: str, fmt: str = "parquet"):
    """foreachBatch sink: each micro-batch lands as
    `{path}/batch_id=N` via the batch writer — the escape hatch for
    sinks without native streaming support (JDBC, Mongo, multi-table
    fan-out). Restarted batches overwrite their own directory
    (idempotent replay => effectively exactly-once on top of the
    checkpointed source offsets)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.write.mode("overwrite")
         .format(fmt)
         .save(f"{path}/batch_id={batch_id}"))

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
    timing-dependent (observed: the last user's sealed gap-fill rows
    present or absent run to run)."""
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
                         checkpoint: str,
                         schema: T.StructType = EVENTS_STREAM_SCHEMA,
                         transform=None) -> int:
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
    `transform` (optional) maps the streaming frame before the sink —
    the same narrow transforms a batch job would apply. Returns the
    number of micro-batches executed this run.
    """
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src_path))
    if transform is not None:
        stream = transform(stream)
    q = (stream.writeStream
         .format("parquet")
         .option("path", dest_path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    progress = q.recentProgress
    return len([p for p in progress if p["numInputRows"] > 0])


def histogram_drift_stream(events: DataFrame, reference: DataFrame,
                           lo: float, hi: float, n_bins: int = 8,
                           value_col: str = "value",
                           window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Streaming distribution-drift monitor — the sealed-window twin of
    operators.quality.distribution_drift: per tumbling window, the
    fixed-range equi-width histogram of `value_col`, joined against a
    static per-bin `reference` (bin, ref_share), with the symmetric
    chi-square contribution per (window, bin). A streaming monitor
    compares to a FIXED reference band — it cannot rescan history for
    a combined range, which is how production drift monitors work
    (the reference band comes from the batch audit).

    State discipline: ONE watermarked window aggregate holding n_bins
    counters per open window (the bins ride as conditional-sum columns,
    so there is no second stateful operator for the window total); the
    explode to per-bin rows and the reference join are stateless and
    run as the window seals. Late data beyond the watermark is dropped,
    flags are final when they emit.
    """
    # a truncated reference band would otherwise silently drop exactly
    # the drifted bins from the monitor (the join below keys on bin) —
    # validate coverage of 0..n_bins-1 up front; the reference is
    # n_bins rows by construction, so this collect is bounded
    ref_rows = [r["bin"] for r in reference.select("bin").collect()]
    ref_bins = set(ref_rows)
    missing = sorted(set(range(n_bins)) - ref_bins)
    if missing:
        raise ValueError(
            f"histogram_drift_stream: reference band is missing bins "
            f"{missing} — the batch audit must cover 0..{n_bins - 1}")
    if len(ref_rows) != len(ref_bins):
        # a duplicated bin row would silently fan out the join below,
        # double-counting that bin's monitor output — same silent-
        # corruption class as a missing bin, so fail just as loudly
        dupes = sorted(b for b in ref_bins if ref_rows.count(b) > 1)
        raise ValueError(
            f"histogram_drift_stream: reference band has duplicate "
            f"rows for bins {dupes}")
    width = (hi - lo) / n_bins
    bin_col = F.least(F.lit(n_bins - 1),
                      F.greatest(F.lit(0), F.floor(
                          (F.col(value_col) - lo) / width))).cast("int")
    counters = [F.sum(F.when(bin_col == i, 1).otherwise(0)).alias(f"b{i}")
                for i in range(n_bins)]
    agg = (events.withWatermark("ts", watermark)
           .groupBy(F.window("ts", window).alias("w"))
           .agg(F.count(F.lit(1)).alias("n_total"), *counters))
    per_bin = agg.select(
        F.col("w.start").alias("window_start"), "n_total",
        F.posexplode(F.array(*[F.col(f"b{i}") for i in range(n_bins)]))
        .alias("bin", "n"))
    share = F.col("n").cast("double") / F.col("n_total")
    contrib = ((share - F.col("ref_share"))
               * (share - F.col("ref_share"))
               / (share + F.col("ref_share")))
    return (per_bin.join(F.broadcast(reference), "bin")
            .select("window_start", "bin", "n", share.alias("share"),
                    "ref_share",
                    F.when(share + F.col("ref_share") > 0, contrib)
                    .otherwise(F.lit(0.0)).alias("contrib")))


def cms_sketch_stream(events: DataFrame, window: str = "1 hour",
                      watermark: str = "2 hours",
                      width: int = 256) -> DataFrame:
    """Streaming Count-Min sketch: per tumbling window, the (j, bucket)
    cell counts of user_id frequencies — the same mergeable structure
    as operators/sketches.cms_build, maintained incrementally.

    This is the CMS's whole point in a streaming engine: cell updates
    are SUMs, so the stateful aggregate is an ordinary watermarked
    groupBy whose state is bounded at depth*width rows PER WINDOW no
    matter how many distinct users flow through; sketches for closed
    windows are final and merge across windows (or across streams) by
    cell-wise addition. The batch twin — cms_build over the same rows —
    must produce identical cells (equivalence-tested), which also
    certifies the arithmetic LCG bucketing is deterministic under
    streaming's incremental accumulation order.
    """
    from g1_etl_spark.operators.sketches import CMS_HASHES, CMS_P

    fan = F.explode(F.array(*[
        F.struct(
            F.lit(j).alias("j"),
            (((F.lit(a) * F.col("user_id").cast("long") + F.lit(b))
              % CMS_P) % width).alias("bucket"))
        for j, (a, b) in enumerate(CMS_HASHES)])).alias("cell")
    return (events
            .withWatermark("ts", watermark)
            .select("ts", fan)
            .groupBy(F.window("ts", window).alias("w"),
                     F.col("cell.j").alias("j"),
                     F.col("cell.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.col("w.start").alias("window_start"),
                    "j", "bucket", "c"))
