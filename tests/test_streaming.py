"""Structured Streaming tests: drive file-source streams to completion
with the memory sink and compare against the batch computation.

One test per streaming mechanism: watermarked windows in complete and
append mode, session windows, dropDuplicatesWithinWatermark,
stream-static and stream-stream joins, the foreachBatch sink,
availableNow backfill, and applyInPandasWithState with NoTimeout and
with EventTimeTimeout (including kill-and-restart recovery).

Stream input: the events parquet split into several files under a
pytest temp dir, so maxFilesPerTrigger yields multiple micro-batches.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from g1_etl_spark.catalog import load_table
from g1_etl_spark.streaming import windows as SW
from g1_etl_spark.streaming.stateful import (running_user_totals,
                                             streaming_pattern_seq)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    """Split events into 4 parquet files under a temp dir."""
    d = tmp_path_factory.mktemp("stream") / "events"
    ev = load_table(spark, SF_SMOKE, "events")  # ns->µs conversion
    ev.repartition(4).write.parquet(str(d))
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)


def _batch(spark, stream_dir):
    return spark.read.parquet(stream_dir)


def _batch_window_counts(spark, stream_dir):
    batch = _batch(spark, stream_dir)
    want_df = (batch.groupBy(F.window("ts", "1 hour").alias("w"),
                             "event_type")
               .agg(F.count(F.lit(1)).alias("n")))
    return {(r["w"]["start"], r["event_type"]): r["n"]
            for r in want_df.collect()}


def test_tumbling_stream_complete_matches_batch(spark, stream_dir):
    """Complete mode keeps all window state -> final result must equal
    the batch computation exactly, regardless of file arrival order."""
    stream = SW.read_events_stream(spark, stream_dir)
    q = SW.run_to_memory(SW.tumbling_counts(stream), "t_tumbling_c",
                         output_mode="complete")
    try:
        got = {(r["window_start"], r["event_type"]): r["n_events"]
               for r in spark.sql("SELECT * FROM t_tumbling_c").collect()}
        assert got == _batch_window_counts(spark, stream_dir)
    finally:
        q.stop()


def test_tumbling_stream_append_drops_late(spark, stream_dir):
    """Append mode emits a window once, when the watermark passes it;
    events arriving in later micro-batches beyond the watermark are
    dropped — emitted counts are <= the batch counts (the documented
    late-data semantics), never >."""
    stream = SW.read_events_stream(spark, stream_dir)
    q = SW.run_to_memory(SW.tumbling_counts(stream), "t_tumbling_a",
                         output_mode="append")
    try:
        got = {(r["window_start"], r["event_type"]): r["n_events"]
               for r in spark.sql("SELECT * FROM t_tumbling_a").collect()}
        want = _batch_window_counts(spark, stream_dir)
        assert got, "no windows emitted"
        assert set(got) <= set(want)
        assert all(v <= want[k] for k, v in got.items())
    finally:
        q.stop()


def test_session_stream_bounded_and_plausible(spark, stream_dir):
    stream = SW.read_events_stream(spark, stream_dir, 2)
    q = SW.run_to_memory(SW.session_aggregates(stream), "t_sessions",
                         output_mode="append")
    try:
        rows = spark.sql("SELECT * FROM t_sessions").collect()
        assert rows, "no sessions emitted"
        for r in rows:
            assert r["session_end"] >= r["session_start"]
            assert r["n_events"] >= 1
    finally:
        q.stop()


def test_stream_dedup_within_watermark(spark, stream_dir):
    stream = SW.read_events_stream(spark, stream_dir, 4)
    q = SW.run_to_memory(SW.dedup_within_watermark(stream), "t_dedup",
                         output_mode="append")
    try:
        n = spark.sql("SELECT COUNT(DISTINCT event_id) c, COUNT(*) n "
                      "FROM t_dedup").collect()[0]
        assert n["c"] == n["n"], "dedup emitted duplicate event_ids"
        total = _batch(spark, stream_dir).select("event_id").distinct().count()
        assert n["n"] == total
    finally:
        q.stop()


def test_stateful_running_totals(spark, stream_dir):
    stream = SW.read_events_stream(spark, stream_dir, 2)
    q = SW.run_to_memory(running_user_totals(stream), "t_state",
                         output_mode="update")
    try:
        # last emission per user must equal the batch totals
        rows = spark.sql("""
            SELECT user_id, total_events FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY total_events DESC) rn
              FROM t_state) WHERE rn = 1
        """).collect()
        got = {r["user_id"]: r["total_events"] for r in rows}
        want = {r["user_id"]: r["n"] for r in
                _batch(spark, stream_dir).groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert got == want
    finally:
        q.stop()


def test_stream_static_enrichment(spark, stream_dir):
    dim = spark.createDataFrame(
        [("click", "engagement"), ("purchase", "revenue"),
         ("view", "engagement"), ("signup", "growth"), ("error", "ops")],
        "event_type string, category string")
    stream = SW.read_events_stream(spark, stream_dir, 4)
    q = SW.run_to_memory(SW.enrich_stream(stream, dim, "event_type"),
                         "t_enrich", output_mode="append")
    try:
        rows = spark.sql(
            "SELECT event_type, category, COUNT(*) n FROM t_enrich "
            "GROUP BY 1, 2").collect()
        got = {r["event_type"]: r["category"] for r in rows}
        assert got["purchase"] == "revenue" and got["error"] == "ops"
        n = spark.sql("SELECT COUNT(*) n FROM t_enrich").collect()[0]["n"]
        assert n == _batch(spark, stream_dir).count()
    finally:
        q.stop()


def test_foreach_batch_sink_idempotent_layout(spark, stream_dir, tmp_path):
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    stream = SW.read_events_stream(spark, stream_dir, 2)
    q = SW.write_foreach_batch(
        stream.select("event_id", "ts", "user_id"), str(out), str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    import os
    batches = sorted(d for d in os.listdir(out) if d.startswith("batch_id="))
    assert len(batches) >= 2, "expected one dir per micro-batch"
    total = spark.read.parquet(*(str(out / b) for b in batches)).count()
    assert total == _batch(spark, stream_dir).count()


def test_stream_stream_attribution_join(spark, stream_dir):
    """Stream-stream inner join with time-range condition: every emitted
    (click, purchase) pair obeys the window, and the final result equals
    the batch range-join of the same data."""
    stream = SW.read_events_stream(spark, stream_dir, 2)
    q = SW.run_to_memory(SW.purchase_attribution(stream), "t_attr",
                         output_mode="append")
    try:
        got = spark.sql("SELECT * FROM t_attr").collect()
        for r in got:
            delta = (r["purchase_ts"] - r["click_ts"]).total_seconds()
            assert 0 <= delta <= 1800
        batch = _batch(spark, stream_dir)
        clicks = batch.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts"))
        purch = batch.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("pu"), F.col("ts").alias("purchase_ts"))
        want = clicks.join(
            purch,
            (F.col("user_id") == F.col("pu"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts")
               - F.expr("INTERVAL 30 MINUTES"))).count()
        # watermark may drop late pairs but file order here is in-order
        # enough that the backlog-drained join matches batch exactly
        assert len(got) == want
    finally:
        q.stop()


def test_incremental_backfill_processes_only_new_files(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")

    def mk(rows):
        return spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1, 0, i), i, "click", 1.0, "{}")
             for i in rows], SW.EVENTS_STREAM_SCHEMA)

    mk(range(0, 10)).write.mode("append").parquet(src)
    n1 = SW.incremental_backfill(spark, src, dest, ckpt)
    assert n1 >= 1
    got1 = {r["event_id"] for r in spark.read.parquet(dest).collect()}
    assert got1 == set(range(0, 10))

    # second run with no new files: nothing reprocessed
    SW.incremental_backfill(spark, src, dest, ckpt)
    assert spark.read.parquet(dest).count() == 10

    # new files land -> ONLY they are ingested (no batch-1 duplicates)
    mk(range(10, 15)).write.mode("append").parquet(src)
    SW.incremental_backfill(spark, src, dest, ckpt)
    got3 = sorted(r["event_id"] for r in spark.read.parquet(dest).collect())
    assert got3 == list(range(15))


def _time_range_files(spark, path: str, n_parts: int = 4) -> None:
    """Write events as consecutive time-range files, SEQUENTIALLY: the
    file source orders by modification time, so arrival order = time
    order (a real feed's property; random mod-time ties would
    reintroduce artificial disorder the watermark is not configured to
    absorb)."""
    import time as _time

    ev0 = load_table(spark, SF_SMOKE, "events").cache()
    ev0 = ev0.withColumn("_us", F.unix_micros("ts"))
    qs = ev0.approxQuantile(
        "_us", [i / n_parts for i in range(1, n_parts)], 0.0)
    bounds = [None, *[int(q) for q in qs], None]
    for k in range(n_parts):
        part = ev0
        if bounds[k] is not None:
            part = part.filter(F.col("_us") >= bounds[k])
        if bounds[k + 1] is not None:
            part = part.filter(F.col("_us") < bounds[k + 1])
        part.drop("_us").coalesce(1).write.mode("append").parquet(path)
        _time.sleep(1.1)
    ev0.unpersist()


def test_streaming_pattern_seq_matches_batch(spark, tmp_path):
    """The buffered watermark-correct matcher must emit EXACTLY the
    batch plan's matches for triples the final watermark closed. The
    stream arrives as consecutive TIME RANGES (what a real event feed
    looks like); a zero-delay watermark then drops nothing and every
    match except possibly the final-millisecond tail must appear."""
    from pyspark.sql import Window as W

    src = str(tmp_path / "ranges")
    _time_range_files(spark, src)
    stream = SW.read_events_stream(spark, src, 1)
    q = SW.run_to_memory(streaming_pattern_seq(stream), "t_pat",
                         output_mode="append")
    try:
        got = {(r["user_id"], r["start_us"], r["end_us"])
               for r in spark.sql("SELECT * FROM t_pat").collect()}
    finally:
        q.stop()
    ev = spark.read.parquet(src).withColumn("us", F.unix_micros("ts"))
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    batch = (ev.select("user_id", "event_type", "us",
                       F.lead("event_type", 1).over(w).alias("t1"),
                       F.lead("event_type", 2).over(w).alias("t2"),
                       F.lead("us", 2).over(w).alias("us2"))
             .filter((F.col("event_type") == "view")
                     & (F.col("t1") == "click")
                     & (F.col("t2") == "purchase")
                     & (F.col("us2") - F.col("us") <= 86_400_000_000)))
    want_all = {(r["user_id"], r["us"], r["us2"]) for r in batch.collect()}
    # watermark is ms-truncated max event time; triples closing in the
    # final open millisecond may legitimately still be buffered
    wm_us = (ev.agg(F.max("us")).collect()[0][0] // 1000) * 1000
    want = {m for m in want_all if m[2] < wm_us}
    assert got >= want, f"missing matches: {want - got}"
    # and nothing emitted that the batch plan doesn't contain
    assert got <= want_all, f"spurious matches: {got - want_all}"


def _checkpointed_run(spark, build, out: str, ckpt: str,
                      interrupt_after: int | None = None):
    """Drive a stateful stream through the foreachBatch parquet sink
    (SW.write_foreach_batch) with a checkpoint. With interrupt_after=N,
    stop the query as soon as N micro-batch directories exist (a
    mid-backlog kill, which may interrupt batch N+1 in flight), then
    restart from the SAME checkpoint and drain — the recovery path
    under test. Returns the
    sorted list of emitted row tuples across all batch directories
    (replayed batches overwrite their own directory, so replay is
    idempotent)."""
    import os
    import time as _time

    def start():
        return SW.write_foreach_batch(build(), out, ckpt)

    q = start()
    if interrupt_after is not None:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            done = len([d for d in os.listdir(out)
                        if d.startswith("batch_id=")]) \
                if os.path.isdir(out) else 0
            if done >= interrupt_after:
                break
            _time.sleep(0.05)
        q.stop()          # kill mid-backlog
        q.awaitTermination(30)
        q = start()       # resume from checkpoint
    q.processAllAvailable()
    for _ in range(2):
        _time.sleep(1.0)
        q.processAllAvailable()
    q.stop()
    dirs = [f"{out}/{d}" for d in sorted(os.listdir(out))
            if d.startswith("batch_id=")]
    rows = []
    for d in dirs:
        try:
            rows.extend(tuple(r) for r in
                        spark.read.parquet(d).collect())
        except Exception:
            pass  # an interrupted batch dir may hold no valid footer
    return sorted(rows)


def test_streaming_pattern_seq_recovers_from_checkpoint(spark, tmp_path):
    """A forced kill-and-restart from checkpoint must emit bit-identical
    total output to an uninterrupted run: state-store recovery (the
    buffered events and their armed event-time timers), offset replay
    and the idempotent sink together give exactly-once."""
    src = str(tmp_path / "ranges")
    _time_range_files(spark, src)

    def build():
        return streaming_pattern_seq(SW.read_events_stream(spark, src, 1))

    clean = _checkpointed_run(
        spark, build, str(tmp_path / "out_clean"),
        str(tmp_path / "ckpt_clean"))
    killed = _checkpointed_run(
        spark, build, str(tmp_path / "out_kill"),
        str(tmp_path / "ckpt_kill"), interrupt_after=2)
    assert clean, "uninterrupted run emitted nothing"
    assert killed == clean, (
        f"post-restart output diverged: "
        f"clean={len(clean)} killed={len(killed)}")
