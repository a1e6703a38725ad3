"""Structured Streaming over the ``events`` table (SURVEY §2.9 streaming).

The reference is batch-only; the north star adds streaming. Design:
every streaming aggregation is written as a *shared transform* applied to
either a batch DataFrame or a streaming DataFrame — the batch run IS the
oracle (batch-equivalence, SURVEY §5.2.4). The registered query
``stream_tumbling_agg`` runs the transform in batch mode (DuckDB-oracled);
the streaming tests replay the same parquet through ``readStream`` with
``availableNow`` and assert equality.

Scale: tumbling/sliding windows shuffle on (window, keys) with watermark-
bounded state; session windows and ``dropDuplicatesWithinWatermark`` keep
per-key state in the state store (RocksDB on a real cluster). Watermarks
bound state size — without them, 100 TB of stream history accumulates in
the store.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table, stream_events
from ..session import ensure_utc
from ._util import await_drain

REG = Registry()


def tumbling_daily_agg(events: DataFrame) -> DataFrame:
    """Shared batch/stream transform: 1-day tumbling windows (epoch-aligned,
    so window_start == date_trunc('day') in UTC)."""
    return (
        events.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def sliding_hourly_by_type(events: DataFrame) -> DataFrame:
    """Sliding windows (6h every 3h) per event_type."""
    return (
        events.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_windows_per_user(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a new session starts after ``gap`` of
    inactivity (built-in ``session_window`` — the only real streaming-state
    custom semantics in the surface)."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


@REG.register(
    "stream_tumbling_agg",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(value) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, batch mode (the exact transform the
    streaming path runs — see tests/test_streaming.py for the replayed
    ``readStream`` equivalence run)."""
    ensure_utc(spark)
    return tumbling_daily_agg(load_table(spark, sf_dir, "events"))


def run_stream_available_now(
    spark: SparkSession,
    sf_dir: str,
    transform,
    watermark: str | None = "1 day",
    output_mode: str = "complete",
    table_name: str = "stream_out",
) -> DataFrame:
    """Replay the events parquet as a file stream, run ``transform``, sink
    to an in-memory table with trigger=availableNow, and return the result.

    This is the batch-equivalence harness: after ingesting all data, the
    streaming result must equal the batch result of the same transform.
    """
    ensure_utc(spark)
    src_dir = tempfile.mkdtemp(prefix="stream_src_")
    try:
        shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src_dir, "part-0.parquet"))
        stream = stream_events(spark, src_dir)
        if watermark is not None:
            stream = stream.withWatermark("ts", watermark)
        out = transform(stream)
        query = (
            out.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(query, 120, "windowed-agg stream")
        return spark.table(table_name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def clicks_to_purchases_join(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Shared transform for the stream-stream interval join: purchases
    within 1h after a click by the same user (the streaming twin of the
    batch `join_range_theta` operator).

    In streaming mode both sides carry watermarks and the time-interval
    condition bounds the buffered state (docs/SCALE.md: without the
    interval bound, a stream-stream join must buffer one side forever).
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "c_ts", "p_ts")


@REG.register(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.ts AS c_ts, p.ts AS p_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the stream-stream interval join (purchases within 1h
    of a click by the same user). The true two-stream watermarked run is
    ``run_stream_stream_join`` below, asserted batch-equivalent in
    tests/test_streaming.py — registering the batch form gives the driver
    an exact DuckDB oracle for the shared transform."""
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events")
    return clicks_to_purchases_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str, table_name: str = "ssjoin_out") -> DataFrame:
    """Two watermarked streams over the same replayed events file (filtered
    to clicks / purchases), interval-joined, appended to memory."""
    ensure_utc(spark)
    src_dir = tempfile.mkdtemp(prefix="ssjoin_src_")
    try:
        shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src_dir, "p.parquet"))
        base = stream_events(spark, src_dir)
        clicks = base.where(F.col("event_type") == "click").withWatermark("ts", "2 hours")
        purchases = base.where(F.col("event_type") == "purchase").withWatermark("ts", "2 hours")
        out = clicks_to_purchases_join(clicks, purchases)
        q = (
            out.writeStream.format("memory")
            .queryName(table_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 180, "windowed-agg stream")
        return spark.table(table_name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)


def enrich_with_customer_segment(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment transform (shared batch/stream): join each
    event to the static customer dimension on user_id and aggregate per
    (segment, event_type). The static side re-resolves per micro-batch and
    broadcasts — the standard dimension-enrichment topology; state is just
    the aggregation, bounded by segment×type cardinality."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.join(F.broadcast(dim), "user_id", "left")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
    )


@REG.register(
    "stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the stream-static enrichment (the streaming twin is
    asserted equivalent in tests/test_streaming.py)."""
    ensure_utc(spark)
    return enrich_with_customer_segment(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )
