"""Batch-equivalence harness for Structured Streaming (SURVEY §5.2.4):
replaying the events parquet through readStream must reproduce the batch
result of the same transform once all data is ingested."""

import pytest
from pyspark.sql import functions as F

from spark_text_clustering_spark.catalog import load_table
from spark_text_clustering_spark.streaming.windows import (
    run_stream_available_now,
    session_windows_per_user,
    sliding_hourly_by_type,
    tumbling_daily_agg,
)

from .conftest import SF_SMALL


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def test_tumbling_batch_equivalence(spark):
    batch = tumbling_daily_agg(load_table(spark, SF_SMALL, "events"))
    stream = run_stream_available_now(
        spark, SF_SMALL, tumbling_daily_agg, watermark=None, table_name="t_tumble"
    )
    assert _as_sets(stream) == _as_sets(batch)


def test_sliding_batch_equivalence(spark):
    batch = sliding_hourly_by_type(load_table(spark, SF_SMALL, "events"))
    stream = run_stream_available_now(
        spark, SF_SMALL, sliding_hourly_by_type, watermark=None, table_name="t_slide"
    )
    assert _as_sets(stream) == _as_sets(batch)


def test_session_window_batch_equivalence(spark):
    batch = session_windows_per_user(load_table(spark, SF_SMALL, "events"))
    stream = run_stream_available_now(
        spark,
        SF_SMALL,
        session_windows_per_user,
        watermark="1 day",
        table_name="t_session",
    )
    assert _as_sets(stream) == _as_sets(batch)


def test_watermark_withholds_unfinalized_windows(spark):
    """Append mode + watermark: only windows whose end precedes the final
    watermark (max event time − delay) are emitted; the tail window stays
    in state. This is the state-bounding behavior that matters at scale."""
    ev = load_table(spark, SF_SMALL, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]

    def agg(stream):
        return (
            stream.groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("day"), F.col("w.end").alias("day_end"), "n")
        )

    out = run_stream_available_now(
        spark, SF_SMALL, agg, watermark="1 hour", output_mode="append", table_name="t_late"
    ).collect()
    assert out, "no finalized windows emitted"
    import datetime

    horizon = max_ts - datetime.timedelta(hours=1)
    for r in out:
        assert r["day_end"] <= horizon, f"unfinalized window emitted: {r}"
    # every finalized window matches the batch count exactly
    batch = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in out:
        assert batch[r["day"]] == r["n"]


def test_rate_source_with_engine_transform(spark):
    """Source variety: the built-in rate source drives the same windowed
    transform (no files at all) — useful as a load generator on a cluster."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).alias("user_id"),
            F.lit(1.0).alias("value"),
        )
    )
    agg = (
        stream.groupBy(F.window("ts", "1 second").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("complete")
        .start()
    )
    try:
        import time as _t

        deadline = _t.time() + 30
        rows = 0
        while _t.time() < deadline:
            q.processAllAvailable()
            rows = spark.table("t_rate").count()
            if rows > 0:
                break
            _t.sleep(0.5)
        assert rows > 0
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark):
    """Stream-stream interval join == batch join of the same transform
    (appended rows are exactly the batch pairs; watermarks only bound
    state, they drop nothing in an availableNow full replay)."""
    from spark_text_clustering_spark.streaming.windows import (
        clicks_to_purchases_join,
        run_stream_stream_join,
    )

    ev = load_table(spark, SF_SMALL, "events")
    batch = clicks_to_purchases_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )
    stream = run_stream_stream_join(spark, SF_SMALL, table_name="t_ssjoin")
    assert _as_sets(stream) == _as_sets(batch)
    assert stream.count() > 0  # non-vacuous


def test_stream_static_join_batch_equivalence(spark):
    """Stream-static enrichment: joining the event stream to a static
    dimension per micro-batch must converge to the batch join result."""
    from spark_text_clustering_spark.streaming.windows import (
        enrich_with_customer_segment,
    )

    customer = load_table(spark, SF_SMALL, "customer")
    batch = enrich_with_customer_segment(
        load_table(spark, SF_SMALL, "events"), customer
    )
    stream = run_stream_available_now(
        spark,
        SF_SMALL,
        lambda ev: enrich_with_customer_segment(ev, customer),
        watermark=None,
        table_name="t_static_join",
    )
    assert _as_sets(stream) == _as_sets(batch)


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: a checkpointed aggregation stopped mid-
    stream must, after restart, produce exactly the batch answer over ALL
    data — offsets replay from the checkpoint log, aggregation state from
    the state store, and no batch is double-counted. This is the fault-
    tolerance contract a 1000-executor deployment leans on (driver loss =
    restart from checkpoint, not reprocess-from-scratch)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    rows1 = [(i, "a" if i % 2 == 0 else "b", float(i)) for i in range(100)]
    rows2 = [(i, "b" if i % 3 == 0 else "c", float(i)) for i in range(100, 250)]
    schema = "id long, k string, v double"
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode("append").parquet(src)

    def run_until_drained():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
        q = (
            stream.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda df, _id: df.write.mode("overwrite").parquet(out)
            )
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    run_until_drained()  # phase 1: only rows1 ingested
    first = {tuple(r) for r in spark.read.parquet(out).collect()}
    assert first  # sanity: phase-1 snapshot exists

    # new data lands while the query is DOWN; restart resumes from ckpt
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode("append").parquet(src)
    run_until_drained()

    batch = (
        spark.read.parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_streaming_ingest_pipeline(spark, tmp_path):
    """Continuous-ingestion composite: documents arrive as a file stream;
    each micro-batch is (1) exact-deduped against the persistent
    fingerprint store, (2) shard-assigned with the seeded md5 shuffle,
    (3) appended to a shard-partitioned parquet layout via foreachBatch.
    Replaying the same file twice must add zero new rows — the streaming
    twin of tests/test_incremental_dedup.py, and the write topology
    docs/SCALE.md prescribes for a 100 TB corpus."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from spark_text_clustering_spark.catalog import SCHEMAS, load_table
    from spark_text_clustering_spark.operators.dedup import incremental_dedup

    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "fingerprints")
    layout = str(tmp_path / "corpus_sharded")
    docs_file = os.path.join(SF_SMALL, "documents.parquet")

    def ingest(batch_df, batch_id):
        survivors = incremental_dedup(spark, batch_df, store)
        enriched = survivors.join(batch_df.select("doc_id", "text", "lang"), "doc_id")
        sharded = enriched.withColumn(
            "sort_key",
            F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), F.lit("42"))),
        ).withColumn(
            "shard",
            (
                (
                    F.expr("instr('0123456789abcdef', substring(sort_key, 1, 1)) - 1") * 16
                    + F.expr("instr('0123456789abcdef', substring(sort_key, 2, 1)) - 1")
                )
                % 16
            ).cast("int"),
        )
        sharded.write.mode("append").partitionBy("shard").parquet(layout)

    def run_once(tag):
        q = (
            spark.readStream.schema(SCHEMAS["documents"])
            .parquet(str(src))
            .writeStream.foreachBatch(ingest)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    shutil.copy(docs_file, src / "batch_a.parquet")
    run_once("a")
    n_docs = load_table(spark, SF_SMALL, "documents").count()
    first = spark.read.parquet(layout)
    assert first.count() == n_docs  # SF_SMALL documents are unique

    # replay the same data: dedup store must reject every row
    shutil.copy(docs_file, src / "batch_b.parquet")
    run_once("b")
    again = spark.read.parquet(layout)
    assert again.count() == n_docs  # zero new rows
    # layout is shard-partitioned and prunable
    assert any(d.startswith("shard=") for d in os.listdir(layout))
