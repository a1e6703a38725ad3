"""Sink/source behaviour the engine relies on: the foreachBatch streaming
sink, schema-evolving and corrupt-record reads, and the sharded
training-data write layout."""

import os

from pyspark.sql import functions as F

from spark_text_clustering_spark.catalog import load_table

from .conftest import SF_SMALL


def test_foreachbatch_sink(spark, tmp_path):
    """foreachBatch: arbitrary batch-writer reuse from a stream (the
    escape hatch for sinks without native streaming support)."""
    import shutil
    import tempfile

    from spark_text_clustering_spark.catalog import stream_events

    src = tempfile.mkdtemp(prefix="febatch_src_")
    sink_dir = str(tmp_path / "sink")
    try:
        shutil.copy(os.path.join(SF_SMALL, "events.parquet"), os.path.join(src, "p.parquet"))
        counts = []

        def handle_batch(batch_df, batch_id):
            n = batch_df.count()
            counts.append((batch_id, n))
            batch_df.write.mode("append").parquet(sink_dir)

        q = (
            stream_events(spark, src)
            .writeStream.foreachBatch(handle_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        q.awaitTermination(120)
        n_events = load_table(spark, SF_SMALL, "events").count()
        assert sum(n for _, n in counts) == n_events
        assert spark.read.parquet(sink_dir).count() == n_events
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_schema_evolution_merge_read(spark, tmp_path):
    """mergeSchema: generations of a table with added columns read as one
    unified schema (missing columns -> NULL) — ingest-evolution handling."""
    base = str(tmp_path / "evolving")
    docs = load_table(spark, SF_SMALL, "documents")
    docs.select("doc_id", "lang").write.parquet(base + "/gen=1")
    docs.select("doc_id", "lang", "n_chars").write.parquet(base + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"doc_id", "lang", "n_chars", "gen"}
    import pyspark.sql.functions as F

    nulls = merged.where(F.col("gen") == 1).where(F.col("n_chars").isNotNull()).count()
    assert nulls == 0  # old generation surfaces NULL for the new column
    assert merged.count() == 2 * docs.count()


def test_corrupt_json_permissive_vs_failfast(spark, tmp_path):
    """JSON ingest hardening: PERMISSIVE captures bad lines in
    _corrupt_record; FAILFAST raises — both behaviors verified."""
    import pyspark.sql.functions as F

    p = tmp_path / "lines.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\nNOT JSON AT ALL\n')
    schema = "a long, b string, _corrupt_record string"
    ok = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = ok.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "NOT JSON" in corrupt[0]["_corrupt_record"]

    import pytest as _pytest

    with _pytest.raises(Exception):
        spark.read.schema("a long, b string").option("mode", "FAILFAST").json(str(p)).collect()


def test_shard_write_read_pipeline(spark, tmp_path):
    """End-to-end traindata layout: shard_assign_shuffle → partitionBy(shard)
    parquet → re-read one shard with partition pruning. This is the 100 TB
    write topology the sharding op exists for: the only data movement is
    the partitioned write; the re-read scans 1/N_SHARDS of the files."""
    from spark_text_clustering_spark.operators.traindata import (
        N_SHARDS,
        shard_assign_shuffle,
    )

    from .conftest import SF_SMALL

    sharded = shard_assign_shuffle(spark, SF_SMALL)
    out = str(tmp_path / "shards")
    sharded.write.mode("overwrite").partitionBy("shard").parquet(out)

    back = spark.read.parquet(out)
    assert back.count() == sharded.count()
    one = back.where(F.col("shard") == 3)
    plan = spark._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "shard" in plan.split("PartitionFilters", 1)[1][:200]
    expected = sharded.where(F.col("shard") == 3).count()
    assert one.count() == expected and expected > 0
