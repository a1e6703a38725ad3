"""Streaming drift monitoring: PSI accumulated over microbatches.

The drift family's online form (round 7b). PSI's inputs are per-bin
COUNTS — additive sufficient statistics — so unlike the LDA serving
twin (variational scorer, ~1e-5 agreement) the streaming accumulation
equals the batch computation BIT-FOR-BIT: each microbatch bins its
rows against fixed reference stats and commits per-bin partial counts
to an epoch-keyed partition (overwrite, so an at-least-once replay
REPLACES its own output — the round-7 serving commit contract); the
final PSI merges the store by summation and runs through the same
``psi_from_binned`` assembly as the batch key. The registered demo
therefore shares ``drift_psi``'s DuckDB oracle — a dropped epoch, a
double-commit, or a drifted bin edge breaks the value hash.

Reference-side stats (min/max/count and per-bin counts of the
historical slice) are computed batch-side ONCE — the production shape:
the reference window is static history, the stream is the current
slice. At 100 TB the per-epoch state written is <= bins rows; the
store grows by epochs x bins, and the merge reads counts, never
events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table, shuffle_grain
from ..operators.analytics import _PSI_BINS, _PSI_CUR, _PSI_REF, psi_from_binned
from ..operators.analytics import _PSI_ORACLE
from ._util import await_drain, staged_source

REG = Registry()


def _bin_expr(mn, mx):
    """The batch key's bin expression with the reference stats frozen
    as literals. Null-compatible: a null mn/mx (empty reference) sends
    every row to a null bin, exactly like the batch plan's null
    propagation, so the two paths agree on degenerate slices too."""
    nb = _PSI_BINS
    mn_l = F.lit(mn).cast("double")
    mx_l = F.lit(mx).cast("double")
    return (
        F.when(mx_l == mn_l, F.lit(0))
        .otherwise(
            F.least(
                F.greatest(F.floor((F.col("v") - mn_l) / ((mx_l - mn_l) / nb)), F.lit(0)),
                F.lit(nb - 1),
            )
        )
        .cast("int")
    )


def streaming_drift_psi(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    ckpt_dir: str,
    mn,
    mx,
) -> None:
    """Replay ``src_dir`` parquet (value double, one microbatch per
    file) and commit per-bin counts per epoch. Counts include the null
    bin (out-of-domain rows under an empty reference) so the merged
    total equals the raw current-slice row count."""

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        counts = (
            batch_df.select(_bin_expr(mn, mx).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        counts.write.mode("overwrite").parquet(
            f"{store_dir}/epoch={int(epoch_id):06d}"
        )

    stream = (
        spark.readStream.schema("v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.foreachBatch(_commit)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180, "drift-psi stream")


@REG.register("stream_drift_psi", oracle=_PSI_ORACLE)
def stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver key: the current slice ('{cur}' events) lands
    as three files, replays through the accumulator above, and the
    merged store joins the batch-side reference counts through the
    SHARED ``psi_from_binned`` assembly — output must equal
    ``drift_psi`` exactly (same oracle; equality also asserted in
    tests/test_streaming_drift.py along with crash-replay idempotence).
    """
    import glob
    import os
    import shutil
    import tempfile

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    ref = ev.where(F.col("event_type") == _PSI_REF).select(
        F.col("value").cast("double").alias("v")
    )
    cur = ev.where(F.col("event_type") == _PSI_CUR).select(
        F.col("value").cast("double").alias("v")
    )
    head = ref.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n_ref")
    ).collect()[0]
    mn, mx, n_ref = head["mn"], head["mx"], head["n_ref"]
    # reference per-bin counts: static history, computed once batch-side
    rc = (
        ref.select(_bin_expr(mn, mx).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cr"))
    )

    def _stage(src: str, base: str) -> int:
        cuts = cur.approxQuantile("v", [1 / 3, 2 / 3], 0.0)
        bounds = (
            [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)] if cuts else []
        )
        for i, (lo, hi) in enumerate(bounds):
            part = cur
            if lo is not None:
                part = part.where(F.col("v") > lo)
            if hi is not None:
                part = part.where(F.col("v") <= hi)
            tmp = os.path.join(base, f"stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            pf = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(src, f"f{i}.parquet")
            shutil.copy(pf, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        return len(bounds)

    # arrival staging memoized per session (staged_source, r14 session 3);
    # the replay, store merge, and PSI assembly run fresh per call
    src = staged_source(spark, f"driftpsi:{sf_dir}", _stage)
    base = tempfile.mkdtemp(prefix="drift_stream_run_")
    store, ckpt = (os.path.join(base, d) for d in ("store", "ckpt"))
    try:
        if src:
            # <= 11 bin groups per epoch: 32 shuffle partitions is pure
            # task-setup overhead (the round-7 streaming-demo lesson)
            with shuffle_grain(spark, 4):
                streaming_drift_psi(spark, src, store, ckpt, mn, mx)
                merged = (
                    spark.read.parquet(store)
                    .groupBy("bin")
                    .agg(F.sum("cnt").alias("cu"))
                )
                n_cur = merged.agg(F.sum("cu")).collect()[0][0] or 0
                cu_rows = [
                    (r["bin"], int(r["cu"]))
                    for r in merged.where(F.col("bin").isNotNull()).collect()
                ]
        else:  # empty current slice: nothing streamed, all-zero counts
            n_cur = 0
            cu_rows = []
        # the merged store is bins-sized — rebuild driver-side to sever
        # every plan reference to the temp dirs deleted in the finally
        cu = spark.createDataFrame(cu_rows or [], "bin int, cu long")
        rc_rows = [
            (r["bin"], int(r["cr"])) for r in rc.where(F.col("bin").isNotNull()).collect()
        ]
        rcl = spark.createDataFrame(rc_rows or [], "bin int, cr long")
        bins = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
        binned = (
            bins.join(rcl, "bin", "left")
            .join(cu, "bin", "left")
            .na.fill({"cr": 0, "cu": 0})
            .withColumn("n_ref", F.lit(int(n_ref)))
            .withColumn("n_cur", F.lit(int(n_cur)))
        )
        return psi_from_binned(binned).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
