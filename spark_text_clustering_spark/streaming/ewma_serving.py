"""Streaming EWMA: the recursive smoother as a stateful online operator.

The batch key ``timeseries_ewma`` (operators/analytics.py) computes
ewma_t = a*x_t + (1-a)*ewma_{t-1} RELATIONALLY (rescaled cumulative-sum
window). This module is its ONLINE form — the natural streaming shape of
a recursion: per-user ``GroupState`` carries (n_seen, prev_ewma), each
microbatch folds its rows in event order through ``applyInPandasWithState``,
and per-event smoothed values commit to epoch-keyed partitions
(overwrite, the round-7 serving contract: an at-least-once replay
REPLACES its own output).

Registered ROWS-ONLY, deliberately: the streaming path evaluates the
sequential recursion in numpy float64 while the batch key evaluates the
rescaled-sum reformulation in JVM doubles — algebraically identical,
but different float evaluation orders (and libm vs JVM pow), so
bit-equality cannot be promised across engines the way the drift twin's
ADDITIVE counts could. The gate is instead per-event equality against
the ORACLED batch key at 1e-6 (tests/test_streaming_ewma.py — the
assoc_itemsets_fp pattern: a rows-only key locked to a value-hashed
one), plus crash-replay idempotence.

Ordering contract: state folds events in (ts, event_id) order WITHIN a
microbatch (pandas sort per group), and the replay feeds microbatches
in ascending time ranges, so cross-batch order holds by construction.
In production the same guarantee comes from watermark-ordered sources
or an upstream repartition-by-key sort; EWMA needs in-order delivery
per key, which is a source contract, not something the operator can
recover after the fact. At 100 TB: state is 2 scalars per active user,
the per-epoch commit is event-sized, and everything shuffles on
user_id only.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .._registry import Registry
from ..catalog import load_table, shuffle_grain
from ..operators.analytics import _EWMA_ALPHA
from ..session import ensure_utc
from ._util import await_drain, staged_source

REG = Registry()

OUTPUT_SCHEMA = "event_id bigint, ewma double"
STATE_SCHEMA = "n bigint, prev double"


def _fold_ewma(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """One call per (user, trigger): fold the batch's rows in
    (ts, event_id) order through the recursion, emit one output row per
    event, carry (count, last_ewma) forward."""
    if state.exists:
        n, prev = state.get
    else:
        n, prev = 0, 0.0
    a = _EWMA_ALPHA
    out_ids, out_vals = [], []
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for eid, v in zip(pdf["event_id"], pdf["value"]):
            v = float(v)
            prev = v if n == 0 else a * v + (1 - a) * prev
            n += 1
            out_ids.append(int(eid))
            out_vals.append(prev)
    state.update((n, prev))
    yield pd.DataFrame({"event_id": out_ids, "ewma": out_vals})


def streaming_ewma(
    spark: SparkSession, src_dir: str, out_dir: str, ckpt_dir: str
) -> None:
    """Replay ``src_dir`` (events-schema parquet, one file per
    microbatch in ascending time ranges) through the stateful fold and
    commit each epoch's smoothed rows to ``out_dir/epoch=<id>``
    (overwrite: replayed epochs replace themselves)."""

    def _commit(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/epoch={int(epoch_id):06d}"
        )

    # the replay files are Spark-written by _split_by_time (native µs
    # timestamps, exactly these 4 columns) — no footer sniff needed, and
    # maxFilesPerTrigger=1 makes each time-range file its own epoch
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _fold_ewma,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # bounded user slice — state grain sized to keys, not the batch default
    with shuffle_grain(spark, 8):
        q = (
            out.writeStream.foreachBatch(_commit)
            .outputMode("update")  # required by the Update-mode stateful op
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 180, "ewma stream")


def _split_by_time(spark: SparkSession, ev: DataFrame, src: str, base: str) -> int:
    """Land the events as 3 single-file microbatches in ascending ts
    ranges (boundary ties resolve by value, so a user's (ts, event_id)
    order never straddles a file against time order); mtimes ascend so
    availableNow drains them in order. Returns the file count."""
    cuts = ev.approxQuantile("tsd", [1 / 3, 2 / 3], 0.0)
    if not cuts:
        return 0
    bounds = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    n = 0
    for i, (lo, hi) in enumerate(bounds):
        part = ev
        if lo is not None:
            part = part.where(F.col("tsd") > lo)
        if hi is not None:
            part = part.where(F.col("tsd") <= hi)
        tmp = os.path.join(base, f"stage{i}")
        part.drop("tsd").coalesce(1).write.mode("overwrite").parquet(tmp)
        pf = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(pf, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        n += 1
    return n


@REG.register("stream_ewma_serving")  # rows-only: see module docstring
def stream_ewma_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver key: replay the events table as 3 time-ordered
    microbatches through the stateful fold, merge the epoch store, and
    emit (event_id, ewma) rounded to 6dp — the same shape as the
    oracled batch key it is equality-locked to."""
    ensure_utc(spark)
    # arrival staging memoized per session (staged_source); the replay
    # itself — state fold, epoch commits, store merge — runs fresh per
    # call against new store/ckpt dirs
    src = staged_source(
        spark,
        f"ewma:{sf_dir}",
        lambda s, b: _split_by_time(
            spark,
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "ts", "value")
            .withColumn("tsd", F.col("ts").cast("double")),
            s,
            b,
        ),
    )
    if not src:  # empty input: nothing to stream
        return spark.createDataFrame([], OUTPUT_SCHEMA)
    base = tempfile.mkdtemp(prefix="ewma_stream_run_")
    store, ckpt = (os.path.join(base, d) for d in ("store", "ckpt"))
    try:
        # per-epoch groups are user-count-sized; 32 shuffle partitions
        # would be pure task-setup overhead (round-7 streaming lesson)
        with shuffle_grain(spark, 4):
            streaming_ewma(spark, src, store, ckpt)
            merged = spark.read.parquet(store).select(
                "event_id", F.round("ewma", 6).alias("ewma")
            )
            # sever every plan reference to the temp store before the
            # finally deletes it (event-count-sized, executor-resident)
            return merged.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)
