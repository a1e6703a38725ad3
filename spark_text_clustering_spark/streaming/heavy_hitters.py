"""Streaming heavy hitters: windowed CMS + Misra-Gries in
``applyInPandasWithState`` with the same candidate → exact-verify guarantee
as the batch ``heavy_hitters_cms`` operator (operators/sketches.py).

Per tumbling event-time window, find every key (user_id) that accounts for
>= ``support`` of the window's events — EXACTLY, with bounded state:

  1. stream pass: one state row per OPEN window holding a count-min sketch
     (depth×width longs, never underestimates) plus a Misra-Gries summary
     (``capacity`` counters). MG with capacity k guarantees any key with
     true count > total/(k+1) is retained, so with k >= ceil(1/support)
     the summary is a SUPERSET of the window's true heavy hitters. When
     the watermark passes the window end (event-time timeout) the operator
     emits the CMS-pruned candidates (CMS upper bound >= ceil(support ×
     total); pruning is lossless because CMS never undercounts) and
     EVICTS the window's state. State is O(open_windows × (cms + k)) —
     independent of the key cardinality, which is what makes this viable
     when the keyspace at 100 TB is billions.
  2. verify pass: exact per-(window, candidate) counts over the archived
     events (the bronze table every streaming pipeline lands anyway),
     restricted by a broadcast semi-join to the candidate set — the
     shuffle carries candidate rows only, never the keyspace.

Exactness caveat (round-6 ADVICE): the stream pass drops rows later than
the watermark (same policy as Spark's built-in windowed aggregations),
while the verify pass counts the FULL archive. So the output is exact
when no data arrives late — the tested replay regime. A key heavy only
because of late-arriving events may never become a candidate; with late
data the guarantee degrades to "exact over every key the on-time stream
nominated". Production options: widen ``delay_seconds`` so the watermark
admits the expected lateness, or run the batch twin
(``heavy_hitters_cms``) over the archive as a reconciliation pass.

Reference scope: the reference is batch-only (SURVEY §2.9 streaming gap
list); this is the streaming member of the sketch family its pipeline
would need at production scale.
"""

from __future__ import annotations

import datetime
import math
from collections.abc import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .._registry import Registry
from ..catalog import load_table, shuffle_grain
from ..session import ensure_utc
from ._util import await_drain, staged_source

REG = Registry()

_CMS_DEPTH = 4
_CMS_WIDTH = 512

CAND_SCHEMA = StructType(
    [
        StructField("window_start", TimestampType()),
        StructField("user_id", LongType()),
        StructField("cms_upper", LongType()),
        StructField("stream_total", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("cms", ArrayType(LongType())),
        StructField("mg_keys", ArrayType(LongType())),
        StructField("mg_cnts", ArrayType(LongType())),
        StructField("total", LongType()),
    ]
)


def _cms_positions(keys: np.ndarray) -> np.ndarray:
    """(n, depth) CMS slot positions for int64 keys — depth-salted
    splitmix64 finalizer, pure uint64 numpy (deterministic across workers,
    no reliance on Python's seeded ``hash``)."""
    with np.errstate(over="ignore"):
        salt = (np.arange(_CMS_DEPTH, dtype=np.uint64) + np.uint64(1)) * np.uint64(
            0x9E3779B97F4A7C15
        )
        x = keys.astype(np.uint64)[:, None] + salt[None, :]
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
        return (x % np.uint64(_CMS_WIDTH)).astype(np.int64)


def _mg_fold(mg: dict[int, int], key: int, c: int, capacity: int) -> None:
    """Weighted Misra-Gries increment: add ``c`` occurrences of ``key`` to a
    summary capped at ``capacity`` counters. Every decrement step removes
    one unit from capacity+1 distinct keys at once (the c leftover acts as
    the +1), so total decrements <= total/(capacity+1) — the classic MG
    error bound, which is what yields the superset guarantee."""
    while c > 0:
        if key in mg:
            mg[key] += c
            return
        if len(mg) < capacity:
            mg[key] = c
            return
        m = min(mg.values())
        d = min(m, c)
        c -= d
        for k in list(mg):
            mg[k] -= d
            if mg[k] == 0:
                del mg[k]


def _make_hh_fold(window_seconds: int, support: float, capacity: int):
    win_us = window_seconds * 1_000_000

    def fold(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (window_start,) = key
        if state.hasTimedOut:
            cms_flat, mg_keys, mg_cnts, total = state.get
            state.remove()
            if total == 0:
                return
            threshold = math.ceil(support * total)
            cms = np.asarray(cms_flat, dtype=np.int64).reshape(_CMS_DEPTH, _CMS_WIDTH)
            keys = np.asarray(mg_keys, dtype=np.int64)
            if not len(keys):
                return
            pos = _cms_positions(keys)  # (n, depth)
            upper = cms[np.arange(_CMS_DEPTH)[None, :], pos].min(axis=1)
            keep = upper >= threshold  # lossless: CMS never undercounts
            if not keep.any():
                return
            yield pd.DataFrame(
                {
                    "window_start": pd.Timestamp(window_start),
                    "user_id": keys[keep],
                    "cms_upper": upper[keep],
                    "stream_total": np.int64(total),
                }
            )
            return

        if state.exists:
            cms_flat, mg_keys, mg_cnts, total = state.get
            cms = np.asarray(cms_flat, dtype=np.int64)
            mg = dict(zip(mg_keys, mg_cnts))
        else:
            cms = np.zeros(_CMS_DEPTH * _CMS_WIDTH, dtype=np.int64)
            mg = {}
            total = 0
        wm_us = state.getCurrentWatermarkMs() * 1000
        win_start_us = int(pd.Timestamp(window_start).value // 1000)
        for pdf in pdfs:
            ts_us = pdf["ts"].astype("int64") // 1000
            on_time = pdf[ts_us >= wm_us]  # late rows: drop, like built-in aggs
            if not len(on_time):
                continue
            counts = on_time["user_id"].value_counts()
            keys = counts.index.to_numpy(dtype=np.int64)
            cnts = counts.to_numpy(dtype=np.int64)
            pos = _cms_positions(keys)  # (n, depth)
            flat = pos + (np.arange(_CMS_DEPTH, dtype=np.int64) * _CMS_WIDTH)[None, :]
            np.add.at(cms, flat.ravel(), np.repeat(cnts, _CMS_DEPTH))
            for k, c in zip(keys, cnts):
                _mg_fold(mg, int(k), int(c), capacity)
            total += int(cnts.sum())
        state.update(
            (
                cms.tolist(),
                list(mg.keys()),
                list(mg.values()),
                total,
            )
        )
        # fire when the watermark passes the window end; never set a timeout
        # at-or-before the current watermark (Spark rejects it)
        state.setTimeoutTimestamp(
            max((win_start_us + win_us) // 1000 + 1, wm_us // 1000 + 1)
        )

    return fold


def heavy_hitters_window_stream(
    spark: SparkSession,
    src_dir: str,
    window_seconds: int = 86400,
    support: float = 0.01,
    delay_seconds: int = 60,
    table_name: str = "hh_cand_out",
) -> DataFrame:
    """Phase 1+2: replay ``src_dir`` parquet files (one microbatch per file
    in mtime order) through the windowed-CMS/MG stateful operator, then
    exact-verify the emitted candidates against the archived events.
    Returns exact (window_start, user_id, cnt) heavy hitters for every
    window whose timeout fired during the replay."""
    ensure_utc(spark)
    capacity = max(1, math.ceil(1.0 / support))
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .withWatermark("ts", f"{delay_seconds} seconds")
        .withColumn("window_start", F.window("ts", f"{window_seconds} seconds").start)
    )
    cand = stream.groupBy("window_start").applyInPandasWithState(
        _make_hh_fold(window_seconds, support, capacity),
        outputStructType=CAND_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    # state keys are windows — a handful
    with shuffle_grain(spark, 8):
        q = (
            cand.writeStream.format("memory")
            .queryName(table_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 180, "heavy-hitters stream")
    candidates = spark.table(table_name).select("window_start", "user_id")

    # exact verify over the archive: candidate-restricted windowed counts
    # vs exact per-window totals; the broadcast join keeps the shuffle
    # candidate-sized. (At 100 TB the archive read is partition-pruned to
    # the emitted windows.)
    archive = (
        spark.read.schema("user_id long, ts timestamp")
        .parquet(src_dir)
        .withColumn("window_start", F.window("ts", f"{window_seconds} seconds").start)
    )
    totals = archive.groupBy("window_start").agg(F.count(F.lit(1)).alias("total"))
    exact = (
        archive.join(F.broadcast(candidates), ["window_start", "user_id"], "leftsemi")
        .groupBy("window_start", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return exact.join(totals, "window_start").where(
        F.col("cnt") >= F.ceil(F.lit(support) * F.col("total"))
    ).select("window_start", "user_id", "cnt")


def heavy_hitters_window_batch(
    events: DataFrame, window_seconds: int = 86400, support: float = 0.01
) -> DataFrame:
    """Batch twin — per-window exact counts + per-window threshold; the
    oracle the streaming pipeline must match after full replay."""
    win = events.withColumn(
        "window_start", F.window("ts", f"{window_seconds} seconds").start
    )
    counts = win.groupBy("window_start", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = win.groupBy("window_start").agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.join(totals, "window_start")
        .where(F.col("cnt") >= F.ceil(F.lit(support) * F.col("total")))
        .select("window_start", "user_id", "cnt")
    )


_STREAM_HH_ORACLE = """
WITH wc AS (
  SELECT date_trunc('day', ts) AS window_start, user_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), wt AS (
  SELECT window_start, SUM(cnt) AS total FROM wc GROUP BY 1
)
SELECT wc.window_start, wc.user_id, wc.cnt
FROM wc JOIN wt USING (window_start)
WHERE wc.cnt >= CEIL(0.01 * wt.total)
"""


@REG.register("stream_heavy_hitters", oracle=_STREAM_HH_ORACLE)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the windowed heavy-hitters transform (1-day tumbling
    windows, support 1%) — registering the batch form gives the driver an
    exact DuckDB oracle for the shared semantics; the true stateful
    streaming run (windowed CMS + Misra-Gries + exact verify) is
    ``heavy_hitters_window_stream`` above, asserted batch-equivalent in
    tests/test_stateful.py."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return heavy_hitters_window_batch(events, window_seconds=86400, support=0.01)


def heavy_hitters_sliding_batch(
    events: DataFrame,
    window_seconds: int = 172800,
    slide_seconds: int = 86400,
    support: float = 0.01,
) -> DataFrame:
    """Batch twin of the sliding-window heavy hitters."""
    win = events.select(
        "user_id",
        F.window("ts", f"{window_seconds} seconds", f"{slide_seconds} seconds")
        .start.alias("window_start"),
    )
    counts = win.groupBy("window_start", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = win.groupBy("window_start").agg(F.count(F.lit(1)).alias("total"))
    return (
        counts.join(totals, "window_start")
        .where(F.col("cnt") >= F.ceil(F.lit(support) * F.col("total")))
        .select("window_start", "user_id", "cnt")
    )


_STREAM_HH_SLIDING_ORACLE = """
WITH assigned AS (
  SELECT user_id,
         date_trunc('day', ts) - i.i * INTERVAL 1 DAY AS window_start
  FROM events, (SELECT unnest(generate_series(0, 1)) AS i) i),
wc AS (
  SELECT window_start, user_id, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM assigned GROUP BY 1, 2),
wt AS (
  SELECT window_start, SUM(cnt) AS total FROM wc GROUP BY 1)
SELECT wc.window_start, wc.user_id, wc.cnt
FROM wc JOIN wt USING (window_start)
WHERE wc.cnt >= CEIL(0.01 * wt.total)
"""


@REG.register("stream_heavy_hitters_sliding", oracle=_STREAM_HH_SLIDING_ORACLE)
def stream_heavy_hitters_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch mode of the SLIDING-window heavy-hitters transform (2-day
    windows sliding 1 day, support 1%) — each event counts in two
    overlapping windows; the DuckDB oracle replays the epoch-aligned
    assignment with an explicit offset unnest."""
    ensure_utc(spark)
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return heavy_hitters_sliding_batch(
        events, window_seconds=172800, slide_seconds=86400, support=0.01
    )


_HH_STREAM_CAP = 4000  # registered-demo bound: event_id below this streams

# the demo folds user_id into 23 buckets: the shipped events tables get
# MORE users (not more events/user) as SF grows, so organic per-user
# daily shares shrink below any fixed support and the demo would emit
# zero rows past sf0.01. 23 keys against MG capacity ceil(1/0.05)=20
# also guarantees genuine counter eviction at every SF.
_HH_STREAM_MOD = 23
_HH_STREAM_SUPPORT = 0.05

_HH_STREAM_ORACLE = f"""
WITH ev AS (
  SELECT user_id % {_HH_STREAM_MOD} AS user_id, ts FROM events
  WHERE event_id IS NOT NULL AND event_id < {_HH_STREAM_CAP}
        AND user_id IS NOT NULL AND ts IS NOT NULL),
wc AS (
  SELECT date_trunc('day', ts) AS window_start, user_id,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2
), wt AS (
  SELECT window_start, SUM(cnt) AS total FROM wc GROUP BY 1
)
SELECT wc.window_start, wc.user_id, wc.cnt
FROM wc JOIN wt USING (window_start)
WHERE wc.cnt >= CEIL({_HH_STREAM_SUPPORT} * wt.total)
"""


@REG.register("heavy_hitters_window_stream", oracle=_HH_STREAM_ORACLE)
def heavy_hitters_window_stream_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered driver key for the TRUE stateful run (round 7 — the
    batch form ``stream_heavy_hitters`` has carried the shared oracle
    since round 5; this registers the streaming machinery itself): a
    bounded slice of the events table lands as three ts-ordered files
    plus a far-future watermark-pusher event, replays through the
    windowed CMS + Misra-Gries ``applyInPandasWithState`` operator (one
    microbatch per file), and every real window's event-time timeout
    fires before the replay drains.

    The oracle is exact SQL over the REAL events only: the candidate
    superset (MG with capacity 1/support) + lossless exact verify equals
    the batch per-window heavy hitters for every fired window, and the
    pusher — whose own window never times out — contributes no candidate,
    so it cannot appear in (or perturb) the output. A dropped timeout, a
    mis-folded CMS, or an unfired window breaks the hash match."""
    import glob
    import os
    import shutil
    import tempfile

    ensure_utc(spark)
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("event_id").isNotNull()
            & (F.col("event_id") < _HH_STREAM_CAP)
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select((F.col("user_id") % _HH_STREAM_MOD).alias("user_id"), "ts")
    )
    # approxQuantile rejects TimestampType: split on epoch seconds. The
    # bounded slice is demo-sized (< _HH_STREAM_CAP rows): pin it once so
    # the quantile probe and the three landing writes don't each rescan
    # the events table
    def _stage(src: str, base: str) -> int:
        evs = (
            ev.withColumn("ts_s", F.unix_timestamp("ts"))
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        cuts = evs.approxQuantile("ts_s", [1 / 3, 2 / 3], 0.0)
        if not cuts:
            return 0
        hi_ts = ev.agg(F.max("ts")).collect()[0][0]
        bounds = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
        for i, (lo, hi) in enumerate(bounds):
            part = evs
            if lo is not None:
                part = part.where(F.col("ts_s") > lo)
            if hi is not None:
                part = part.where(F.col("ts_s") <= hi)
            part = part.select("user_id", "ts")
            tmp = os.path.join(base, f"stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            pf = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(src, f"f{i}.parquet")
            shutil.copy(pf, dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        # watermark pusher: one synthetic far-future event advances the
        # watermark past every real window's timeout; its own window
        # never fires, so it is invisible in the output by construction
        pusher = spark.createDataFrame(
            [(-1, hi_ts + datetime.timedelta(days=3))], "user_id long, ts timestamp"
        )
        tmp = os.path.join(base, "pusher")
        pusher.coalesce(1).write.mode("overwrite").parquet(tmp)
        pf = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, "f3.parquet")
        shutil.copy(pf, dst)
        os.utime(dst, (1_700_000_003, 1_700_000_003))
        return 4

    # arrival staging (slice checkpoint + quantile cut + max probe + 4
    # landing writes, ~6 jobs) memoized per session via staged_source
    # (r14 session 3); the stateful replay below runs fresh per call
    src = staged_source(spark, f"hhstream:{sf_dir}", _stage)
    if not src:
        return spark.createDataFrame(
            [], "window_start timestamp, user_id long, cnt long"
        )
    # state-store cost scales with shuffle partitions x microbatches;
    # the demo has ~30 window groups, so 32 partitions is pure state
    # setup overhead (measured: 16 s -> 9 s replay at 4). A real
    # deployment sizes this to key cardinality the same way.
    with shuffle_grain(spark, 4):
        out = heavy_hitters_window_stream(
            spark, src, window_seconds=86400, support=_HH_STREAM_SUPPORT,
            delay_seconds=60, table_name="hh_demo_out",
        )
        rows = [
            (r["window_start"], r["user_id"], r["cnt"])
            for r in out.collect()
        ]
    # the result is heavy-hitter-bounded BY CONSTRUCTION (at most
    # support^-1 rows per fired window), so collecting it is
    # model-sized, and rebuilding the frame from the collected rows
    # severs every plan reference to the landing dir (a localCheckpoint'd
    # plan was observed — rarely — re-scanning a deleted src under the
    # bench battery's memory pressure; the staged dir now lives for the
    # session, but the collected rebuild stays the safer contract)
    return spark.createDataFrame(
        rows, "window_start timestamp, user_id long, cnt long"
    )
