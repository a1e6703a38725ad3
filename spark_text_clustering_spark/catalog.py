"""Typed schema registry + loader for the engine's tables.

The reference has no tables at all — its "schema" is Scala static types on
RDDs (SURVEY §1). Here every table gets an explicit ``StructType`` (never
inferred at runtime) and a single ``load_table`` entry point.

Scale notes: parquet scans go through Spark's vectorized reader; passing an
explicit schema skips footer-based inference on huge directory trees, and
column pruning / predicate pushdown happen automatically because every
downstream operator is declarative (check ``.explain`` for ``ReadSchema`` /
``PushedFilters``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TABLES = tuple(SCHEMAS)

# Timestamp columns per table. The physical parquet time unit of these
# columns has changed between driver rounds (ns in round 1/2 testdata,
# µs since round 3), so the loader SNIFFS the unit from one file's footer
# (driver-side, one pyarrow call, cached per path) instead of hard-coding
# a workaround:
#   * µs / ms  → native Spark read with the declared TimestampType schema
#     (vectorized reader handles both units directly).
#   * ns       → Spark's reader rejects TIMESTAMP(NANOS) outright
#     (PARQUET_TYPE_ILLEGAL), so read the raw nanos as LongType under the
#     legacy ``nanosAsLong`` conf and integer-divide to microseconds —
#     the same ns→µs truncation DuckDB applies, so both engines see
#     identical values.
_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

# path -> set of column names physically stored as TIMESTAMP(NANOS)
_NANO_COLS_CACHE: dict[str, frozenset] = {}


def _nano_cols(path: str, cols: tuple) -> frozenset:
    """Which of ``cols`` are stored as nanosecond timestamps at ``path``.

    Reads exactly one parquet footer via pyarrow (driver-side, O(KB));
    result cached per path for the process lifetime.
    """
    cached = _NANO_COLS_CACHE.get(path)
    if cached is not None:
        return cached
    import glob

    candidates = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    ) or [path]
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(candidates[0])
        sch = pf.schema_arrow
        # Physical INT96 (Spark's own legacy timestamp format) also surfaces
        # as timestamp[ns] in arrow — but Spark reads INT96 natively, so
        # only a true INT64 TIMESTAMP(NANOS) annotation takes the
        # nanosAsLong path.
        phys = {
            pf.schema.column(i).name: pf.schema.column(i).physical_type
            for i in range(len(pf.schema))
        }
        nanos = frozenset(
            c
            for c in cols
            if c in sch.names
            and getattr(sch.field(c).type, "unit", None) == "ns"
            and phys.get(c) == "INT64"
        )
    except Exception:
        # Footer unreadable (e.g. empty streaming dir) — assume the
        # native-readable µs/ms layout, the current driver contract.
        # NOT cached: files may appear later with a different unit, and the
        # next call should sniff them rather than reuse this guess.
        return frozenset()
    _NANO_COLS_CACHE[path] = nanos
    return nanos


def _read_schema(name: str, nano_cols: frozenset) -> StructType:
    return StructType(
        [
            StructField(f.name, LongType() if f.name in nano_cols else f.dataType, True)
            for f in SCHEMAS[name].fields
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table with its declared schema.

    Mirrors the reference's whole-file corpus scan role for ``documents``
    (sc.wholeTextFiles — LDAClustering.scala:113) but through the columnar,
    prunable, pushdown-capable parquet path.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    ts_cols = _TS_COLS.get(name, ())
    nano = _nano_cols(path, ts_cols) if ts_cols else frozenset()
    if not nano:
        return spark.read.schema(SCHEMAS[name]).parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(_read_schema(name, nano)).parquet(path)
    from pyspark.sql import functions as F

    for c in nano:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df.select(*[f.name for f in SCHEMAS[name].fields])


def spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session parallelism ONLY if its planned
    partition count is below it.

    Why conditional (round 14): a small corpus arrives as a single
    parquet split, and any narrow compute-heavy stage over it — a
    pandas-UDF codec, shingling, an ML fit — runs on ONE core until the
    first exchange (measured 4-12x slowdowns across six operators). But
    an UNCONDITIONAL repartition would be wrong at scale: on a corpus
    that already scans as thousands of splits it forces a full shuffle
    of the data for nothing. This helper is the idiom both regimes
    share: deficient grain gets spread, natural grain is left alone.
    Partition-count inspection is plan-time (file listing, no job)."""
    n = df.rdd.getNumPartitions()
    p = spark.sparkContext.defaultParallelism
    return df.repartition(p) if n < p else df


from contextlib import contextmanager

_ITER_GRAIN_ROWS = 50_000  # narrow (few-long-column) rows per shuffle partition


@contextmanager
def shuffle_grain(spark: SparkSession, n_partitions: int):
    """Set ``spark.sql.shuffle.partitions`` to ``n_partitions`` for the
    duration of the block and restore the previous value on exit, normal
    or by exception. Nested blocks restore in LIFO order, so an inner
    grain applies only inside it.

    Used where a job's shuffles carry far fewer keys than the session
    default: stateful streaming replays keyed on a handful of windows or
    users (the state store and its Python workers are instantiated per
    shuffle partition per microbatch), small-batch ingest loops, and the
    iterative graph kernels via :func:`iter_grain`. Partition count never
    affects these results, only placement; a streaming query captures the
    value at ``start()``.

    Single driver thread assumed: the conf is session-global, so a query
    planned from another driver thread while the block is open inherits
    the temporary grain, and blocks interleaved across threads would
    restore out of order. Every caller in this package plans from one
    thread; a caller that needs concurrency should run on its own
    ``spark.newSession()``."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n_partitions))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def iter_grain(spark: SparkSession, n_rows: int, rows_per_part: int = _ITER_GRAIN_ROWS):
    """:func:`shuffle_grain` capped to a data-derived grain for the
    duration of an ITERATIVE kernel over a small frame — the reverse of
    :func:`spread` (round 15, VERDICT r14 #5).

    The CC/k-core/label-propagation loops run many small jobs over
    node/edge-sized frames (a few 8-byte columns); at the relational
    default every per-round join/aggregate shuffles into 32 partitions,
    so a 6 MB frame pays ~32 task setups per stage per round — scheduler
    overhead, no compute to amortize (the driver's 8-core bench beat the
    32-core one on exactly these kernels). The cap is data-driven and
    one-directional: ceil(n_rows / rows_per_part), floored at 4 so tiny
    graphs keep a little parallelism, and NEVER ABOVE the session's
    configured value — a 100 TB edge list derives a grain far past the
    conf and keeps the conf, so this cannot starve a real cluster.
    Placement never affects these kernels' results (exact joins and
    min/count aggregates)."""
    target = max(4, -(-int(n_rows) // rows_per_part))
    return shuffle_grain(spark, min(target, int(spark.conf.get("spark.sql.shuffle.partitions"))))


def stream_events(spark: SparkSession, src_dir: str) -> DataFrame:
    """``readStream`` variant of ``load_table`` for the events table
    (same footer-sniffed timestamp handling, file-source directory scan).

    The unit is sniffed once at stream definition time from whatever file
    is present in ``src_dir``; an empty dir defaults to the native µs path.
    """
    nano = _nano_cols(src_dir, _TS_COLS["events"])
    if not nano:
        return spark.readStream.schema(SCHEMAS["events"]).parquet(src_dir)
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.readStream.schema(_read_schema("events", nano)).parquet(src_dir)
    df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.select(*[f.name for f in SCHEMAS["events"].fields])
