"""Mergeable-sketch pipelines: sketch → candidate → exact verify.

The scale problem these solve: at 100 TB, a full ``groupBy(key)`` over a
billion-key column shuffles the whole keyspace, and a full dim×fact join
shuffles the fact table. Both operators here follow the classic
sketch-as-candidate-generator design instead — a *narrow* pass builds a
small mergeable summary (count-min sketch / Bloom bitset) whose merged
size is O(partitions × sketch), candidates are pruned against it, and a
final *exact* pass touches only candidate rows. The sketches can
overestimate but never miss (one-sided error), so the verified output is
EXACT and each query carries a plain-SQL DuckDB oracle.

Both sketches are built with deterministic md5-derived hash functions so
repeated runs (and the driver's re-runs) agree bit-for-bit.

Reference parity note: the reference (LDAClustering.scala) has no sketch
surface; this is rebuild-contract scope (SURVEY §2.9 approx family +
LLM-pipeline heavy-hitter/vocab-pruning needs). ``freq_items_sketch``
(operators/relational_more.py) covers Spark's built-in Karp-style
heavy-hitter contract; this module adds the hand-rolled mergeable-CMS
pipeline with an exactness guarantee.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table

REG = Registry()

# Count-min sketch geometry. Width 2048 at depth 4 keeps the per-partition
# summary at 64 KiB while the expected overestimate on a ~1e5-token
# partition is a handful of counts — far below the heavy-hitter threshold.
_CMS_DEPTH = 4
_CMS_WIDTH = 2048
_HH_FRACTION = 1000  # heavy hitter := count >= max(1, ceil(total_tokens / 1000))


def _cms_hash(token: str, seed: int, width: int = _CMS_WIDTH) -> int:
    h = hashlib.md5(f"{seed}:{token}".encode()).hexdigest()
    return int(h[:12], 16) % width


_HH_ORACLE = """
WITH tok AS (
  SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS token
  FROM documents),
tok1 AS (SELECT token FROM tok WHERE len(token) >= 1),
tot AS (SELECT COUNT(*) AS n FROM tok1),
cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok1 GROUP BY token)
SELECT token, cnt
FROM cnt, tot
WHERE cnt >= greatest((n + 999) // 1000, 1)
"""


def _hh_threshold(total: int) -> int:
    """Global heavy-hitter threshold: ceil(total / fraction), min 1.
    Ceil (not floor) so the per-partition weighted pigeonhole below is
    airtight: if c_p < ceil(t_p/f) in EVERY partition then
    c = Σc_p < Σt_p/f = total/f <= ceil(total/f) = T."""
    return max(1, -(-total // _HH_FRACTION))


def _partition_sketch(batches: Iterator[pd.DataFrame], fraction: int = _HH_FRACTION):
    """Per-partition pass: exact local counts feed (a) candidate rows for
    every token that could be a global heavy hitter (local count >=
    ceil(t_p / fraction), where t_p is THIS partition's token total — the
    weighted pigeonhole makes the union of candidates a guaranteed
    superset of the global heavy hitters, with no advance knowledge of
    the global total) and (b) one count-min sketch row summarizing ALL
    tokens of the partition, carrying t_p so the driver recovers the
    global total without a separate counting pass."""
    import numpy as np

    acc: pd.Series | None = None
    for pdf in batches:
        vc = pdf["token"].value_counts()  # vectorized, no Python loop per row
        acc = vc if acc is None else acc.add(vc, fill_value=0)
    counts = {} if acc is None else acc.astype("int64").to_dict()
    part_total = int(sum(counts.values()))
    local_threshold = max(1, -(-part_total // fraction))  # ceil(t_p / f)
    cms = np.zeros((_CMS_DEPTH, _CMS_WIDTH), dtype=np.int64)
    cand, cand_cnt = [], []
    for tok, c in counts.items():  # Python cost is per UNIQUE token only
        for d in range(_CMS_DEPTH):
            cms[d, _cms_hash(tok, d)] += c
        if c >= local_threshold:
            cand.append(tok)
            cand_cnt.append(int(c))
    yield pd.DataFrame(
        {
            "kind": ["cand"] * len(cand) + ["cms"],
            "token": cand + [""],
            "local_cnt": cand_cnt + [part_total],
            "cms": [None] * len(cand) + [cms.ravel().tolist()],
        }
    )


@REG.register("heavy_hitters_cms", oracle=_HH_ORACLE)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (tokens with >= 0.1% of all token occurrences)
    via the count-min sketch → candidate → verify pipeline.

    Two passes total (each narrow or candidate-sized — the full keyspace
    is never shuffled):
      1. one ``mapInPandas`` pass per partition emits candidates with
         local count >= ceil(t_p/1000) (weighted pigeonhole: the union
         over partitions is a guaranteed superset of the global heavy
         hitters — no advance global total needed) plus a 4×2048
         count-min sketch row carrying the partition token total;
         sketches and candidates are partition-count-sized;
      2. driver merges the P sketches (sum — CMS is linear), recovers
         the global total from the carried t_p's, and prunes candidates
         whose CMS upper bound is below T (CMS never underestimates, so
         pruning is lossless);
      3. exact verify: re-scan tokens filtered to the broadcast candidate
         set, ``groupBy`` count, keep count >= T.
    The output is therefore exact and carries a plain-SQL oracle. At
    100 TB the verify shuffle carries only candidate-token rows (Zipf:
    a few hundred keys) vs the full-vocabulary shuffle of the naive agg.
    """
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    tokens = (
        docs.select(F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"))
        .where(F.length("token") >= 1)
    )
    out_schema = "token string, cnt long"
    sketch_rows = tokens.mapInPandas(
        _partition_sketch,
        schema="kind string, token string, local_cnt long, cms array<long>",
    ).collect()  # partition-count-sized (P candidates lists + P sketches), not data-sized

    merged = np.zeros(_CMS_DEPTH * _CMS_WIDTH, dtype=np.int64)
    candidates: set[str] = set()
    total = 0
    for row in sketch_rows:
        if row["kind"] == "cms":
            merged += np.asarray(row["cms"], dtype=np.int64)
            total += row["local_cnt"]  # cms rows carry the partition total
        else:
            candidates.add(row["token"])
    if total == 0:
        return spark.createDataFrame([], out_schema)
    threshold = _hh_threshold(total)
    cms = merged.reshape(_CMS_DEPTH, _CMS_WIDTH)
    pruned = [
        t
        for t in candidates
        if min(int(cms[d, _cms_hash(t, d)]) for d in range(_CMS_DEPTH)) >= threshold
    ]
    if not pruned:
        return spark.createDataFrame([], out_schema)
    return (
        tokens.where(F.col("token").isin(pruned))  # broadcast-sized IN list
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= threshold)
    )


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------

_BLOOM_BITS = 1 << 17  # 16 KiB bitset
_BLOOM_HASHES = 3

_BLOOM_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
"""


def _bloom_positions(key: int) -> list[int]:
    return [int(p) for p in bloom_positions([int(key)], _BLOOM_BITS, _BLOOM_HASHES)[0]]


def _bloom_build(batches: Iterator[pd.DataFrame]):
    """Per-partition Bloom bitset over the dim keys, emitted as one
    int64-word array row (bitsets OR-merge, so the build is a linear
    mergeable sketch like the CMS above)."""
    import numpy as np

    words = np.zeros(_BLOOM_BITS // 64, dtype=np.uint64)
    for pdf in batches:
        keys = pdf["c_custkey"].dropna().to_numpy(dtype=np.int64)
        if not len(keys):
            continue
        pos = bloom_positions(keys, _BLOOM_BITS, _BLOOM_HASHES).ravel()
        np.bitwise_or.at(
            words, (pos // 64).astype(np.int64), np.uint64(1) << (pos % 64)
        )
    yield pd.DataFrame({"words": [words.astype(np.int64).tolist()]})


@REG.register("bloom_semi_join_prune", oracle=_BLOOM_ORACLE)
def bloom_semi_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime pruning for a fact⋈dim join, then exact join.

    The 100 TB problem: joining a fact table to a *filtered* dimension
    shuffles every fact row, even though most match nothing. The fix used
    by every warehouse runtime filter (and Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter``): build a Bloom bitset
    over the filtered dim keys with a distributed mergeable build (one
    bitset per partition, tree-OR-merged through ``build_bloom``'s
    shuffle layer so driver traffic is min(P, fanin)×16 KiB, never
    data- or partition-count-sized), broadcast it, and drop
    non-matching fact rows map-side BEFORE the shuffle. Bloom false positives survive the prefilter, so a
    normal (now much smaller) join runs afterwards to make the result
    exact — the oracle is the plain join.

    Here the dim fits in a broadcast anyway (so Catalyst would broadcast
    the join itself); the point is the mechanism, which works when the
    dim's keys are 10 GB but its Bloom is 16 KiB.
    """
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bloom = build_bloom(cust, "c_custkey", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES)
    maybe_in_dim = bloom_contains_udf(bloom, n_bits=_BLOOM_BITS, n_hashes=_BLOOM_HASHES)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("o_totalprice"),
    )
    prefiltered = orders.where(maybe_in_dim(F.col("o_custkey")))
    # exact semi join kills Bloom false positives; its probe side is the
    # prefiltered (tiny) stream, not the full fact table
    return prefiltered.join(cust, prefiltered.o_custkey == cust.c_custkey, "left_semi")


# ---------------------------------------------------------------------------
# Generic distributed Bloom build/probe (round 6) — the
# bloom_semi_join_prune mechanism above, parameterized so other operators
# (dedup_duplicate_spans_strided) can prefilter on arbitrary long columns
# with a bitset sized to THEIR key count, not the 16 KiB demo default.
# ---------------------------------------------------------------------------


def bloom_positions(keys, n_bits: int, n_hashes: int):
    """(n, n_hashes) bit positions via splitmix64 + Kirsch-Mitzenmacher
    double hashing — pure numpy uint64 arithmetic, no per-row Python, so
    both the build and the map-side probe run at Arrow-batch speed."""
    import numpy as np

    with np.errstate(over="ignore"):  # wrapping is the point of splitmix64
        x = np.asarray(keys, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
        h1 = x & np.uint64(0xFFFFFFFF)
        h2 = (x >> np.uint64(32)) | np.uint64(1)  # odd -> cycles all slots
        i = np.arange(n_hashes, dtype=np.uint64)
        return (h1[:, None] + i[None, :] * h2[:, None]) % np.uint64(n_bits)


def build_bloom(
    df: DataFrame, col: str, n_bits: int, n_hashes: int = 3, merge_fanin: int = 64
):
    """Distributed mergeable Bloom build over a long column: one bitset
    per partition via mapInPandas, OR-merged through a tree before the
    driver sees anything. Driver traffic is min(P, merge_fanin) x
    (n_bits/8) bytes — INDEPENDENT of the input partition count P: when
    P > merge_fanin, the per-partition bitsets shuffle on
    (partition_id % merge_fanin) and a second mapInPandas layer
    streaming-ORs each group (one accumulator + one Arrow batch resident
    per task, never the whole group), so at most merge_fanin bitsets are
    collected. At P = 10^6 partitions x 16 KiB bitsets the flat collect
    would push ~16 GB through the driver; the tree caps it at ~1 MiB.
    Returns the merged uint64 word array (length n_bits/64)."""
    import numpy as np

    merged = np.zeros(n_bits // 64, dtype=np.int64)
    frame = bloom_driver_frame(df, col, n_bits, n_hashes, merge_fanin)
    for row in frame.select("words").collect():
        merged |= np.asarray(row["words"], dtype=np.int64)
    return merged.astype(np.uint64)


def bloom_driver_frame(
    df: DataFrame, col: str, n_bits: int, n_hashes: int = 3, merge_fanin: int = 64
) -> DataFrame:
    """The DataFrame of bitset rows that ``build_bloom`` collects —
    exposed so tests can assert its row count is bounded by merge_fanin
    (driver traffic independent of input partition count P), not just
    that the merged bits come out right."""
    import numpy as np

    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")

    def _build(batches: Iterator[pd.DataFrame]):
        words = np.zeros(n_bits // 64, dtype=np.uint64)
        seen, g = False, 0
        for pdf in batches:
            if len(pdf) and not seen:
                g = int(pdf["_g"].iloc[0]) % merge_fanin
            keys = pdf[col].dropna().to_numpy(dtype=np.int64)
            if not len(keys):
                continue
            seen = True
            pos = bloom_positions(keys, n_bits, n_hashes).ravel()
            np.bitwise_or.at(
                words, (pos // 64).astype(np.int64), np.uint64(1) << (pos % 64)
            )
        if seen:  # empty partitions contribute nothing — don't ship zeros
            yield pd.DataFrame({"g": [g], "words": [words.astype(np.int64).tolist()]})

    def _or_merge(batches: Iterator[pd.DataFrame]):
        acc = np.zeros(n_bits // 64, dtype=np.int64)
        seen = False
        for pdf in batches:
            for w in pdf["words"]:
                acc |= np.asarray(w, dtype=np.int64)
                seen = True
        if seen:
            yield pd.DataFrame({"words": [acc.tolist()]})

    src = df.select(F.col(col).alias(col), F.spark_partition_id().alias("_g"))
    parts = src.mapInPandas(_build, schema="g int, words array<long>")
    if df.rdd.getNumPartitions() > merge_fanin:
        parts = parts.repartition(merge_fanin, "g").mapInPandas(
            _or_merge, schema="words array<long>"
        )
    return parts


def bloom_contains_udf(words, n_bits: int, n_hashes: int = 3):
    """Pandas UDF closure testing membership of a long column against a
    broadcast-captured Bloom word array (map-side, Arrow-batched; nulls
    test False)."""
    import numpy as np

    bloom = np.asarray(words, dtype=np.uint64)

    @F.pandas_udf("boolean")
    def maybe_member(keys: pd.Series) -> pd.Series:
        import numpy as np  # noqa: F811 — executor-side import

        valid = keys.notna().to_numpy()
        out = np.zeros(len(keys), dtype=bool)
        if valid.any():
            kv = keys[valid].to_numpy(dtype=np.int64)
            pos = bloom_positions(kv, n_bits, n_hashes)
            bits = (bloom[(pos // 64).astype(np.int64)] >> (pos % 64)) & np.uint64(1)
            out[valid] = bits.all(axis=1)
        return pd.Series(out, dtype="boolean")

    return maybe_member


# ---------------------------------------------------------------------------
# Exact quantiles via sketch-bracket + rank-selection verify (round 7b)
# ---------------------------------------------------------------------------

_QX_QS = (0.5, 0.9, 0.99)
_QX_ACC = 1000  # GK accuracy: guaranteed rank error <= n / _QX_ACC

_QUANTILE_ORACLE = """
WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn, COUNT(*) OVER () AS n
      FROM v)
SELECT CAST(t.q AS DOUBLE) AS q, r.x AS quantile_value
FROM r JOIN (VALUES (0.5), (0.9), (0.99)) AS t(q)
  ON r.rn = CAST(ceil(t.q * r.n) AS BIGINT)
"""


@REG.register("quantile_exact_bracket", oracle=_QUANTILE_ORACLE)
def quantile_exact_bracket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of ``lineitem.l_extendedprice`` — the quantile
    member of this module's sketch → candidate → exact-verify family
    (CMS does it for heavy hitters, Bloom for semi-joins; quantiles are
    the remaining classic).

    Why not a plain global sort: exact quantiles naively need a total
    order — a full-data range shuffle. Why not percentile_approx alone:
    its answer is off by up to n/accuracy ranks. This pipeline gets
    exactness at sketch cost:

      1. one narrow agg builds Spark's built-in GK summary
         (``percentile_approx``, accuracy A=1000) probed at q ± 2/A.
         The GK contract bounds every probe's RANK error by n/A, so
         [apx(q-2/A), apx(q+2/A)] provably brackets the true rank-
         ceil(q*n) element (proof: rank(apx(q-2/A)) <= (q-1/A)n <= k
         and rank(apx(q+2/A)) >= k for n >= A; for n < A the summary
         holds all values and is exact);
      2. one agg counts c_lo = #{x < lo} per target (strict <, so
         duplicates straddling lo stay countable inside the bracket);
      3. the verify sorts ONLY the bracket rows (~4n/A per target —
         2.4k rows at sf0.1) and picks local rank k - c_lo. The range
         predicate on x reaches the parquet scan as a min/max skip.

    Every step is JVM-side; driver state is 3 bracket tuples. At 100 TB
    the bracket is 4n/A rows — grow A with n (A ~ sqrt(n) keeps both
    summary and bracket sublinear), or iterate step 1-2 once more to
    re-bracket within the bracket; one round suffices at test scale."""
    import math

    out_schema = "q double, quantile_value double"
    v = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_extendedprice").isNotNull())
        .select(F.col("l_extendedprice").cast("double").alias("x"))
    )
    m = 2.0 / _QX_ACC
    probes = sorted({min(max(q + s * m, 0.0), 1.0) for q in _QX_QS for s in (-1.0, 1.0)})
    head = v.agg(
        F.percentile_approx("x", probes, _QX_ACC).alias("a"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = head["n"]
    if n == 0:
        return spark.createDataFrame([], out_schema)
    apx = dict(zip(probes, head["a"]))
    brackets = [
        (q, apx[max(q - m, 0.0)], apx[min(q + m, 1.0)], math.ceil(q * n))
        for q in _QX_QS
    ]
    below = v.agg(
        *[
            F.sum(F.when(F.col("x") < F.lit(lo), 1).otherwise(0)).alias(f"c{i}")
            for i, (_, lo, _, _) in enumerate(brackets)
        ]
    ).collect()[0]
    bdf = spark.createDataFrame(
        [
            (q, lo, hi, k, int(below[f"c{i}"] or 0))
            for i, (q, lo, hi, k) in enumerate(brackets)
        ],
        "q double, lo double, hi double, k long, c_lo long",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q").orderBy("x")
    return (
        v.join(
            F.broadcast(bdf),
            (F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == F.col("k") - F.col("c_lo"))
        .select("q", F.col("x").alias("quantile_value"))
    )
