"""Skew-mitigation helpers: salted aggregation (docs/SCALE.md,
Aggregations).

AQE's skew-join splitting covers sort-merge joins automatically; these
helpers cover a case it doesn't: skewed *aggregation* keys. Salting is
deterministic here (``pmod(hash(...), n)``) so results are reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .._registry import Registry
from ..catalog import load_table

REG = Registry()


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    salt_cols: list[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys: partial agg on
    (key, salt) → final agg on key.

    ``agg_exprs`` maps output column → 'sum'|'count'|'min'|'max' (the
    re-aggregatable functions: sum-of-sums, sum-of-counts, min-of-mins...).
    ``salt_cols`` feed the deterministic salt hash (any high-cardinality
    columns, e.g. a row id).
    """
    remerge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for fn in agg_exprs.values():
        if fn not in remerge:
            raise ValueError(f"{fn!r} is not re-aggregatable; use sum/count/min/max")

    salt = F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(n_salts)).alias("_salt")
    stage1 = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt")
    first_aggs = []
    for out, fn in agg_exprs.items():
        src = out.split("__", 1)[0] if "__" in out else out
        col = F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(src)
        first_aggs.append(col.alias(out))
    partial = stage1.agg(*first_aggs)
    final_aggs = [remerge[fn](out).alias(out) for out, fn in agg_exprs.items()]
    return partial.groupBy(*key_cols).agg(*final_aggs)


def choose_hot_keys(
    df: DataFrame,
    key_col: str,
    support: float = 0.1,
    sample_fraction: float = 0.05,
    seed: int = 42,
) -> list:
    """Sketch-driven hot-key detection: a ``freq_items`` (Karp-style
    heavy-hitter) pass over a small sample nominates candidates — the
    sketch has NO false negatives at its support level, only false
    positives — then one exact count over the candidates alone confirms
    each one. Cost: one narrow sample scan + one agg over ≤1/support
    candidate keys; never a full groupBy on the raw key.

    Returns the keys whose sampled share is ≥ ``support`` — driver-sized
    by construction (at most 1/support keys can each hold ≥ support of
    the rows)."""
    sample = (
        df.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction < 1.0
        else df
    ).select(key_col)
    candidates = sample.stat.freqItems([key_col], support).collect()[0][0] or []
    if not candidates:
        return []
    # exact verify over candidates only: kills the sketch's false positives
    counts = (
        sample.where(F.col(key_col).isin(list(candidates)))
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    total = sample.count()
    if total == 0:
        return []
    return sorted(
        (r[key_col] for r in counts if r["_n"] / total >= support),
        key=lambda k: (k is None, str(k)),
    )


def auto_salted_aggregate(
    df: DataFrame,
    key_col: str,
    agg_exprs: dict[str, str],
    salt_cols: list[str],
    n_salts: int = 16,
    support: float = 0.1,
    sample_fraction: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Salting as a *mechanism*, not a default: the sketch chooser above
    decides WHICH keys are hot, and only those are salted — cold keys take
    salt 0, so their second-stage groups are single rows and the extra
    exchange carries ~one row per cold key. With no hot keys detected the
    plain single-shuffle aggregation is returned untouched (bench shows
    blanket salting costs ~1.6× on mild skew; the crossover is ≥10× skew —
    docs/SCALE.md).

    Same re-aggregatable contract as :func:`salted_aggregate`."""
    remerge = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    for fn in agg_exprs.values():
        if fn not in remerge:
            raise ValueError(f"{fn!r} is not re-aggregatable; use sum/count/min/max")

    def first_aggs():
        out_cols = []
        for out, fn in agg_exprs.items():
            src = out.split("__", 1)[0] if "__" in out else out
            col = F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(src)
            out_cols.append(col.alias(out))
        return out_cols

    hot = choose_hot_keys(df, key_col, support, sample_fraction, seed)
    if not hot:
        return df.groupBy(key_col).agg(*first_aggs())

    # hot keys fan out over n_salts partial groups; cold keys keep salt 0
    salt = F.when(
        F.col(key_col).isin(hot),
        F.pmod(F.hash(*[F.col(c) for c in salt_cols]), F.lit(n_salts)),
    ).otherwise(F.lit(0))
    partial = df.withColumn("_salt", salt).groupBy(key_col, "_salt").agg(*first_aggs())
    final = [remerge[fn](out).alias(out) for out, fn in agg_exprs.items()]
    return partial.groupBy(key_col).agg(*final)


_AUTO_SALT_ORACLE = """
SELECT CASE WHEN l_orderkey % 5 < 3 THEN 0 ELSE l_orderkey END AS k,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS q,
       COUNT(*) AS n
FROM lineitem
GROUP BY 1
"""


@REG.register("agg_skew_auto_salted", oracle=_AUTO_SALT_ORACLE)
def agg_skew_auto_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The auto-salting mechanism as an oracled query: ~60% of lineitem
    rows collapse onto key 0 (the aggregation-skew worst case AQE does not
    fix), the sketch chooser nominates exactly that key, and only it is
    salted. Decimal sums keep the two-stage partial/merge bit-identical to
    the oracle's single-pass sum (double addition is order-sensitive;
    decimal is not)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 5 < 3, F.lit(0))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        "l_linenumber",
    )
    out = auto_salted_aggregate(
        li,
        "k",
        {"q": "sum", "n": "count"},
        salt_cols=["l_linenumber"],
        n_salts=32,
        support=0.2,
        sample_fraction=0.05,
    )
    return out.select("k", F.col("q").cast("double").alias("q"), "n")


def hot_split_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    support: float = 0.2,
    sample_fraction: float = 0.05,
    seed: int = 42,
) -> DataFrame:
    """Skewed-fact × unique-key dim join via HOT-KEY SPLIT: the sketch
    chooser nominates the fact side's heavy keys, those rows join a
    broadcast of the (≤ 1/support rows) hot slice of the dim, and only
    the cold remainder takes the shuffle join — so no reducer ever owns
    a heavy key's full row set. AQE's skew-join splitting is the
    first-line defense for sort-merge joins (enabled in session.py);
    this is the explicit, plan-deterministic form for when the skewed
    join must not depend on runtime re-planning (e.g. feeding a stateful
    stage) or the join is not SMJ-shaped. With no hot keys detected the
    plain single-shuffle join is returned untouched. INNER semantics
    only: the two paths partition the key space, which is sound because
    an inner join drops unmatched (and null) keys on both sides anyway;
    an outer variant would need the anti-join remainders re-appended."""
    hot = choose_hot_keys(fact, fact_key, support, sample_fraction, seed)
    cond = fact[fact_key] == dim[dim_key]
    if not hot:
        return fact.join(dim, cond)
    hot_part = fact.where(F.col(fact_key).isin(hot)).join(
        F.broadcast(dim.where(F.col(dim_key).isin(hot))), cond
    )
    cold_part = fact.where(~F.col(fact_key).isin(hot)).join(
        dim.where(~F.col(dim_key).isin(hot)), cond
    )
    return hot_part.unionByName(cold_part)


_HOT_SPLIT_ORACLE = """
WITH l AS (SELECT CASE WHEN l_orderkey % 5 < 3 THEN 1 ELSE l_orderkey END AS k,
                  CAST(l_quantity AS DECIMAL(18,2)) AS q
           FROM lineitem)
SELECT l.k, o.o_orderstatus, COUNT(*) AS n, CAST(SUM(l.q) AS DOUBLE) AS qty
FROM l JOIN orders o ON l.k = o.o_orderkey
GROUP BY l.k, o.o_orderstatus
"""


@REG.register("join_skew_hot_split", oracle=_HOT_SPLIT_ORACLE)
def join_skew_hot_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-split join mechanism as an oracled query — the JOIN twin
    of `agg_skew_auto_salted`, same synthetic worst case: ~60% of
    lineitem rows collapse onto orderkey 1, the one shape where a plain
    shuffle join puts most of the fact on a single reducer and AQE can
    only split what lands in one SMJ partition after the fact. The
    sketch chooser nominates exactly that key; its rows join a 1-row
    broadcast dim slice map-side (zero shuffle for 60% of the data),
    the cold long tail takes the ordinary co-partitioned join. Decimal
    sums keep the unioned two-path aggregation bit-identical to the
    oracle's single-pass sum (double addition is order-sensitive;
    decimal is not); output (k, o_orderstatus, n, qty) per joined
    group."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 5 < 3, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k"),
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
    )
    dim = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    joined = hot_split_join(li, dim, "k", "o_orderkey", support=0.2)
    return (
        joined.groupBy("k", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").cast("double").alias("qty"),
        )
    )
