"""Salted aggregation / join must equal their unsalted twins on a
deliberately skewed dataset (one key holding 90% of rows)."""

import pytest
from pyspark.sql import functions as F

from spark_text_clustering_spark.operators.skew import salted_aggregate


@pytest.fixture(scope="module")
def skewed(spark):
    # 9000 rows on key 'hot', ~1000 spread over 100 cold keys
    df = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 100).cast("string")))
        .alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.col("id"),
    )
    return df.cache()


def test_salted_aggregate_matches_plain(spark, skewed):
    plain = skewed.groupBy("k").agg(
        F.sum("v").alias("v"), F.count(F.lit(1)).alias("n")
    )
    salted = salted_aggregate(
        skewed, ["k"], {"v": "sum", "n": "count"}, salt_cols=["id"], n_salts=8
    )
    a = {(r["k"], r["v"], r["n"]) for r in plain.collect()}
    b = {(r["k"], r["v"], r["n"]) for r in salted.collect()}
    assert a == b


def test_salted_aggregate_rejects_non_mergeable(spark, skewed):
    with pytest.raises(ValueError):
        salted_aggregate(skewed, ["k"], {"v": "avg"}, salt_cols=["id"])


def test_auto_salted_aggregate_edge_inputs(spark):
    """Equivalence with the plain aggregation on the awkward inputs: NULL
    keys mixed with a hot key (NULL fails the isin(hot) test -> salt 0
    branch; both engines group NULLs together), an all-hot single-key
    frame, and an empty frame."""
    from spark_text_clustering_spark.operators.skew import auto_salted_aggregate

    cases = [
        spark.range(2_000).select(
            F.when(F.col("id") % 10 < 8, F.lit("hot"))
            .when(F.col("id") % 10 == 8, F.lit(None).cast("string"))
            .otherwise(F.lit("cold"))
            .alias("k"),
            (F.col("id") % 5).cast("double").alias("v"),
            F.col("id"),
        ),
        spark.range(500).select(
            F.lit("only").alias("k"), F.lit(1.0).alias("v"), F.col("id")
        ),
        spark.range(0).select(
            F.lit("x").alias("k"), F.lit(1.0).alias("v"), F.col("id")
        ),
    ]
    for df in cases:
        plain = {
            tuple(r)
            for r in df.groupBy("k").agg(F.sum("v").alias("v")).collect()
        }
        auto = {
            tuple(r)
            for r in auto_salted_aggregate(
                df, "k", {"v": "sum"}, salt_cols=["id"],
                n_salts=8, support=0.3, sample_fraction=1.0,
            ).collect()
        }
        assert auto == plain


def test_choose_hot_keys_finds_only_hot(spark, skewed):
    """The sketch→exact-verify chooser must nominate exactly the 90% key
    and none of the ~0.1%-share cold keys (sketch false positives are
    killed by the verify pass)."""
    from spark_text_clustering_spark.operators.skew import choose_hot_keys

    hot = choose_hot_keys(skewed, "k", support=0.1, sample_fraction=0.5)
    assert hot == ["hot"]


def test_auto_salted_aggregate_salts_only_hot_keys(spark, skewed):
    """auto_salted_aggregate: output equals the plain aggregation, the
    plan salts conditionally (hot keys only — the when(isin(...)) salt
    expression and the (k, _salt) partial stage are present), and with no
    hot keys detected the plan has NO salt column at all (single
    shuffle)."""
    from spark_text_clustering_spark.operators.skew import auto_salted_aggregate

    plain = skewed.groupBy("k").agg(
        F.sum("v").alias("v"), F.count(F.lit(1)).alias("n")
    )
    auto = auto_salted_aggregate(
        skewed, "k", {"v": "sum", "n": "count"}, salt_cols=["id"],
        n_salts=8, support=0.1, sample_fraction=0.5,
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in auto.collect()}

    plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "_salt" in plan  # two-stage path engaged...
    assert "CASE WHEN" in plan and "hot" in plan  # ...but conditionally

    # support above the hot key's share -> no hot keys -> plain plan,
    # no salt column, single aggregation exchange
    none_hot = auto_salted_aggregate(
        skewed, "k", {"v": "sum", "n": "count"}, salt_cols=["id"],
        n_salts=8, support=0.95, sample_fraction=0.5,
    )
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in none_hot.collect()}
    assert "_salt" not in none_hot._jdf.queryExecution().optimizedPlan().toString()


def test_aqe_skew_join_splits_the_hot_partition(spark):
    """PROOF that the documented first-line defense engages: AQE's
    OptimizeSkewedJoin must split a skewed sort-merge-join partition at
    runtime (docs/SCALE.md and hot_split_join's docstring both point to
    it — this pins that the claim is real on this engine build, not
    folklore). Thresholds are lowered to local-mode sizes; the payload
    must be NON-FOLDABLE and HIGH-ENTROPY (round-11 finding: a constant
    pad column is pushed above the join by Catalyst and 160k identical
    keys COMPRESS below any threshold — MapOutputStatistics sizes are
    compressed bytes, so a skew probe with constant data silently never
    triggers)."""
    conf = spark.conf
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.shuffle.partitions",
    ]
    saved = {k: conf.get(k) for k in keys}
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.shuffle.partitions", "8")
        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 8, F.lit(0))
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        dim = spark.range(0, 50).select(
            F.col("id").alias("dk"), (F.col("id") * 7).alias("attr")
        )
        j = fact.join(dim, fact["k"] == dim["dk"]).select("k", "pad", "attr")
        assert len(j.collect()) == 200_000  # inner join: every key matches
        plan = j._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "isFinalPlan=true" in plan
        assert "skew=true" in final, "OptimizeSkewedJoin did not engage"
        assert "skewed" in final  # the AQEShuffleRead carries the marker
    finally:
        for k, v in saved.items():
            conf.set(k, v)
