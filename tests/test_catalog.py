"""Scoped session-conf overrides: ``catalog.shuffle_grain`` and the
``iter_grain`` cap built on it."""

import pytest

from spark_text_clustering_spark.catalog import iter_grain, shuffle_grain

_KEY = "spark.sql.shuffle.partitions"


def test_shuffle_grain_restores_conf(spark):
    base = spark.conf.get(_KEY)
    with shuffle_grain(spark, 4):
        assert spark.conf.get(_KEY) == "4"
        with shuffle_grain(spark, 8):  # nested, as the streaming demos do
            assert spark.conf.get(_KEY) == "8"
        assert spark.conf.get(_KEY) == "4"
    assert spark.conf.get(_KEY) == base

    with pytest.raises(RuntimeError, match="boom"):
        with shuffle_grain(spark, 3):
            raise RuntimeError("boom")
    assert spark.conf.get(_KEY) == base

    # iter_grain: ceil(rows / 50k) floored at 4, never above the session value
    with iter_grain(spark, 1):
        assert spark.conf.get(_KEY) == str(min(4, int(base)))
    with iter_grain(spark, 10**12):
        assert spark.conf.get(_KEY) == base
    assert spark.conf.get(_KEY) == base
