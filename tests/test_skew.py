"""Salted aggregation: results must be IDENTICAL to the unsalted dual
(the salt may only change physical distribution)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ml_data_wrangler_spark.operators.skew import salted_aggregate


def _skewed(spark):
    # 10k rows on one hot key + a long tail
    hot = spark.range(10_000).select(
        F.lit(1).alias("k"), (F.col("id") % 100).cast("double").alias("v")
    )
    tail = spark.range(1_000).select(
        (F.col("id") + 2).alias("k"), F.col("id").cast("double").alias("v")
    )
    return hot.unionByName(tail)


def test_salted_aggregate_equals_plain(spark):
    df = _skewed(spark)
    plain = df.groupBy("k").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("total"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    salted = salted_aggregate(
        df,
        ["k"],
        {
            "n": (F.count("*"), "sum"),
            "total": (F.sum("v"), "sum"),
            "lo": (F.min("v"), "min"),
            "hi": (F.max("v"), "max"),
        },
        n_salts=8,
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_aggregate_rejects_non_decomposable(spark):
    import pytest

    df = _skewed(spark)
    # bare Column (the old implicit API) must raise, not silently sum
    with pytest.raises(TypeError):
        salted_aggregate(df, ["k"], {"m": F.avg("v")})
    # unknown merge name must raise
    with pytest.raises(ValueError):
        salted_aggregate(df, ["k"], {"m": (F.avg("v"), "avg")})
