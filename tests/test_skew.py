"""Salted-join correctness: identical results to the plain join on a
pathologically skewed key distribution."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from extended_ops.operators.skew import salted_join


def test_salted_join_matches_plain_join_on_skewed_keys(spark):
    # one hot key with 5k rows, a long tail, plus an unmatched key
    big = spark.createDataFrame(
        [Row(k="hot", v=i) for i in range(5000)]
        + [Row(k=f"cold{i}", v=i) for i in range(50)]
        + [Row(k="orphan", v=-1)]
    )
    small = spark.createDataFrame(
        [Row(k="hot", label="H")] + [Row(k=f"cold{i}", label=f"C{i}") for i in range(50)]
    )
    for how in ("inner", "left"):
        got = (
            salted_join(big, small, key_col="k", salt_buckets=8, how=how)
            .groupBy("k", "label")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
        want = (
            big.join(small, "k", how)
            .groupBy("k", "label")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )


def test_salted_join_rejects_right_join(spark):
    import pytest

    df = spark.range(1).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, key_col="k", how="right")
