"""Operator-level tests for the r19 staged families: the z-score
integer identity vs a float reference, the Q17 exact-cents threshold at
its boundary, and the quantile-merge invariant under a grouping the
registration doesn't use (merge == direct, row for row)."""

from __future__ import annotations

import datetime as dt
import math

import pytest

from extended_ops.operators import sketches as K


def test_zscore_matches_float_reference(spark):
    counts = [5, 8, 2, 9, 30, 1, 7, 3]  # 30 is the spike
    base = dt.datetime(2024, 6, 1)
    rows = [
        (i * 1000 + j, base + dt.timedelta(hours=i), "t")
        for i, c in enumerate(counts)
        for j in range(c)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string"
    )
    # the registered q_win_zscore reads parquet; exercise the identical
    # integer-identity arithmetic on the constructed relation instead
    n = len(counts)
    mean = sum(counts) / n
    var = sum((x - mean) ** 2 for x in counts) / n
    expected = {
        base + dt.timedelta(hours=i): (x - mean) / math.sqrt(var)
        for i, x in enumerate(counts)
    }
    # same arithmetic as q_win_zscore, applied to the constructed df
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    hourly = (
        df.groupBy(
            F.col("event_type").alias("_k"),
            F.date_trunc("hour", F.col("ts")).alias("_b"),
        ).agg(F.count(F.lit(1)).alias("_x"))
    )
    per_key = Window.partitionBy("_k")
    nn = F.count(F.lit(1)).over(per_key)
    s = F.sum("_x").over(per_key)
    s2 = F.sum(F.col("_x") * F.col("_x")).over(per_key)
    rad = (nn * s2 - s * s).cast("double")
    z = F.when(rad > 0, (nn * F.col("_x") - s) / F.sqrt(rad))
    got = {r._b: r.z for r in hourly.select("_b", z.alias("z")).collect()}
    assert set(got) == set(expected)
    for b in expected:
        assert got[b] == pytest.approx(expected[b], abs=1e-9), b
    spike = base + dt.timedelta(hours=4)
    assert got[spike] > 2.0


def test_quantile_merge_invariant_under_coarser_grouping(spark):
    """Merging per-lang sketches into a global one equals building the
    global sketch directly — row for row (the content-addressed-draw
    guarantee, checked under a grouping the registration doesn't
    use)."""
    from conftest import SF_DIR
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    per_lang = K.quantile_sketch_table(
        docs, "n_chars", key_col="doc_id", group_cols=["lang"], k=64
    )
    merged = {
        (r.qs_key, r.qs_value)
        for r in K.quantile_sketch_merge(per_lang, k=64).collect()
    }
    direct = {
        (r.qs_key, r.qs_value)
        for r in K.quantile_sketch_table(
            docs, "n_chars", key_col="doc_id", k=64
        ).collect()
    }
    assert merged == direct and len(direct) == 64


def test_small_quantity_threshold_boundary(spark):
    """qty < 0.2·avg is STRICT: a part whose every line has the same
    quantity (qty == avg) contributes nothing; a 2-line part at
    (1, 9) has avg 5, so only the 1 qualifies."""
    from pyspark.sql import functions as F

    from extended_ops.plans.staged_r19 import (
        SMALLQTY_FRAC_DEN,
    )

    li = spark.createDataFrame(
        [
            (1, 4.0, 100.0), (1, 4.0, 100.0),   # constant part: nothing
            (2, 1.0, 55.0), (2, 9.0, 77.0),     # avg 5 -> 1 < 1? 1<1 NO
            (3, 1.0, 70.0), (3, 99.0, 10.0),    # avg 50 -> 1 < 10 YES
        ],
        "l_partkey long, l_quantity double, l_extendedprice double",
    )
    cq = F.round(F.col("l_quantity") * 100).cast("bigint")
    lines = li.select(
        "l_partkey", cq.alias("_cq"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("_cp"),
    )
    per_part = lines.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_cq").alias("_sq")
    )
    small = lines.join(per_part, "l_partkey").where(
        F.col("_cq") * SMALLQTY_FRAC_DEN * F.col("_n") < F.col("_sq")
    )
    got = {(r.l_partkey, r._cq) for r in small.collect()}
    # part 2: 1*5*2=10 < 10 is false (avg/5 = 1 exactly; strict <)
    assert got == {(3, 100)}
