"""Bottom-k quantile sketch (quantile_sketch_table / merge / estimate):
exact mergeability (daily -> rollup identical to direct), rank-error
bound vs the full data, cross-engine DuckDB value parity (this is the
one percentile sketch whose VALUES hash-check — content-addressed
draws, no engine-specific registers), and the plan gates."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.sketches import (
    quantile_sketch_estimate,
    quantile_sketch_merge,
    quantile_sketch_table,
)
from extended_ops.sources.tables import load_table

K = 256

_SQL_DRAW = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def _docs(spark):
    return load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )


def test_merge_identical_to_direct(spark):
    """bottomk(A ∪ B) == bottomk(bottomk(A) ∪ bottomk(B)) — and because
    draws are content-addressed the equality is row-for-row EXACT, not
    approximate: daily sketches merged under a coarser grouping equal
    the sketch built directly on the union."""
    docs = _docs(spark)
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    sk = lambda d: quantile_sketch_table(  # noqa: E731
        d, "n_chars", key_col="doc_id", group_cols=["lang"], k=K
    )
    merged = quantile_sketch_merge(
        sk(a).unionByName(sk(b)), group_cols=["lang"], k=K
    )
    direct = sk(docs)
    rows = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert rows(merged) == rows(direct)
    # coarser rollup: per-lang parts merged into ONE global sketch equal
    # the global sketch built directly (the daily -> monthly shape)
    global_direct = quantile_sketch_table(
        docs, "n_chars", key_col="doc_id", k=K
    )
    global_merged = quantile_sketch_merge(sk(docs), k=K)
    assert rows(global_merged) == rows(global_direct)


def test_estimate_rank_bound_vs_full_data(spark):
    """Sample quantiles honor the sampling rank bound: the number of
    corpus values strictly below (at or below) the estimate brackets
    p·n within 4σ of the binomial rank spread n·sqrt(p(1-p)/k), +1
    boundary slack. Deterministic: the sample is content-addressed."""
    docs = _docs(spark)
    n = docs.where("n_chars is not null").count()
    sketch = quantile_sketch_table(docs, "n_chars", key_col="doc_id", k=K)
    est = quantile_sketch_estimate(sketch).collect()[0]
    for p, v in ((0.25, est.p_25), (0.5, est.p_50), (0.75, est.p_75)):
        slack = 4 * n * math.sqrt(p * (1 - p) / K) + 1
        lt = docs.where(F.col("n_chars") < v).count()
        le = docs.where(F.col("n_chars") <= v).count()
        assert lt <= p * n + slack, (p, v, lt, n)
        assert le >= p * n - slack, (p, v, le, n)


def test_estimate_matches_duckdb(spark):
    """Full value parity on the grouped estimate (pre-proves an
    agg_quantile_sketch oracle registration: unlike HLL/GK registers,
    this sketch's values are engine-independent)."""
    docs = _docs(spark)
    sketch = quantile_sketch_table(
        docs, "n_chars", key_col="doc_id", group_cols=["lang"], k=K
    )
    got = quantile_sketch_estimate(sketch, group_cols=["lang"])
    sql = f"""
    WITH sk AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY {_SQL_DRAW}, doc_id
             ) AS rn
      FROM documents
      WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
    ), s AS (
      SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM sk WHERE rn <= {K}
    ), a AS (
      SELECT lang, array_agg(v ORDER BY v) AS vs,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM s GROUP BY lang
    )
    SELECT lang,
           vs[GREATEST(1, CAST(CEIL(0.25 * m) AS INT))] AS p_25,
           vs[GREATEST(1, CAST(CEIL(0.50 * m) AS INT))] AS p_50,
           vs[GREATEST(1, CAST(CEIL(0.75 * m) AS INT))] AS p_75
    FROM a
    """
    assert_parity(got, sql, SF_DIR)


def test_null_keys_and_values_excluded(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (None, 30.0), (4, 40.0)],
        "k bigint, v double",
    )
    rows = quantile_sketch_table(df, "v", key_col="k", k=10).collect()
    assert {r.qs_key for r in rows} == {1, 4}
    with pytest.raises(ValueError):
        quantile_sketch_table(df, "v", key_col="k", k=0)
    with pytest.raises(ValueError):
        quantile_sketch_estimate(
            quantile_sketch_table(df, "v", key_col="k"),
            probabilities=(0.0,),
        )


def test_plan_gates(spark):
    """Global path = TakeOrderedAndProject (per-task heaps, no global
    sort exchange); grouped path = WindowGroupLimit partial pushdown
    (the sample_k_per_group scale shape)."""
    docs = load_table(spark, SF_DIR, "documents", spread=False).select(
        "doc_id", "lang", "n_chars"
    )
    g = (
        quantile_sketch_table(docs, "n_chars", key_col="doc_id", k=K)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in g
    assert "Sort " not in g or "global=true" not in g
    grp = (
        quantile_sketch_table(
            docs, "n_chars", key_col="doc_id", group_cols=["lang"], k=K
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in grp


def test_nan_values_excluded_like_the_stream(spark):
    """Review r9: NaN passed isNotNull and would sort last, poisoning
    high percentiles — it is now excluded like NULL."""
    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 3.0)], "k bigint, v double"
    )
    rows = quantile_sketch_table(df, "v", key_col="k", k=10).collect()
    assert {r.qs_key for r in rows} == {1, 3}
