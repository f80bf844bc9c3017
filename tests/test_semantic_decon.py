"""semantic_decontaminate (embedding-space benchmark overlap): DuckDB
cross-engine parity via list_cosine_similarity on the real embeddings,
planted paraphrase/near-copy detection, zero-vector edges, and the
no-shuffle plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.similarity import (
    semantic_decontaminate,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _DECONTAMINATE_SEMANTIC_ORACLE as DECON_ORACLE,
)

TAU = 0.98

# evals = every 17th vector; train = the WHOLE corpus (the realistic
# leak: the benchmark is a subset of the crawl), so every eval's
# identical twin fires at cosine 1.0 and the check is non-vacuous.
# max_sim rounded to 5dp; the oracle casts to DOUBLE[] because DuckDB's
# list_cosine_similarity on FLOAT[] computes in float32 (measured ~2.5e-8
# off the float64 value) while Spark runs float64 BLAS — without the
# cast the threshold comparisons are a latent cross-engine flake.


def _sides(spark, spread=None):
    emb = load_table(spark, SF_DIR, "embeddings", spread=spread).select(
        "vec_id", "embedding"
    )
    return emb, emb.where("vec_id % 17 = 0")


def test_semantic_decon_matches_duckdb(spark):
    train, evals = _sides(spark)
    got = semantic_decontaminate(train, evals, threshold=TAU).select(
        "vec_id", F.round("max_sim", 5).alias("max_sim"), "n_eval_hits"
    )
    assert_parity(got, DECON_ORACLE, SF_DIR)
    # non-vacuity: the embedding fixture plants near-duplicates, so the
    # semantic gate actually fires
    assert got.count() > 0


def test_planted_paraphrase_and_edges(spark):
    evals = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0]), (102, [0.0] * 3)],
        "vec_id bigint, embedding array<float>",
    )
    train = spark.createDataFrame(
        [
            (1, [0.999, 0.04, 0.0]),   # near-copy of eval 100
            (2, [0.5, 0.0, 0.866]),    # 60 deg away -> clean at 0.9
            (3, [2.0, 0.0, 0.0]),      # same DIRECTION as 100, scaled
            (4, [0.0, 0.0, 0.0]),      # zero vector -> never matches
            (5, [0.7071, 0.7071, 0.0]),# 45 deg to BOTH -> clean at 0.9
        ],
        "vec_id bigint, embedding array<float>",
    )
    got = {
        r.vec_id: (round(r.max_sim, 4), r.n_eval_hits)
        for r in semantic_decontaminate(
            train, evals, threshold=0.9
        ).collect()
    }
    assert set(got) == {1, 3}
    assert got[3] == (1.0, 1)      # cosine is scale-invariant
    assert got[1][0] > 0.998 and got[1][1] == 1
    # empty eval side -> nothing flagged; bad threshold validated
    empty = evals.where("vec_id < 0")
    assert semantic_decontaminate(train, empty, threshold=0.9).count() == 0
    with pytest.raises(ValueError):
        semantic_decontaminate(train, evals, threshold=0.0)


def test_string_ids_keep_their_type(spark):
    """ADVICE r8 regression: the output id schema is derived from the
    TRAIN id column (near_dup_clusters pattern), so string ids survive —
    the old hardcoded '{id} long' failed at runtime with an Arrow type
    mismatch. Also covers the empty-eval early return's schema."""
    evals = spark.createDataFrame(
        [("e1", [1.0, 0.0])], "doc string, embedding array<float>"
    )
    train = spark.createDataFrame(
        [("a", [1.0, 0.01]), ("b", [0.0, 1.0])],
        "doc string, embedding array<float>",
    )
    out = semantic_decontaminate(
        train, evals, id_col="doc", threshold=0.9
    )
    assert out.schema["doc"].dataType.simpleString() == "string"
    assert [r.doc for r in out.collect()] == ["a"]
    empty = semantic_decontaminate(
        train, evals.where("doc = 'nope'"), id_col="doc", threshold=0.9
    )
    assert empty.schema["doc"].dataType.simpleString() == "string"
    assert empty.count() == 0


def test_semantic_decon_plan_no_shuffle(spark):
    """Scale gate: ONE Arrow pass riding the train scan — NO exchange
    of any kind (spread=False per load_table's plan-shape contract, so
    the loader's round-robin can't mask an operator regression), no
    join; the eval matrix arrives via broadcast variable."""
    train, evals = _sides(spark, spread=False)
    plan = (
        semantic_decontaminate(train, evals, threshold=TAU)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("MapInPandas") == 1
