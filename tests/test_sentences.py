"""split_sentences / chunk_by_sentences (RAG chunking primitives):
DuckDB cross-engine parity on the real corpus, hand-computed boundary
semantics, and the scan-side / bounded-shuffle plan gates."""

from __future__ import annotations

import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.text import (
    chunk_by_sentences,
    split_sentences,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _TEXT_CHUNK_SENTENCES_ORACLE as CHUNK_ORACLE,
    _TEXT_SPLIT_SENTENCES_ORACLE as SPLIT_ORACLE,
)





def _punctuated(spark):
    import pyspark.sql.functions as F

    return load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.regexp_replace(
            "text", r"(\w+ \w+ \w+ \w+ \w+ \w+) ", "$1. "
        ).alias("text"),
    )


def test_split_sentences_matches_duckdb(spark):
    docs = _punctuated(spark)
    got = split_sentences(docs)
    assert_parity(got, SPLIT_ORACLE, SF_DIR)
    # non-vacuity: multi-sentence docs exist
    assert got.groupBy("doc_id").count().where("count > 1").count() > 0


def test_chunk_by_sentences_matches_duckdb(spark):
    docs = _punctuated(spark)
    got = chunk_by_sentences(docs, budget_chars=400)
    assert_parity(got, CHUNK_ORACLE, SF_DIR)
    assert got.where("chunk_id > 0").count() > 0  # real multi-chunk docs


def test_sentence_semantics_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "Hi there. How are you? Fine! trailing bit"),
            (2, "No terminal punct"),
            (3, ""),
            (4, None),
            (5, "Dots... and!? mixed?!"),
        ],
        "doc_id bigint, text string",
    )
    rows = {
        (r.doc_id, r.sent_idx): r.sentence
        for r in split_sentences(df).collect()
    }
    assert rows[(1, 0)] == "Hi there."
    assert rows[(1, 1)] == "How are you?"
    assert rows[(1, 2)] == "Fine!"
    assert rows[(1, 3)] == "trailing bit"
    assert rows[(2, 0)] == "No terminal punct"
    assert not any(d in (3, 4) for (d, _) in rows)
    # runs of terminators stay attached to their sentence
    assert rows[(5, 0)] == "Dots..."
    assert rows[(5, 1)] == "and!?"
    assert rows[(5, 2)] == "mixed?!"


def test_chunk_boundaries_never_split_sentences(spark):
    # budget 20: "aaaa aaaa." (10) + "bbbb bbbb." (10) fill chunk 0
    # (before=0,10); "cccc cccc." starts at before=20 -> chunk 1
    df = spark.createDataFrame(
        [(1, "aaaa aaaa. bbbb bbbb. cccc cccc. dddd dddd.")],
        "doc_id bigint, text string",
    )
    rows = {
        r.chunk_id: (r.chunk_text, r.n_sentences)
        for r in chunk_by_sentences(df, budget_chars=20).collect()
    }
    assert rows[0] == ("aaaa aaaa. bbbb bbbb.", 2)
    assert rows[1] == ("cccc cccc. dddd dddd.", 2)
    # an oversized single sentence becomes its own oversized chunk
    big = spark.createDataFrame(
        [(1, "x" * 100 + ". tail.")], "doc_id bigint, text string"
    )
    rows = {
        r.chunk_id: r.n_sentences
        for r in chunk_by_sentences(big, budget_chars=20).collect()
    }
    assert rows == {0: 1, 5: 1}
    with pytest.raises(ValueError):
        chunk_by_sentences(big, budget_chars=0)


def test_sentence_plan_gates(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")

    split_plan = (
        split_sentences(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # segmentation rides the scan: no hash/range shuffle, no Python
    # (load_table's round-robin repartition is the loader's, not ours)
    assert "Exchange hashpartitioning" not in split_plan
    assert "Exchange rangepartitioning" not in split_plan
    assert "BatchEvalPython" not in split_plan and "MapInPandas" not in split_plan
    chunk_plan = (
        chunk_by_sentences(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # one partitioning reused by window + re-aggregation: a single
    # hash exchange on doc_id
    assert chunk_plan.count("Exchange hashpartitioning") == 1
