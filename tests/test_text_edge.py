"""Empty / whitespace-only document edge cases for the text operators.

The driver fixtures contain no empty documents, so Spark-vs-DuckDB parity
for the division guards (punct_ratio, avg_word_len, quality) and the
phantom-token fix in ``_words`` (bare split of '' yields ['']) is pinned
here against the REAL oracle SQL strings run on a synthetic corpus.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from extended_ops.operators import text as X
from extended_ops.plans.extended import (
    _langid_oracle,
    _TEXT_QUALITY_ORACLE,
    _TEXT_STATS_ORACLE,
)

from oracle_utils import normalized_rows

EDGE_DOCS = pd.DataFrame(
    {
        "doc_id": [1, 2, 3, 4, 5],
        "text": ["", "   ", "hello the world", "\t\n ", "a."],
    }
)


def _oracle_rows(sql: str):
    con = duckdb.connect()
    con.register("documents", EDGE_DOCS)
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return normalized_rows(cols, cur.fetchall())


def _spark_rows(df):
    cols = df.columns
    return normalized_rows(cols, [tuple(r) for r in df.collect()])


def test_words_empty_text_yields_empty_array(spark):
    docs = spark.createDataFrame(EDGE_DOCS)
    stats = {
        r.doc_id: r
        for r in X.with_text_stats(docs).select(
            "doc_id", "n_words", "avg_word_len", "punct_ratio"
        ).collect()
    }
    for i in (1, 2, 4):  # empty / whitespace-only: zero words, NULL ratios
        assert stats[i].n_words == 0
        assert stats[i].avg_word_len is None
    assert stats[1].punct_ratio is None  # 0-char doc: undefined, not NaN
    assert stats[2].punct_ratio == 0.0  # whitespace chars, no punctuation
    assert stats[3].n_words == 3


def test_quality_defined_for_empty_docs(spark):
    docs = spark.createDataFrame(EDGE_DOCS)
    q = {r.doc_id: r.quality for r in X.with_quality_score(docs).collect()}
    # 0.4·0 (no words) + 0.3·(1 − 0 punct) + 0.3·0 (no stopwords) = 0.3
    assert q[1] == 0.3 and q[2] == 0.3


def test_text_stats_oracle_parity_on_edge_corpus(spark):
    docs = spark.createDataFrame(EDGE_DOCS)
    got = _spark_rows(
        X.with_text_stats(docs).select(
            "doc_id", "n_chars", "n_words", "n_tokens", "avg_word_len",
            "punct_ratio", "n_stopwords_distinct",
        )
    )
    assert got == _oracle_rows(_TEXT_STATS_ORACLE)


def test_text_quality_oracle_parity_on_edge_corpus(spark):
    docs = spark.createDataFrame(EDGE_DOCS)
    got = _spark_rows(X.with_quality_score(docs).select("doc_id", "quality"))
    assert got == _oracle_rows(_TEXT_QUALITY_ORACLE)


def test_tokenizer_parity_on_unicode_whitespace(spark):
    """``shingle_rows`` (Python tokenizer) must split on EXACTLY the
    characters Java-regex ``\\s`` matches, like :func:`X._words`
    (Catalyst). U+00A0 (no-break space) and U+2009 (thin space) are NOT
    Java ``\\s`` — a bare Python ``str.split()`` would split on them and
    the shingle consumers would disagree with the text family on any
    real (non-ASCII) corpus."""
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "foo bar baz qux",      # NBSP inside token 1
                    "thin space one two",   # thin space inside token 1
                    "plain ascii words here",
                ],
            }
        )
    )
    # Catalyst _words view of the same docs
    jvm_words = {
        r.doc_id: list(r.w)
        for r in docs.select(
            "doc_id", X._words(X.F.col("text")).alias("w")
        ).collect()
    }
    assert jvm_words[1] == ["foo bar", "baz", "qux"]
    assert jvm_words[2] == ["thin space", "one", "two"]

    # shingle_rows must produce exactly the shingles of those token lists
    got = {
        (r.id, r.sh)
        for r in X.shingle_rows(docs, id_col="doc_id", text_col="text", k=2).collect()
    }
    want = {
        (i, " ".join(w[j : j + 2]))
        for i, w in jvm_words.items()
        for j in range(len(w) - 1)
    }
    assert got == want


def test_text_langid_oracle_parity_on_edge_corpus(spark):
    docs = spark.createDataFrame(EDGE_DOCS)
    langs = sorted(X.LANG_STOPWORDS)
    got = _spark_rows(
        X.with_language_id(docs).select(
            "doc_id", "pred_lang", *[f"score_{lang}" for lang in langs]
        )
    )
    assert got == _oracle_rows(_langid_oracle())
