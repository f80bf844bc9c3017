"""Span-level (substring) dedup — ``duplicated_spans`` and its
positioned-shingle feeder.

The operator is the w-gram equivalent of Lee et al. 2022's
suffix-array exact-substring dedup (see the operator docstring); these
tests pin (a) hand-checkable span semantics — boundary merge rules are
where interval math silently goes wrong, (b) cross-engine parity on the
real corpus (pre-validates a future oracle registration; non-vacuous:
45 maximal spans over 45 docs at sf0.001, span lengths 10-95 tokens),
and (c) the plan shape: pinned single tokenizer pass, no cartesian, the
island merge reusing the window's partitioning.
"""

import pytest
from conftest import SF_DIR

from extended_ops.operators.dedup import (
    duplicated_spans,
)
from extended_ops.operators.text import (
    positioned_shingle_rows,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_positioned_shingles_keep_every_occurrence(spark):
    """(id, pos, sh) per OCCURRENCE: a shingle repeated inside one doc
    appears once per position (shingle_rows would collapse it), and a
    doc shorter than k yields nothing."""
    docs = _docs(spark, [(1, "a b a b a"), (2, "x y")])
    got = {
        (r.id, r.pos): r.sh
        for r in positioned_shingle_rows(docs, k=3).collect()
    }
    assert got == {
        (1, 0): "a b a",
        (1, 1): "b a b",
        (1, 2): "a b a",
    }


def test_duplicated_spans_planted_semantics(spark):
    """A shared 4-token region between two docs yields one merged span
    per doc at the right token offsets; a far-apart repeat of one
    shingle inside a third doc stays two islands (scope='any')."""
    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),
            (2, "x y a b c d q"),
            # "a b c" at pos 0 and "b c d" (cross-dup) nowhere; its
            # only cross-dup shingles sit at 0 and 7 — gap > k
            (3, "a b c z1 z2 z3 z4 b c d"),
            (4, "p q"),  # < k words: no shingles, no spans
        ],
    )
    out = {
        (r.doc_id, r.span_start): r
        for r in duplicated_spans(docs, k=3).collect()
    }
    # doc 1: dup shingles "a b c"@0, "b c d"@1 -> one span tokens 0..3
    r = out[(1, 0)]
    assert (r.span_end, r.span_len, r.n_dup_shingles) == (3, 4, 2)
    # doc 2: same shingles at 2,3 -> span tokens 2..5
    r = out[(2, 2)]
    assert (r.span_end, r.span_len, r.n_dup_shingles) == (5, 4, 2)
    # doc 3: "a b c"@0 and "b c d"@7 -> 7 > 0+k, two islands
    assert (out[(3, 0)].span_end, out[(3, 0)].n_dup_shingles) == (2, 1)
    assert (out[(3, 7)].span_end, out[(3, 7)].n_dup_shingles) == (9, 1)
    assert len(out) == 4  # doc 4 absent


def test_duplicated_spans_merges_adjacent_coverage(spark):
    """Exact boundary arithmetic: hits at pos p and q merge iff
    q <= p + k (contiguous token coverage). q = p + k (abutting spans)
    merges; q = p + k + 1 (one uncovered token) does not."""
    docs = _docs(
        spark,
        [
            (1, "a b c d e f"),  # dup hits at 0 ("a b c") and 3 ("d e f")
            (2, "a b c q1 d e f"),  # same dup shingles at 0 and 4
            (3, "a b c z9"),  # donor for "a b c"
            (4, "z8 d e f"),  # donor for "d e f"
        ],
    )
    out = {
        (r.doc_id, r.span_start): (r.span_end, r.n_dup_shingles)
        for r in duplicated_spans(docs, k=3).collect()
    }
    assert out[(1, 0)] == (5, 2)  # 3 == 0+k: merged, covers 0..5
    assert out[(2, 0)] == (2, 1)  # 4 > 0+k: split
    assert out[(2, 4)] == (6, 1)


def test_duplicated_spans_scope(spark):
    """scope='cross' (default) ignores within-doc repeats; scope='any'
    reports them; bad scope raises."""
    docs = _docs(spark, [(1, "a b c z1 z2 a b c"), (2, "q r s")])
    assert duplicated_spans(docs, k=3).count() == 0
    got = {
        (r.doc_id, r.span_start): (r.span_end, r.span_len)
        for r in duplicated_spans(docs, k=3, scope="any").collect()
    }
    assert got == {(1, 0): (2, 3), (1, 5): (7, 3)}
    with pytest.raises(ValueError, match="scope"):
        duplicated_spans(docs, scope="both")
    # k=0 would make every position an empty-string shingle shared by
    # every document (the whole corpus one "duplicated span")
    with pytest.raises(ValueError, match="k must"):
        duplicated_spans(docs, k=0)


def _span_oracle_sql(k: int) -> str:
    """DuckDB twin of duplicated_spans(k) over `documents` — shared by
    the detect parity test and the detect→strip composition test."""
    from extended_ops.plans.extended import (
        _SQL_WORDS,
    )

    return f"""
    WITH ps AS (
      SELECT doc_id,
             unnest(generate_series(0, len({_SQL_WORDS})-{k})) AS pos,
             unnest(list_transform(
               generate_series(0, len({_SQL_WORDS})-{k}),
               i -> array_to_string(({_SQL_WORDS})[i+1:i+{k}], ' '))) AS sh
      FROM documents WHERE len({_SQL_WORDS}) >= {k}
    ), dup AS (
      SELECT sh FROM ps GROUP BY sh HAVING MIN(doc_id) <> MAX(doc_id)
    ), hit AS (
      SELECT p.doc_id, p.pos FROM ps p JOIN dup USING (sh)
    ), lg AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM hit
    ), isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos > prev + {k}
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lg
    )
    SELECT doc_id,
           MIN(pos) AS span_start,
           MAX(pos) + {k} - 1 AS span_end,
           MAX(pos) + {k} - MIN(pos) AS span_len,
           COUNT(*) AS n_dup_shingles
    FROM isl GROUP BY doc_id, island
    """


def test_duplicated_spans_matches_duckdb(spark):
    """Cross-engine parity on the real corpus at k=8 (pre-validates the
    oracle registration; the corpus's planted near-dup boilerplate makes
    it non-vacuous: 45 maximal spans, lengths 10-95 tokens)."""
    from oracle_utils import assert_parity

    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    assert_parity(duplicated_spans(docs, k=8), _span_oracle_sql(8), SF_DIR)


def test_duplicated_spans_plan_shape(spark):
    """Structural scale gates on the finalized adaptive plan:

    - pinned: the tokenizer subtree is checkpointed, so the post-pin
      plan has NO parquet scan and NO Python stage (both consumers read
      the pinned rows) — without the pin the Arrow pass runs twice;
    - no cartesian product anywhere;
    - the island merge's final aggregate reuses the window's hash
      partitioning on id: at most 3 shuffle exchanges total (shingle
      agg, join probe — AQE may turn it into a broadcast — and the
      per-doc window).
    """
    from extended_ops.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = duplicated_spans(docs, k=8)
    out.collect()  # finalize the adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert final.count("MapInPandas") == 0, final
    assert final.count("Scan parquet") == 0, final
    assert final.count("Scan ExistingRDD") >= 1, final
    n_shuffles = final.count("Exchange hashpartitioning")
    assert n_shuffles <= 3, final


def test_strip_spans_planted(spark):
    """Exact string surgery: given spans are removed token-wise, docs
    without spans pass through (whitespace-normalized), casing is
    preserved, a whole-doc span empties the text."""
    from extended_ops.operators.dedup import (
        strip_spans,
    )

    docs = _docs(
        spark,
        [
            (1, "Alpha b c d E f"),
            (2, "  keep   Me \t intact  "),
            (3, "x y z"),
        ],
    )
    spans = spark.createDataFrame(
        [(1, 1, 3), (1, 5, 5), (3, 0, 2)],
        "doc_id bigint, span_start bigint, span_end bigint",
    )
    out = {
        r.doc_id: (r.text, r.n_tokens_removed)
        for r in strip_spans(docs, spans).collect()
    }
    assert out[1] == ("Alpha E", 4)
    assert out[2] == ("keep Me intact", 0)  # passthrough, ws-normalized
    assert out[3] == ("", 3)


def test_detect_strip_composition_removes_planted_region(spark):
    """duplicated_spans -> strip_spans: the shared region disappears
    from BOTH documents and the survivors keep their unique content."""
    from extended_ops.operators.dedup import (
        strip_spans,
    )

    docs = _docs(
        spark,
        [(1, "u1 u2 a b c d v1"), (2, "w1 a b c d w2 w3")],
    )
    spans = duplicated_spans(docs, k=3)
    out = {
        r.doc_id: r.text for r in strip_spans(docs, spans).collect()
    }
    assert out == {1: "u1 u2 v1", 2: "w1 w2 w3"}


def test_detect_strip_matches_duckdb(spark):
    """Full detect->strip pipeline cross-engine on the real corpus: the
    DuckDB twin computes the same spans and applies the same index-aware
    token filter (nested list lambdas)."""
    from oracle_utils import assert_parity

    from extended_ops.operators.dedup import (
        strip_spans,
    )
    from extended_ops.sources.tables import load_table

    k = 8
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    got = strip_spans(docs, duplicated_spans(docs, k=k))
    sql = f"""
    WITH spans AS ({_span_oracle_sql(k)}),
    sp AS (
      SELECT doc_id,
             list({{'s': span_start, 'e': span_end}}) AS spans
      FROM spans GROUP BY doc_id
    ), tok AS (
      SELECT d.doc_id,
             (CASE WHEN length(trim(regexp_replace(d.text,
                     '^[\\s]+|[\\s]+$', '', 'g'))) = 0
               THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(regexp_replace(d.text,
                     '^[\\s]+|[\\s]+$', '', 'g'), '\\s+') END) AS w,
             COALESCE(s.spans, []) AS spans
      FROM documents d LEFT JOIN sp s USING (doc_id)
    )
    SELECT doc_id,
           -- array_to_string([]) is NULL in DuckDB; Spark concat_ws -> ''
           COALESCE(array_to_string(
             list_filter(
               list_transform(generate_series(0, len(w)-1),
                 i -> CASE WHEN len(list_filter(spans,
                        x -> i >= x.s AND i <= x.e)) = 0
                      THEN w[i+1] END),
               v -> v IS NOT NULL), ' '), '') AS text,
           CAST(len(list_filter(generate_series(0, len(w)-1),
                 i -> len(list_filter(spans,
                        x -> i >= x.s AND i <= x.e)) > 0))
             AS BIGINT) AS n_tokens_removed
    FROM tok
    """
    assert_parity(got, sql, SF_DIR)
