"""Content checks for ``plans/staged_r24.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from flink_audit_sessions_example_spark.plans.staged_r24 import (
    COVERAGE_KS,
    Q19_BRACKETS,
    TOP_PARTS_K,
    STAGED_R24_QUERIES,
)


def test_staged_r24_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a disjunct with a dead leg (or 'any' double-counting), a
    histogram with no bounces or no depth, a coverage curve that is
    flat or non-monotone, a csv that lost its rank order, and a norm
    histogram collapsed into one bucket."""
    q19 = {
        r.bracket: r.revenue
        for r in STAGED_R24_QUERIES["rel_disjunctive_revenue"](
            spark, SF_DIR
        ).collect()
    }
    assert set(q19) == {name for _, name in Q19_BRACKETS} | {"any"}
    assert all(v > 0 for v in q19.values()), "a bracket leg is dead"
    # 'any' counts overlap rows once: <= the per-bracket sum, >= max leg
    legs = [q19[name] for _, name in Q19_BRACKETS]
    assert max(legs) <= q19["any"] <= sum(legs) + 1e-6

    hist = {
        r.session_len: r.n_sessions
        for r in STAGED_R24_QUERIES["win_session_lengths"](
            spark, SF_DIR
        ).collect()
    }
    assert hist.get(1, 0) >= 1, "no bounces"
    assert any(k >= 2 for k in hist), "no multi-event sessions"

    cov = sorted(
        STAGED_R24_QUERIES["text_ngram_coverage"](
            spark, SF_DIR
        ).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in cov] == sorted(COVERAGE_KS)
    assert all(0 < r.coverage <= 1.0 for r in cov)
    # monotone: a bigger head never covers less
    assert all(
        a.coverage <= b.coverage for a, b in zip(cov, cov[1:])
    )
    assert cov[0].coverage < 1.0, "tiny head already covers everything"
    assert all(
        r.covered_occurrences <= r.total_occurrences for r in cov
    )

    top = STAGED_R24_QUERIES["rel_top_parts_concat"](
        spark, SF_DIR
    ).collect()
    assert len(top) >= 3
    for r in top:
        parts = r.top_parts.split(",")
        assert 1 <= len(parts) <= TOP_PARTS_K
        assert len(set(parts)) == len(parts), "duplicate part in csv"
        assert all(p.isdigit() for p in parts)
    assert any(
        len(r.top_parts.split(",")) == TOP_PARTS_K for r in top
    )

    norm = STAGED_R24_QUERIES["embed_norm_hist"](spark, SF_DIR).collect()
    assert sum(r.n for r in norm) == 500
    # corpus fact, pinned: the embeddings are UNIT-normalized, so all
    # mass sits within float noise of norm² = 1.0 — exactly what the
    # QA screen should report for a clean corpus (spread detection is
    # exercised on the constructed frame below)
    assert len(norm) >= 2
    assert all(95 <= r.norm2_bucket <= 105 for r in norm)


def test_embed_norm_hist_flags_unnormalized_batches(spark):
    """The screen's point: an UN-normalized batch spreads across
    buckets and a zero vector lands in bucket 0 — run the same
    operator body on a constructed frame."""
    from pyspark.sql import functions as F

    from flink_audit_sessions_example_spark.plans.staged_r24 import (
        NORM_BUCKET_SCALE,
    )

    rows = [
        (1, [1.0, 0.0]),       # norm2 = 1.0   -> bucket 100
        (2, [2.0, 0.0]),       # norm2 = 4.0   -> bucket 400
        (3, [0.0, 0.0]),       # norm2 = 0.0   -> bucket 0
        (4, [0.5, 0.5]),       # norm2 = 0.5   -> bucket 50
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    norm2 = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    got = {
        r.norm2_bucket: r.n
        for r in df.select(
            F.floor(norm2 * NORM_BUCKET_SCALE)
            .cast("bigint")
            .alias("norm2_bucket")
        )
        .groupBy("norm2_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {100: 1, 400: 1, 0: 1, 50: 1}
