"""Content checks for ``plans/staged_r28.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r28 import (
    PARETO_PCTS,
    STAGED_R28_QUERIES,
)


def test_staged_r28_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a Holt fold whose trend never moves (the struct leg
    dead), a dispersion table with no spread, a Pareto table that is
    non-monotone or exceeds 1, and a Gini outside [0, 1) or losing
    document mass."""
    from pyspark.sql import functions as F

    from extended_ops.sources.tables import load_table

    holt = STAGED_R28_QUERIES["win_holt"](spark, SF_DIR).collect()
    assert len(holt) >= 100
    assert all(r.level > 0 for r in holt)
    assert any(r.trend != 0.0 for r in holt), "trend leg is dead"
    assert any(r.trend < 0 for r in holt) and any(
        r.trend > 0 for r in holt
    ), "trend never changes sign over a day-night rate cycle"

    fano = STAGED_R28_QUERIES["win_burstiness"](spark, SF_DIR).collect()
    assert len(fano) >= 2
    assert all(r.fano >= 0 and r.n_days >= 1 for r in fano)
    assert len({r.fano for r in fano}) > 1, "dispersion table is flat"

    pareto = sorted(
        STAGED_R28_QUERIES["rel_pareto_share"](spark, SF_DIR).collect(),
        key=lambda r: r.pct,
    )
    assert [r.pct for r in pareto] == list(PARETO_PCTS)
    shares = [r.share for r in pareto]
    assert shares == sorted(shares), "share must grow with pct"
    assert 0 < shares[0] and shares[-1] <= 1
    assert all(r.n_top >= 1 for r in pareto)
    assert all(r.top_revenue <= r.total_revenue for r in pareto)
    # concentration is REAL: the top 1% holds more than 1% of revenue
    assert shares[0] > 0.01

    gini = STAGED_R28_QUERIES["corpus_length_gini"](
        spark, SF_DIR
    ).collect()
    assert all(0.0 <= r.gini < 1.0 for r in gini)
    assert all(r.total_chars >= r.n_docs for r in gini)
    n_docs = (
        load_table(spark, SF_DIR, "documents")
        .where(F.col("text").isNotNull() & F.col("n_chars").isNotNull())
        .count()
    )
    assert sum(r.n_docs for r in gini) == n_docs
