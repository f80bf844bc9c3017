"""Content checks for ``plans/staged_r27.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r27 import (
    CC_MAX_R,
    CC_ORDER,
    DEDUP_SUFFIX_LEN,
    RESIDUAL_BUCKETS_PER_UNIT,
    STAGED_R27_QUERIES,
)


def test_staged_r27_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a count-of-counts with no singleton mass (N_1 drives
    every discount), a seasonal audit that scores zero days or finds
    zero error everywhere, a residual histogram massed in one cell or
    outside [−½, ½], suffix groups of one, and a gap median that is
    negative or ignores even-count interpolation."""
    from pyspark.sql import functions as F

    from extended_ops.sources.tables import load_table

    cc = STAGED_R27_QUERIES["lm_count_of_counts"](spark, SF_DIR).collect()
    orders_seen = {r.gram_order for r in cc}
    # the synthetic 31-word vocabulary has NO rare unigrams at small
    # SFs (every word is frequent), so gram_order 1 legitimately has
    # no r ≤ CC_MAX_R row; the bigram/trigram tails must exist
    assert {2, 3} <= orders_seen <= set(range(1, CC_ORDER + 1))
    assert all(1 <= r.r <= CC_MAX_R and r.n_grams >= 1 for r in cc)
    n1 = {r.gram_order: r.n_grams for r in cc if r.r == 1}
    assert n1.get(CC_ORDER, 0) >= 1, "no trigram singletons — N_1 dead"

    se = STAGED_R27_QUERIES["win_seasonal_error"](spark, SF_DIR).collect()
    assert len(se) >= 1
    assert all(r.n_days_scored >= 1 for r in se)
    assert any(r.total_abs_err > 0 for r in se), "zero error everywhere"
    assert all(
        0 <= r.total_abs_err and r.total_actual >= r.n_days_scored
        for r in se
    )

    hist = STAGED_R27_QUERIES["embed_quantize_error"](
        spark, SF_DIR
    ).collect()
    half = RESIDUAL_BUCKETS_PER_UNIT // 2
    assert all(-half <= r.res_bucket <= half for r in hist), (
        "residual outside [-1/2, 1/2]"
    )
    assert len(hist) >= 5, "residuals massed in few cells"
    # mass conservation: every element of every nonzero vector lands
    emb = load_table(spark, SF_DIR, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n_elem = emb.select(
        F.sum(F.size("embedding")).alias("n")
    ).collect()[0].n
    assert sum(r.n for r in hist) == n_elem  # corpus has no zero vectors

    suf = STAGED_R27_QUERIES["dedup_suffix"](spark, SF_DIR).collect()
    assert len(suf) >= 1
    assert all(r.n_docs >= 2 for r in suf)
    assert all(len(r.suffix) <= DEDUP_SUFFIX_LEN for r in suf)

    med = STAGED_R27_QUERIES["rel_order_gap_median"](
        spark, SF_DIR
    ).collect()
    assert len(med) >= 10
    assert all(r.n_gaps >= 1 and r.median_gap_days >= 0 for r in med)
    # the exact even-count selection really interpolates: some .5s
    assert any(r.median_gap_days % 1 == 0.5 for r in med)
    # gap conservation: every customer contributes exactly
    # (orders − 1) gaps, so Σ n_gaps == n_orders − n_customers
    orders_t = load_table(spark, SF_DIR, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    n_orders = orders_t.count()
    n_cust = orders_t.select("o_custkey").distinct().count()
    assert sum(r.n_gaps for r in med) == n_orders - n_cust
