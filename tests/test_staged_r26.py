"""Content checks for ``plans/staged_r26.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r26 import (
    FREQ_PROFILE_NTILES,
    ZIPF_KS,
    STAGED_R26_QUERIES,
)


def test_staged_r26_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a Q20 dominance test that qualifies every supplier (no
    semi-join), a frequency profile that lost token mass or collapsed
    into one decile, and Zipf ratios from a non-descending rank
    order."""
    from pyspark.sql import functions as F

    from extended_ops.operators.text import (
        pattern_tokens,
    )
    from extended_ops.sources.tables import load_table

    dom = STAGED_R26_QUERIES["rel_part_promotion"](
        spark, SF_DIR
    ).collect()
    assert len(dom) >= 1
    assert all(r.n_dominant_parts >= 1 for r in dom)
    # SELECTIVE: strictly fewer qualifying suppliers than suppliers
    # shipping widget parts in the window at all (the threshold fires)
    n_supp = (
        load_table(spark, SF_DIR, "lineitem")
        .where(
            "l_shipdate >= '1996-01-01' AND l_shipdate < '1998-01-01'"
        )
        .join(
            load_table(spark, SF_DIR, "part").where(
                F.col("p_name").contains("widget")
            ),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select("l_suppkey")
        .distinct()
        .count()
    )
    assert len(dom) < n_supp

    prof = STAGED_R26_QUERIES["lm_freq_profile"](spark, SF_DIR).collect()
    deciles = {r.decile for r in prof}
    assert deciles <= set(range(1, FREQ_PROFILE_NTILES + 1))
    assert len(deciles) >= 5, "profile collapsed into few deciles"
    # mass conservation: every token lands in exactly one decile
    docs = load_table(spark, SF_DIR, "documents").where(
        F.col("text").isNotNull()
    )
    n_tokens = (
        docs.select(
            F.explode(pattern_tokens(F.col("text"))).alias("t")
        ).count()
    )
    assert sum(r.n_tokens for r in prof) == n_tokens

    zipf = sorted(
        STAGED_R26_QUERIES["text_zipf_ratio"](spark, SF_DIR).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in zipf] == list(ZIPF_KS)
    assert all(r.f_k >= r.f_2k for r in zipf), "rank order not descending"
    assert all(r.ratio >= 1.0 for r in zipf)
