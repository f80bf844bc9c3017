"""Content checks for ``plans/staged_r22.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r22 import (
    TOP_TERMS_K,
    STAGED_R22_QUERIES,
)


def test_staged_r22_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a threshold that selects everything or nothing, a
    backlog that only ever grows (ends never applied) or goes
    negative, an out-of-bound sketch difference, a greedy model that
    never predicts or never hits, and a top-terms table with ranks
    missing or rarity ties never exercised."""
    stock = STAGED_R22_QUERIES["rel_important_stock"](
        spark, SF_DIR
    ).collect()
    assert len(stock) >= 1
    # selective: strictly fewer important parts than parts with sales
    from extended_ops.sources.tables import load_table

    n_parts = (
        load_table(spark, SF_DIR, "lineitem")
        .where("l_partkey IS NOT NULL")
        .select("l_partkey")
        .distinct()
        .count()
    )
    assert len(stock) < n_parts
    assert all(r.stock_value > 0 for r in stock)

    backlog = sorted(
        STAGED_R22_QUERIES["rel_order_backlog"](spark, SF_DIR).collect(),
        key=lambda r: r.day,
    )
    assert len(backlog) >= 10
    assert all(r.backlog >= 0 for r in backlog)
    assert backlog[-1].backlog == 0, "every order eventually closes"
    assert max(r.backlog for r in backlog) > 1, "backlog never overlaps"
    assert any(r.delta < 0 for r in backlog)
    # the sweep identity: backlog is the prefix sum of deltas
    run = 0
    for r in backlog:
        run += r.delta
        assert r.backlog == run

    kmv = STAGED_R22_QUERIES["agg_kmv_difference"](
        spark, SF_DIR
    ).collect()[0]
    assert kmv.within_bound
    assert kmv.true_only_a >= 1
    from extended_ops.plans.staged_r18 import (
        KMV_I_K,
    )

    # both sketches saturate, so the ESTIMATED path is under test
    assert kmv.n_a > KMV_I_K and kmv.n_b > KMV_I_K

    acc = STAGED_R22_QUERIES["lm_greedy_acc"](spark, SF_DIR).collect()
    assert len(acc) >= 10
    assert all(
        0 <= r.n_correct <= r.n_predicted <= r.n_positions for r in acc
    )
    assert sum(r.n_correct for r in acc) >= 1, "greedy never hits"
    assert any(
        r.n_correct < r.n_predicted for r in acc
    ), "greedy is suspiciously perfect"

    top = STAGED_R22_QUERIES["text_top_terms"](spark, SF_DIR).collect()
    by_doc: dict = {}
    for r in top:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert all(
        sorted(x.rank for x in rows) == list(range(1, len(rows) + 1))
        and len(rows) <= TOP_TERMS_K
        for rows in by_doc.values()
    )
    # the rarity tiebreak is real: some doc ranks a lower-tf term via df
    assert any(
        len(rows) == TOP_TERMS_K for rows in by_doc.values()
    )
