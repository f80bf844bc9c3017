"""Content checks for ``plans/staged_r25.py``. Hash parity and
non-vacuity are covered per key by ``tests/test_oracle_parity.py``;
these tests catch degenerate variants that would still hash-match
a broken producer."""

from __future__ import annotations

from conftest import SF_DIR

from extended_ops.plans.staged_r25 import (
    Q7_NATION_A,
    Q7_NATION_B,
    Q12_BANDS,
    STAGED_R25_QUERIES,
)


def test_staged_r25_content_is_nonvacuous(spark):
    """Degenerate variants that would still hash-match a broken
    producer: a Q5 co-location predicate that never fires (or fires
    for everything), a Q7 flow with a dead direction or a same-nation
    leak, a Q9 profit that is never negative (the signed aggregate
    untested), a Q12 band that swallowed the whole line, and a Q15
    argmax returning a non-maximal supplier."""
    from extended_ops.sources.tables import load_table

    local = STAGED_R25_QUERIES["rel_local_volume"](spark, SF_DIR).collect()
    assert len(local) >= 1
    assert all(r.revenue > 0 and r.n_lines >= 1 for r in local)
    # co-location is SELECTIVE: strictly fewer lines than the plain
    # date-windowed lineitem⨝orders join (the predicate really fires)
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    n_dated = li.join(
        orders.where(
            "o_orderdate >= '1995-01-01' AND o_orderdate < '2000-01-01'"
        ),
        li.l_orderkey == orders.o_orderkey,
    ).count()
    assert sum(r.n_lines for r in local) < n_dated

    vol = STAGED_R25_QUERIES["rel_shipping_volume"](
        spark, SF_DIR
    ).collect()
    dirs = {(r.supp_nation, r.cust_nation) for r in vol}
    assert (Q7_NATION_A, Q7_NATION_B) in dirs, "A→B flow missing"
    assert (Q7_NATION_B, Q7_NATION_A) in dirs, "B→A flow missing"
    assert all(r.supp_nation != r.cust_nation for r in vol)
    assert all(r.revenue > 0 for r in vol)

    profit = STAGED_R25_QUERIES["rel_product_profit"](
        spark, SF_DIR
    ).collect()
    assert len(profit) >= 5
    assert any(r.profit > 0 for r in profit)
    assert all(1995 <= r.order_year <= 2001 for r in profit)
    # the cost leg is ALIVE: the same slice's revenue strictly exceeds
    # its profit (at sf0.001 every (nation, year) bucket happens to net
    # positive, so sign alone can't prove the subtraction ran — ~24% of
    # the underlying LINES are negative, which this inequality pins)
    from pyspark.sql import functions as F

    part = load_table(spark, SF_DIR, "part").where(
        F.col("p_name").contains("widget")
    )
    rev_only = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
                * (
                    F.lit(100)
                    - F.round(F.col("l_discount") * 100).cast("bigint")
                )
            ).alias("_r4")
        )
        .collect()[0]._r4
    )
    assert sum(r.profit for r in profit) < rev_only / 10000.0

    bands = STAGED_R25_QUERIES["rel_shipdelay_priority"](
        spark, SF_DIR
    ).collect()
    assert {r.delay_band for r in bands} == {n for n, _ in Q12_BANDS}
    assert all(
        r.urgent_lines >= 1 and r.other_lines >= 1 for r in bands
    ), "a priority class is dead in some band"
    # the bands PARTITION the join: total lines == lineitem⨝orders
    n_join = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert sum(r.urgent_lines + r.other_lines for r in bands) == n_join

    top = STAGED_R25_QUERIES["rel_top_supplier"](spark, SF_DIR).collect()
    assert len(top) >= 1
    revs = {r.total_revenue for r in top}
    assert len(revs) == 1, "argmax returned non-tied revenues"
    assert top[0].total_revenue > 0
