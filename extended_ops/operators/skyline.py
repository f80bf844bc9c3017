"""Skyline (Pareto-frontier) operator.

``skyline_2d`` returns the maximal vectors of a relation under
(minimize x, maximize y) dominance — the classic skyline query
(Börzsönyi/Kossmann/Stocker, ICDE'01 "The Skyline Operator"): a row is
on the skyline iff no other row is at least as good on both dimensions
and strictly better on one. The textbook use: "parts that are not both
more expensive AND smaller than some other part".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def skyline_2d(
    df: DataFrame,
    *,
    min_col: str,
    max_col: str,
) -> DataFrame:
    """All rows NOT dominated under (``min_col`` ↓, ``max_col`` ↑):
    row q dominates row p iff ``q.min <= p.min AND q.max >= p.max`` with
    at least one strict. Ties on BOTH dimensions dominate neither way —
    co-optimal duplicates all survive (the standard skyline contract).

    Plan — the 2D sort-scan skyline, NOT the quadratic dominance
    anti-join (the DuckDB oracle states the semantics that way; at
    100 TB an O(n²) join is not a plan):

    1. ``groupBy(min_col).max(max_col)`` — one shuffle that collapses
       the relation to its DISTINCT min-dimension values (map-side
       partial agg eats duplicates before the exchange).
    2. A running strict-predecessor max over that collapsed relation
       ordered by ``min_col``: a distinct value is a frontier point iff
       its best ``max_col`` strictly beats every strictly-smaller
       ``min_col``'s best. This window IS single-partition — but over
       ``|distinct min_col values|`` rows (a bounded price/size domain
       at any corpus scale), not the input; the O(n) work all happened
       in step 1's distributed aggregate.
    3. Join the frontier keys back onto the input: survivors are the
       rows sitting exactly ON a frontier point (both coordinates
       match). The frontier is ≤ the distinct-value count and typically
       tiny, so AQE sizes it as the broadcast side of a broadcast hash
       join over the original scan — no second shuffle of the data. The
       hint is deliberately NOT forced (r10 advice #4): for a
       continuous/high-cardinality ``min_col`` domain the frontier is
       unbounded, and a forced ``F.broadcast`` would be a driver-OOM
       risk — the same no-forced-hint rule
       :func:`~.dedup.bounded_posting_lists` follows; AQE broadcasts it
       whenever it actually fits.
    """
    # rows with a NULL coordinate can neither dominate nor sit on the
    # frontier (dominance is undefined for them) — and Spark's window
    # sort puts NULLS FIRST where DuckDB defaults to LAST, so excluding
    # them here also keeps the operator engine-portable.
    per_min = (
        df.where(F.col(min_col).isNotNull() & F.col(max_col).isNotNull())
        .groupBy(min_col)
        .agg(F.max(max_col).alias("_best"))
    )
    w = Window.orderBy(F.col(min_col).asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    frontier = (
        per_min.withColumn("_prev_best", F.max("_best").over(w))
        .where(
            F.col("_prev_best").isNull()
            | (F.col("_best") > F.col("_prev_best"))
        )
        .select(min_col, F.col("_best").alias(max_col))
    )
    return df.join(frontier, on=[min_col, max_col])
