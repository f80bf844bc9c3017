"""Registry batch r27: three capabilities. Each key is a complete (query
callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py`` replays
every pair with hash parity + non-vacuity, and
``tests/test_staged_r27.py`` holds its content checks.

Families: count-of-counts (the Good–Turing / Kneser–Ney smoothing
ingredient — how many distinct n-grams occur exactly r times; the
hash-exact face of LM discount estimation, all integers), the
seasonal-naive forecast audit (per-type MAE of the
"same day last week" predictor — the baseline every real forecaster
must beat, integer error sums + one division), and the median
inter-order gap per customer (the retention/cadence relation: exact
type-7 median over integer day gaps via positional middle selection —
no interpolation ambiguity, the ``agg_mad_outliers`` exact-selection
discipline).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.lm import train_ngram_counts
from ..operators.text import TOKEN_PATTERN
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# lm_count_of_counts — the Good–Turing / KN ingredient
# --------------------------------------------------------------------------

CC_MAX_R = 10
CC_ORDER = 3


def q_lm_count_of_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_count_of_counts`` — for each n-gram order 1..``CC_ORDER``
    and each occurrence count r ≤ ``CC_MAX_R``: how many DISTINCT
    grams occur exactly r times. N_r is the input to every
    count-based LM discount (Good–Turing: r* = (r+1)·N_{r+1}/N_r;
    Kneser–Ney: D = N_1/(N_1+2·N_2)) — the discounts themselves are
    one rational away, so the INTEGER relation is what hash-checks
    (the lm_train_counts rule: scoring stays pytest-land, the model
    relation is the oracle surface).

    100 TB plan: rides :func:`~..operators.lm.train_ngram_counts`'s
    one-scan/one-explode/one-agg gram relation (min_count=1 — the
    singleton tail IS the signal here: N_1 drives every discount);
    the count-of-counts re-aggregation collapses O(vocab) rows to
    O(orders × r) — map-side, bounded output."""
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "text"
    )
    grams = train_ngram_counts(docs, order=CC_ORDER, min_count=1)
    return (
        grams.where(F.col("cnt") <= CC_MAX_R)
        .groupBy(
            F.col("n").cast("bigint").alias("gram_order"),
            F.col("cnt").alias("r"),
        )
        .agg(F.count(F.lit(1)).alias("n_grams"))
    )


_LM_COUNT_OF_COUNTS_ORACLE = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT 1 AS n, unnest(w) AS gram FROM toks
  UNION ALL
  SELECT 2, unnest(list_transform(
    generate_series(0, len(w) - 2), i -> array_to_string(w[i+1:i+2], ' ')
  )) FROM toks WHERE len(w) >= 2
  UNION ALL
  SELECT 3, unnest(list_transform(
    generate_series(0, len(w) - 3), i -> array_to_string(w[i+1:i+3], ' ')
  )) FROM toks WHERE len(w) >= 3
), model AS (
  SELECT n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
)
SELECT CAST(n AS BIGINT) AS gram_order, CAST(cnt AS BIGINT) AS r,
       COUNT(*) AS n_grams
FROM model WHERE cnt <= {CC_MAX_R}
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# win_seasonal_error — the seasonal-naive forecast audit
# --------------------------------------------------------------------------

SEASONAL_LAG_DAYS = 7


def q_win_seasonal_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_seasonal_error`` — per event type, the mean absolute
    error of the seasonal-naive predictor ("this day = same day last
    week") over daily event counts: the baseline every real
    forecaster must beat, and the cheapest seasonality-strength
    measure (a type with weekly rhythm shows a LOW ratio). Scored
    only on days whose lag-``SEASONAL_LAG_DAYS`` partner exists (a
    calendar self-equi-join on exact DATE arithmetic, not a row-lag —
    a row-lag silently skips calendar gaps). Integer error sums; the
    emitted MAE ratio is one division.

    100 TB plan: events collapse map-side to the O(types × days)
    daily relation; the lag join and both aggregates ride that tiny
    relation — the fact table is touched exactly once."""
    ev = load_table(spark, sf_dir, "events", spread=False).where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = (
        ev.groupBy(
            "event_type",
            F.to_date(F.col("ts").cast("timestamp")).alias("_d"),
        )
        .agg(F.count(F.lit(1)).alias("_c"))
        # TWO consumers (current + lagged leg of the self-join) —
        # unpinned, the fact scan plans twice (the rel_part_promotion
        # two-consumer rule); pinned, the join rides O(types × days)
        .localCheckpoint(eager=False)
    )
    prev = daily.select(
        F.col("event_type").alias("_et2"),
        F.date_add(F.col("_d"), SEASONAL_LAG_DAYS).alias("_d2"),
        F.col("_c").alias("_c_prev"),
    )
    scored = daily.join(
        prev,
        (F.col("event_type") == F.col("_et2"))
        & (F.col("_d") == F.col("_d2")),
    )
    abs_err = F.abs(F.col("_c") - F.col("_c_prev"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_scored"),
        F.sum(abs_err).alias("total_abs_err"),
        F.sum("_c").alias("total_actual"),
        F.round(
            F.sum(abs_err) / F.sum("_c").cast("double"), 6
        ).alias("mae_ratio"),
    )


_WIN_SEASONAL_ERROR_ORACLE = f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         COUNT(*) AS c
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT a.event_type,
       COUNT(*) AS n_days_scored,
       CAST(SUM(ABS(a.c - b.c)) AS BIGINT) AS total_abs_err,
       CAST(SUM(a.c) AS BIGINT) AS total_actual,
       ROUND(SUM(ABS(a.c - b.c)) / CAST(SUM(a.c) AS DOUBLE), 6)
         AS mae_ratio
FROM daily a
JOIN daily b ON b.event_type = a.event_type
            AND a.d = b.d + {SEASONAL_LAG_DAYS}
GROUP BY 1
"""

# --------------------------------------------------------------------------
# rel_order_gap_median — median inter-order gap per customer
# --------------------------------------------------------------------------


def q_rel_order_gap_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``rel_order_gap_median`` — per customer: the exact median of
    the day gaps between consecutive orders (the purchase-cadence /
    retention relation). The median is computed by POSITIONAL middle
    selection over the integer gaps — rank the gaps, pick positions
    ⌊(k+1)/2⌋ and ⌈(k+1)/2⌉, average the two — so even-count medians
    are exact x.0/x.5 values with no engine-specific interpolation
    (the ``agg_mad_outliers`` exact-selection discipline). Ties in
    order dates break on orderkey: the gap SEQUENCE is total-ordered,
    the ``event_transitions`` rule.

    100 TB plan: ONE exchange on custkey carries the date-ordered lag
    window, the gap ranking AND the closing aggregate (same-key
    windows stack); output is O(customers). Customers with a single
    order have no gap and emit nothing."""
    orders = load_table(spark, sf_dir, "orders", spread=False).where(
        F.col("o_orderdate").isNotNull()
    )
    byc = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    gaps = (
        orders.select("o_custkey", "o_orderdate", "o_orderkey")
        .withColumn(
            "_gap",
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(byc)
            ),
        )
        .where(F.col("_gap").isNotNull())
    )
    rk = Window.partitionBy("o_custkey").orderBy(
        F.asc("_gap"), F.asc("o_orderkey")
    )
    ranked = gaps.select(
        "o_custkey",
        "_gap",
        F.row_number().over(rk).alias("_rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("o_custkey"))
        .alias("_k"),
    )
    lo_pos = F.floor((F.col("_k") + 1) / 2)
    hi_pos = F.ceil((F.col("_k") + 1) / 2)
    return ranked.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("_k").alias("n_gaps"),
        F.round(
            (
                F.max(F.when(F.col("_rn") == lo_pos, F.col("_gap")))
                + F.max(F.when(F.col("_rn") == hi_pos, F.col("_gap")))
            )
            / 2.0,
            1,
        ).alias("median_gap_days"),
    )


_REL_ORDER_GAP_MEDIAN_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(o_orderdate) OVER w,
                   o_orderdate) AS gap,
         o_orderkey
  FROM orders
  WHERE o_orderdate IS NOT NULL
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), g AS (
  SELECT * FROM gaps WHERE gap IS NOT NULL
), ranked AS (
  SELECT o_custkey, gap,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY gap ASC, o_orderkey ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY o_custkey) AS k
  FROM g
)
SELECT o_custkey AS custkey,
       CAST(MAX(k) AS BIGINT) AS n_gaps,
       ROUND(
         (MAX(CASE WHEN rn = FLOOR((k + 1) / 2.0) THEN gap END)
          + MAX(CASE WHEN rn = CEIL((k + 1) / 2.0) THEN gap END))
         / 2.0, 1
       ) AS median_gap_days
FROM ranked
GROUP BY 1
"""

# --------------------------------------------------------------------------

STAGED_R27_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lm_count_of_counts": q_lm_count_of_counts,
    "win_seasonal_error": q_win_seasonal_error,
    "rel_order_gap_median": q_rel_order_gap_median,
}

STAGED_R27_ORACLES: dict[str, str] = {
    "lm_count_of_counts": _LM_COUNT_OF_COUNTS_ORACLE,
    "win_seasonal_error": _WIN_SEASONAL_ERROR_ORACLE,
    "rel_order_gap_median": _REL_ORDER_GAP_MEDIAN_ORACLE,
}
