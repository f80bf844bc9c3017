"""Registry batch r21: five compositions of already-registered machinery
(no new operator code). Each key is a complete (query callable, DuckDB
oracle) pair; ``tests/test_oracle_parity.py`` replays every pair with
hash parity + non-vacuity, and ``tests/test_staged_r21.py`` holds its
content checks.

Families: the TPC-H Q10 returned-item revenue shape (exact cent
money math), a day-of-week × hour seasonality profile (the activity
fingerprint bot/regularity audits read next to), the corpus token
budget per source (the mixture-planning table ``corpus_mixture_sample``
consumes conceptually), the HLL UNION across groups (the merge law
applied hierarchically, bound-checked like ``agg_hll_table``), and the
weekly-from-hourly re-aggregation invariant (two aggregation paths,
one relation — the scd2_merge registration style on the rollup axis).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.sketches import hll_estimate, hll_merge, hll_table
from ..sources.tables import load_table
from .extended import _cents

# --------------------------------------------------------------------------
# rel_returned_items — the TPC-H Q10 shape
# --------------------------------------------------------------------------

RETURNED_TOP_N = 20


def q_rel_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_returned_items`` — TPC-H Q10: the customers who returned
    the most revenue (``l_returnflag = 'R'``), with their nation — the
    churn-risk contact list. Exact cent arithmetic for the revenue sum
    (the ``rel_pricing_summary`` rule: price·(1−disc) in cent-scaled
    integers — the product of two exact 2-decimal cent values divides
    by 100² at the END, so the only doubles are one division and the
    final round); top-N by (revenue DESC, custkey ASC) is
    deterministic under ties.

    Scale: lineitem collapses map-side per order THEN per customer;
    customer and nation broadcast; the top-N compiles to
    TakeOrderedAndProject (per-task heaps, no global sort)."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    orders = load_table(spark, sf_dir, "orders", spread=False)
    cust = load_table(spark, sf_dir, "customer", spread=False)
    nation = load_table(spark, sf_dir, "nation", spread=False)
    # revenue in centi-cent units: cents(price) · (100 − cents(disc)/1
    # ... disc is 2-decimal in [0,1), so 100·disc is an exact integer
    cdisc = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = _cents("l_extendedprice") * (F.lit(100) - cdisc)
    returned = (
        li.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(rev).alias("_r4"))
    )
    return (
        returned.join(
            F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
        )
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.round(F.col("_r4") / F.lit(10000.0), 6).alias(
                "return_revenue"
            ),
        )
        .orderBy(F.desc("return_revenue"), F.asc("c_custkey"))
        .limit(RETURNED_TOP_N)
    )


_REL_RETURNED_ITEMS_ORACLE = f"""
WITH returned AS (
  SELECT o.o_custkey,
         SUM(
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
         ) AS r4
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       ROUND(r.r4 / 10000.0, 6) AS return_revenue
FROM returned r
JOIN customer c ON c.c_custkey = r.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY return_revenue DESC, c.c_custkey ASC
LIMIT {RETURNED_TOP_N}
"""

# --------------------------------------------------------------------------
# win_dow_profile — day-of-week × hour seasonality fingerprint
# --------------------------------------------------------------------------


def q_win_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_dow_profile`` — per event type, the (ISO day-of-week,
    hour-of-day) activity grid with each cell's share of the type's
    total: the seasonality fingerprint behind staffing curves, anomaly
    baselines and the bot-regularity audit's human-rhythm prior (a
    type whose mass concentrates in one cell is a cron job, not a
    cohort). One counting aggregation into O(types × 168) cells + one
    window on that bounded relation; shares are exact-integer
    divisions rounded 6dp."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    grid = (
        ev.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            "event_type",
            # ISO weekday 1-7 Monday-first on BOTH engines:
            # Spark dayofweek is 1=Sunday — shift; DuckDB isodow is ISO
            F.expr(
                "CAST(((dayofweek(ts) + 5) % 7) + 1 AS INT)"
            ).alias("iso_dow"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_type = Window.partitionBy("event_type")
    return grid.select(
        "event_type",
        "iso_dow",
        "hour",
        "n",
        F.round(F.col("n") / F.sum("n").over(per_type), 6).alias(
            "share"
        ),
    )


_WIN_DOW_PROFILE_ORACLE = """
WITH grid AS (
  SELECT event_type,
         CAST(isodow(ts) AS INTEGER) AS iso_dow,
         CAST(hour(ts) AS INTEGER) AS hour,
         COUNT(*) AS n
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT event_type, iso_dow, hour, n,
       ROUND(
         n / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 6
       ) AS share
FROM grid
"""

# --------------------------------------------------------------------------
# corpus_token_budget — the mixture-planning table
# --------------------------------------------------------------------------


def q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_token_budget`` — per source: documents, whitespace
    tokens, characters, and each source's share of the corpus token
    budget — the table a mixture designer reads BEFORE setting
    ``corpus_mixture_sample`` temperatures (shares are what the
    temperature exponent reweights). One scan with scan-side token
    counting, a map-combining O(sources) aggregation, one window on
    that tiny relation."""
    from ..operators.text import _words

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isNotNull()
    )
    counted = (
        docs.select(
            "source",
            F.size(_words(F.col("text"))).cast("bigint").alias("_tok"),
            F.length("text").cast("bigint").alias("_ch"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("n_tokens"),
            F.coalesce(F.sum("_ch"), F.lit(0)).alias("n_chars"),
        )
    )
    total = Window.partitionBy(F.lit(1))
    return counted.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars",
        F.round(
            F.col("n_tokens") / F.sum("n_tokens").over(total), 6
        ).alias("token_share"),
    )


def _sql_words_of(col: str) -> str:
    trimmed = f"regexp_replace(lower({col}), '^\\s+|\\s+$', '', 'g')"
    return (
        f"(CASE WHEN length({trimmed}) = 0 THEN CAST([] AS VARCHAR[]) "
        f"ELSE string_split_regex({trimmed}, '\\s+') END)"
    )


_CORPUS_TOKEN_BUDGET_ORACLE = f"""
WITH counted AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(CASE WHEN text IS NULL THEN NULL
                       ELSE len({_sql_words_of('text')}) END) AS BIGINT)
           AS n_tokens,
         COALESCE(CAST(SUM(length(text)) AS BIGINT), 0) AS n_chars
  FROM documents WHERE source IS NOT NULL
  GROUP BY source
)
SELECT source, n_docs, n_tokens, n_chars,
       ROUND(
         n_tokens / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6
       ) AS token_share
FROM counted
"""

# --------------------------------------------------------------------------
# agg_hll_union — hierarchical HLL merge, bound-checked
# --------------------------------------------------------------------------

HLL_UNION_P = 12


def q_agg_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_hll_union`` — the HLL merge law applied HIERARCHICALLY:
    per-event-type user sketches merged into one global sketch, whose
    estimate must land within the 3σ HLL bound of the exact global
    distinct count (the ``agg_hll_table`` bound-check pattern, one
    level up — what a per-shard → per-day → global rollup does at
    100 TB without ever re-touching raw data). The merge itself is the
    exact register max; only the ESTIMATE carries error."""
    ev = load_table(spark, sf_dir, "events", spread=False).where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    per_type = hll_table(
        ev, "user_id", group_cols=["event_type"], p=HLL_UNION_P
    )
    merged = hll_merge([per_type.drop("event_type")])
    est = hll_estimate(merged, p=HLL_UNION_P)
    exact = ev.agg(F.count_distinct("user_id").alias("true_distinct"))
    bound = 3 * 1.04 / (2**HLL_UNION_P) ** 0.5
    return exact.crossJoin(F.broadcast(est)).select(
        "true_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            <= F.greatest(
                F.lit(1.0), F.lit(bound) * F.col("true_distinct")
            )
        ).alias("within_bound"),
    )


_AGG_HLL_UNION_ORACLE = """
SELECT COUNT(DISTINCT user_id) AS true_distinct,
       TRUE AS within_bound
FROM events
WHERE user_id IS NOT NULL AND event_type IS NOT NULL
"""

# --------------------------------------------------------------------------
# xform_week_rollup — re-aggregation invariant
# --------------------------------------------------------------------------


def q_xform_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_week_rollup`` — weekly per-type event counts computed
    FROM THE HOURLY ROLLUP (sum of hourly sums), registered through the
    invariant that the oracle computes the weekly relation DIRECTLY
    from raw events: re-aggregation must be lossless
    (``rollup(rollup(x)) == rollup(x)`` on the coarser grain — the
    property every materialized-aggregate hierarchy silently assumes
    and this key hash-checks). Counts are exact integers; week buckets
    are ``date_trunc('week')`` (ISO Monday on both engines)."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    hourly = (
        ev.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("_h"),
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        hourly.groupBy(
            "event_type",
            F.date_trunc("week", F.col("_h")).alias("week"),
        )
        .agg(F.sum("_n").cast("bigint").alias("n_events"))
    )


_XFORM_WEEK_ROLLUP_ORACLE = """
SELECT event_type,
       -- CAST: DuckDB's week truncation yields DATE where Spark's
       -- date_trunc yields TIMESTAMP; the driver hash sees the type
       CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE ts IS NOT NULL AND event_type IS NOT NULL
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------

STAGED_R21_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_returned_items": q_rel_returned_items,
    "win_dow_profile": q_win_dow_profile,
    "corpus_token_budget": q_corpus_token_budget,
    "agg_hll_union": q_agg_hll_union,
    "xform_week_rollup": q_xform_week_rollup,
}

STAGED_R21_ORACLES: dict[str, str] = {
    "rel_returned_items": _REL_RETURNED_ITEMS_ORACLE,
    "win_dow_profile": _WIN_DOW_PROFILE_ORACLE,
    "corpus_token_budget": _CORPUS_TOKEN_BUDGET_ORACLE,
    "agg_hll_union": _AGG_HLL_UNION_ORACLE,
    "xform_week_rollup": _XFORM_WEEK_ROLLUP_ORACLE,
}
