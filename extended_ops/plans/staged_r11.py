"""Registry batch r11: four capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity.

Families: point-in-time join (feature-store enrichment against SCD2
history), activity streaks (gaps-and-islands retention), word
co-occurrence / lift (the GloVe-style pre-embedding artifact), and
expectations audit (rule-based data quality with planted violations).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import pit_join
from ..operators.history import scd2_history
from ..operators.quality import expectations_audit
from ..operators.text import cooccurrence_pairs
from ..operators.timeseries import activity_streaks
from ..sources.tables import load_table
from .extended import _SQL_WORDS
from .round10 import _XFORM_SCD2_ORACLE

# --------------------------------------------------------------------------
# join_pit — point-in-time enrichment of facts against SCD2 history
# --------------------------------------------------------------------------

PIT_STATE_TYPES = ("signup", "purchase", "error")
PIT_FACT_TYPES = ("view", "click")


def pit_dim(events: DataFrame) -> DataFrame:
    """The registered PIT dimension: each user's SCD2 state history
    over the state-event types. ONE definition — the registered query
    and the stream-enrichment equivalence test both build from here,
    so the stream-equals-batch guarantee always covers the plan
    actually registered (review r10d)."""
    state = events.where(
        F.col("event_type").isin(*PIT_STATE_TYPES)
    ).select("user_id", "ts", "event_id", "event_type")
    return scd2_history(
        state,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    ).withColumnRenamed("event_type", "state")


def pit_facts(events: DataFrame) -> DataFrame:
    """The registered PIT fact slice (see :func:`pit_dim`)."""
    return events.where(
        F.col("event_type").isin(*PIT_FACT_TYPES)
    ).select("event_id", "ts", "user_id", "event_type", "value")


def q_join_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``join_pit`` — enrich each view/click event with the user's
    state version (last signup/purchase/error) valid AT THAT MOMENT
    (:func:`~..operators.asof.pit_join` over
    :func:`~..operators.history.scd2_history` output): the
    feature-store primitive that prevents time-travel leakage. LEFT
    semantics — facts before any state event keep NULL state (present
    in the data, so the path is non-vacuous). Sorted-union merge-scan:
    ONE keyed exchange, no range join."""
    events = load_table(spark, sf_dir, "events")
    return pit_join(
        pit_facts(events),
        pit_dim(events),
        key_cols=["user_id"],
        ts_col="ts",
        payload_cols=["state", "version"],
    )


def _join_pit_oracle() -> str:
    states = ", ".join(f"'{t}'" for t in PIT_STATE_TYPES)
    fact_types = ", ".join(f"'{t}'" for t in PIT_FACT_TYPES)
    # the SCD2 oracle reads its changelog in exactly ONE place; a
    # second mention would make this textual restriction silently wrong
    if _XFORM_SCD2_ORACLE.count("FROM events") != 1:
        raise ValueError("xform_scd2 oracle shape changed; fix pit reuse")
    scd2_on_states = _XFORM_SCD2_ORACLE.replace(
        "FROM events",
        f"FROM events WHERE event_type IN ({states})",
    )
    return f"""
WITH dim AS (
  SELECT user_id, event_type AS state, valid_from, valid_to, version
  FROM ({scd2_on_states})
), facts AS (
  SELECT event_id, ts, user_id, event_type, value
  FROM events WHERE event_type IN ({fact_types})
)
SELECT f.event_id, f.ts, f.user_id, f.event_type, f.value,
       d.state, d.version, d.valid_from
FROM facts f
LEFT JOIN dim d
  ON d.user_id = f.user_id
 AND d.valid_from <= f.ts
 AND (d.valid_to IS NULL OR f.ts < d.valid_to)
"""


# --------------------------------------------------------------------------
# win_streaks — consecutive-active-day runs per user
# --------------------------------------------------------------------------


def q_win_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_streaks`` — per-user daily-activity streaks
    (:func:`~..operators.timeseries.activity_streaks`): distinct
    (user, day) collapses map-side, then the gaps-and-islands anchor
    (day − row_number) sizes the runs; one shuffle of O(user-days),
    all integer/date arithmetic."""
    return activity_streaks(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
    )


_WIN_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), anch AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY d
         ) AS INTEGER) AS a
  FROM days
), runs AS (
  SELECT user_id, a, CAST(COUNT(*) AS BIGINT) AS len, MIN(d) AS start
  FROM anch GROUP BY 1, 2
), ranked AS (
  SELECT user_id, len, start,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY len DESC, start
         ) AS rn
  FROM runs
), totals AS (
  SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_days,
         CAST(COUNT(*) AS BIGINT) AS n_streaks
  FROM runs GROUP BY 1
)
SELECT t.user_id, t.active_days, t.n_streaks,
       r.len AS longest_streak_days, r.start AS longest_streak_start
FROM totals t JOIN ranked r ON r.user_id = t.user_id AND r.rn = 1
"""

# --------------------------------------------------------------------------
# text_cooccurrence — windowed word co-occurrence + lift
# --------------------------------------------------------------------------

COOC_WINDOW = 3
COOC_MIN_COUNT = 5


def q_text_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_cooccurrence`` — unordered word pairs within a 3-token
    window, with counts and lift (PMI's rank-equivalent raw ratio —
    the no-log rule) (:func:`~..operators.text.cooccurrence_pairs`):
    one Arrow scan pass emits pair+token rows, two map-side-combining
    aggregations, broadcast unigram joins, lazy broadcast N."""
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "text"
    )
    return cooccurrence_pairs(
        docs, window=COOC_WINDOW, min_count=COOC_MIN_COUNT
    )


_TEXT_COOCCURRENCE_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS w,
         unnest(generate_series(1, len({_SQL_WORDS}))) AS i
  FROM documents
), uni AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM w
), p AS (
  SELECT LEAST(a.w, b.w) AS w1, GREATEST(a.w, b.w) AS w2
  FROM w a
  JOIN w b ON b.doc_id = a.doc_id
          AND b.i > a.i AND b.i <= a.i + {COOC_WINDOW}
), pc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM p GROUP BY 1, 2 HAVING COUNT(*) >= {COOC_MIN_COUNT}
)
SELECT pc.w1, pc.w2, pc.pair_count, u1.c AS c1, u2.c AS c2,
       ROUND((CAST(pc.pair_count AS DOUBLE) * CAST(tot.n AS DOUBLE))
             / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS lift
FROM pc
JOIN uni u1 ON u1.w = pc.w1
JOIN uni u2 ON u2.w = pc.w2
CROSS JOIN tot
"""

# --------------------------------------------------------------------------
# dq_expectations — rule audit with planted violations
# --------------------------------------------------------------------------


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_expectations`` — three-rule quality audit over events WITH
    deterministic planted violations (every 300th event re-enters with
    negative value, malformed type and NULL user — the dq_referential
    injection pattern, so detection is hash-checked)
    (:func:`~..operators.quality.expectations_audit`): ONE aggregation
    pass, rules melt to tall via the unpivot Expand."""
    events = load_table(spark, sf_dir, "events")
    planted = events.where(F.col("event_id") % 300 == 0).select(
        "event_id",
        "ts",
        F.lit(None).cast("long").alias("user_id"),
        F.lit("BAD Type!").alias("event_type"),
        F.lit(-1.5).alias("value"),
        "props",
    )
    fact = events.unionByName(planted)
    return expectations_audit(
        fact,
        [
            ("value_nonnegative", F.col("value") < 0),
            ("event_type_lower", ~F.col("event_type").rlike("^[a-z_]+$")),
            ("user_id_present", F.col("user_id").isNull()),
        ],
    )


_DQ_EXPECTATIONS_ORACLE = """
WITH fact AS (
  SELECT event_id, ts, user_id, event_type, value, props FROM events
  UNION ALL
  SELECT event_id, ts, NULL, 'BAD Type!', -1.5, props
  FROM events WHERE event_id % 300 = 0
)
SELECT 'value_nonnegative' AS rule,
       CAST(COUNT(*) AS BIGINT) AS rows_checked,
       CAST(COUNT(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS violations
FROM fact
UNION ALL
SELECT 'event_type_lower', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN NOT regexp_matches(event_type, '^[a-z_]+$')
                  THEN 1 END) AS BIGINT)
FROM fact
UNION ALL
SELECT 'user_id_present', CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(CASE WHEN user_id IS NULL THEN 1 END) AS BIGINT)
FROM fact
"""

# --------------------------------------------------------------------------

STAGED_R11_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "join_pit": q_join_pit,
    "win_streaks": q_win_streaks,
    "text_cooccurrence": q_text_cooccurrence,
    "dq_expectations": q_dq_expectations,
}

STAGED_R11_ORACLES: dict[str, str] = {
    "join_pit": _join_pit_oracle(),
    "win_streaks": _WIN_STREAKS_ORACLE,
    "text_cooccurrence": _TEXT_COOCCURRENCE_ORACLE,
    "dq_expectations": _DQ_EXPECTATIONS_ORACLE,
}
