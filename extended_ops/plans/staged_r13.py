"""Registry batch r13: four capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity.

Families: gap-based sessionization (the batch relation of the
reference's session-window semantics — flink-audit-sessions-example
`App.java:79-110` keys by user and windows with a session gap; this
materializes the same gap contract as a table), temperature mixture
sampling (the α=0.5 source-rebalancing of multilingual pretraining),
data-freshness audit (planted-stale feeds), and the first-order Markov
transition matrix of the event stream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import mixture_sample
from ..operators.quality import freshness_audit
from ..operators.timeseries import event_transitions, gap_sessions
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# win_gap_sessions — gap-based sessionization of the event stream
# --------------------------------------------------------------------------

GAP_MINUTES = 30


def q_win_gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_gap_sessions`` — one row per (user, session) under a
    30-minute silence gap (:func:`~..operators.timeseries.gap_sessions`):
    the batch twin of the reference's session windows. ONE keyed
    exchange (lag + running session index share a window spec; the
    closing per-session aggregation reuses the key partitioning —
    subset clustering)."""
    return gap_sessions(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        gap_minutes=GAP_MINUTES,
    )


_WIN_GAP_SESSIONS_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL
), f AS (
  SELECT user_id, ts, us,
         CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                 > {GAP_MINUTES * 60_000_000} THEN 1 ELSE 0 END AS nf
  FROM e
), s AS (
  SELECT user_id, ts, us,
         CAST(SUM(nf) OVER (
           PARTITION BY user_id ORDER BY us
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) + 1 AS BIGINT) AS session_seq
  FROM f
)
SELECT user_id, session_seq,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       -- floor semantics on both engines (the div-cast gotcha)
       CAST(FLOOR((MAX(us) - MIN(us)) / 1000000) AS BIGINT)
         AS duration_secs
FROM s GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# corpus_mixture_sample — α=0.5 temperature source rebalancing
# --------------------------------------------------------------------------


def q_corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_mixture_sample`` — temperature-smoothed language mixture
    (:func:`~..operators.corpus.mixture_sample` over ``lang`` — the
    corpus's naturally skewed axis: en ≈ 2-3× any other language, so
    the α=0.5 flattening is exercised non-trivially without planting):
    per-group counts → ``sqrt(n_min/n_g)`` keep rates → broadcast
    filter on the scan; the data path never shuffles."""
    return mixture_sample(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        group_col="lang",
        salt="mix",
    )


_CORPUS_MIXTURE_ORACLE = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
  WHERE lang IS NOT NULL GROUP BY 1
), m AS (
  SELECT MIN(n) AS n_min FROM c
), r AS (
  SELECT lang,
         sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
  FROM c, m
)
SELECT d.doc_id, d.lang, ROUND(r.rate, 6) AS keep_rate
FROM documents d JOIN r USING (lang)
WHERE CAST(CAST(('0x' || substr(
        md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
      AS DOUBLE) < r.rate * 4294967296.0
"""

# --------------------------------------------------------------------------
# dq_freshness — staleness audit with planted dead feeds
# --------------------------------------------------------------------------

#: planted staleness: every 23rd user's events stop at this cutoff, so
#: the audit MUST flag them (an all-fresh audit would be vacuous — the
#: dq_referential planted-defect rule)
FRESHNESS_CUTOFF = "2024-01-24 00:00:00"
FRESHNESS_SLA_HOURS = 96


def q_dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_freshness`` — per-user feed-freshness audit
    (:func:`~..operators.quality.freshness_audit`) over events with
    DETERMINISTIC planted dead feeds (user_id % 23 == 0 loses all
    events at/after the cutoff, making those users ≥ 6 days stale
    against a 96 h SLA — so stale-detection itself is hash-checked).
    One O(keys) aggregation + a broadcast 1-row anchor."""
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(FRESHNESS_CUTOFF).cast("timestamp")
    fact = events.where(
        ~((F.col("user_id") % 23 == 0) & (F.col("ts") >= cutoff))
    )
    return freshness_audit(
        fact,
        key_col="user_id",
        ts_col="ts",
        sla_hours=FRESHNESS_SLA_HOURS,
    )


_DQ_FRESHNESS_ORACLE = f"""
WITH fact AS (
  SELECT * FROM events
  WHERE NOT (user_id % 23 = 0
             AND ts >= TIMESTAMP '{FRESHNESS_CUTOFF}')
), per_key AS (
  SELECT user_id, MAX(ts) AS last_ts FROM fact GROUP BY 1
), anchor AS (
  SELECT MAX(last_ts) AS a FROM per_key
)
SELECT user_id, last_ts,
       CAST((epoch_us(a) - epoch_us(last_ts)) // 3600000000 AS BIGINT)
         AS staleness_hours,
       CASE WHEN last_ts IS NULL THEN TRUE
            ELSE (epoch_us(a) - epoch_us(last_ts)) // 3600000000
                 > {FRESHNESS_SLA_HOURS} END AS is_stale
FROM per_key, anchor
"""

# --------------------------------------------------------------------------
# win_transitions — first-order Markov transition matrix
# --------------------------------------------------------------------------


def q_win_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_transitions`` — the event-type transition matrix with
    conditional probabilities
    (:func:`~..operators.timeseries.event_transitions`): one keyed lead
    window (ties pinned by event_id — an untiebroken lead would be
    run-dependent), then O(|types|²) counting aggregations."""
    return event_transitions(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        type_col="event_type",
        ts_col="ts",
        tiebreak_cols=["event_id"],
    )


_WIN_TRANSITIONS_ORACLE = """
WITH e AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS nxt
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
    AND event_id IS NOT NULL
), c AS (
  SELECT event_type AS from_type, nxt AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_transitions
  FROM e WHERE nxt IS NOT NULL GROUP BY 1, 2
), t AS (
  SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS total
  FROM c GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_transitions,
       ROUND(CAST(c.n_transitions AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
         AS p
FROM c JOIN t USING (from_type)
"""

# --------------------------------------------------------------------------

STAGED_R13_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "win_gap_sessions": q_win_gap_sessions,
    "corpus_mixture_sample": q_corpus_mixture_sample,
    "dq_freshness": q_dq_freshness,
    "win_transitions": q_win_transitions,
}

STAGED_R13_ORACLES: dict[str, str] = {
    "win_gap_sessions": _WIN_GAP_SESSIONS_ORACLE,
    "corpus_mixture_sample": _CORPUS_MIXTURE_ORACLE,
    "dq_freshness": _DQ_FRESHNESS_ORACLE,
    "win_transitions": _WIN_TRANSITIONS_ORACLE,
}
