"""Registered queries with DuckDB oracles.

Every query is a pure function ``(spark, sf_dir) -> DataFrame`` over the
driver's parquet tables. Keys follow SURVEY.md §2's operator inventory; the
session keys feed the ``events`` table through :func:`_events_as_audits`
(FIXTURES.md §3) into the same operator and formatter as the real job.

Oracle-matching rules observed throughout:

- every computed column is aliased identically in the Spark plan and the
  SQL (the driver hashes columns sorted by name);
- money/double aggregates are cast to DECIMAL before summing on BOTH sides
  so results are exact and order-independent (float summation order would
  otherwise differ between engines);
- DuckDB's ``SUM(BIGINT) -> HUGEINT`` widening is normalized with explicit
  ``CAST(... AS BIGINT)``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.formatting import format_session_result
from ..operators.sessionize import (
    WATERMARK_DELAY,
    audit_denied_sessions,
    denied_count,
)
from ..sources.audit_source import read_audit_lines, read_audits, with_file_date
from ..sources.audit_tree import audit_tree_path
from ..sources.tables import load_table

#: Session gap used by all event-session queries (readme.md:8 uses 600 s).
GAP_SECONDS = 600


def _events_as_audits(events: DataFrame) -> DataFrame:
    """The ``events`` table as audit records (FIXTURES.md §3): ``user_id`` →
    ``reqUser``, ``ts`` → ``evtTime``, an ``'error'`` event is denied
    (``result`` 0, else 1), and ``floor(value)`` is the ``event_count`` —
    integral, so sums are exact and order-independent in both engines."""
    return events.select(
        F.col("user_id").alias("reqUser"),
        F.col("ts").alias("evtTime"),
        F.when(F.col("event_type") == "error", 0).otherwise(1).alias("result"),
        F.floor(F.col("value")).alias("event_count"),
    )


def _event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(reqUser, denies, start, end)`` sessions of the ``events`` table."""
    return audit_denied_sessions(
        _events_as_audits(load_table(spark, sf_dir, "events")),
        gap_seconds=GAP_SECONDS,
    )


# --------------------------------------------------------------------------
# Reference pipeline operators on the `events` table (SURVEY.md §2)
# --------------------------------------------------------------------------


def q_win_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_session`` + ``agg_denied_sum`` + ``flt_nonzero`` — the flagship:
    per-user event-time session windows (gap 600 s), denied-weight sum,
    HAVING != 0. Reference core ``App.java:126-134``.
    """
    return _event_sessions(spark, sf_dir).withColumnRenamed("reqUser", "user_id")


#: Gaps-and-islands sessionization — DuckDB has no session_window, so the
#: oracle derives sessions from lag() gaps. Session end = last event + gap
#: (Flink merges per-event [ts, ts+gap) windows; Spark defines
#: session_window identically — SURVEY.md §4 delta 2).
_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN event_type = 'error' THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END AS w,
         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL {GAP_SECONDS} SECOND
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WHERE user_id IS NOT NULL
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT user_id,
       CAST(SUM(w) AS BIGINT) AS denies,
       MIN(ts) AS start,
       MAX(ts) + INTERVAL {GAP_SECONDS} SECOND AS "end"
FROM sess
GROUP BY user_id, sess_id
HAVING CAST(SUM(w) AS BIGINT) <> 0
"""


def q_win_wrap_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_wrap_result`` — window post-processing
    (``WrapUserAndWindowWithCount.java:7-21``): attach key + window bounds,
    here additionally projected to epoch-millis bounds as the reference's
    sink format does (``App.java:72-73``).
    """
    sessions = q_win_session(spark, sf_dir)
    return sessions.select(
        F.col("user_id"),
        F.col("denies"),
        # cast: unix_millis needs LTZ; ts may decode as NTZ (see formatting.py)
        F.unix_millis(F.col("start").cast("timestamp")).alias("start_ms"),
        F.unix_millis(F.col("end").cast("timestamp")).alias("end_ms"),
    )


_WRAP_ORACLE = f"""
WITH base AS ({_SESSION_ORACLE})
SELECT user_id, denies,
       CAST(epoch_ms(start) AS BIGINT) AS start_ms,
       CAST(epoch_ms("end") AS BIGINT) AS end_ms
FROM base
"""


def q_xform_format_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_format_string`` — the reference's sink projection
    ``user='%s' denies=%d start=%d end=%d`` (``App.java:69-73``)."""
    return format_session_result(_event_sessions(spark, sf_dir))


_FORMAT_ORACLE = f"""
WITH base AS ({_SESSION_ORACLE})
SELECT printf('user=''%s'' denies=%d start=%d end=%d',
              CAST(user_id AS VARCHAR), denies,
              CAST(epoch_ms(start) AS BIGINT),
              CAST(epoch_ms("end") AS BIGINT)) AS value
FROM base
"""


def q_flt_valid_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``flt_valid_user`` — drop records with a null key / null payload
    before the shuffle (``App.java:52-53``)."""
    events = load_table(spark, sf_dir, "events")
    return events.where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_id", "user_id", "event_type")


_FLT_VALID_ORACLE = """
SELECT event_id, user_id, event_type
FROM events
WHERE user_id IS NOT NULL AND event_type IS NOT NULL
"""


def q_key_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``key_by_user`` — hash-partition by user (``App.java:128``); the
    observable semantics of the shuffle is the per-key grouping."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_KEY_BY_ORACLE = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
"""


def q_agg_denied_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_denied_sum`` — the incremental UDAF collapsed to pure Catalyst:
    sum of weight over denied events (``AggregateDeniedCounts.java:5-34``),
    here per user without windows to isolate the aggregation semantics."""
    audits = _events_as_audits(load_table(spark, sf_dir, "events"))
    return (
        audits.where(F.col("reqUser").isNotNull())
        .groupBy(F.col("reqUser").alias("user_id"))
        .agg(denied_count().alias("denies"))
    )


_AGG_DENIED_ORACLE = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(FLOOR(value) AS BIGINT) ELSE 0 END) AS BIGINT) AS denies
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
"""


def q_flt_nonzero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``flt_nonzero`` — post-aggregation HAVING (``App.java:132-133``)."""
    return q_agg_denied_sum(spark, sf_dir).where(F.col("denies") != 0)


_FLT_NONZERO_ORACLE = f"""
SELECT * FROM ({_AGG_DENIED_ORACLE}) WHERE denies <> 0
"""


def q_xform_parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_parse_json`` — lenient JSON parse (``Audit.java:39-47``)
    exercised on the ``events.props`` JSON column: permissive ``from_json``,
    malformed rows -> null, extracted field aggregated."""
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        F.from_json(F.col("props"), "k INT", {"mode": "PERMISSIVE"}).alias("p"),
    )
    return (
        parsed.where(F.col("p").isNotNull())
        .select("event_id", F.col("p.k").alias("k"))
    )


_PARSE_JSON_ORACLE = """
SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
FROM events
WHERE json_valid(props)
"""


def q_time_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``time_watermark`` — the batch-observable face of the 2-day bounded
    out-of-orderness bound (``App.java:55-59``): drop events older than
    (max event time - 2 days), i.e. what a final watermark would discard."""
    events = load_table(spark, sf_dir, "events")
    cutoff = events.agg(
        (F.max("ts") - F.expr(f"INTERVAL {WATERMARK_DELAY}")).alias("cutoff")
    )
    return (
        events.join(F.broadcast(cutoff))
        .where(F.col("ts") >= F.col("cutoff"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_late_window"))
    )


_WATERMARK_ORACLE = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_late_window
FROM events
WHERE ts >= (SELECT MAX(ts) - INTERVAL 2 DAY FROM events)
GROUP BY event_type
"""


def q_src_file_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``src_file_monitor`` + ``xform_parse_json`` + ``flt_valid_user`` on a
    real on-disk JSONL tree (``App.java:36-53``): the events table is
    materialized once into the reference's ``YYYYMMDD/`` layout
    (sources/audit_tree.py), scanned back with the recursive text source,
    leniently parsed, and aggregated by allow/deny result."""
    audits = read_audits(spark, audit_tree_path(sf_dir))
    return audits.groupBy("result").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("event_count").cast("bigint")).alias("total_count"),
    )


_SRC_MONITOR_ORACLE = """
SELECT CASE WHEN event_type = 'error' THEN 0 ELSE 1 END AS result,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(FLOOR(value) AS BIGINT)) AS BIGINT) AS total_count
FROM events
WHERE user_id IS NOT NULL
GROUP BY 1
"""


def q_src_file_datefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``src_file_datefilter`` — date-directory pruning
    (``DateFileFilter.java:11-39``): scan the same tree keeping only
    ``YYYYMMDD`` dirs >= 2024-01-15, count raw lines per kept day."""
    path = audit_tree_path(sf_dir)
    lines = with_file_date(read_audit_lines(spark, path, "20240115"), path)
    return lines.groupBy("file_date").agg(F.count(F.lit(1)).alias("n_lines"))


_SRC_DATEFILTER_ORACLE = """
SELECT strftime(ts, '%Y%m%d') AS file_date,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM events
WHERE strftime(ts, '%Y%m%d') >= '20240115'
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "src_file_monitor": q_src_file_monitor,
    "src_file_datefilter": q_src_file_datefilter,
    "win_session": q_win_session,
    "win_wrap_result": q_win_wrap_result,
    "xform_format_string": q_xform_format_string,
    "flt_valid_user": q_flt_valid_user,
    "key_by_user": q_key_by_user,
    "agg_denied_sum": q_agg_denied_sum,
    "flt_nonzero": q_flt_nonzero,
    "xform_parse_json": q_xform_parse_json,
    "time_watermark": q_time_watermark,
}

ORACLES: dict[str, str] = {
    "src_file_monitor": _SRC_MONITOR_ORACLE,
    "src_file_datefilter": _SRC_DATEFILTER_ORACLE,
    "win_session": _SESSION_ORACLE,
    "win_wrap_result": _WRAP_ORACLE,
    "xform_format_string": _FORMAT_ORACLE,
    "flt_valid_user": _FLT_VALID_ORACLE,
    "key_by_user": _KEY_BY_ORACLE,
    "agg_denied_sum": _AGG_DENIED_ORACLE,
    "flt_nonzero": _FLT_NONZERO_ORACLE,
    "xform_parse_json": _PARSE_JSON_ORACLE,
    "time_watermark": _WATERMARK_ORACLE,
}


def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The driver smoke-check query (entry())."""
    return q_win_session(spark, sf_dir)
