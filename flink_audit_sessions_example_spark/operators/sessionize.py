"""Event-time session windows with denied-count aggregation — the core query.

Reference semantics (``App.java:126-134``):

- ``key_by_user``     — hash-partition by requesting user (``App.java:128``)
- ``win_session``     — event-time session windows with a configurable
  inactivity gap; merged window = [first event, last event + gap)
  (``App.java:129``)
- ``agg_denied_sum``  — per (user, session) sum of ``event_count`` over
  events whose ``result != 1`` (``AggregateDeniedCounts.java:5-34``;
  1 = allowed, anything else = denied)
- ``win_wrap_result`` — attach key + window bounds to the aggregate
  (``WrapUserAndWindowWithCount.java:7-21``)
- ``flt_nonzero``     — drop sessions with 0 denies (``App.java:132-133``)

Spark-first design: the whole pipeline is one declarative plan —
``groupBy(session_window(ts, gap), user).agg(sum(when(...)))`` — so Catalyst
plans partial (map-side) + final aggregation and the streaming state store
keeps the O(1) mergeable accumulator the reference hand-wrote. The only
shuffle is the exchange on the grouping key, exactly the reference's one
``keyBy`` shuffle. At 100 TB the session-window aggregation shuffles once on
(user) and AQE handles skewed users; no event buffering beyond what session
merge requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_event_time(
    df: DataFrame, time_col: str, watermark_delay: str | None
) -> DataFrame:
    """``time_watermark`` — event-time + watermark assignment.

    Reference: 2-day bounded out-of-orderness (``App.java:55-59``). In Spark
    this is ``withWatermark`` on a streaming DataFrame; on a batch DataFrame
    watermarks are meaningless (the data is complete) so this is a no-op —
    the same operator works in both modes.
    """
    if watermark_delay is not None and df.isStreaming:
        return df.withWatermark(time_col, watermark_delay)
    return df


def sessionize_denied_counts(
    df: DataFrame,
    *,
    user_col: str,
    time_col: str,
    denied: Column,
    weight: Column,
    gap_seconds: int,
    watermark_delay: str | None = None,
    user_alias: str = "reqUser",
    count_alias: str = "denies",
) -> DataFrame:
    """The reference's core query as one declarative Spark plan.

    Generic over column names so the same operator serves the Ranger audit
    schema (``reqUser``/``evtTime``/``result``/``event_count``) and the
    driver's ``events`` table (``user_id``/``ts``/``event_type``/``value``).

    Semantics (validated by the golden fixture from
    ``TestAuditSession.java:35-81``):

    - rows with a null user are dropped *before* the shuffle
      (``App.java:52-53`` — early filter; Catalyst would push it anyway);
    - a session window is [first event, last event + gap): every event
      spawns [ts, ts+gap) and overlapping windows per user merge — Spark's
      ``session_window`` (3.2+) has identical merge semantics to Flink's
      ``EventTimeSessionWindows.withGap``;
    - allowed events join (and can extend) a session but contribute 0;
    - sessions whose denied count is 0 are dropped (HAVING).
    """
    gap = f"{int(gap_seconds)} seconds"
    keyed = with_event_time(
        df.where(F.col(user_col).isNotNull()), time_col, watermark_delay
    )
    return (
        keyed.groupBy(
            F.session_window(F.col(time_col), gap).alias("session_window"),
            F.col(user_col).alias(user_alias),
        )
        .agg(
            F.sum(F.when(denied, weight).otherwise(F.lit(0))).alias(count_alias)
        )
        .where(F.col(count_alias) != 0)
        .select(
            F.col(user_alias),
            F.col(count_alias),
            F.col("session_window.start").alias("start"),
            F.col("session_window.end").alias("end"),
        )
    )


def audit_denied_sessions(
    audits: DataFrame,
    gap_seconds: int,
    watermark_delay: str | None = None,
) -> DataFrame:
    """``extractDeniedAuditCountsUserSession`` (``App.java:126-134``) on the
    Ranger audit schema: denied = ``result != 1``, weighted by
    ``event_count``.

    ``Audit.result`` / ``Audit.event_count`` are *primitive* ints in the
    reference (``Audit.java:23,34``) — a missing JSON key deserializes to 0,
    i.e. denied with weight 0 events. Spark's ``from_json`` yields NULL for
    missing keys, so both columns are coalesced to 0 to match.
    """
    return sessionize_denied_counts(
        audits,
        user_col="reqUser",
        time_col="evtTime",
        denied=F.coalesce(F.col("result"), F.lit(0)) != 1,
        weight=F.coalesce(F.col("event_count"), F.lit(0)),
        gap_seconds=gap_seconds,
        watermark_delay=watermark_delay,
    )
