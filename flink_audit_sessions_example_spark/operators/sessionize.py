"""Event-time session windows with denied-count aggregation — the core query.

Reference semantics (``App.java:126-134``):

- ``time_watermark``  — 2-day bounded out-of-orderness on ``evtTime``
  (``App.java:55-59``), :data:`WATERMARK_DELAY`
- ``key_by_user``     — hash-partition by requesting user (``App.java:128``)
- ``win_session``     — event-time session windows with a configurable
  inactivity gap; merged window = [first event, last event + gap)
  (``App.java:129``)
- ``agg_denied_sum``  — per (user, session) sum of ``event_count`` over
  events whose ``result != 1`` (``AggregateDeniedCounts.java:5-34``;
  1 = allowed, anything else = denied), :func:`denied_count`
- ``win_wrap_result`` — attach key + window bounds to the aggregate
  (``WrapUserAndWindowWithCount.java:7-21``)
- ``flt_nonzero``     — drop sessions with 0 denies (``App.java:132-133``)

Spark-first design: the whole pipeline is one declarative plan —
``groupBy(session_window(evtTime, gap), reqUser).agg(denied_count())`` —
and the streaming state store keeps the O(1) mergeable accumulator the
reference hand-wrote. The only shuffle is the exchange on the user key,
exactly the reference's one ``keyBy`` shuffle, and
:func:`session_partitions` sizes it: one partition per core, in batch
(here) and in every stream the engine starts (``streaming/pipeline.py``).
Spark's default of 200 makes every batch map task write 200 shuffle files
and every micro-batch load and commit 200 state stores, whatever the data
size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: The reference's hard-coded bounded out-of-orderness (``App.java:57``).
WATERMARK_DELAY = "2 days"


def session_partitions(spark: SparkSession) -> int:
    """Partition count of the session shuffle: one per core of the
    cluster. A streaming checkpoint keeps the count it was first started
    with, so an older checkpoint resumes at its own count."""
    return spark.sparkContext.defaultParallelism


def denied_count() -> Column:
    """``AggregateDeniedCounts`` (``AggregateDeniedCounts.java:5-34``): the
    sum of ``event_count`` over denied audits (``result != 1``).

    ``Audit.result`` / ``Audit.event_count`` are *primitive* ints in the
    reference (``Audit.java:23,34``) — a missing JSON key deserializes to 0,
    i.e. denied with weight 0 events. Spark's ``from_json`` yields NULL for
    missing keys, so both columns are coalesced to 0 to match.
    """
    denied = F.coalesce(F.col("result"), F.lit(0)) != 1
    weight = F.coalesce(F.col("event_count"), F.lit(0))
    return F.sum(F.when(denied, weight).otherwise(F.lit(0)))


def audit_denied_sessions(audits: DataFrame, gap_seconds: int) -> DataFrame:
    """``extractDeniedAuditCountsUserSession`` (``App.java:126-134``) on the
    Ranger audit schema: ``(reqUser, denies, start, end)``.

    Semantics (validated by the golden fixture from
    ``TestAuditSession.java:35-81``):

    - rows with a null user are dropped *before* the shuffle
      (``App.java:52-53`` — early filter; Catalyst would push it anyway);
    - a streaming input is watermarked on ``evtTime`` by
      :data:`WATERMARK_DELAY`; on a batch input watermarks are meaningless
      (the data is complete), so the same operator serves both modes;
    - a batch input is hash-partitioned on ``reqUser`` into
      :func:`session_partitions` partitions; that is the plan's one
      exchange (a stream's count is set where the query starts);
    - a session window is [first event, last event + gap): every event
      spawns [ts, ts+gap) and overlapping windows per user merge — Spark's
      ``session_window`` (3.2+) has identical merge semantics to Flink's
      ``EventTimeSessionWindows.withGap``;
    - allowed events join (and can extend) a session but contribute 0;
    - sessions whose denied count is 0 are dropped (HAVING).
    """
    keyed = audits.where(F.col("reqUser").isNotNull())
    if keyed.isStreaming:
        keyed = keyed.withWatermark("evtTime", WATERMARK_DELAY)
    else:
        keyed = keyed.repartition(
            session_partitions(keyed.sparkSession), "reqUser"
        )
    return (
        keyed.groupBy(
            F.session_window(F.col("evtTime"), f"{int(gap_seconds)} seconds")
            .alias("session_window"),
            F.col("reqUser").alias("reqUser"),
        )
        .agg(denied_count().alias("denies"))
        .where(F.col("denies") != 0)
        .select(
            F.col("reqUser"),
            F.col("denies"),
            F.col("session_window.start").alias("start"),
            F.col("session_window.end").alias("end"),
        )
    )
