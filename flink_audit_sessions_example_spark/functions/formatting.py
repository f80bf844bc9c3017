"""``xform_format_string`` — the reference's sink-side string projection.

``App.java:69-73`` (stdout) and ``App.java:102-106`` (Kafka) both format
each session of :func:`..operators.sessionize.audit_denied_sessions` as
``user='%s' denies=%d start=%d end=%d`` with epoch-millis window bounds.
Pure Catalyst ``format_string`` — no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def format_session_result(sessions: DataFrame) -> DataFrame:
    """Project ``(reqUser, denies, start, end)`` sessions to the reference's
    single-string sink format, one ``value`` column."""

    def millis(c: str) -> Column:
        # unix_millis accepts only TIMESTAMP (LTZ); the cast makes the
        # projection agnostic to whether the source column decoded as NTZ
        # (parquet isAdjustedToUTC=false) or LTZ — identical epoch under
        # the engine's UTC session timezone either way
        return F.unix_millis(F.col(c).cast("timestamp"))

    return sessions.select(
        F.format_string(
            "user='%s' denies=%d start=%d end=%d",
            F.col("reqUser"),
            F.col("denies").cast("long"),
            millis("start"),
            millis("end"),
        ).alias("value")
    )
