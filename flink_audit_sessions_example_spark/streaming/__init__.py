"""Structured Streaming surface — the reference's native (continuous) mode.

The batch operators in :mod:`..operators` and :mod:`..sources` are pure
``DataFrame -> DataFrame`` transforms, so this package only adds the
streaming-specific edges: the ``readStream`` composition, watermarking,
sink dispatch (console / Kafka / memory / ``foreachBatch``), and the query
lifecycle (``App.java:136-162``'s ``main``). Sessions come from Spark's
built-in ``withWatermark`` + ``session_window``; there is no hand-written
state machine.
"""

from .pipeline import (
    start_session_query,
    stream_denied_sessions,
    write_console,
    write_kafka,
    write_memory,
)

__all__ = [
    "stream_denied_sessions",
    "start_session_query",
    "write_console",
    "write_kafka",
    "write_memory",
]
