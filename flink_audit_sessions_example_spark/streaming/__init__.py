"""Structured Streaming surface — the reference's native (continuous) mode.

The batch operators in :mod:`..operators` and :mod:`..sources` are pure
``DataFrame -> DataFrame`` transforms, so this package only adds the
streaming-specific edges: the ``readStream`` composition, sink dispatch
(console / Kafka inside ``start_session_query``; memory / ``foreachBatch``
for tests and twins), and the query lifecycle (``App.java:136-162``'s
``main``). Sessions come from Spark's built-in ``withWatermark`` +
``session_window``; there is no hand-written state machine.
"""

from .pipeline import (
    start_session_query,
    stream_denied_sessions,
    write_memory,
)

__all__ = [
    "stream_denied_sessions",
    "start_session_query",
    "write_memory",
]
