"""Operators — pure ``DataFrame -> DataFrame`` transforms.

The reference's session core (SURVEY.md §2): per-user event-time session
windows with a denied-count aggregate, streaming-compatible.
"""

from .sessionize import (  # noqa: F401
    sessionize_denied_counts,
    audit_denied_sessions,
    with_event_time,
)
