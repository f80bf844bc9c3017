"""Operators — pure ``DataFrame -> DataFrame`` transforms.

The reference's session core (SURVEY.md §2): per-user event-time session
windows with a denied-count aggregate, streaming-compatible.
"""

from .sessionize import (  # noqa: F401
    WATERMARK_DELAY,
    audit_denied_sessions,
)
