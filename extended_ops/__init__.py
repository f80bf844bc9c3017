"""extended_ops — the extended operator surface, kept apart from the
audit pipeline.

The audit package (:mod:`flink_audit_sessions_example_spark`) holds only
what the reference pipeline reaches: the file source, the sessionizer,
the streaming job and the 11 SURVEY.md §2 registry keys. Everything
else the engine grew — dedup / similarity / text / corpus / sketch /
time-series operators, their ~215 registry keys, the hand-written
streaming state machines and the parquet sinks — lives here, imports the
audit package but is never imported by it.

Layout mirrors the audit package:

- :mod:`.operators`  — batch operators (``DataFrame -> DataFrame``)
- :mod:`.plans`      — the extended registry, merged with the 11 core keys
- :mod:`.streaming`  — extended streaming operators
- :mod:`.sources`    — a spreading table loader and the parquet sinks
"""
