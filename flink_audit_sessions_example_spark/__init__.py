"""flink_audit_sessions_example_spark — the reference audit-session job on Spark.

A PySpark re-expression of the reference (WillDyson/flink-audit-sessions-example
— a Flink streaming job that sessionizes Ranger audit logs by user and counts
denied events per session), Spark-first:

- every operator is a pure ``DataFrame -> DataFrame`` transform that works
  identically under ``spark.read`` (batch) and ``spark.readStream``
  (Structured Streaming);
- declarative logical plans only — Catalyst plans the physical execution
  (partial aggregation, shuffle placement, predicate pushdown, whole-stage
  codegen); no RDDs and no row-at-a-time Python in the hot path;
- the file source, watermark and session windows are Spark built-ins
  (``readStream.text``, ``withWatermark``, ``session_window``).

Package layout:

- :mod:`.schemas`    — the typed Ranger audit record schema
- :mod:`.config`     — Java-properties config loader (reference parity)
- :mod:`.sources`    — file/JSON-lines sources with date pruning
- :mod:`.operators`  — per-user session windows with the denied count
- :mod:`.functions`  — the sink-side result formatting
- :mod:`.streaming`  — streaming pipeline assembly + sinks
- :mod:`.plans`      — the 11 reference keys exported via ``__spark_entry__``

The extended operator surface lives outside this package, in the
top-level ``extended_ops`` package, which imports this one and is never
imported by it.
"""

__version__ = "0.1.0"
