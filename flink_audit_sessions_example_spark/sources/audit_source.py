"""Audit-log file source: recursive text scan, date pruning, JSON parse.

Reference surface:

- ``src_file_monitor`` — recursive continuous text-file source re-polled
  every ``audit.poll`` seconds (``App.java:36-47``). Spark's file stream
  source discovers new files per micro-batch, so the poll interval becomes
  the trigger interval; the batch analog is ``spark.read.text``.
- ``src_file_datefilter`` — skips directories whose basename parses as
  ``YYYYMMDD`` older than ``audit.min_date``; non-date path components are
  always kept (``DateFileFilter.java:11-39``). Re-expressed as a column
  filter: ``file_date`` is the first ``/YYYYMMDD/`` component of
  ``input_file_name()``, and rows from older date dirs are dropped.
  Hidden/underscore files are skipped by Spark's file listing by default,
  matching Flink's default filter.
- ``xform_parse_json`` — lenient per-line JSON parse; malformed line → null
  record; unknown keys ignored (``Audit.java:39-47``).
- ``flt_valid_user`` — drop unparseable records and null ``reqUser``
  (``App.java:52-53``).

Scale note: the date filter runs after listing, not at it — every file
under ``audit.path`` is listed and opened, and the ``file_date`` filter
then drops the rows of older date dirs. Pruning the paths at listing time
with the reference's per-basename rule is ROADMAP.md item 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import AUDIT_JSON_OPTIONS, AUDIT_SCHEMA

#: Regex capturing a YYYYMMDD path component (BASIC_ISO_DATE,
#: ``DateFileFilter.java:27``) anywhere in the file path.
_DATE_COMPONENT = r"/((?:19|20)\d{6})/"


def with_file_date(df: DataFrame) -> DataFrame:
    """Attach ``file_date`` (YYYYMMDD string, nullable) parsed from the
    source file path — the declarative analog of ``DateFileFilter``'s
    per-path date extraction (``DateFileFilter.java:24-33``).
    """
    return df.withColumn(
        "file_date",
        F.regexp_extract(F.input_file_name(), _DATE_COMPONENT, 1),
    )


def _apply_min_date(
    lines: DataFrame, min_date: str | None, keep_file_date: bool = False
) -> DataFrame:
    """Keep files in date dirs >= min_date; keep non-date paths.

    Mirrors ``DateFileFilter.java:19-38``: a directory that does not parse
    as a date is NOT filtered (returns false → kept), and files in dated
    dirs are kept only when ``date >= min_date``.
    """
    if min_date is None and not keep_file_date:
        return lines
    lines = with_file_date(lines)
    if min_date is not None:
        lines = lines.where(
            (F.col("file_date") == "") | (F.col("file_date") >= min_date)
        )
    return lines if keep_file_date else lines.drop("file_date")


def read_audit_lines(
    spark: SparkSession,
    path: str,
    min_date: str | None = None,
    keep_file_date: bool = False,
) -> DataFrame:
    """Batch: recursive text scan of the audit tree (one row per line)."""
    lines = (
        spark.read.format("text")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    return _apply_min_date(lines, min_date, keep_file_date)


def stream_audit_lines(
    spark: SparkSession,
    path: str,
    min_date: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming: the ``PROCESS_CONTINUOUSLY`` analog (``App.java:43-47``) —
    Spark's file stream source picks up newly appearing files every
    micro-batch; pair with ``trigger(processingTime=f"{poll} seconds")`` for
    the reference's ``audit.poll`` cadence.

    **Appended-file delta (the one semantic the analog does NOT carry
    over):** Flink's ``PROCESS_CONTINUOUSLY`` re-processes an already
    -seen file when its modification time changes — appending to a
    monitored log RE-EMITS the whole file (hence the reference's
    duplicate caveat in the FileProcessingMode javadoc). Spark's file
    stream source instead treats every file as IMMUTABLE ONCE VISIBLE:
    a path is processed exactly once (tracked in the checkpoint's seen
    -files log) and later appends to it are silently ignored — neither
    re-emitted nor tailed. For audit trees written append-then-close
    this is the better contract (exactly-once per line, no dedup pass
    downstream), but a tree whose files are APPENDED IN PLACE needs
    the standard rotate-into-place recipe: writers append to a dotfile
    or sibling staging name the glob excludes (e.g. ``.inflight.log``)
    and ``rename(2)`` it to its final name on close/rotation — rename
    is atomic within a POSIX filesystem or an object-store prefix, so
    the source sees only complete, immutable files. Hourly log
    rotation (the layout ``with_file_date`` parses) satisfies this
    naturally: only the closed hour's file carries the final name.
    """
    reader = (
        spark.readStream.format("text")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return _apply_min_date(reader.load(path), min_date)


def parse_audit_json(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """``xform_parse_json`` + ``flt_valid_user``.

    ``from_json`` in PERMISSIVE mode reproduces the reference's lenient
    Jackson config exactly (``Audit.java:40,44-45``): unknown keys ignored,
    malformed row → null struct, missing keys → null fields. The timestamp
    format option preserves ``yyyy-MM-dd HH:mm:ss.SSS`` (``Audit.java:17``).
    Null records and null ``reqUser`` are dropped (``App.java:52-53``).
    """
    parsed = lines.select(
        F.from_json(F.col(value_col), AUDIT_SCHEMA, AUDIT_JSON_OPTIONS).alias(
            "audit"
        )
    )
    return (
        parsed.where(
            F.col("audit").isNotNull() & F.col("audit.reqUser").isNotNull()
        )
        .select("audit.*")
    )


def kafka_source_options(
    *,
    topic: str,
    kafka_options: dict[str, str],
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """The EXACT option map handed to the Kafka ``DataStreamReader``:
    ``subscribe`` + ``startingOffsets`` plus every ``kafka.``-prefixed
    config property VERBATIM — the same pass-through contract as
    :func:`..streaming.pipeline.kafka_sink_options` (``App.java:112-124``).
    Pure function, pinned by the no-broker contract test."""
    return {
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        **kafka_options,
    }


def stream_audits_from_kafka(
    spark: SparkSession,
    *,
    topic: str,
    kafka_options: dict[str, str],
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka *source* twin of the engine's Kafka sink: subscribe to the
    audit topic, treat each record value as one JSON audit line, parse
    leniently. The reference only reads files (``App.java:45``), but its
    deployment feeds Ranger audits through Kafka (``readme.md``), so a
    complete replacement needs the read side too. ``kafka_options`` uses
    the same ``kafka.``-prefix pass-through convention as the sink."""
    reader = spark.readStream.format("kafka").options(
        **kafka_source_options(
            topic=topic,
            kafka_options=kafka_options,
            starting_offsets=starting_offsets,
        )
    )
    lines = reader.load().selectExpr("CAST(value AS STRING) AS value")
    return parse_audit_json(lines)


def read_audits(
    spark: SparkSession, path: str, min_date: str | None = None
) -> DataFrame:
    """Batch composition: ``readAuditsFromFS`` (``App.java:30-62``) minus the
    watermark (batch data is complete)."""
    return parse_audit_json(read_audit_lines(spark, path, min_date))


def stream_audits(
    spark: SparkSession,
    path: str,
    min_date: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming composition of the same operators."""
    return parse_audit_json(
        stream_audit_lines(spark, path, min_date, max_files_per_trigger)
    )
