"""Audit-log file source: recursive text scan, date pruning, JSON parse.

Reference surface:

- ``src_file_monitor`` — recursive continuous text-file source re-polled
  every ``audit.poll`` seconds (``App.java:36-47``). Spark's file stream
  source discovers new files per micro-batch, so the poll interval becomes
  the trigger interval; the batch analog is ``spark.read.text``.
- ``src_file_datefilter`` — skips directories whose basename parses as
  ``YYYYMMDD`` older than ``audit.min_date``; non-date path components are
  always kept (``DateFileFilter.java:11-39``). The rule is
  :func:`_is_pruned`, applied to every directory below ``audit.path``
  (never to the root's own components). Batch reads apply it while
  listing; the streaming source applies it as a filter on
  ``_metadata.file_path``, because new date dirs appear after the query
  starts. Hidden/underscore names are skipped, matching Flink's default
  filter and Spark's own listing.
- ``xform_parse_json`` — lenient per-line JSON parse; malformed line → null
  record; unknown keys ignored (``Audit.java:39-47``).
- ``flt_valid_user`` — drop unparseable records and null ``reqUser``
  (``App.java:52-53``).

Scale note: with ``min_date`` set, a batch read walks the tree once,
before the job starts, through the root's Hadoop ``FileSystem`` (so HDFS
and S3 roots work) and never lists or opens a pruned dir. Spark gets the
smallest path set that covers what is kept: a dir with nothing pruned
beneath it is one path, so Spark's distributed listing job (over 32 root
paths) stays off for the usual one-level date layout. Without
``min_date`` the read is a plain recursive scan of the root.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import _is_basic_iso_date
from ..schemas import AUDIT_JSON_OPTIONS, AUDIT_SCHEMA


def _is_pruned(name: str, min_date: str) -> bool:
    """``DateFileFilter``'s rule for one directory basename
    (``DateFileFilter.java:19-38``): prune a real ``BASIC_ISO_DATE`` older
    than ``min_date``; a name that does not parse as a date is kept."""
    return _is_basic_iso_date(name) and name < min_date


def _is_date_col(name: Column) -> Column:
    """Column twin of ``_is_basic_iso_date``. ``try_`` because Spark runs
    with ANSI on, where ``to_date('20241399')`` raises."""
    return name.rlike("^[0-9]{8}$") & F.try_to_timestamp(
        name, F.lit("yyyyMMdd")
    ).isNotNull()


def _hadoop_root(spark: SparkSession, path: str):
    """The Hadoop ``FileSystem`` of ``path`` and ``path`` qualified by it."""
    root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, fs.makeQualified(root)


def _kept_paths(fs, root, min_date: str) -> list:
    """Walk ``root`` once, never listing a pruned dir, and return the
    smallest list of paths that covers every kept file: ``[root]``
    when nothing is pruned, ``[]`` when everything is."""

    def walk(d):
        files, dirs, whole = [], [], True
        for status in fs.listStatus(d):
            path = status.getPath()
            name = path.getName()
            if name.startswith((".", "_")):
                continue
            if not status.isDirectory():
                files.append(path)
            elif _is_pruned(name, min_date):
                whole = False
            else:
                kept, kept_whole = walk(path)
                dirs += kept
                whole = whole and kept_whole
        return ([d], True) if whole else (files + dirs, False)

    # Spark reads each path as a glob pattern, so escape the listed names
    return [
        re.sub(r"([\\{}\[\]*?])", r"\\\1", p.toString())
        for p in walk(root)[0]
    ]


def _dirs_below(spark: SparkSession, path: str) -> Column:
    """The directory names between ``path`` and each row's file, outermost
    first. Only slashes are counted, so the scheme, authority and
    percent-encoding of ``_metadata.file_path`` need not match ``path``."""
    _, root = _hadoop_root(spark, path)
    depth = root.toUri().getRawPath().rstrip("/").count("/") + 1
    parts = F.split(
        F.regexp_replace("_metadata.file_path", "^[^:/]+:(//[^/]*)?", ""), "/"
    )
    return F.filter(parts, lambda _, i: (i >= depth) & (i < F.size(parts) - 1))


def with_file_date(lines: DataFrame, path: str) -> DataFrame:
    """Attach ``file_date``: the nearest directory below ``path`` whose name
    is a real ``YYYYMMDD`` date, null when there is none
    (``DateFileFilter.java:24-33``)."""
    dated = F.filter(_dirs_below(lines.sparkSession, path), _is_date_col)
    return lines.withColumn("file_date", F.try_element_at(dated, F.lit(-1)))


def read_audit_lines(
    spark: SparkSession, path: str, min_date: str | None = None
) -> DataFrame:
    """Batch: recursive text scan of the audit tree (one row per line),
    date dirs older than ``min_date`` pruned while listing."""
    reader = spark.read.format("text").option("recursiveFileLookup", "true")
    if min_date is None:
        return reader.load(path)
    fs, root = _hadoop_root(spark, path)
    return reader.load(_kept_paths(fs, root, min_date))


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
    lines = reader.load(path)
    if min_date is None:
        return lines
    pruned = F.exists(
        _dirs_below(spark, path), lambda d: _is_date_col(d) & (d < min_date)
    )
    return lines.where(~pruned)


def parse_audit_json(lines: DataFrame) -> DataFrame:
    """``xform_parse_json`` + ``flt_valid_user``.

    ``from_json`` in PERMISSIVE mode follows the reference's lenient
    Jackson config (``Audit.java:40,44-45``): unknown keys ignored,
    malformed row → null struct, missing keys → null fields. The timestamp
    options preserve ``yyyy-MM-dd HH:mm:ss.SSS`` (``Audit.java:17``), read
    in UTC whatever the session time zone.
    Null records and null ``reqUser`` are dropped (``App.java:52-53``).

    It is not exact (ROADMAP item 2): a field of the wrong type keeps the
    record with only that field null, where Jackson drops the record;
    quoted or float scalars (``"result":"1"``, ``2.7``) are not coerced
    and read as null; and a numeric ``evtTime`` is read as epoch seconds,
    where Jackson reads epoch millis.
    """
    parsed = lines.select(
        F.from_json(F.col("value"), AUDIT_SCHEMA, AUDIT_JSON_OPTIONS).alias(
            "audit"
        )
    )
    return (
        parsed.where(
            F.col("audit").isNotNull() & F.col("audit.reqUser").isNotNull()
        )
        .select("audit.*")
    )


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
