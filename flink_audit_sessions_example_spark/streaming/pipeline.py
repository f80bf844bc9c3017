"""Streaming pipeline assembly + sinks — the ``App.main`` analog.

Reference pipeline (``App.java:136-162``):

    properties file → continuous file source (poll = ``audit.poll`` s)
      → JSON parse → user filter → 2-day watermark
      → per-user session windows (gap = ``session.duration`` s)
      → denied-count aggregate → count != 0
      → format string → Kafka (at-least-once) | stdout

Spark re-expression: one streaming DataFrame plan; the file stream source
discovers new files per micro-batch (trigger interval = the reference's
poll interval); ``withWatermark`` + ``session_window`` replace the
hand-written merge-able accumulator; the Kafka sink with a
``checkpointLocation`` gives the same at-least-once guarantee
(``DeliveryGuarantee.AT_LEAST_ONCE``, ``App.java:97``).

Streaming semantics notes (SURVEY.md §4 deltas):

- Append output mode emits a session only after the watermark passes its
  end — the exact analog of Flink firing the window when the watermark
  passes ``window.end``.
- Spark advances the watermark *between* micro-batches (global max event
  time − delay); Flink advances it periodically within the running job.
  Borderline-late events can differ; both engines drop events later than
  the bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import AppConfig
from ..functions.formatting import format_session_result
from ..operators.sessionize import audit_denied_sessions
from ..sources.audit_source import stream_audits


def stream_denied_sessions(
    spark: SparkSession,
    cfg: AppConfig,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The full streaming plan, unformatted: (reqUser, denies, start, end).

    Composition of ``src_file_monitor`` + ``src_file_datefilter`` +
    ``xform_parse_json`` + ``flt_valid_user`` (``readAuditsFromFS``,
    ``App.java:30-62``) and the session core
    (``extractDeniedAuditCountsUserSession``, ``App.java:126-134``).
    """
    audits = stream_audits(
        spark,
        cfg.audit_path,
        min_date=cfg.audit_min_date,
        max_files_per_trigger=max_files_per_trigger,
    )
    return audit_denied_sessions(
        audits,
        gap_seconds=cfg.session_gap_seconds,
        watermark_delay=cfg.watermark_delay,
    )


# --------------------------------------------------------------------------
# Sinks
# --------------------------------------------------------------------------


def write_console(
    df: DataFrame,
    *,
    checkpoint_dir: str,
    poll_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """``snk_stdout`` (``App.java:64-77``): append-mode console sink."""
    writer = (
        df.writeStream.format("console")
        .outputMode("append")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint_dir)
        .queryName("audit-denied-sessions-print")
    )
    writer = _with_trigger(writer, poll_seconds, available_now)
    return writer.start()


def kafka_sink_options(
    *, topic: str, kafka_options: dict[str, str], checkpoint_dir: str
) -> dict[str, str]:
    """The EXACT option map handed to the Kafka ``DataStreamWriter``.

    Contract (pinned by ``tests/test_streaming.py``): every
    ``kafka.``-prefixed property from the config passes through VERBATIM —
    the reference forwards all ``kafka.*`` properties to the producer
    (``App.java:112-124``) and Spark's Kafka sink consumes the identical
    prefix — plus the two Spark-required keys ``topic`` and
    ``checkpointLocation``. Pure function so the no-broker contract test
    and the real sink can never drift apart.
    """
    return {
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
        **kafka_options,
    }


def kafka_payload(df: DataFrame) -> DataFrame:
    """The EXACT projection the Kafka sink serializes — Spark's Kafka
    sink contract: a required ``value`` column plus an optional ``key``
    (message key → partition routing), both cast to string here. The
    reference serializes value-only (``App.java:89-96``, a
    SimpleStringSchema over the formatted result). Shared by
    :func:`write_kafka` and the no-broker file twin
    (:func:`write_kafka_file_twin`) so the two payloads can never
    drift — the twin's e2e test therefore pins the real sink's wire
    schema."""
    cols = []
    if "key" in df.columns:
        cols.append(F.col("key").cast("string").alias("key"))
    cols.append(F.col("value").cast("string").alias("value"))
    return df.select(*cols)


def write_kafka(
    df: DataFrame,
    *,
    topic: str,
    kafka_options: dict[str, str],
    checkpoint_dir: str,
    poll_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """``snk_kafka`` (``App.java:79-110``): at-least-once Kafka sink.

    ``df`` must carry a string ``value`` column (the formatted result;
    an optional ``key`` column becomes the message key). Options come
    from :func:`kafka_sink_options` (verbatim ``kafka.``-prefix
    pass-through). At-least-once comes from checkpointed offsets +
    non-transactional producer — the same guarantee as
    ``DeliveryGuarantee.AT_LEAST_ONCE``. See README for a manual broker
    smoke recipe (no broker exists in CI).
    """
    writer = (
        kafka_payload(df)
        .writeStream.format("kafka")
        .options(
            **kafka_sink_options(
                topic=topic,
                kafka_options=kafka_options,
                checkpoint_dir=checkpoint_dir,
            )
        )
        .queryName("audit-denied-sessions-kafka")
    )
    writer = _with_trigger(writer, poll_seconds, available_now)
    return writer.start()


def write_kafka_file_twin(
    df: DataFrame,
    *,
    out_dir: str,
    checkpoint_dir: str,
    poll_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """No-broker end-to-end twin of :func:`write_kafka` (the one
    reference surface — ``App.java:79-110`` — a brokerless sandbox
    cannot drive for real): the IDENTICAL payload projection
    (:func:`kafka_payload`) rides the identical delivery machinery
    (checkpointed source offsets + a per-micro-batch producer, here
    ``foreachBatch``) into parquet instead of a topic.

    Each micro-batch lands in ``out_dir/batch_id=<id>`` with
    mode=overwrite — the filesystem analog of the at-least-once
    contract: a batch redelivered after a crash/restart rewrites its
    own directory (idempotent), so the union view over ``out_dir``
    loses nothing across a checkpoint restart and duplicates nothing
    on replay. ``tests/test_sinks.py`` drives this twin through the
    full reference pipeline, including a restart from the same
    checkpoint."""
    import os

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        kafka_payload(batch_df).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch_id={batch_id}")
        )

    return write_foreach_batch(
        df,
        _emit,
        checkpoint_dir=checkpoint_dir,
        poll_seconds=poll_seconds,
        available_now=available_now,
        output_mode="append",
    )


def write_memory(
    df: DataFrame,
    *,
    query_name: str,
    available_now: bool = True,
) -> StreamingQuery:
    """``snk_collect`` (test sink, ``TestAuditSession.java:84-92``): results
    land in the in-memory table ``query_name`` for assertions."""
    writer = (
        df.writeStream.format("memory")
        .outputMode("append")
        .queryName(query_name)
    )
    writer = _with_trigger(writer, None, available_now)
    return writer.start()


def write_foreach_batch(
    df: DataFrame,
    batch_fn,
    *,
    checkpoint_dir: str,
    poll_seconds: int | None = None,
    available_now: bool = False,
    output_mode: str = "append",
) -> StreamingQuery:
    """``snk_foreach_batch`` — the escape-hatch sink for targets without
    a native streaming connector (JDBC upserts, multi-table fan-out,
    MERGE INTO): ``batch_fn(batch_df, batch_id)`` runs once per
    micro-batch with a BATCH DataFrame, so any batch writer works.

    Delivery is at-least-once (a failed batch re-runs with the SAME
    ``batch_id`` after restart from the checkpoint): the canonical
    pattern is an idempotent ``batch_fn`` keyed on ``batch_id`` —
    exactly the contract the reference's at-least-once Kafka sink gives
    downstream consumers (``App.java:97``)."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    writer = _with_trigger(writer, poll_seconds, available_now)
    return writer.start()


def _with_trigger(writer, poll_seconds: int | None, available_now: bool):
    if available_now:
        return writer.trigger(availableNow=True)
    if poll_seconds is not None:
        return writer.trigger(processingTime=f"{poll_seconds} seconds")
    return writer


# --------------------------------------------------------------------------
# App entry (``main``, App.java:136-162)
# --------------------------------------------------------------------------


def start_session_query(
    spark: SparkSession,
    cfg: AppConfig,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Assemble and start the full job; sink dispatch on
    ``cfg.session_output`` ∈ {"kafka", "print"} (``App.java:150-159``),
    checkpointed at ``cfg.checkpoint_dir``. ``cfg.validate()`` rejects any
    other sink, kafka without a topic, or a missing checkpoint, before the
    query is built."""
    cfg.validate()
    sessions = stream_denied_sessions(spark, cfg)
    formatted = format_session_result(sessions)
    if cfg.session_output == "kafka":
        return write_kafka(
            formatted,
            topic=cfg.kafka_topic,
            kafka_options=cfg.kafka_options,
            checkpoint_dir=cfg.checkpoint_dir,
            poll_seconds=cfg.audit_poll_seconds,
            available_now=available_now,
        )
    return write_console(
        formatted,
        checkpoint_dir=cfg.checkpoint_dir,
        poll_seconds=cfg.audit_poll_seconds,
        available_now=available_now,
    )
