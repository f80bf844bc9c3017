"""Streaming pipeline assembly + sinks — the ``App.main`` analog.

Reference pipeline (``App.java:136-162``):

    properties file → continuous file source (poll = ``audit.poll`` s)
      → JSON parse → user filter → 2-day watermark
      → per-user session windows (gap = ``session.duration`` s)
      → denied-count aggregate → count != 0
      → format string → Kafka (at-least-once) | stdout

Spark re-expression: one streaming DataFrame plan; the file stream source
discovers new files per micro-batch (trigger interval = the reference's
poll interval); the session operator
(:func:`..operators.sessionize.audit_denied_sessions`) watermarks a
streaming input itself, and ``withWatermark`` + ``session_window`` replace
the hand-written merge-able accumulator. :func:`start_session_query` builds
the console or Kafka sink; the Kafka sink with a ``checkpointLocation``
gives the same at-least-once guarantee (``DeliveryGuarantee.AT_LEAST_ONCE``,
``App.java:97``). The memory, ``foreachBatch`` and Kafka file-twin sinks
below serve tests and the benchmark. Every query starts through
:func:`_start`, which gives its session state one partition per core.

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
from ..operators.sessionize import audit_denied_sessions, session_partitions
from ..sources.audit_source import stream_audits

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


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
    return audit_denied_sessions(audits, gap_seconds=cfg.session_gap_seconds)


# --------------------------------------------------------------------------
# Sinks
# --------------------------------------------------------------------------


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
    """The EXACT projection the Kafka sink serializes: ``value`` alone,
    cast to string, as the reference writes it (``App.java:89-96``, a
    SimpleStringSchema over the formatted result). No message key, so
    Kafka picks the partition. Shared by :func:`start_session_query`'s
    Kafka sink and the no-broker file twin
    (:func:`write_kafka_file_twin`) so the two payloads can never
    drift — the twin's e2e test therefore pins the real sink's wire
    schema."""
    return df.select(F.col("value").cast("string").alias("value"))


def write_kafka_file_twin(
    df: DataFrame,
    *,
    out_dir: str,
    checkpoint_dir: str,
    poll_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """No-broker end-to-end twin of the Kafka sink (the one
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
    return _start(df, writer, None, available_now)


def write_foreach_batch(
    df: DataFrame,
    batch_fn,
    *,
    checkpoint_dir: str,
    poll_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """``snk_foreach_batch`` — the escape-hatch sink for targets without
    a native streaming connector (JDBC upserts, multi-table fan-out,
    MERGE INTO): ``batch_fn(batch_df, batch_id)`` runs once per
    micro-batch with a BATCH DataFrame of the rows appended in it, so
    any batch writer works.

    Delivery is at-least-once (a failed batch re-runs with the SAME
    ``batch_id`` after restart from the checkpoint): the canonical
    pattern is an idempotent ``batch_fn`` keyed on ``batch_id`` —
    exactly the contract the reference's at-least-once Kafka sink gives
    downstream consumers (``App.java:97``)."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    return _start(df, writer, poll_seconds, available_now)


def _start(
    df: DataFrame, writer, poll_seconds: int | None, available_now: bool
) -> StreamingQuery:
    """Apply the trigger and start ``writer``, the stream of ``df``, with
    :func:`session_partitions` shuffle partitions, so the session state
    has one store per core. ``start()`` clones ``df``'s session and the
    query keeps the clone's count, so the caller's
    ``spark.sql.shuffle.partitions`` is changed only while ``start()``
    runs. A checkpoint's count, frozen at its first start, still wins."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif poll_seconds is not None:
        writer = writer.trigger(processingTime=f"{poll_seconds} seconds")
    conf = df.sparkSession.conf
    caller = conf.get(_SHUFFLE_PARTITIONS, None)
    conf.set(_SHUFFLE_PARTITIONS, str(session_partitions(df.sparkSession)))
    try:
        return writer.start()
    finally:
        if caller is None:
            conf.unset(_SHUFFLE_PARTITIONS)
        else:
            conf.set(_SHUFFLE_PARTITIONS, caller)


# --------------------------------------------------------------------------
# App entry (``main``, App.java:136-162)
# --------------------------------------------------------------------------

#: The Kafka sink's provider; it ships in ``spark-sql-kafka-0-10``, not in
#: Spark's own jars.
_KAFKA_PROVIDER = "org.apache.spark.sql.kafka010.KafkaSourceProvider"


def _require_kafka_connector(spark: SparkSession) -> None:
    """Fail with the package to add when the Kafka connector is not on
    Spark's classpath; Spark's own error names only its integration guide."""
    jvm = spark.sparkContext._jvm
    if jvm.org.apache.spark.util.Utils.classIsLoadable(_KAFKA_PROVIDER):
        return
    scala = jvm.scala.util.Properties.versionNumberString().rsplit(".", 1)[0]
    raise RuntimeError(
        "session.output=kafka needs the Kafka connector, which is not on "
        "Spark's classpath: start the job with --packages "
        f"org.apache.spark:spark-sql-kafka-0-10_{scala}:{spark.version}"
    )


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
    query is built; kafka without the connector on Spark's classpath
    raises ``RuntimeError`` naming the package to add."""
    cfg.validate()
    formatted = format_session_result(stream_denied_sessions(spark, cfg))
    if cfg.session_output == "kafka":
        _require_kafka_connector(spark)
        # ``snk_kafka`` (App.java:79-110): at-least-once from checkpointed
        # offsets + a non-transactional producer, the same guarantee as
        # ``DeliveryGuarantee.AT_LEAST_ONCE``. No broker exists in CI; see
        # README for a manual smoke recipe.
        writer = (
            kafka_payload(formatted)
            .writeStream.format("kafka")
            .options(
                **kafka_sink_options(
                    topic=cfg.kafka_topic,
                    kafka_options=cfg.kafka_options,
                    checkpoint_dir=cfg.checkpoint_dir,
                )
            )
        )
    else:
        # ``snk_stdout`` (App.java:64-77): append-mode console sink
        writer = (
            formatted.writeStream.format("console")
            .outputMode("append")
            .option("truncate", "false")
            .option("checkpointLocation", cfg.checkpoint_dir)
        )
    writer = writer.queryName(f"audit-denied-sessions-{cfg.session_output}")
    return _start(formatted, writer, cfg.audit_poll_seconds, available_now)
