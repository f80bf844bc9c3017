"""Streaming end-to-end: file source → watermark → session windows → sink.

Port of the reference's mini-cluster test (``TestAuditSession.java:30-82``)
to Structured Streaming with an ``availableNow`` trigger and a memory sink.

Watermark mechanics under test: append mode emits a session only after the
watermark (max event time − 2 days) passes its end, so the fixture ships a
*flush* file — one allowed event 3 days later — in a second micro-batch
(``maxFilesPerTrigger=1``); the engine's no-data batch then finalizes both
fixture sessions. This is exactly Flink's "watermark passes window.end"
firing rule (SURVEY.md §4 delta 1).
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
from pathlib import Path

import pytest

from flink_audit_sessions_example_spark.config import AppConfig
from flink_audit_sessions_example_spark.streaming import (
    start_session_query,
    stream_denied_sessions,
    write_memory,
)


def _line(user, result, event_count, ts, **extra):
    rec = {
        "repoType": 9,
        "repo": "cm_kafka",
        "reqUser": user,
        "evtTime": ts,
        "result": result,
        "event_count": event_count,
        "seq_num": 1,
        **extra,
    }
    return json.dumps(rec)


@pytest.fixture
def audit_tree(tmp_path):
    """Dated audit dirs: a pruned-too-old day, the fixture day, the flush
    day, plus malformed/userless lines that the lenient parse must drop."""
    old = tmp_path / "20190101"
    day = tmp_path / "20220926"
    flush = tmp_path / "20220929"
    for d in (old, day, flush):
        d.mkdir()
    # pruned by min_date: would otherwise create a denied session
    (old / "audit.log").write_text(
        _line("ghost", 0, 99, "2019-01-01 09:00:00.000") + "\n"
    )
    (day / "audit.log").write_text(
        "\n".join(
            [
                _line("wdyson", 0, 10, "2022-09-26 10:00:00.000"),
                _line("wdyson", 1, 1, "2022-09-26 10:10:00.000", tags=["x"]),
                _line("bob", 0, 1, "2022-09-26 10:10:00.000"),
                _line("bob", 0, 1, "2022-09-26 10:20:00.000"),
                "{not valid json",  # malformed → null struct → dropped
                _line(None, 0, 5, "2022-09-26 10:05:00.000"),  # null user
                # Missing `result` key: the reference's primitive-int field
                # (Audit.java:23) deserializes to 0 → denied. Missing
                # `event_count` (Audit.java:34) → weight 0.
                json.dumps(
                    {
                        "repoType": 9,
                        "repo": "cm_kafka",
                        "reqUser": "carol",
                        "evtTime": "2022-09-26 10:00:00.000",
                        "event_count": 3,
                        "seq_num": 1,
                    }
                ),
                json.dumps(
                    {
                        "repoType": 9,
                        "repo": "cm_kafka",
                        "reqUser": "carol",
                        "evtTime": "2022-09-26 10:05:00.000",
                        "result": 0,
                        "seq_num": 1,
                    }
                ),
            ]
        )
        + "\n"
    )
    # flush: allowed-only (HAVING-filtered) event that advances the
    # watermark past both fixture windows' ends
    (flush / "audit.log").write_text(
        _line("flush", 1, 1, "2022-09-29 12:00:00.000") + "\n"
    )
    return tmp_path


def _cfg(audit_tree, **over):
    base = dict(
        audit_path=str(audit_tree),
        audit_min_date="20220101",
        session_gap_seconds=1200,
        session_output="print",
    )
    base.update(over)
    return AppConfig(**base)


def test_streaming_sessions_end_to_end(spark, audit_tree):
    sessions = stream_denied_sessions(
        spark, _cfg(audit_tree), max_files_per_trigger=1
    )
    assert sessions.isStreaming
    query = write_memory(sessions, query_name="t_stream_sessions")
    query.awaitTermination(120)
    rows = {r["reqUser"]: r for r in spark.table("t_stream_sessions").collect()}

    # ghost (pruned dir), null-user, malformed, and the allowed-only flush
    # session must all be absent; carol's missing-result lines count as
    # denied (primitive-int 0) with weights 3 + 0
    assert set(rows) == {"wdyson", "bob", "carol"}
    w = rows["wdyson"]
    assert w["denies"] == 10
    assert w["start"] == dt.datetime(2022, 9, 26, 10, 0, 0)
    assert w["end"] == dt.datetime(2022, 9, 26, 10, 30, 0)
    b = rows["bob"]
    assert b["denies"] == 2
    assert b["start"] == dt.datetime(2022, 9, 26, 10, 10, 0)
    assert b["end"] == dt.datetime(2022, 9, 26, 10, 40, 0)
    c = rows["carol"]
    assert c["denies"] == 3
    assert c["start"] == dt.datetime(2022, 9, 26, 10, 0, 0)
    assert c["end"] == dt.datetime(2022, 9, 26, 10, 25, 0)


def test_foreach_batch_sink_collects_sessions(spark, audit_tree, tmp_path):
    """``write_foreach_batch`` drives the same session pipeline into a
    driver-side callback: batch_fn receives BATCH DataFrames with the
    streaming result schema, and the union of batches equals the
    memory-sink answer (the at-least-once escape hatch for connector-less
    targets)."""
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        write_foreach_batch,
    )

    sessions = stream_denied_sessions(
        spark, _cfg(audit_tree), max_files_per_trigger=1
    )
    seen: list = []

    def batch_fn(batch_df, batch_id):
        assert not batch_df.isStreaming  # a plain batch DataFrame
        seen.extend(
            (r["reqUser"], r["denies"]) for r in batch_df.collect()
        )

    q = write_foreach_batch(
        sessions,
        batch_fn,
        checkpoint_dir=str(tmp_path / "fb-ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert sorted(seen) == [("bob", 2), ("carol", 3), ("wdyson", 10)]


def test_custom_state_sessionizer_matches_builtin(spark, audit_tree):
    """The applyInPandasWithState twin must produce the exact golden
    sessions the built-in session_window path produces (same merge,
    weighting, HAVING, and watermark-firing semantics)."""
    from flink_audit_sessions_example_spark.sources.audit_source import (
        stream_audits,
    )
    from extended_ops.streaming import (
        audit_denied_sessions_custom_state,
    )

    cfg = _cfg(audit_tree)
    audits = stream_audits(
        spark, cfg.audit_path, min_date=cfg.audit_min_date,
        max_files_per_trigger=1,
    )
    sessions = audit_denied_sessions_custom_state(
        audits, gap_seconds=cfg.session_gap_seconds,
        watermark_delay=cfg.watermark_delay,
    )
    query = write_memory(sessions, query_name="t_custom_state_sessions")
    query.awaitTermination(120)
    rows = {
        r["reqUser"]: r for r in spark.table("t_custom_state_sessions").collect()
    }
    assert set(rows) == {"wdyson", "bob", "carol"}
    w, b = rows["wdyson"], rows["bob"]
    c = rows["carol"]
    assert (c["denies"], c["start"], c["end"]) == (
        3,
        dt.datetime(2022, 9, 26, 10, 0, 0),
        dt.datetime(2022, 9, 26, 10, 25, 0),
    )
    assert (w["denies"], w["start"], w["end"]) == (
        10,
        dt.datetime(2022, 9, 26, 10, 0, 0),
        dt.datetime(2022, 9, 26, 10, 30, 0),
    )
    assert (b["denies"], b["start"], b["end"]) == (
        2,
        dt.datetime(2022, 9, 26, 10, 10, 0),
        dt.datetime(2022, 9, 26, 10, 40, 0),
    )


def test_start_session_query_print_path(spark, audit_tree, tmp_path):
    """The full ``main`` dispatch (``App.java:150-159``), print branch,
    runs to completion on an availableNow trigger."""
    query = start_session_query(
        spark,
        _cfg(audit_tree, checkpoint_dir=str(tmp_path / "ckpt")),
        available_now=True,
    )
    query.awaitTermination(120)
    assert query.exception() is None


def test_start_session_query_rejects_bad_sink(spark, audit_tree, tmp_path):
    with pytest.raises(ValueError, match="kafka' or 'print"):
        start_session_query(
            spark,
            _cfg(
                audit_tree,
                session_output="elastic",
                checkpoint_dir=str(tmp_path / "ckpt2"),
            ),
            available_now=True,
        )


def test_kafka_sink_requires_topic(spark, audit_tree, tmp_path):
    with pytest.raises(ValueError, match="kafka.topic"):
        start_session_query(
            spark,
            _cfg(
                audit_tree,
                session_output="kafka",
                checkpoint_dir=str(tmp_path / "ckpt3"),
            ),
            available_now=True,
        )


def test_kafka_option_contract_reference_passthrough(tmp_path):
    """No-broker contract test for the Kafka boundary (``App.java:112-124``
    parity): a reference-style properties file's ``kafka.``-prefixed keys
    reach the DataStreamWriter/DataStreamReader option maps VERBATIM —
    including SASL_SSL security settings — alongside exactly the
    Spark-required keys, and ``kafka.topic`` routes to ``topic``/
    ``subscribe`` instead of leaking through as a producer property."""
    from flink_audit_sessions_example_spark.config import AppConfig
    from flink_audit_sessions_example_spark.sources.audit_source import (
        kafka_source_options,
    )
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        kafka_sink_options,
    )

    props_file = tmp_path / "app.properties"
    props_file.write_text(
        "\n".join(
            [
                "audit.path=/ranger/audit",
                "session.checkpoint=/ckpt/sessions",
                "kafka.topic=audit-sessions",
                "kafka.bootstrap.servers=broker-1:9093,broker-2:9093",
                "kafka.security.protocol=SASL_SSL",
                "kafka.sasl.kerberos.service.name=kafka",
                "kafka.ssl.truststore.location=/etc/tls/truststore.jks",
            ]
        )
    )
    cfg = AppConfig.from_properties_file(props_file)

    passthrough = {
        "kafka.bootstrap.servers": "broker-1:9093,broker-2:9093",
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.kerberos.service.name": "kafka",
        "kafka.ssl.truststore.location": "/etc/tls/truststore.jks",
    }
    assert cfg.kafka_options == passthrough  # verbatim, topic excluded

    sink = kafka_sink_options(
        topic=cfg.kafka_topic,
        kafka_options=cfg.kafka_options,
        checkpoint_dir="/ckpt/sessions",
    )
    assert sink == {
        "topic": "audit-sessions",
        "checkpointLocation": "/ckpt/sessions",
        **passthrough,
    }

    source = kafka_source_options(
        topic=cfg.kafka_topic,
        kafka_options=cfg.kafka_options,
        starting_offsets="earliest",
    )
    assert source == {
        "subscribe": "audit-sessions",
        "startingOffsets": "earliest",
        **passthrough,
    }


def test_session_state_recovers_across_restart(spark, tmp_path):
    """Checkpointed session-window STATE must survive a stop/start and
    MERGE with post-restart events — the Spark analog of the Flink
    savepoint recovery the reference's ``uid()``s exist for
    (``App.java:47-59,131-133``).

    Run 1 sees carol's first denied event; the watermark (max event −
    2 days) passes alice's early session (it emits) but NOT carol's, so
    carol's partial session lives only in the state store at the
    checkpoint. Run 2 — a NEW query resumed from the same checkpoint —
    adds a second carol event 10 min later (inside the 1200 s gap) and a
    clock event that advances the watermark: carol must emit ONE merged
    session counting BOTH events, with bounds spanning them."""
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        stream_denied_sessions,
        write_foreach_batch,
    )

    d1 = tmp_path / "20220926"
    d1.mkdir()
    (d1 / "a.log").write_text(
        "\n".join(
            [
                _line("alice", 0, 5, "2022-09-26 10:00:00.000"),
                _line("alice", 0, 2, "2022-09-26 10:05:00.000"),
                # carol's session OPENS near the watermark frontier
                _line("carol", 0, 3, "2022-09-29 11:00:00.000"),
                # allowed-only clock event: advances the watermark to
                # 9/27 12:00 (flushes alice), contributes no session
                _line("clock", 1, 1, "2022-09-29 12:00:00.000"),
            ]
        )
        + "\n"
    )
    ckpt = str(tmp_path / "state-ckpt")
    cfg = _cfg(tmp_path)

    def collect_into(bucket):
        def fn(batch_df, batch_id):
            bucket.extend(
                (r["reqUser"], r["denies"], r["start"], r["end"])
                for r in batch_df.collect()
            )

        return fn

    run1: list = []
    q1 = write_foreach_batch(
        stream_denied_sessions(spark, cfg),
        collect_into(run1),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q1.awaitTermination(120)
    assert [(u, n) for u, n, *_ in run1] == [("alice", 7)]

    # restart input: carol's second event merges into the checkpointed
    # session; a later clock event pushes the watermark past it
    d2 = tmp_path / "20220930"
    d2.mkdir()
    (d2 / "b.log").write_text(
        "\n".join(
            [
                _line("carol", 0, 4, "2022-09-29 11:10:00.000"),
                _line("clock", 1, 1, "2022-10-03 12:00:00.000"),
            ]
        )
        + "\n"
    )
    run2: list = []
    q2 = write_foreach_batch(
        stream_denied_sessions(spark, cfg),
        collect_into(run2),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)
    assert [(u, n) for u, n, *_ in run2] == [("carol", 7)]
    _, _, start, end = run2[0]
    assert start == dt.datetime(2022, 9, 29, 11, 0, 0)
    assert end == dt.datetime(2022, 9, 29, 11, 30, 0)  # last event + 1200 s


#: Session-state checkpoint written by an earlier engine (see the test).
FIXTURE_CKPT = Path(__file__).parent / "fixtures" / "session_state_ckpt"


def test_checkpoint_from_earlier_engine_resumes(spark, tmp_path):
    """A checkpoint written by an earlier engine must still resume, with
    its open session state merging into new events.

    ``fixtures/session_state_ckpt`` was written at commit 4089059 by
    ``stream_denied_sessions`` → ``format_session_result`` →
    ``write_kafka_file_twin`` with an availableNow trigger, ``local[2]``,
    ``spark.sql.shuffle.partitions=2``, AQE on, UTC session time zone,
    ``audit.min_date=20220101`` and ``session.duration=1200``. Its input
    was one file, ``20220926/a.log``, holding the first run of
    :func:`test_session_state_recovers_across_restart`: alice denied 5 + 2
    on 9/26, carol denied 3 at 9/29 11:00 and an allowed clock event at
    9/29 12:00. That run emitted alice's session; carol's stayed open in
    the state store.

    The resume reads a fresh input dir holding only new files: carol
    denied 4 at 11:10, then a clock event that moves the watermark past
    her session. The one emitted session must count both carol events,
    and the state keeps the 2 partitions the checkpoint froze."""
    from flink_audit_sessions_example_spark.functions.formatting import (
        format_session_result,
    )
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        write_kafka_file_twin,
    )

    ckpt = tmp_path / "ckpt"
    shutil.copytree(FIXTURE_CKPT, ckpt)
    day = tmp_path / "audit" / "20220930"
    day.mkdir(parents=True)
    (day / "b.log").write_text(
        "\n".join(
            [
                _line("carol", 0, 4, "2022-09-29 11:10:00.000"),
                _line("clock", 1, 1, "2022-10-03 12:00:00.000"),
            ]
        )
        + "\n"
    )
    out = str(tmp_path / "out")
    query = write_kafka_file_twin(
        format_session_result(
            stream_denied_sessions(spark, _cfg(tmp_path / "audit"))
        ),
        out_dir=out,
        checkpoint_dir=str(ckpt),
        available_now=True,
    )
    query.awaitTermination(180)
    assert query.exception() is None

    def ms(ts):
        return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    start, end = dt.datetime(2022, 9, 29, 11, 0), dt.datetime(2022, 9, 29, 11, 30)
    assert [r.value for r in spark.read.parquet(out).collect()] == [
        f"user='carol' denies=7 start={ms(start)} end={ms(end)}"
    ]
    partitions = {
        op["numShufflePartitions"]
        for progress in query.recentProgress
        for op in progress["stateOperators"]
    }
    assert partitions == {2}
    assert sorted(p.name for p in (ckpt / "state" / "0").iterdir()) == [
        "0",
        "1",
        "_metadata",
    ]


def test_foreach_batch_redelivers_failed_batch_with_same_id(spark, tmp_path):
    """At-least-once across a KILL for ``snk_foreach_batch``: a batch
    whose ``batch_fn`` dies mid-write (sink outage) is re-run after
    restart from the checkpoint with the SAME ``batch_id`` and the SAME
    rows — the redelivery contract the sink's docstring promises, and
    what makes the documented idempotent-``batch_id`` consumer pattern
    exactly-once downstream. Companion to the session-state recovery
    gate above (which restarts between CLEAN runs)."""
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        stream_denied_sessions,
        write_foreach_batch,
    )

    d1 = tmp_path / "20220926"
    d1.mkdir()
    (d1 / "a.log").write_text(
        "\n".join(
            [
                _line("alice", 0, 5, "2022-09-26 10:00:00.000"),
                _line("alice", 0, 2, "2022-09-26 10:05:00.000"),
                # allowed-only clock event 3 days on: watermark passes
                # alice's session end, so some batch EMITS her session
                _line("clock", 1, 1, "2022-09-29 12:00:00.000"),
            ]
        )
        + "\n"
    )
    ckpt = str(tmp_path / "ckpt")
    cfg = _cfg(tmp_path)

    attempts: list = []  # every (batch_id, rows) the sink fn ever saw
    delivered: dict = {}  # idempotent consumer: keyed on batch_id
    state = {"fail": True}

    def fn(batch_df, batch_id):
        rows = sorted(
            (r["reqUser"], r["denies"]) for r in batch_df.collect()
        )
        attempts.append((batch_id, rows))
        if state["fail"] and rows:
            # die AFTER reading the batch, BEFORE the checkpoint commit
            raise RuntimeError("injected sink outage")
        if rows:
            delivered.setdefault(batch_id, rows)

    q1 = write_foreach_batch(
        stream_denied_sessions(spark, cfg),
        fn,
        checkpoint_dir=ckpt,
        available_now=True,
    )
    with pytest.raises(Exception, match="injected sink outage"):
        q1.awaitTermination(120)
        if q1.exception() is not None:
            raise q1.exception()
    failed = [(b, r) for b, r in attempts if r]
    assert len(failed) == 1  # the emitting batch died exactly once

    state["fail"] = False
    q2 = write_foreach_batch(
        stream_denied_sessions(spark, cfg),
        fn,
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)

    # redelivery: same batch_id, same rows, attempted exactly twice
    emitting = [(b, r) for b, r in attempts if r]
    assert len(emitting) == 2
    assert emitting[0] == emitting[1] == failed[0]
    assert emitting[0][1] == [("alice", 7)]
    # the idempotent consumer saw the session exactly once
    assert list(delivered.values()) == [[("alice", 7)]]


def test_stream_dedup_drops_redeliveries(spark, tmp_path):
    """``dedup_stream``: an at-least-once upstream re-delivers audit
    records (same `id`) in a later micro-batch; the watermark-bounded
    dedup keeps the first arrival only. Batch path degrades to plain
    dropDuplicates."""
    from extended_ops.operators.dedup import (
        stream_dedup,
    )
    from flink_audit_sessions_example_spark.sources.audit_source import (
        stream_audits,
    )

    d1 = tmp_path / "20220926"
    d2 = tmp_path / "20220927"
    d1.mkdir(), d2.mkdir()
    (d1 / "a.log").write_text(
        "\n".join(
            [
                _line("u1", 0, 1, "2022-09-26 10:00:00.000", id="e-1"),
                _line("u2", 0, 2, "2022-09-26 10:01:00.000", id="e-2"),
            ]
        )
        + "\n"
    )
    # redelivery of e-1 (same id, same payload) plus one new record
    (d2 / "b.log").write_text(
        "\n".join(
            [
                _line("u1", 0, 1, "2022-09-26 10:00:00.000", id="e-1"),
                _line("u3", 0, 3, "2022-09-27 09:00:00.000", id="e-3"),
            ]
        )
        + "\n"
    )
    audits = stream_audits(spark, str(tmp_path), max_files_per_trigger=1)
    deduped = stream_dedup(
        audits, ["id"], time_col="evtTime", watermark_delay="2 days"
    )
    q = write_memory(
        deduped.select("id", "reqUser"), query_name="t_stream_dedup"
    )
    q.awaitTermination(120)
    rows = spark.table("t_stream_dedup").collect()
    assert sorted((r.id, r.reqUser) for r in rows) == [
        ("e-1", "u1"),
        ("e-2", "u2"),
        ("e-3", "u3"),
    ]

    # batch twin: plain dropDuplicates
    from flink_audit_sessions_example_spark.sources.audit_source import (
        read_audits,
    )

    batch = stream_dedup(read_audits(spark, str(tmp_path)), ["id"])
    assert batch.count() == 3

    # streaming WITHOUT time_col = unbounded state: explicit opt-in only
    import pytest

    with pytest.raises(ValueError, match="unbounded"):
        stream_dedup(audits, ["id"])
    unbounded = stream_dedup(audits, ["id"], allow_unbounded_state=True)
    assert unbounded.isStreaming


def test_stream_interval_join_rejects_overlapping_columns(spark):
    """The disjoint-columns contract is enforced up front (r4 ADVICE):
    overlapping non-key columns would only fail later, ambiguously, when
    a consumer references the duplicate name."""
    import pytest

    from extended_ops.streaming.joins import (
        stream_interval_join,
    )

    left = spark.createDataFrame([], "u string, t timestamp, v int")
    right = spark.createDataFrame([], "u string, t2 timestamp, v int")
    with pytest.raises(ValueError, match="disjoint.*'v'|'v'.*disjoint"):
        stream_interval_join(
            left, right, key="u", left_time="t", right_time="t2",
            bound_seconds=60, watermark_delay="1 hour",
        )
    with pytest.raises(ValueError, match="join key"):
        stream_interval_join(
            left, right.withColumnRenamed("u", "w"), key="u",
            left_time="t", right_time="t2",
            bound_seconds=60, watermark_delay="1 hour",
        )


def test_stream_stream_interval_join_matches_batch(spark, audit_tree, tmp_path):
    """Watermarked stream-stream interval join (denied ⋈ allowed within
    ±20 min per user) produces exactly the pairs the equivalent batch
    join computes over the same files."""
    from flink_audit_sessions_example_spark.sources import read_audits, stream_audits
    from extended_ops.streaming.joins import (
        denied_near_allowed,
    )

    stream = denied_near_allowed(
        stream_audits(spark, str(audit_tree), min_date="20220101")
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["reqUser"], r["denied_time"], r["allowed_time"])
        for r in spark.table("ssj").collect()
    }

    batch = read_audits(spark, str(audit_tree), min_date="20220101")
    d = batch.where("result != 1").selectExpr(
        "reqUser", "evtTime as denied_time"
    )
    a = batch.where("result = 1").selectExpr(
        "reqUser as u2", "evtTime as allowed_time"
    )
    import pyspark.sql.functions as F

    expected = {
        (r["reqUser"], r["denied_time"], r["allowed_time"])
        for r in d.join(
            a,
            (d.reqUser == a.u2)
            & (a.allowed_time >= d.denied_time - F.expr("INTERVAL 1200 SECONDS"))
            & (a.allowed_time <= d.denied_time + F.expr("INTERVAL 1200 SECONDS")),
        ).collect()
    }
    assert got == expected
    # the fixture guarantees at least one cross-result pair (wdyson's
    # denied 10:00 event within 20 min of the 10:10 allowed event)
    assert any(u == "wdyson" for u, _, _ in got)


def test_stream_compact_latest_by_key_across_batches(spark, tmp_path):
    """``xform_compact``'s streaming twin needs NO custom operator: the
    same ``max(struct)`` aggregation runs as a streaming aggregation in
    update mode — the state store keeps exactly one (key → max struct)
    row per key, and a later micro-batch's newer event replaces the
    key's state. State is unbounded by design here: the per-key current
    state IS the product (changelog → materialized view), bounded by
    key cardinality, not stream length."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from extended_ops.operators.dedup import latest_by_key

    d = tmp_path / "ev"
    d.mkdir()
    t = dt.datetime
    schema = pa.schema(
        [
            ("user_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("event_id", pa.int64()),
            ("event_type", pa.string()),
        ]
    )

    _seq = iter(range(100))

    def write(name, rows):
        import os

        path = str(d / name)
        pq.write_table(
            pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema),
            path,
        )
        # pin ascending mtimes: FileStreamSource orders batches by
        # modification time (the stream_utils rule)
        t = 1_700_000_000 + next(_seq) * 10
        os.utime(path, (t, t))

    write("b1.parquet", [
        (1, t(2024, 1, 1, 10), 1, "login"),
        (2, t(2024, 1, 1, 11), 2, "view"),
    ])
    write("b2.parquet", [
        (1, t(2024, 1, 2, 10), 3, "logout"),   # newer: must replace u1's state
        (3, t(2024, 1, 1, 12), 4, "signup"),
        (2, t(2023, 12, 1, 0), 5, "stale"),    # older: must NOT replace u2's
    ])

    stream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    compacted = latest_by_key(
        stream,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["event_type"],
    )
    q = (
        compacted.writeStream.format("memory")
        .queryName("t_stream_compact")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.table("t_stream_compact").collect()
    # the sink log must show u1 being updated across batches
    assert len(updates) > 3
    # final state = per-key max over the update log; equals the batch answer
    final = {}
    for r in updates:
        cur = (r["ts"], r["event_id"], r["event_type"])
        if r["user_id"] not in final or cur > final[r["user_id"]]:
            final[r["user_id"]] = cur
    batch = {
        r["user_id"]: (r["ts"], r["event_id"], r["event_type"])
        for r in latest_by_key(
            spark.read.parquet(str(d)),
            key_cols=["user_id"],
            order_cols=["ts", "event_id"],
            payload_cols=["event_type"],
        ).collect()
    }
    assert final == batch
    assert batch[1][2] == "logout" and batch[2][2] == "view"


def test_processing_time_multi_trigger_watermark_drops_late_event(
    spark, tmp_path
):
    """Multi-trigger ``processingTime`` soak (r4 verdict action 6): the
    cross-batch watermark advance that ``availableNow`` compresses into
    one run. Trigger 1 processes batch-1 files and sets the watermark
    from their max event time (9/29 12:00 − 2 days = 9/27 12:00);
    trigger 2 processes files APPENDED WHILE THE QUERY RUNS, where a
    denied event from ``bob`` lies BEFORE that watermark — Spark must
    drop it (``App.java:55-59`` bounded-out-of-orderness semantics), so
    bob never emits a session, while alice's flushed session and
    carol's post-watermark session both do."""
    import time as _time

    from flink_audit_sessions_example_spark.streaming.pipeline import (
        stream_denied_sessions,
        write_foreach_batch,
    )

    d1 = tmp_path / "20220926"
    d1.mkdir()
    (d1 / "a.log").write_text(
        "\n".join(
            [
                _line("alice", 0, 5, "2022-09-26 10:00:00.000"),
                _line("alice", 0, 2, "2022-09-26 10:05:00.000"),
                # clock: watermark after trigger 1 = 9/27 12:00
                _line("clock", 1, 1, "2022-09-29 12:00:00.000"),
            ]
        )
        + "\n"
    )
    got: list = []

    def collect(batch_df, batch_id):
        got.extend(
            (r["reqUser"], r["denies"]) for r in batch_df.collect()
        )

    q = write_foreach_batch(
        stream_denied_sessions(spark, _cfg(tmp_path)),
        collect,
        checkpoint_dir=str(tmp_path / "ckpt"),
        poll_seconds=1,
    )
    try:
        # trigger 1 + its follow-up no-data batch emit alice once the
        # batch-1 watermark is applied
        deadline = _time.time() + 90
        while ("alice", 7) not in got and _time.time() < deadline:
            _time.sleep(0.2)
        # batch 2, appended mid-run: bob is LATE (before the 9/27 12:00
        # watermark -> dropped); carol is on time; the far-future clock
        # advances the watermark past carol's session end
        d2 = tmp_path / "20220930"
        d2.mkdir()
        (d2 / "b.log").write_text(
            "\n".join(
                [
                    _line("bob", 0, 9, "2022-09-25 09:00:00.000"),
                    _line("carol", 0, 4, "2022-09-29 13:00:00.000"),
                    _line("clock", 1, 1, "2022-10-05 12:00:00.000"),
                ]
            )
            + "\n"
        )
        deadline = _time.time() + 90
        while ("carol", 4) not in got and _time.time() < deadline:
            _time.sleep(0.2)
    finally:
        q.stop()
    assert ("alice", 7) in got
    assert ("carol", 4) in got
    assert all(u != "bob" for u, _ in got), got
    # the two emissions crossed distinct triggers (not one availableNow
    # mega-batch): alice can only flush once the trigger-1 watermark is
    # applied, carol only after trigger 2's clock advances it again
    assert len(got) == 2


def test_watermark_boundary_drop_keep_parity(spark, tmp_path):
    """Out-of-order replay STRADDLING the 2-day watermark boundary
    (``App.java:55-59`` — r13 verdict action 8): run 1 anchors the
    checkpointed watermark at max event − 2 days = 9/27 12:00; run 2
    replays three out-of-order users straight at that frontier.

    Drop/keep parity with Flink's bounded-out-of-orderness semantics
    is EXACT (mod Flink's 1 ms watermark offset), because Spark's
    session-window late filter is WINDOW-END based, same as Flink's
    (drop iff ``window.end ≤ wm``, window = [ts, ts+gap)) — not the
    row-level ``ts < wm`` rule plain windowed aggregates use:

    - **AT the watermark** (dave, ts == 9/27 12:00): KEPT by both.
    - **1 min below it** (erin): window end = wm + 19 min > wm — KEPT
      by both engines, and free to merge into any still-open session.
      A row-level engine would have dropped her; this assert is the
      parity witness.
    - **A gap + 10 min below** (frank, window end = wm − 10 min):
      DROPPED by both.
    """
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        stream_denied_sessions,
        write_foreach_batch,
    )

    d1 = tmp_path / "20220926"
    d1.mkdir()
    (d1 / "a.log").write_text(
        # allowed-only clock event: after run 1 the checkpointed
        # watermark is 2022-09-27 12:00:00
        _line("clock", 1, 1, "2022-09-29 12:00:00.000") + "\n"
    )
    ckpt = str(tmp_path / "wm-ckpt")
    cfg = _cfg(tmp_path)  # gap = 1200 s

    def collect_into(bucket):
        def fn(batch_df, batch_id):
            bucket.extend(
                (r["reqUser"], r["denies"]) for r in batch_df.collect()
            )

        return fn

    run1: list = []
    q1 = write_foreach_batch(
        stream_denied_sessions(spark, cfg),
        collect_into(run1),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q1.awaitTermination(120)
    assert run1 == []  # the clock event is allowed-only: no session

    d2 = tmp_path / "20220930"
    d2.mkdir()
    (d2 / "b.log").write_text(
        "\n".join(
            [
                # dave: exactly AT the frontier — kept by both engines
                _line("dave", 0, 6, "2022-09-27 12:00:00.000"),
                # erin: 1 min below the frontier but their session END
                # is above the watermark — kept by BOTH engines (the
                # late filter is window-end-based, not row-based)
                _line("erin", 0, 8, "2022-09-27 11:59:00.000"),
                # frank: a gap + 10 min below — dropped by both rules
                _line("frank", 0, 9, "2022-09-27 11:30:00.000"),
                # flush: advance the watermark past every session end
                _line("clock", 1, 1, "2022-10-05 12:00:00.000"),
            ]
        )
        + "\n"
    )
    run2: list = []
    q2 = write_foreach_batch(
        stream_denied_sessions(spark, cfg),
        collect_into(run2),
        checkpoint_dir=ckpt,
        available_now=True,
    )
    q2.awaitTermination(120)
    assert set(run2) == {("dave", 6), ("erin", 8)}, run2
    assert len(run2) == 2, run2  # frank never emits, nobody doubles
