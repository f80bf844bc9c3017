"""Partitioned-parquet sink tests: layout, partition pruning, and
exactly-once streaming resume from a checkpoint."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from flink_audit_sessions_example_spark.sources.audit_source import (
    read_audits,
    stream_audits,
)
from extended_ops.sources.sinks import (
    read_partitioned_parquet,
    stream_partitioned_parquet,
    write_partitioned_parquet,
)


def _line(user, seq, ts):
    return json.dumps(
        {"reqUser": user, "evtTime": ts, "result": 0, "event_count": 1,
         "seq_num": seq}
    )


def test_batch_partitioned_write_and_pruned_read(spark, tmp_path):
    src = tmp_path / "in" / "20240101"
    src.mkdir(parents=True)
    (src / "a.log").write_text(
        "\n".join(
            _line("u", i, f"2024-01-0{d} 10:00:00.000")
            for i, d in enumerate([1, 1, 2, 3], start=1)
        )
        + "\n"
    )
    audits = read_audits(spark, str(tmp_path / "in"))
    out = str(tmp_path / "out")
    write_partitioned_parquet(audits, out, date_col="evtTime")
    # hive layout on disk
    assert sorted(
        d for d in os.listdir(out) if d.startswith("date=")
    ) == ["date=20240101", "date=20240102", "date=20240103"]
    back = read_partitioned_parquet(spark, out, min_date="20240102")
    assert back.count() == 2
    # the partition filter prunes at plan time: only 2 partition dirs scanned
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    filters_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert ">= 20240102" in filters_line


def test_streaming_sink_resumes_exactly_once(spark, tmp_path):
    src = tmp_path / "stream-in"
    day = src / "20240110"
    day.mkdir(parents=True)
    (day / "a.log").write_text(
        "\n".join(_line("u", i, "2024-01-10 09:00:00.000") for i in range(5))
        + "\n"
    )
    out, ckpt = str(tmp_path / "stream-out"), str(tmp_path / "ckpt")

    def run_once():
        q = stream_partitioned_parquet(
            stream_audits(spark, str(src)),
            out,
            date_col="evtTime",
            checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 5
    # second file appears; resume must process ONLY the new file
    (day / "b.log").write_text(
        "\n".join(_line("v", 100 + i, "2024-01-10 11:00:00.000") for i in range(3))
        + "\n"
    )
    run_once()
    result = spark.read.parquet(out)
    assert result.count() == 8  # 5 + 3, nothing reprocessed
    assert result.select("seq_num").distinct().count() == 8
    assert result.where(F.col("reqUser") == "u").count() == 5


def test_write_sized_parquet_bounds_files_per_partition(spark, tmp_path):
    """The small-files fix: every partition directory gets at most
    files_per_partition parquet files (one with the default), rows
    survive byte-exact, and the assignment is deterministic."""
    import os

    from extended_ops.sources.sinks import (
        write_sized_parquet,
    )
    from extended_ops.sources.tables import load_table

    from conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )

    def part_files(root):
        out = {}
        for d in sorted(os.listdir(root)):
            if not d.startswith("lang="):
                continue
            out[d] = sorted(
                f for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            )
        return out

    p1 = str(tmp_path / "one")
    write_sized_parquet(
        docs, p1, bucket_key="doc_id", partition_cols=["lang"]
    )
    files1 = part_files(p1)
    assert files1
    assert all(len(v) == 1 for v in files1.values()), files1
    p2 = str(tmp_path / "three")
    write_sized_parquet(
        docs, p2, bucket_key="doc_id", partition_cols=["lang"],
        files_per_partition=3, sort_cols=["doc_id"], num_tasks=64,
    )
    files2 = part_files(p2)
    assert files2.keys() == files1.keys()
    assert all(1 <= len(v) <= 3 for v in files2.values())
    assert any(len(v) > 1 for v in files2.values())
    # read-back equality (both layouts)
    want = sorted(map(tuple, docs.collect()))
    for p in (p1, p2):
        got = sorted(
            map(tuple, spark.read.parquet(p).select("doc_id", "lang", "text").collect())
        )
        assert got == want
    import pytest

    with pytest.raises(ValueError, match="files_per_partition"):
        write_sized_parquet(docs, str(tmp_path / "x"), bucket_key="doc_id",
                            files_per_partition=0)


def test_kafka_payload_schema(spark):
    """The wire contract of Spark's Kafka sink: required string
    ``value``, optional string ``key`` — and nothing else reaches the
    topic."""
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        kafka_payload,
    )

    keyed = spark.createDataFrame([(7, "a")], "key int, value string")
    out = kafka_payload(keyed)
    assert out.columns == ["key", "value"]
    assert [t for _, t in out.dtypes] == ["string", "string"]

    value_only = spark.createDataFrame([(5,)], "value int")
    out2 = kafka_payload(value_only)
    assert out2.columns == ["value"]
    assert out2.dtypes == [("value", "string")]


def test_kafka_file_twin_end_to_end_checkpoint_restart(spark, tmp_path):
    """The no-broker e2e for ``snk_kafka`` (App.java:79-110): the full
    reference pipeline (file monitor → parse → filter → watermark →
    session → aggregate → format) delivered through the EXACT Kafka
    payload projection and the same checkpointed at-least-once
    machinery, into per-batch files. A restart from the same
    checkpoint must deliver the new session without losing or
    duplicating the old one."""
    import re as _re

    from flink_audit_sessions_example_spark.config import AppConfig
    from flink_audit_sessions_example_spark.functions.formatting import (
        format_session_result,
    )
    from flink_audit_sessions_example_spark.streaming.pipeline import (
        stream_denied_sessions,
        write_kafka_file_twin,
    )

    def line(user, result, ts):
        return json.dumps(
            {"reqUser": user, "evtTime": ts, "result": result,
             "event_count": 1, "seq_num": 1}
        )

    src = tmp_path / "audit"
    d1 = src / "20240110"
    d1.mkdir(parents=True)
    (d1 / "a.log").write_text(
        "\n".join(
            line("u", 0, f"2024-01-10 09:{m:02d}:00.000") for m in range(3)
        )
        + "\n"
    )
    flush1 = src / "20240120"
    flush1.mkdir()
    # allowed-only → its own session is filtered by flt_nonzero; it
    # exists to push the watermark past u's session end
    (flush1 / "flush.log").write_text(
        line("clock", 1, "2024-01-20 09:00:00.000") + "\n"
    )

    out, ckpt = str(tmp_path / "kafka-out"), str(tmp_path / "ckpt")
    cfg = AppConfig(
        audit_path=str(src),
        audit_min_date="20240101",
        session_gap_seconds=1200,
        session_output="kafka",
    )

    def run_once():
        q = write_kafka_file_twin(
            format_session_result(
                stream_denied_sessions(spark, cfg, max_files_per_trigger=1)
            ),
            out_dir=out,
            checkpoint_dir=ckpt,
            available_now=True,
        )
        q.awaitTermination(180)

    run_once()
    view = spark.read.parquet(out)
    # exact wire schema inside each batch directory: value only (plus
    # the batch_id partition column the layout adds on the way back in)
    assert sorted(view.columns) == ["batch_id", "value"]
    payloads = [r.value for r in view.collect()]
    assert len(payloads) == 1
    assert _re.fullmatch(r"user='u' denies=3 start=\d+ end=\d+", payloads[0])

    # restart from the SAME checkpoint: only the new files process
    d2 = src / "20240121"
    d2.mkdir()
    (d2 / "b.log").write_text(
        "\n".join(
            line("v", 0, f"2024-01-21 09:{m:02d}:00.000") for m in range(2)
        )
        + "\n"
    )
    flush2 = src / "20240201"
    flush2.mkdir()
    (flush2 / "flush.log").write_text(
        line("clock", 1, "2024-02-01 09:00:00.000") + "\n"
    )
    run_once()
    payloads = sorted(r.value for r in spark.read.parquet(out).collect())
    assert len(payloads) == 2, "restart lost or duplicated a session"
    assert _re.fullmatch(r"user='u' denies=3 start=\d+ end=\d+", payloads[0])
    assert _re.fullmatch(r"user='v' denies=2 start=\d+ end=\d+", payloads[1])
