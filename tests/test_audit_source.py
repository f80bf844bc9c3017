"""Audit file-source tests — JSON parse parity (``TestJson.java:21-33``) and
date-directory pruning (``DateFileFilter.java:11-39``)."""

from __future__ import annotations

import datetime as dt
import json
from urllib.parse import unquote

import pytest

from flink_audit_sessions_example_spark.sources import (
    parse_audit_json,
    read_audit_lines,
    read_audits,
    with_file_date,
)

# The reference's golden fixture (src/test/resources/audit-examples/
# kafka-1.json), reconstructed field-by-field from FIXTURES.md §1. The
# original bytes are not shipped, and FIXTURES.md truncates its ``id``.
KAFKA_1 = {
    "repoType": 9,
    "repo": "cm_kafka",
    "reqUser": "wdyson",
    "evtTime": "2022-09-15 11:00:16.271",
    "access": "publish",
    "resource": "ATLAS_HOOK",
    "resType": "topic",
    "action": "publish",
    "result": 1,
    "agent": "kafka",
    "policy": 26,
    "policy_version": 2,
    "enforcer": "ranger-acl",
    "cliIP": "10.10.37.56",
    "reqData": "ATLAS_HOOK",
    "agentHost": "ps-aw-dl-master0",
    "logType": "RangerAudit",
    "id": "eb8d82d6-c1b4-48d0-9423-ef2bf15536e2-2885237",
    "seq_num": 5770475,
    "event_count": 1,
    "event_dur_ms": 1,
    "tags": [],
    "cluster_name": "ps-aw-dl",
}


@pytest.fixture
def audit_tree(tmp_path):
    """JSONL tree with YYYYMMDD dirs + one non-date dir + junk lines."""
    old = tmp_path / "20220101"
    new = tmp_path / "20220915"
    nodate = tmp_path / "misc"
    for d in (old, new, nodate):
        d.mkdir()
    (new / "audit.log").write_text(
        json.dumps(KAFKA_1)
        + "\n"
        + "this is not json\n"  # malformed -> dropped
        + json.dumps({**KAFKA_1, "reqUser": None})  # null user -> dropped
        + "\n"
        + json.dumps({**KAFKA_1, "reqUser": "bob", "extraKey": "ignored"})
        + "\n"
    )
    (old / "audit.log").write_text(
        json.dumps({**KAFKA_1, "reqUser": "ancient"}) + "\n"
    )
    (nodate / "audit.log").write_text(
        json.dumps({**KAFKA_1, "reqUser": "undated"}) + "\n"
    )
    return str(tmp_path)


def test_parse_golden_record(spark, audit_tree, tmp_path_factory):
    """The golden record alone, one line in one file as
    ``TestJson.java:21-33`` reads it, parses to exactly one row with the
    reference's assertions (``TestJson.java:30-33``); inside a tree with
    junk lines and other users its typed fields survive."""
    golden = tmp_path_factory.mktemp("golden")
    (golden / "20220915").mkdir()
    (golden / "20220915" / "audit.log").write_text(json.dumps(KAFKA_1) + "\n")
    rows = read_audits(spark, str(golden)).collect()
    assert len(rows) == 1
    assert rows[0]["repoType"] == 9
    assert rows[0]["reqUser"] == "wdyson"

    audits = read_audits(spark, audit_tree)
    row = next(r for r in audits.collect() if r["reqUser"] == "wdyson")
    # spot checks mirroring TestJson.java:31-32
    assert row["repoType"] == 9
    assert row["result"] == 1
    assert row["event_count"] == 1
    assert row["evtTime"] == dt.datetime(2022, 9, 15, 11, 0, 16, 271000)
    assert row["tags"] == []
    assert row["seq_num"] == 5770475


def test_evt_time_parsed_in_utc_whatever_the_session_zone(spark, tmp_path):
    """``evtTime`` carries no zone; Jackson reads it in UTC, its
    ``@JsonFormat`` default, whatever the JVM zone. A session's ``start``
    must not move with ``spark.sql.session.timeZone``."""
    from flink_audit_sessions_example_spark.functions.formatting import (
        format_session_result,
    )
    from flink_audit_sessions_example_spark.operators import (
        audit_denied_sessions,
    )

    (tmp_path / "audit.log").write_text(json.dumps({**KAFKA_1, "result": 0}))
    key = "spark.sql.session.timeZone"
    zone = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        sessions = audit_denied_sessions(
            read_audits(spark, str(tmp_path)), gap_seconds=600
        )
        values = [r.value for r in format_session_result(sessions).collect()]
    finally:
        spark.conf.set(key, zone)
    start = dt.datetime(2022, 9, 15, 11, 0, 16, 271000, tzinfo=dt.timezone.utc)
    start_ms = int(start.timestamp() * 1000)
    assert values == [
        f"user='wdyson' denies=1 start={start_ms} end={start_ms + 600_000}"
    ]


def test_malformed_and_null_user_dropped(spark, audit_tree):
    users = {r["reqUser"] for r in read_audits(spark, audit_tree).collect()}
    assert users == {"wdyson", "bob", "ancient", "undated"}


def test_unknown_keys_ignored(spark, audit_tree):
    audits = read_audits(spark, audit_tree)
    assert "extraKey" not in audits.columns
    assert audits.where(audits.reqUser == "bob").count() == 1


def test_min_date_pruning(spark, audit_tree):
    # min_date keeps >= date dirs AND non-date dirs (DateFileFilter.java:19-38)
    users = {
        r["reqUser"]
        for r in read_audits(spark, audit_tree, min_date="20220601").collect()
    }
    assert users == {"wdyson", "bob", "undated"}  # "ancient" pruned


def test_line_counts(spark, audit_tree):
    assert read_audit_lines(spark, audit_tree).count() == 6
    assert read_audit_lines(spark, audit_tree, min_date="20220601").count() == 5


# DateFileFilter edge cases as (root below tmp_path, min_date, kept files,
# pruned files). Each file holds one line, its own path below the root, so
# the kept lines name the kept files.
PRUNE_CASES = {
    # a date-named component of the root itself decides nothing
    "dated_root": (
        "20200101/audit",
        "20220601",
        ["20220915/a.log", "misc/b.log", "top.log"],
        ["20220101/c.log"],
    ),
    "nested_older_date": (
        "",
        "20220601",
        ["20220915/a.log"],
        ["20220915/20200101/b.log"],
    ),
    # not real BASIC_ISO_DATEs, so never pruned
    "non_dates": (
        "",
        "20250101",
        ["20241399/a.log", "2024032/b.log", "20250102/c.log"],
        ["20241231/d.log"],
    ),
    "hidden": (
        "",
        "20220101",
        ["20250101/a.log"],
        [".staging/20250101/b.log", "_tmp/c.log", "20250101/.inflight.log"],
    ),
    # listed paths reach Spark as glob patterns
    "glob_names": (
        "",
        "20220101",
        ["20220915/a[1].log", "b{c}.log"],
        ["20200101/d.log"],
    ),
    "all_pruned": ("", "20220101", [], ["20200101/a.log", "20200102/b.log"]),
}


@pytest.mark.parametrize("case", sorted(PRUNE_CASES))
def test_min_date_edge_cases_batch_and_stream(spark, tmp_path, case):
    from flink_audit_sessions_example_spark.sources import stream_audit_lines
    from flink_audit_sessions_example_spark.streaming import write_memory

    sub, min_date, kept, dropped = PRUNE_CASES[case]
    root = tmp_path / sub
    for rel in kept + dropped:
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(rel + "\n")

    batch = read_audit_lines(spark, str(root), min_date=min_date)
    assert batch.columns == ["value"]
    assert sorted(r.value for r in batch.collect()) == sorted(kept)
    # pruned dirs are never listed, so no file under one reaches the scan
    listed = {
        unquote(f).split(str(root) + "/", 1)[1] for f in batch.inputFiles()
    }
    assert listed == set(kept)

    query = write_memory(
        stream_audit_lines(spark, str(root), min_date=min_date),
        query_name=f"t_prune_{case}",
    )
    query.awaitTermination(120)
    assert query.exception() is None
    stream = spark.table(f"t_prune_{case}")
    assert stream.columns == ["value"]
    assert sorted(r.value for r in stream.collect()) == sorted(kept)


def test_walk_lists_each_kept_dir_once(spark, tmp_path):
    from flink_audit_sessions_example_spark.sources.audit_source import (
        _hadoop_root,
        _kept_paths,
    )

    for rel in (
        "20200101/x/a.log",
        "20220915/20200101/b.log",
        "20220915/c.log",
        "20221001/d.log",
        "misc/e.log",
    ):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text("x\n")

    class CountingFs:
        def __init__(self, fs):
            self.fs, self.listed = fs, []

        def listStatus(self, path):
            self.listed.append(path.toString())
            return self.fs.listStatus(path)

    fs, root = _hadoop_root(spark, str(tmp_path))
    counting = CountingFs(fs)
    paths = _kept_paths(counting, root, "20220601")
    top = root.toString()
    assert sorted(counting.listed) == sorted(
        [top] + [f"{top}/{d}" for d in ("20220915", "20221001", "misc")]
    )
    # a dir with nothing pruned beneath it is one path
    assert sorted(paths) == sorted(
        f"{top}/{p}" for p in ("20220915/c.log", "20221001", "misc")
    )
    assert _kept_paths(fs, root, "20000101") == [top]


def test_file_date_is_nearest_dated_dir_below_root(spark, tmp_path):
    root = tmp_path / "20200101" / "audit"
    for rel in ("20220915/x/a.log", "20220915/20221001/b.log", "misc/c.log"):
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(rel + "\n")
    rows = with_file_date(
        read_audit_lines(spark, str(root), min_date="20000101"), str(root)
    ).collect()
    assert {r.value: r.file_date for r in rows} == {
        "20220915/x/a.log": "20220915",
        "20220915/20221001/b.log": "20221001",
        "misc/c.log": None,
    }
