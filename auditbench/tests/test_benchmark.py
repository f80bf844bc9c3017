"""The benchmark's own tests: generator, oracle, metric names, and one run
of each mode end to end.

Run from the repository root: ``python3 -m pytest auditbench/tests -q``.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import subprocess
import sys

import pyarrow as pa
import pytest

import gen
import oracle
import run

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMALL = gen.TreeSpec(3, 24, 200, 500, dt.date(2024, 3, 1))


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.write_tree(str(tmp_path / "a"), SMALL, 7)
    b = gen.write_tree(str(tmp_path / "b"), SMALL, 7)
    c = gen.write_tree(str(tmp_path / "c"), SMALL, 8)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))
    assert a.table().equals(b.table())
    assert not a.table().equals(c.table())


def test_generator_hits_its_stated_shares(tmp_path):
    t = gen.write_tree(str(tmp_path), SMALL, 3)
    n = t.lines
    assert n == 3 * 24 * 200
    assert abs(t.malformed / n - gen.MALFORMED_SHARE) < 0.005
    assert abs(t.null_user / n - gen.NULL_USER_SHARE) < 0.005
    denied = [c for r, c in zip(t.result, t.event_count) if r != 1]
    assert abs(len(denied) / t.valid - gen.DENIED_SHARE) < 0.02
    assert set(denied) == {1, 2, 3, 4, 5}
    # late events: event time before the hour of the file holding them, but
    # never by more than MAX_LATE_MS, far inside the 2-day watermark
    late = 0
    files = list(gen.hourly_files(SMALL))
    for rel, hour_ms, _ in files:
        with open(os.path.join(tmp_path, rel)) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except json.JSONDecodeError:
                    continue
                t_ms = _parse_ms(rec["evtTime"])
                assert hour_ms - gen.MAX_LATE_MS <= t_ms < hour_ms + gen.HOUR_MS
                late += t_ms < hour_ms
    assert abs(late / n - gen.LATE_SHARE) < 0.01
    # records are wide, about 480 B a line
    size = sum(os.path.getsize(os.path.join(tmp_path, r)) for r, _, _ in files)
    assert 400 < size / n < 600


def _parse_ms(s: str) -> int:
    t = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f").replace(tzinfo=dt.timezone.utc)
    return round(t.timestamp() * 1000)


def test_generator_event_time_matches_ground_truth(tmp_path):
    t = gen.write_tree(str(tmp_path), gen.TreeSpec(1, 2, 50, 20, SMALL.start), 5)
    parsed = []
    for rel, _, _ in gen.hourly_files(gen.TreeSpec(1, 2, 50, 20, SMALL.start)):
        for line in open(os.path.join(tmp_path, rel)).read().splitlines():
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            if rec["reqUser"] is not None:
                parsed.append((rec["reqUser"], _parse_ms(rec["evtTime"])))
    assert parsed == list(zip(t.reqUser, t.evt_ms))


def _truth(rows):
    cols = list(zip(*rows))
    return pa.table(
        {
            "file_date": pa.array(cols[0], pa.string()),
            "reqUser": pa.array(cols[1], pa.string()),
            "evt_ms": pa.array(cols[2], pa.int64()),
            "result": pa.array(cols[3], pa.int32()),
            "event_count": pa.array(cols[4], pa.int32()),
        }
    )


def _ms(hh_mm: str) -> int:
    t = dt.datetime.fromisoformat(f"2022-09-26T{hh_mm}:00+00:00")
    return round(t.timestamp() * 1000)


# The reference's golden fixture (four audits, gap 1200 s), plus a null
# user and an allowed-only session that must both vanish.
GOLDEN = [
    ("20220926", "wdyson", _ms("10:00"), 0, 10),
    ("20220926", "wdyson", _ms("10:10"), 1, 1),
    ("20220926", "bob", _ms("10:10"), 0, 1),
    ("20220926", "bob", _ms("10:20"), 0, 1),
    ("20220926", None, _ms("10:00"), 0, 5),
    ("20220926", "alice", _ms("10:00"), 1, 3),
]


def test_oracle_reproduces_golden_sessions():
    got = oracle.expected_sessions(_truth(GOLDEN), 1_200_000)
    assert got == {
        f"user='wdyson' denies=10 start={_ms('10:00')} end={_ms('10:30')}": 1,
        f"user='bob' denies=2 start={_ms('10:10')} end={_ms('10:40')}": 1,
    }


def test_oracle_merges_at_exactly_the_gap_and_splits_beyond_it():
    rows = [
        ("20220926", "eve", _ms("10:00"), 0, 1),
        ("20220926", "eve", _ms("10:20"), 0, 1),  # diff == gap: same session
        ("20220926", "eve", _ms("10:40") + 1, 0, 2),  # diff > gap: new session
    ]
    got = oracle.expected_sessions(_truth(rows), 1_200_000)
    assert got == {
        f"user='eve' denies=2 start={_ms('10:00')} end={_ms('10:40')}": 1,
        f"user='eve' denies=2 start={_ms('10:40') + 1} end={_ms('11:00') + 1}": 1,
    }


def test_oracle_min_date_keeps_newer_date_dirs_only():
    rows = [
        ("20220925", "old", _ms("10:00"), 0, 1),
        ("20220926", "new", _ms("10:00"), 0, 1),
    ]
    got = oracle.expected_sessions(_truth(rows), 600_000, min_date="20220926")
    assert [k.split()[0] for k in got] == ["user='new'"]


def test_metric_names_and_benchmark_json_agree():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]]
    layers = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    assert e2e == list(run.END_TO_END)
    assert layers == list(run.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    names = [n for n, _, _ in e2e + layers]
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name) and len(name) <= 64, name


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_a_run_emits_every_end_to_end_metric(workload):
    out = _run("--workload", workload, "--seed", "5", "--seconds", "2", "--trace", "0")
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [n for n, _, _ in run.END_TO_END]
    for name, unit, _ in run.END_TO_END:
        assert out["metrics"][name]["unit"] == unit
        assert out["metrics"][name]["value"] > 0


def test_a_traced_run_emits_every_per_layer_metric():
    out = _run("--workload", "backfill", "--seed", "5", "--seconds", "2", "--trace", "1")
    assert out["correct"] and out["failed"] == 0
    assert list(out["metrics"]) == [n for n, _, _ in run.PER_LAYER]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["tail.pipeline.rows_dropped_by_watermark"] == 0
    assert m["pruned.audit_source.read_useful_share"] <= 1


def test_a_checkout_without_the_engine_fails_fast(tmp_path):
    bench = tmp_path / "auditbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "auditbench/run.py", "--workload", "backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
