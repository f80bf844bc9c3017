"""Tracing for the traced run: spans kept in memory and dumped at the end,
Spark event-log task metrics per job group, and the streaming layer
figures from query progress and the checkpoint logs.

Spans are recorded here, in the benchmark, around its calls into each
layer; nothing is recorded inside the engine.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import time
from collections import defaultdict


class Spans:
    """Nested spans: name, start, end and the id of the enclosing span."""

    def __init__(self):
        self.items: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        item = {
            "id": len(self.items),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.items.append(item)
        self._open.append(item["id"])
        try:
            yield item
        finally:
            item["end"] = time.time()
            self._open.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.items, f)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class GroupTasks:
    """Task metrics of every job run under one job group."""

    def __init__(self):
        self.tasks: list[dict] = []

    def total(self, key: str) -> int:
        return sum(t[key] for t in self.tasks)

    def reduce_tasks(self) -> list[dict]:
        return [t for t in self.tasks if t["shuffle_read_records"] > 0]


def event_log_groups(event_log_dir: str) -> dict[str, GroupTasks]:
    """Job group id → its tasks' metrics, from every event log in the dir."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupTasks] = defaultdict(GroupTasks)
    for name in sorted(os.listdir(event_log_dir)):
        with open(os.path.join(event_log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev["Stage IDs"]:
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    info = ev["Task Info"]
                    sr = m.get("Shuffle Read Metrics", {})
                    groups[group].tasks.append({
                        "stage": ev["Stage ID"],
                        "time_ms": info["Finish Time"] - info["Launch Time"],
                        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "input_records": m.get("Input Metrics", {}).get("Records Read", 0),
                        "shuffle_write_bytes": m.get("Shuffle Write Metrics", {}).get(
                            "Shuffle Bytes Written", 0),
                        "shuffle_read_records": sr.get("Total Records Read", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0)
                        + m.get("Memory Bytes Spilled", 0),
                    })
    return groups


def streaming_layers(progress: list[dict], files: list[dict], batch_of: dict,
                     n_steady: int) -> dict[str, float]:
    """Per-layer figures of the tail: per-batch phase times and state from
    query progress; backlog and files per batch from the checkpoint's file
    log and the feeder's visible times."""
    batches = [p for p in progress if "addBatch" in p.get("durationMs", {})]

    def d(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys) / 1000

    def state(p, key):
        return sum(op.get(key, 0) or 0 for op in p.get("stateOperators", []))

    starts = {p["batchId"]: _iso_s(p["timestamp"]) for p in batches}
    spans = [(starts[p["batchId"]], starts[p["batchId"]] + d(p, "triggerExecution"))
             for p in batches]
    visible = {e["rel"]: e["visible"] for e in files}
    backlog = [
        sum(1 for rel, v in visible.items()
            if v <= start and batch_of.get(rel, 1 << 62) >= bid)
        for bid, start in starts.items()
    ]
    per_batch = defaultdict(int)
    for e in files:
        if e["rel"] in batch_of:
            per_batch[batch_of[e["rel"]]] += 1
    steady = files[:n_steady]
    lo, hi = steady[0]["visible"], steady[-1]["visible"]
    busy = sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in spans)
    state_ops = [op for p in batches for op in p.get("stateOperators", [])]
    return {
        "pipeline.batches": len(batches),
        "pipeline.batch_s_p50": median(d(p, "triggerExecution") for p in batches),
        "pipeline.add_batch_s_p50": median(d(p, "addBatch") for p in batches),
        "pipeline.planning_s_p50": median(
            d(p, "queryPlanning", "getBatch", "latestOffset") for p in batches),
        "pipeline.log_commit_s_p50": median(
            d(p, "walCommit", "commitOffsets") for p in batches),
        "pipeline.idle_share": 1 - busy / (hi - lo) if hi > lo else 0.0,
        "pipeline.files_per_batch_p50": median(per_batch.values()),
        "pipeline.state_partitions": max(
            (op.get("numShufflePartitions", 0) for op in state_ops), default=0),
        "pipeline.state_commit_ms_p50": median(state(p, "commitTimeMs") for p in batches),
        "pipeline.state_rows": max((state(p, "numRowsTotal") for p in batches), default=0),
        "pipeline.state_bytes": max(
            (state(p, "memoryUsedBytes") for p in batches), default=0),
        "pipeline.rows_dropped_by_watermark": sum(
            state(p, "numRowsDroppedByWatermark") for p in batches),
        "audit_source.backlog_files_max": max(backlog, default=0),
        "audit_source.lines_in": sum(p.get("numInputRows", 0) for p in batches),
    }


def _iso_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
