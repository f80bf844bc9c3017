"""Audit-session benchmark.

Usage (from the repository root)::

    python3 auditbench/run.py --workload {backfill,pruned} \\
        --seed N --seconds S --trace {0,1}

Generates a seeded Ranger audit tree, drives the engine through its public
functions, checks every result against the DuckDB oracle over the
generator's ground truth and prints one JSON line as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``.

Workloads (``METRICS.md`` maps every metric to its layer):

- ``backfill`` — batch jobs over the whole 30-day tree; JSON parse and
  session aggregation do most of the work, the streaming layer none.
- ``pruned`` — the same jobs with ``min_date`` keeping the newest 3 of the
  30 date dirs; only source-side date pruning should move it.

``--trace 0`` prints the end-to-end metrics of the chosen workload.
``--trace 1`` runs the traced suite whatever the workload — the layers of
``backfill`` and ``pruned``, the single-core baseline, the tracing
overhead and the open-loop streaming ``tail`` (a separate feeder process
reveals hourly files on a fixed schedule for ``--seconds``, then one
burst, then a far-future sentinel that flushes every session) — and
prints the per-layer metrics; the spans go to ``.auditbench_out/``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# the engine import fails in a checkout without the engine: no result then
import engine  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

#: workload -> ``min_date`` of its jobs
SCOPES = {"backfill": None, "pruned": "20240328"}  # pruned: newest 3 of 30 dirs
WORKLOADS = tuple(SCOPES)

TREE_DAYS = 30
TREE_FILES_PER_DAY = 24
TREE_LINES_PER_FILE = 100
N_USERS = 5000
TREE_START = dt.date(2024, 3, 1)

#: p90 over the steady files needs at least 10 files beyond it
TAIL_STEADY_FILES = 100
TAIL_EVENTS_PER_S = 1500
TAIL_BURST_FILES = 40
TAIL_BURST_LINES = 500
TAIL_START = dt.date(2024, 6, 1)
#: a run must end within 180 s of its start: the tail stops waiting for
#: commits at this age of the process and counts what is missing as failed
RUN_DEADLINE_S = 160

#: fresh processes that start a session beside the benchmark's own
SETUP_PROBES = 1
#: untimed passes that let the JIT and the page cache settle
WARM_PASSES = 1
MIN_PASSES = 4
GAP_MS = 600_000

#: (name, unit, better)
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("events_per_s", "events/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)

_BATCH_LAYERS = (
    ("audit_source.scan_s", "s", "lower"),
    ("audit_source.parse_s", "s", "lower"),
    ("audit_source.bytes_read", "bytes", "lower"),
    ("audit_source.files_listed", "count", "lower"),
    ("audit_source.parse_yield", "ratio", "higher"),
    ("sessionize.sessions_out", "count", "higher"),
    ("wall_s", "s", "lower"),
    ("trace_overhead_s", "s", "lower"),
)
PER_LAYER = (
    *(("backfill." + n, u, b) for n, u, b in _BATCH_LAYERS),
    ("backfill.sessionize.self_s", "s", "lower"),
    ("backfill.sessionize.shuffle_bytes", "bytes", "lower"),
    ("backfill.sessionize.spill_bytes", "bytes", "lower"),
    ("backfill.sessionize.reduce_tasks", "count", "lower"),
    ("backfill.sessionize.task_skew", "ratio", "lower"),
    ("backfill.formatting.self_s", "s", "lower"),
    ("backfill.pipeline.sink_write_s", "s", "lower"),
    ("backfill.speedup_vs_1core", "ratio", "higher"),
    *(("pruned." + n, u, b) for n, u, b in _BATCH_LAYERS),
    ("pruned.audit_source.read_useful_share", "ratio", "higher"),
    ("tail.audit_source.backlog_files_max", "count", "lower"),
    ("tail.audit_source.lines_in", "count", "higher"),
    ("tail.pipeline.batches", "count", "lower"),
    ("tail.pipeline.batch_s_p50", "s", "lower"),
    ("tail.pipeline.add_batch_s_p50", "s", "lower"),
    ("tail.pipeline.planning_s_p50", "s", "lower"),
    ("tail.pipeline.log_commit_s_p50", "s", "lower"),
    ("tail.pipeline.idle_share", "ratio", "higher"),
    ("tail.pipeline.files_per_batch_p50", "count", "higher"),
    ("tail.pipeline.state_partitions", "count", "lower"),
    ("tail.pipeline.state_commit_ms_p50", "ms", "lower"),
    ("tail.pipeline.state_rows", "count", "lower"),
    ("tail.pipeline.state_bytes", "bytes", "lower"),
    ("tail.pipeline.rows_dropped_by_watermark", "count", "lower"),
    ("tail.sessionize.sessions_out", "count", "higher"),
    ("tail.feeder.late_s_max", "s", "lower"),
    ("tail.latency_p50_s", "s", "lower"),
    ("tail.latency_p90_s", "s", "lower"),
    ("tail.drain_events_per_s", "events/s", "higher"),
)


def run_deadline() -> float:
    """The wall-clock time at which the tail stops waiting."""
    return time.time() - engine.process_age_s() + RUN_DEADLINE_S


def nearest_rank(xs, q: float) -> float:
    xs = sorted(xs)
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


class Check:
    """Operations attempted and failed, with the reasons for failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, n: int = 1, failed: int = 0, problem: str | None = None):
        self.attempted += n
        self.failed += failed
        if problem:
            self.problems.append(problem)
            print(f"check: {problem}", file=sys.stderr)

    def expect(self, ok: bool, problem: str) -> None:
        """A correctness guard that is not an operation of its own."""
        if not ok:
            self.problems.append(problem)
            print(f"check: {problem}", file=sys.stderr)

    def result(self, metrics: dict, table) -> dict:
        units = {n: u for n, u, _ in table}
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
        }


# --------------------------------------------------------------------------
# Workload pieces
# --------------------------------------------------------------------------


def make_tree(work: str, seed: int):
    """The tree, its ground truth as a table, and that table's parquet file
    (which the oracle reads)."""
    spec = gen.TreeSpec(TREE_DAYS, TREE_FILES_PER_DAY, TREE_LINES_PER_FILE,
                        N_USERS, TREE_START)
    tree = os.path.join(work, "tree")
    truth = gen.write_tree(tree, spec, seed).table()
    truth_path = os.path.join(work, "truth.parquet")
    pq.write_table(truth, truth_path)
    return tree, truth, truth_path


def records_in_scope(truth, min_date) -> int:
    """Ground-truth records in date dirs >= ``min_date`` (all when None)."""
    if min_date is None:
        return truth.num_rows
    return pc.sum(pc.greater_equal(truth["file_date"], min_date)).as_py()


def batch_output(out: str, expected) -> tuple[int, str | None]:
    """Rows the batch job wrote to ``out``, and how they differ from the
    oracle's (``None`` when equal)."""
    got = oracle.engine_sessions(os.path.join(out, "*.parquet"))
    diff = oracle.mismatch(expected, got)
    return sum(got.values()), None if diff is None else f"{out}: {diff}"


def make_tail(work: str, seed: int, seconds: int):
    steady_lines = max(1, TAIL_EVENTS_PER_S * seconds // TAIL_STEADY_FILES)
    stage_dir = os.path.join(work, "stage")
    stage = gen.stage_tail(
        stage_dir, seed, TAIL_START, N_USERS, TAIL_STEADY_FILES,
        steady_lines, TAIL_BURST_FILES, TAIL_BURST_LINES,
    )
    return stage_dir, stage, TAIL_STEADY_FILES / seconds


def tail_figures(run, stage, check: Check, expected) -> dict:
    """End-to-end tail figures; failures are uncommitted files, or every
    file when the output disagrees with the oracle."""
    n_steady = len(stage.steady)
    files = run.files[: n_steady + len(stage.burst)]  # the sentinel is last
    uncommitted = [e for e in files if run.commit_time(e["rel"]) is None]
    check.expect(run.error is None, f"tail: {run.error}")
    got = oracle.engine_sessions(os.path.join(run.out, "*", "*.parquet"))
    diff = oracle.mismatch(expected, got)
    if diff is not None:
        check.op(len(files), len(files), f"tail output: {diff}")
    else:
        check.op(len(files), len(uncommitted),
                 f"tail: {len(uncommitted)} files never committed" if uncommitted else None)
    # a file never committed counts as infinitely late: it reads as the
    # time from its reveal until the run gave up on it
    gave_up = time.time()

    def committed(e):
        c = run.commit_time(e["rel"])
        return gave_up if c is None else c

    lat = [committed(e) - e["visible"] for e in files[:n_steady]]
    burst = files[n_steady:]
    drain_s = max(committed(e) for e in burst) - burst[0]["visible"]
    return {
        "latency_p50_s": nearest_rank(lat, 0.5),
        "latency_p90_s": nearest_rank(lat, 0.9),
        "drain_events_per_s": stage.burst_truth.valid / drain_s,
        "sessions_out": sum(got.values()),
    }


# --------------------------------------------------------------------------
# Runs
# --------------------------------------------------------------------------


def measure_setup(work: str):
    """Start the session while ``SETUP_PROBES`` fresh processes do the
    same; the set-up time is the median over all of them."""
    probes = [
        subprocess.Popen(
            [sys.executable, os.path.join(HERE, "setup_probe.py"),
             os.path.join(work, f"probe{i}")],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for i in range(SETUP_PROBES)
    ]
    try:
        spark = engine.start_session(engine.cores())
        samples = [engine.process_age_s()]
        for p in probes:
            out, err = p.communicate(timeout=180)
            if p.returncode != 0:
                raise RuntimeError(f"setup probe failed:\n{err[-2000:]}")
            samples.append(float(out.split()[-1]))
    finally:
        for p in probes:
            if p.poll() is None:
                p.kill()
                p.wait()
    return spark, statistics.median(samples)


def run_batch(spark, work, args, setup_s) -> dict:
    """Whole batch jobs over the workload's scope, back to back."""
    min_date = SCOPES[args.workload]
    tree, truth, truth_path = make_tree(work, args.seed)
    expected = oracle.expected_sessions(truth_path, GAP_MS, min_date)
    warm = [engine.batch_pass(spark, tree, os.path.join(work, f"warm{i}"), min_date)
            for i in range(WARM_PASSES)]
    walls, outs = [], []
    with engine.RssSampler() as rss:
        end = time.time() + args.seconds
        while len(walls) < MIN_PASSES or time.time() < end:
            outs.append(os.path.join(work, f"out{len(walls)}"))
            walls.append(engine.batch_pass(spark, tree, outs[-1], min_date))
    # the run is one operation; it fails if any pass disagrees with the oracle
    diffs = [d for out in outs if (d := batch_output(out, expected)[1])]
    check = Check()
    check.op(1, int(bool(diffs)), "; ".join(diffs) or None)
    p50 = statistics.median(walls)
    print(f"{args.workload}: warm-up {[round(w, 3) for w in warm]}, "
          f"passes {[round(w, 3) for w in walls]}", file=sys.stderr)
    return check.result({
        "setup_s": setup_s,
        "events_per_s": records_in_scope(truth, min_date) / p50,
        "peak_rss_mb": rss.peak_mb,
    }, END_TO_END)


def _tail_expected(stage, work: str):
    path = os.path.join(work, "tail-truth.parquet")
    pq.write_table(
        pa.concat_tables([stage.steady_truth.table(), stage.burst_truth.table()]), path
    )
    return oracle.expected_sessions(path, GAP_MS)


def run_traced(spark, work, args) -> dict:
    """Every workload's layers: plain passes, the ``local[1]`` job, each
    nested prefix in a session with the event log on, then the tail in a
    plain session, last, so that its deadline bounds the run."""
    spans = tracing.Spans()
    check = Check()
    m: dict[str, float] = {}
    tree, truth, truth_path = make_tree(work, args.seed)
    stage_dir, stage, rate = make_tail(work, args.seed, args.seconds)
    expected = {
        wl: oracle.expected_sessions(truth_path, GAP_MS, md)
        for wl, md in SCOPES.items()
    }
    tail_expected = _tail_expected(stage, work)

    # plain session: line and record counts, a warm-up job, then the
    # untraced reference walls
    lines_kept_of = {}
    for wl, md in SCOPES.items():
        pre = engine.batch_prefixes(spark, tree, md)
        lines_kept = pre["scan"].count()
        records = pre["parse"].count()
        m[f"{wl}.audit_source.files_listed"] = len(pre["scan"].inputFiles())
        m[f"{wl}.audit_source.parse_yield"] = records / lines_kept
        lines_generated = _lines_in_scope(md)
        check.expect(lines_kept == lines_generated,
                     f"{wl}: {lines_kept} lines kept, generator wrote {lines_generated}")
        truth_records = records_in_scope(truth, md)
        check.expect(records == truth_records,
                     f"{wl}: {records} records parsed, ground truth has {truth_records}")
        lines_kept_of[wl] = lines_kept
    engine.batch_pass(spark, tree, os.path.join(work, "warm"), None)
    plain = {}
    for wl, md in SCOPES.items():
        with spans.span(f"{wl}.plain"):
            plain[wl] = engine.batch_pass(spark, tree, os.path.join(work, f"plain-{wl}"), md)
    spark.stop()

    # single-core baseline of the whole backfill job
    spark = engine.start_session(1)
    with spans.span("backfill.local1"):
        one = engine.batch_pass(spark, tree, os.path.join(work, "local1"), None)
    spark.stop()
    m["backfill.speedup_vs_1core"] = one / plain["backfill"]

    # traced session: nested prefixes under one job group each; pruned
    # needs only the source prefixes
    event_log = os.path.join(work, "eventlog")
    spark = engine.start_session(engine.cores(), event_log_dir=event_log)
    sc = spark.sparkContext
    walls: dict[str, float] = {}
    for wl, md in SCOPES.items():
        out = os.path.join(work, f"traced-{wl}")
        with spans.span(wl):
            pre = engine.batch_prefixes(spark, tree, md)
            names = ("scan", "parse", "sessionize", "format") if wl == "backfill" else (
                "scan", "parse")
            for name in (*names, "sink"):
                key = f"{wl}.{name}"
                sc.setJobGroup(key, f"{wl} up to {name}")
                with spans.span(key):
                    if name == "sink":
                        walls[key] = engine.batch_pass(spark, tree, out, md)
                    else:
                        walls[key] = engine.noop(pre[name])
        sessions_out, diff = batch_output(out, expected[wl])
        check.op(1, int(diff is not None), diff)
        m[f"{wl}.audit_source.scan_s"] = walls[f"{wl}.scan"]
        m[f"{wl}.audit_source.parse_s"] = walls[f"{wl}.parse"] - walls[f"{wl}.scan"]
        m[f"{wl}.sessionize.sessions_out"] = sessions_out
        m[f"{wl}.wall_s"] = plain[wl]
        m[f"{wl}.trace_overhead_s"] = walls[f"{wl}.sink"] - plain[wl]
    spark.stop()

    # the tail's layers come from its progress reports and checkpoint logs,
    # which the engine writes anyway, so it runs in a plain session
    spark = engine.start_session(engine.cores())
    with spans.span("tail"):
        tail = engine.TailRun(os.path.join(work, "tail"), stage_dir, stage,
                              rate, run_deadline()).run(spark)
    fig = tail_figures(tail, stage, check, tail_expected)
    spark.stop()
    batches = [(p["batchId"], p["numInputRows"], p["durationMs"]["triggerExecution"])
               for p in tail.progress if "addBatch" in p["durationMs"]]
    print(f"tail: (batch, rows, ms) {batches}", file=sys.stderr)

    groups = tracing.event_log_groups(event_log)
    for wl in SCOPES:
        scan = groups[f"{wl}.scan"]
        m[f"{wl}.audit_source.bytes_read"] = scan.total("input_bytes")
        if wl == "pruned":
            m["pruned.audit_source.read_useful_share"] = (
                lines_kept_of["pruned"] / scan.total("input_records"))
    b = walls
    m["backfill.sessionize.self_s"] = b["backfill.sessionize"] - b["backfill.parse"]
    m["backfill.formatting.self_s"] = b["backfill.format"] - b["backfill.sessionize"]
    m["backfill.pipeline.sink_write_s"] = b["backfill.sink"] - b["backfill.format"]
    sess = groups["backfill.sessionize"]
    reduce_ms = [t["time_ms"] for t in sess.reduce_tasks()]
    m["backfill.sessionize.shuffle_bytes"] = sess.total("shuffle_write_bytes")
    m["backfill.sessionize.spill_bytes"] = sess.total("spill_bytes")
    m["backfill.sessionize.reduce_tasks"] = len(reduce_ms)
    m["backfill.sessionize.task_skew"] = (
        max(reduce_ms) / max(1.0, statistics.median(reduce_ms)) if reduce_ms else 0.0)

    layers = tracing.streaming_layers(tail.progress, tail.files, tail.batch_of,
                                    len(stage.steady))
    for k, v in layers.items():
        m["tail." + k] = v
    check.expect(layers["pipeline.rows_dropped_by_watermark"] == 0,
                 "tail: rows dropped by the watermark")
    m["tail.sessionize.sessions_out"] = fig["sessions_out"]
    m["tail.feeder.late_s_max"] = tail.late_s_max
    for k in ("latency_p50_s", "latency_p90_s", "drain_events_per_s"):
        m["tail." + k] = fig[k]

    spans.dump(os.path.join(ROOT, ".auditbench_out",
                            f"spans-{args.workload}-{args.seed}.json"))
    return check.result(m, PER_LAYER)


def _lines_in_scope(min_date) -> int:
    days = TREE_DAYS
    if min_date is not None:
        start = dt.datetime.strptime(min_date, "%Y%m%d").date()
        days = TREE_DAYS - (start - TREE_START).days
    return days * TREE_FILES_PER_DAY * TREE_LINES_PER_FILE


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    started = time.time()
    work = os.path.join(ROOT, ".auditbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        engine.keep_temp_files_in(work)
        if args.trace:
            spark = engine.start_session(engine.cores())
            result = run_traced(spark, work, args)
            spark = None  # run_traced stops the sessions it starts
        else:
            spark, setup_s = measure_setup(work)
            result = run_batch(spark, work, args, setup_s)
        print(f"{args.workload}: run took {time.time() - started:.1f} s", file=sys.stderr)
    finally:
        engine.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
