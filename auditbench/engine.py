"""Everything that touches the engine: its SparkSession, the batch passes,
the streaming tail and the on-disk artifacts the tail leaves behind.

The engine is driven only through its public functions. The session copies
what the program's ``__main__`` sets (app name, UTC, AQE) plus
``local[<cores>]`` and the UI off; it adds no tuning, so tuning the program
does later shows up in the numbers. The other settings here only keep
files and logs inside the benchmark's working directory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import threading
import time
import urllib.parse

from pyspark.sql import DataFrame, SparkSession

from flink_audit_sessions_example_spark.config import AppConfig
from flink_audit_sessions_example_spark.functions.formatting import (
    format_session_result,
)
from flink_audit_sessions_example_spark.operators.sessionize import (
    audit_denied_sessions,
)
from flink_audit_sessions_example_spark.sources.audit_source import (
    read_audit_lines,
    read_audits,
)
from flink_audit_sessions_example_spark.streaming.pipeline import (
    kafka_payload,
    stream_denied_sessions,
    write_kafka_file_twin,
)

#: The reference readme's session gap.
GAP_S = 600
#: how long the engine must stay idle after the steady files before the
#: burst: longer than the gap between a commit and the eviction-only batch
#: the engine starts when the watermark has moved
IDLE_S = 0.5


def cores() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def keep_temp_files_in(work: str) -> None:
    """Point Spark's scratch space and Python's temp files at ``work``;
    must run before the first session starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None


def start_session(
    cores_: int, *, event_log_dir: str | None = None
) -> SparkSession:
    """A fresh session and its first job. Stop the previous one first."""
    builder = (
        SparkSession.builder.appName("audit-denied-sessions")
        .master(f"local[{cores_}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # no perf-data file in /tmp; temp files in the run's directory
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}",
        )
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        # one plain JSON-lines file, so the log parses without a codec
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def shutdown(spark: SparkSession | None) -> None:
    """Stop the session, then end its JVM and wait until it has exited
    (the JVM quits when its stdin closes)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# Batch passes
# --------------------------------------------------------------------------


def batch_prefixes(spark: SparkSession, tree: str, min_date: str | None):
    """Each nested prefix of the batch job, as DataFrames: scan, +parse,
    +sessionize, +format, +sink payload."""
    lines = read_audit_lines(spark, tree, min_date)
    audits = read_audits(spark, tree, min_date)
    sessions = audit_denied_sessions(audits, gap_seconds=GAP_S)
    formatted = format_session_result(sessions)
    return {
        "scan": lines,
        "parse": audits,
        "sessionize": sessions,
        "format": formatted,
        "sink": kafka_payload(formatted),
    }


def batch_pass(
    spark: SparkSession, tree: str, out: str, min_date: str | None = None
) -> float:
    """The whole batch job, from the first call to the parquet written;
    returns its wall time in seconds."""
    t = time.perf_counter()
    sessions = audit_denied_sessions(
        read_audits(spark, tree, min_date), gap_seconds=GAP_S
    )
    kafka_payload(format_session_result(sessions)).write.mode(
        "overwrite"
    ).parquet(out)
    return time.perf_counter() - t


def noop(df: DataFrame) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


# --------------------------------------------------------------------------
# Memory
# --------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except FileNotFoundError:
            pass
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


class RssSampler:
    """Peak of (this process + its JVM and other descendants) RSS, sampled
    from ``/proc`` every 50 ms while active."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _pids(self) -> list[int]:
        pids, frontier = [os.getpid()], [os.getpid()]
        while frontier:
            kids = _children(frontier.pop())
            pids += kids
            frontier += kids
        return pids

    def _run(self) -> None:
        pids = self._pids()
        while not self._stop.wait(0.05):
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# --------------------------------------------------------------------------
# Streaming tail
# --------------------------------------------------------------------------


def _progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _log_files(d: str):
    """The entries of one checkpoint log dir, skipping temporaries."""
    if not os.path.isdir(d):
        return []
    return [n for n in os.listdir(d) if not n.startswith(".") and not n.endswith(".tmp")]


def read_sources_log(ckpt: str, root: str) -> dict[str, int]:
    """File → the file source's own log id, from ``sources/0`` (plain and
    ``.compact`` files); paths are made relative to ``root``."""
    src = os.path.join(ckpt, "sources", "0")
    out = {}
    for name in _log_files(src):
        with open(os.path.join(src, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    path = urllib.parse.unquote(urllib.parse.urlparse(entry["path"]).path)
                    out[os.path.relpath(path, root)] = entry["batchId"]
    return out


def read_offsets(ckpt: str) -> dict[int, int]:
    """Query batch id → the file source log id it read up to, from
    ``offsets/<batchId>`` (version line, metadata line, one offset line)."""
    d = os.path.join(ckpt, "offsets")
    out = {}
    for name in _log_files(d):
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                lines = f.read().splitlines()
            if len(lines) >= 3:
                out[int(name)] = json.loads(lines[2])["logOffset"]
    return out


def read_commits(ckpt: str) -> dict[int, float]:
    """Batch id → commit time (mtime of ``commits/<batchId>``)."""
    d = os.path.join(ckpt, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime
        for n in _log_files(d) if n.isdigit()
    }


def file_batches(ckpt: str, root: str) -> dict[str, int]:
    """File → the query batch that read it: the first batch whose source
    offset reaches the file's source log id. (The source's log ids skip
    batches that read no file, so the two ids differ.)"""
    ends = sorted(read_offsets(ckpt).items())
    out = {}
    for rel, src_id in read_sources_log(ckpt, root).items():
        out[rel] = next((b for b, end in ends if end >= src_id), None)
    return out


class TailRun:
    """One open-loop tail: start the query, let the feeder reveal the
    staged files, wait until every file is committed and the sentinel's
    flush batch has run, stop. ``stage`` is a ``gen.TailStage``; at the
    wall-clock ``deadline`` the run stops waiting, and whatever is not
    committed by then counts as failed."""

    def __init__(self, work: str, stage_dir: str, stage, rate: float,
                 deadline: float):
        self.work = work
        self.stage_dir = stage_dir
        self.stage = stage
        self.rate = rate
        self.deadline = deadline
        self.root = os.path.join(work, "root")
        self.ckpt = os.path.join(work, "ckpt")
        self.out = os.path.join(work, "out")
        self.files: list[dict] = []
        self.late_s_max = 0.0
        self.batch_of: dict[str, int] = {}
        self.commits: dict[int, float] = {}
        self.progress: list[dict] = []
        self.error: str | None = None

    def run(self, spark: SparkSession) -> "TailRun":
        for rel in self.stage.steady:
            os.makedirs(os.path.join(self.root, os.path.dirname(rel)), exist_ok=True)
        cfg = AppConfig(audit_path=self.root, session_gap_seconds=GAP_S)
        query = write_kafka_file_twin(
            format_session_result(stream_denied_sessions(spark, cfg)),
            out_dir=self.out,
            checkpoint_dir=self.ckpt,
        )
        try:
            self._wait_ready(query)
            self._feed_and_drain(query)
        finally:
            query.stop()
        self.progress = _progress_dicts(query)
        if query.exception() is not None and self.error is None:
            self.error = str(query.exception())
        self.batch_of = file_batches(self.ckpt, self.root)
        self.commits = read_commits(self.ckpt)
        return self

    @staticmethod
    def _wait_ready(query, timeout_s: float = 60) -> None:
        deadline = time.time() + timeout_s
        while query.status["message"] == "Initializing sources":
            if time.time() > deadline or not query.isActive:
                raise RuntimeError("streaming query did not start")
            time.sleep(0.02)

    def _feed_and_drain(self, query) -> None:
        plan = os.path.join(self.work, "plan.json")
        feed_log = os.path.join(self.work, "feed.json")
        go = os.path.join(self.work, "burst.go")
        with open(plan, "w") as f:
            json.dump(
                {
                    "stage": self.stage_dir,
                    "root": self.root,
                    "rate": self.rate,
                    "steady": self.stage.steady,
                    "burst_dir": self.stage.burst_dir,
                    "burst": self.stage.burst + [self.stage.sentinel],
                    "go": go,
                    "out": feed_log,
                },
                f,
            )
        t0 = time.time() + 0.5
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "feeder.py"),
             plan, repr(t0)]
        )
        try:
            idle_since = None
            # past the deadline the burst goes out anyway, so the feeder
            # ends and the files still missing count as failed
            while feeder.poll() is None and time.time() < self.deadline + 5:
                if not os.path.exists(go):
                    idle_since = self._idle_since(idle_since)
                    idle = idle_since is not None and time.time() - idle_since >= IDLE_S
                    if idle or time.time() >= self.deadline:
                        open(go, "w").close()
                time.sleep(0.02)
        finally:
            if feeder.poll() is None:
                feeder.kill()
                feeder.wait()
        if feeder.returncode != 0:
            raise RuntimeError(f"feeder exited with {feeder.returncode}")
        with open(feed_log) as f:
            feed = json.load(f)
        self.files = feed["files"]
        self.late_s_max = feed["late_s_max"]
        while time.time() < self.deadline and query.isActive:
            if self._drained():
                return
            time.sleep(0.1)
        if not query.isActive:
            self.error = f"query stopped: {query.exception()}"

    def _idle_since(self, since: float | None) -> float | None:
        """When the engine went idle after the steady files, else ``None``:
        every steady file is in a committed batch and no batch is in flight
        (each batch logs its offsets before it runs)."""
        batch_of = file_batches(self.ckpt, self.root)
        commits = read_commits(self.ckpt)
        offsets = read_offsets(self.ckpt)
        if not all(batch_of.get(rel) in commits for rel in self.stage.steady):
            return None
        if max(offsets, default=-1) != max(commits, default=-1):
            return None
        return since or time.time()

    def _drained(self) -> bool:
        """Every file is in a committed batch, and so is the batch after
        the sentinel's, which emits the sessions the sentinel closed."""
        batch_of = file_batches(self.ckpt, self.root)
        commits = read_commits(self.ckpt)
        if not all(batch_of.get(e["rel"]) in commits for e in self.files):
            return False
        return batch_of[self.stage.sentinel] + 1 in commits

    def commit_time(self, rel: str) -> float | None:
        b = self.batch_of.get(rel)
        return self.commits.get(b) if b is not None else None
