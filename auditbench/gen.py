"""Seeded Ranger audit-tree generator and its ground truth.

One generator serves every workload: ``YYYYMMDD/HH.log`` JSON-lines files
of wide (~480 B) Ranger records, Zipf-skewed ``reqUser``, ~10 % denied
events weighted 1-5, ~1 % malformed lines, ~1 % null users and a few %
of events written up to 6 h after their event time (far inside the
engine's 2-day watermark bound). The same seed always yields the same
bytes, because every random draw comes from one ``random.Random(seed)``.

Ground truth holds one record per line the engine should keep (valid JSON,
non-null user): ``file_date, reqUser, evt_ms, result, event_count``. The
oracle reads only that, never the rendered text.
"""

from __future__ import annotations

import bisect
import datetime as dt
import itertools
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa

HOUR_MS = 3_600_000
DENIED_SHARE = 0.10
MALFORMED_SHARE = 0.01
NULL_USER_SHARE = 0.01
LATE_SHARE = 0.03
MAX_LATE_MS = 6 * HOUR_MS
ZIPF_S = 1.1

_REPOS = ("cm_hdfs", "cm_hive", "cm_kafka", "cm_hbase", "cm_solr")
_ACCESS = ("read", "write", "execute", "select", "update", "create")
_AGENTS = ("hdfs", "hiveServer2", "kafka", "hbaseRegional", "solr")
_TAGS = ("[]", "[]", "[]", '["PII"]', '["PII","FINANCE"]')

# Every field of the reference's Audit POJO, in Ranger's key order. The
# values are plain ASCII without quotes or backslashes, so %-formatting
# yields valid JSON without an escaping pass.
_TEMPLATE = (
    '{"repoType":%d,"repo":"%s","reqUser":%s,"evtTime":"%s",'
    '"access":"%s","resource":"/warehouse/hive/db_%02d.db/table_%03d/part-%05d",'
    '"resType":"path","action":"%s",'
    '"result":%d,"agent":"%s","policy":%d,"policy_version":%d,'
    '"enforcer":"ranger-acl","cliIP":"10.%d.%d.%d","reqData":"",'
    '"agentHost":"worker-%03d.example.net",'
    '"logType":"RangerAudit","seq_num":%d,"event_count":%d,'
    '"event_dur_ms":%d,"tags":%s,"cluster_name":"prod-cluster-%d",'
    '"id":"%08x-%04x-4a1e-9c2d-5e6f7a8b9c0d-0"}'
)

GROUND_TRUTH_SCHEMA = pa.schema(
    [
        ("file_date", pa.string()),
        ("reqUser", pa.string()),
        ("evt_ms", pa.int64()),
        ("result", pa.int32()),
        ("event_count", pa.int32()),
    ]
)


@dataclass(frozen=True)
class TreeSpec:
    """Shape of one generated tree; ``start`` is the first hour's UTC date."""

    days: int
    files_per_day: int
    lines_per_file: int
    n_users: int
    start: dt.date


@dataclass
class Truth:
    """Column lists of the records the engine must keep, plus line counts."""

    file_date: list = field(default_factory=list)
    reqUser: list = field(default_factory=list)
    evt_ms: list = field(default_factory=list)
    result: list = field(default_factory=list)
    event_count: list = field(default_factory=list)
    lines: int = 0
    malformed: int = 0
    null_user: int = 0

    @property
    def valid(self) -> int:
        return len(self.evt_ms)

    def extend(self, other: "Truth") -> None:
        for name in GROUND_TRUTH_SCHEMA.names:
            getattr(self, name).extend(getattr(other, name))
        self.lines += other.lines
        self.malformed += other.malformed
        self.null_user += other.null_user

    def table(self) -> pa.Table:
        return pa.table(
            [getattr(self, n) for n in GROUND_TRUTH_SCHEMA.names],
            schema=GROUND_TRUTH_SCHEMA,
        )


def _evt_time(ms: int) -> str:
    t = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}"


class Generator:
    """Renders hourly files; all randomness comes from ``random.Random(seed)``."""

    def __init__(self, seed: int, n_users: int):
        self.rng = random.Random(seed)
        self.users = [f"user_{i:05d}" for i in range(n_users)]
        # the seed also decides which user is the hot one
        self.rng.shuffle(self.users)
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(n_users)]
        self.cum = list(itertools.accumulate(weights))
        self.seq = 0
        self._hour_prefix: dict[int, str] = {}

    def _evt_time(self, ms: int) -> str:
        """``yyyy-MM-dd HH:mm:ss.SSS`` in UTC, with the date-hour part cached."""
        hour, rest = divmod(ms, HOUR_MS)
        prefix = self._hour_prefix.get(hour)
        if prefix is None:
            prefix = _evt_time(hour * HOUR_MS)[:14]
            self._hour_prefix[hour] = prefix
        sec, milli = divmod(rest, 1000)
        return "%s%02d:%02d.%03d" % (prefix, sec // 60, sec % 60, milli)

    def render_file(
        self, hour_start_ms: int, n_lines: int, file_date: str
    ) -> tuple[str, Truth]:
        """One hourly file: lines sorted by event time, except the late
        share, whose event time lies up to ``MAX_LATE_MS`` earlier."""
        rng = self.rng
        rand = rng.random
        randrange = rng.randrange
        getrandbits = rng.getrandbits
        total = self.cum[-1]
        times = sorted(hour_start_ms + randrange(HOUR_MS) for _ in range(n_lines))
        truth = Truth(lines=n_lines)
        out = []
        for t in times:
            self.seq += 1
            if rand() < LATE_SHARE:
                t -= 1 + randrange(MAX_LATE_MS)
            user = self.users[bisect.bisect_left(self.cum, rand() * total)]
            denied = rand() < DENIED_SHARE
            result = 0 if denied else 1
            count = 1 + randrange(5) if denied else 1
            null_user = rand() < NULL_USER_SHARE
            malformed = rand() < MALFORMED_SHARE
            # one draw feeds every cosmetic field
            r = getrandbits(128)
            repo_i = r % 5
            line = _TEMPLATE % (
                repo_i + 1, _REPOS[repo_i],
                "null" if null_user else f'"{user}"', self._evt_time(t),
                _ACCESS[(r >> 3) % 6], (r >> 6) % 40, (r >> 12) % 1000,
                (r >> 22) % 100000, _ACCESS[(r >> 39) % 6], result,
                _AGENTS[repo_i], (r >> 42) % 500, 1 + (r >> 51) % 9,
                (r >> 55) & 255, (r >> 63) & 255, (r >> 71) & 255,
                (r >> 79) % 200, self.seq, count, (r >> 87) % 50,
                _TAGS[(r >> 93) % 5], 1 + (r >> 96) % 3,
                r >> 98 & 0xFFFFFFFF, self.seq & 0xFFFF,
            )
            if malformed:
                # a truncated record: the writer died mid-line
                out.append(line[: 40 + randrange(len(line) - 80)])
                truth.malformed += 1
                continue
            out.append(line)
            if null_user:
                truth.null_user += 1
                continue
            truth.file_date.append(file_date)
            truth.reqUser.append(user)
            truth.evt_ms.append(t)
            truth.result.append(result)
            truth.event_count.append(count)
        return "\n".join(out) + "\n", truth


def _epoch_ms(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * 86_400_000


def hourly_files(spec: TreeSpec):
    """Yield ``(relative path, hour start ms, YYYYMMDD)`` in event-time order."""
    base = _epoch_ms(spec.start)
    for day in range(spec.days):
        date = (spec.start + dt.timedelta(days=day)).strftime("%Y%m%d")
        for h in range(spec.files_per_day):
            hour_ms = base + (day * 24 + h * 24 // spec.files_per_day) * HOUR_MS
            yield os.path.join(date, f"{h:02d}.log"), hour_ms, date


def write_tree(root: str, spec: TreeSpec, seed: int) -> Truth:
    """Render the whole tree under ``root`` and return its ground truth."""
    gen = Generator(seed, spec.n_users)
    truth = Truth()
    for rel, hour_ms, date in hourly_files(spec):
        text, t = gen.render_file(hour_ms, spec.lines_per_file, date)
        _write(os.path.join(root, rel), text)
        truth.extend(t)
    return truth


#: the burst and the sentinel live under one directory, revealed by a
#: single rename so the engine sees all of them at once
BURST_DIR = "burst"
SENTINEL_REL = os.path.join(BURST_DIR, "sentinel", "zz.log")


@dataclass
class TailStage:
    """The tail's pre-rendered files, in the order the feeder reveals them;
    the burst and the sentinel sit under ``burst_dir``."""

    steady: list[str]
    burst: list[str]
    sentinel: str
    burst_dir: str
    steady_truth: Truth
    burst_truth: Truth


def stage_tail(
    stage: str, seed: int, start: dt.date, n_users: int,
    steady_files: int, steady_lines: int, burst_files: int, burst_lines: int,
) -> TailStage:
    """Pre-render the tail under ``stage``: one file per event-time hour,
    first the steady files, then under ``BURST_DIR`` the burst files and a
    sentinel file holding one allowed event 60 days past the last hour. The
    sentinel moves the watermark past every session, so the engine emits
    them all; an allowed event adds no denies, so its own session is never
    emitted."""
    gen = Generator(seed, n_users)
    n = steady_files + burst_files
    spec = TreeSpec(-(-n // 24), 24, 0, n_users, start)
    out = TailStage([], [], SENTINEL_REL, BURST_DIR, Truth(), Truth())
    last_ms = 0
    for i, (rel, hour_ms, date) in enumerate(itertools.islice(hourly_files(spec), n)):
        in_burst = i >= steady_files
        text, t = gen.render_file(
            hour_ms, burst_lines if in_burst else steady_lines, date
        )
        if in_burst:
            rel = os.path.join(BURST_DIR, rel)
        _write(os.path.join(stage, rel), text)
        (out.burst if in_burst else out.steady).append(rel)
        (out.burst_truth if in_burst else out.steady_truth).extend(t)
        last_ms = hour_ms
    sentinel_ms = last_ms + 60 * 24 * HOUR_MS
    _write(
        os.path.join(stage, SENTINEL_REL),
        '{"repoType":1,"repo":"cm_hdfs","reqUser":"zz_sentinel",'
        f'"evtTime":"{_evt_time(sentinel_ms)}","result":1,"event_count":1}}\n',
    )
    return out


def _write(path: str, text: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(text)
