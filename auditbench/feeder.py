"""Open-loop tail feeder: one process, one thread.

Usage: python3 feeder.py PLAN_JSON T0

Reveals pre-rendered files to the engine's watched root on a fixed
schedule that does not slow down when the engine does. ``PLAN_JSON`` holds
``stage``, ``root``, ``steady`` (relative paths), ``rate`` (files/s),
``burst_dir`` (relative path of the directory holding the burst),
``burst`` (the relative paths in it), ``go`` (a path) and ``out`` (where
to write the log). Steady file ``i`` is due at ``T0 + i / rate``. The
burst, its last file the sentinel, is due once the file ``go`` exists and
is revealed by renaming its whole directory at once: the benchmark
creates it once the steady files are all committed and the engine has
gone idle, so the burst always meets an idle engine and its drain time
does not depend on where the steady phase left the engine's batch cycle.

A reveal stamps the staged file's mtime with the current time (the file
stream source orders new files by mtime) and renames it into the watched
root; a rename within one filesystem is atomic, so the engine never sees a
partial file. The log records, per file, when it was due and when it became
visible, and the feeder's own lateness against the schedule.
"""

from __future__ import annotations

import json
import os
import sys
import time

GO_TIMEOUT_S = 120


def reveal(stage: str, root: str, rel: str) -> float:
    """Stamp ``rel`` (a file or directory) with the current mtime, rename
    it into the watched root and return when it became visible."""
    src = os.path.join(stage, rel)
    os.utime(src)
    os.rename(src, os.path.join(root, rel))
    return time.time()


def main(plan_path: str, t0: float) -> int:
    with open(plan_path) as f:
        plan = json.load(f)
    stage, root, rate = plan["stage"], plan["root"], plan["rate"]
    log = []
    for i, rel in enumerate(plan["steady"]):
        due = t0 + i / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        log.append({"rel": rel, "due": due, "visible": reveal(stage, root, rel)})
    deadline = time.time() + GO_TIMEOUT_S
    while not os.path.exists(plan["go"]):
        if time.time() > deadline:
            return 1
        time.sleep(0.005)
    due = time.time()
    for rel in plan["burst"]:
        os.utime(os.path.join(stage, rel))
    visible = reveal(stage, root, plan["burst_dir"])
    log += [{"rel": rel, "due": due, "visible": visible} for rel in plan["burst"]]
    late = [e["visible"] - e["due"] for e in log]
    with open(plan["out"], "w") as f:
        json.dump({"files": log, "late_s_max": max(late)}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], float(sys.argv[2])))
