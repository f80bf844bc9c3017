"""The package holds only what the audit path reaches.

A module stays only if importing ``__main__``, ``streaming.pipeline`` (what
the benchmark drives) or ``plans`` (the 11 reference keys) loads it. A
module that only tests reach is dead weight and fails this test. The
extended operator surface lives outside the package, in ``extended_ops``,
and the audit path must not import it.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import flink_audit_sessions_example_spark as pkg

ROOTS = ("__main__", "streaming.pipeline", "plans")


def test_every_module_is_reached_from_the_audit_path():
    name = pkg.__name__
    code = (
        "import importlib, json, sys\n"
        f"for root in {ROOTS!r}:\n"
        f"    importlib.import_module({name!r} + '.' + root)\n"
        "print(json.dumps(sorted(m for m in sys.modules "
        f"if m.split('.')[0] in ({name!r}, 'extended_ops'))))\n"
    )
    loaded = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        check=True,
        cwd=Path(pkg.__file__).parent.parent,
    ).stdout
    root = Path(pkg.__file__).parent
    on_disk = set()
    for path in root.rglob("*.py"):
        parts = path.relative_to(root).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        on_disk.add(".".join((name, *parts)))
    loaded = set(json.loads(loaded))
    assert on_disk - loaded == set()
    assert {m for m in loaded if m.split(".")[0] == "extended_ops"} == set()
