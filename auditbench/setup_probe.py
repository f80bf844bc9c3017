"""One fresh-process set-up sample: import the engine, start the session
the benchmark uses, run its first job, print this process's age in seconds.

Usage: python3 setup_probe.py WORK_DIR
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(work: str) -> int:
    import engine

    engine.keep_temp_files_in(work)
    spark = engine.start_session(engine.cores())
    age = engine.process_age_s()
    engine.shutdown(spark)
    print(f"{age:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
