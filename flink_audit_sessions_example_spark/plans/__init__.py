"""Query registry — the engine's public query surface.

``QUERIES`` maps each of the 11 reference-pipeline keys (SURVEY.md §2,
``src_file_monitor`` … ``time_watermark``) to a callable
``(spark, sf_dir) -> DataFrame``; ``ORACLES`` maps the same keys to
equivalent DuckDB SQL. Both live in :mod:`.queries`;
``__spark_entry__.py`` re-exports them, and ``tests/test_oracle_parity.py``
replays every pair against DuckDB.
"""

from .queries import ORACLES, QUERIES, flagship  # noqa: F401
