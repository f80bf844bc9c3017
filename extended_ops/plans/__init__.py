"""Extended query registry.

``QUERIES`` maps every key — the 11 reference keys of
:mod:`flink_audit_sessions_example_spark.plans` plus the extended ones —
to a callable ``(spark, sf_dir) -> DataFrame``; ``ORACLES`` maps the same
keys to equivalent DuckDB SQL. ``__spark_entry__.py`` serves only the 11
reference keys; ``tests/test_oracle_parity.py`` replays every pair here
against DuckDB.

Each module below contributes one ``(queries, oracles)`` pair of dicts;
they are merged in the listed order. A key defined by two modules would
let one silently shadow the other, so that raises at import.
"""

from flink_audit_sessions_example_spark.plans.queries import (
    ORACLES as _CORE_ORACLES,
)
from flink_audit_sessions_example_spark.plans.queries import (
    QUERIES as _CORE_QUERIES,
)
from .extended import EXTENDED_ORACLES, EXTENDED_QUERIES
from .round10 import ROUND10_ORACLES, ROUND10_QUERIES
from .round12 import ROUND12_ORACLES, ROUND12_QUERIES
from .staged import STAGED_ORACLES, STAGED_QUERIES
from .staged_r11 import STAGED_R11_ORACLES, STAGED_R11_QUERIES
from .staged_r12 import STAGED_R12_ORACLES, STAGED_R12_QUERIES
from .staged_r13 import STAGED_R13_ORACLES, STAGED_R13_QUERIES
from .staged_r14 import STAGED_R14_ORACLES, STAGED_R14_QUERIES
from .staged_r15 import STAGED_R15_ORACLES, STAGED_R15_QUERIES
from .staged_r16 import STAGED_R16_ORACLES, STAGED_R16_QUERIES
from .staged_r17 import STAGED_R17_ORACLES, STAGED_R17_QUERIES
from .staged_r18 import STAGED_R18_ORACLES, STAGED_R18_QUERIES
from .staged_r19 import STAGED_R19_ORACLES, STAGED_R19_QUERIES
from .staged_r20 import STAGED_R20_ORACLES, STAGED_R20_QUERIES
from .staged_r21 import STAGED_R21_ORACLES, STAGED_R21_QUERIES
from .staged_r22 import STAGED_R22_ORACLES, STAGED_R22_QUERIES
from .staged_r23 import STAGED_R23_ORACLES, STAGED_R23_QUERIES
from .staged_r24 import STAGED_R24_ORACLES, STAGED_R24_QUERIES
from .staged_r25 import STAGED_R25_ORACLES, STAGED_R25_QUERIES
from .staged_r26 import STAGED_R26_ORACLES, STAGED_R26_QUERIES
from .staged_r27 import STAGED_R27_ORACLES, STAGED_R27_QUERIES
from .staged_r28 import STAGED_R28_ORACLES, STAGED_R28_QUERIES

_BATCHES = [
    (_CORE_QUERIES, _CORE_ORACLES),
    (EXTENDED_QUERIES, EXTENDED_ORACLES),
    (STAGED_QUERIES, STAGED_ORACLES),
    (ROUND10_QUERIES, ROUND10_ORACLES),
    (ROUND12_QUERIES, ROUND12_ORACLES),
    (STAGED_R11_QUERIES, STAGED_R11_ORACLES),
    (STAGED_R12_QUERIES, STAGED_R12_ORACLES),
    (STAGED_R13_QUERIES, STAGED_R13_ORACLES),
    (STAGED_R14_QUERIES, STAGED_R14_ORACLES),
    (STAGED_R15_QUERIES, STAGED_R15_ORACLES),
    (STAGED_R16_QUERIES, STAGED_R16_ORACLES),
    (STAGED_R17_QUERIES, STAGED_R17_ORACLES),
    (STAGED_R18_QUERIES, STAGED_R18_ORACLES),
    (STAGED_R19_QUERIES, STAGED_R19_ORACLES),
    (STAGED_R20_QUERIES, STAGED_R20_ORACLES),
    (STAGED_R21_QUERIES, STAGED_R21_ORACLES),
    (STAGED_R22_QUERIES, STAGED_R22_ORACLES),
    (STAGED_R23_QUERIES, STAGED_R23_ORACLES),
    (STAGED_R24_QUERIES, STAGED_R24_ORACLES),
    (STAGED_R25_QUERIES, STAGED_R25_ORACLES),
    (STAGED_R26_QUERIES, STAGED_R26_ORACLES),
    (STAGED_R27_QUERIES, STAGED_R27_ORACLES),
    (STAGED_R28_QUERIES, STAGED_R28_ORACLES),
]

QUERIES: dict = {}
ORACLES: dict = {}
for _queries, _oracles in _BATCHES:
    # a hard raise, not an assert: `python -O` strips asserts
    _shadowed = (QUERIES.keys() & _queries.keys()) | (
        ORACLES.keys() & _oracles.keys()
    )
    if _shadowed:
        raise ValueError(f"registry batches shadow each other: {_shadowed}")
    QUERIES.update(_queries)
    ORACLES.update(_oracles)
