"""Independent oracle: DuckDB gaps-and-islands over the generator's ground
truth, never over the engine's output or the rendered text.

Semantics are those of the reference's session query (the
``_SESSION_ORACLE`` of the engine's query registry) with Spark's merge
rule: an event whose distance to the previous event of the same user is
at most the gap joins that session, so a distance exactly equal to the gap
merges. A session is [first event, last event + gap); its denies are the
``event_count`` sum over events whose ``result != 1``; sessions with no
denies are not emitted. Results compare as multisets of the reference's
sink strings ``user='%s' denies=%d start=%d end=%d`` (epoch millis).
"""

from __future__ import annotations

from collections import Counter

import duckdb

_SESSIONS = """
WITH ev AS (
  SELECT reqUser AS u, evt_ms AS t,
         CASE WHEN result <> 1 THEN event_count ELSE 0 END AS w
  FROM truth
  WHERE reqUser IS NOT NULL AND ($min_date IS NULL OR file_date >= $min_date)
), marked AS (
  SELECT *, CASE WHEN t - LAG(t) OVER (PARTITION BY u ORDER BY t) <= $gap_ms
                 THEN 0 ELSE 1 END AS new_sess
  FROM ev
), sess AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY u ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT printf('user=''%s'' denies=%d start=%d end=%d',
              u, CAST(SUM(w) AS BIGINT), MIN(t), MAX(t) + $gap_ms)
FROM sess
GROUP BY u, sid
HAVING SUM(w) <> 0
"""


def expected_sessions(truth, gap_ms: int, min_date: str | None = None) -> Counter:
    """Sessions the engine must emit. ``truth`` is an Arrow table or a
    parquet path with columns ``file_date, reqUser, evt_ms, result,
    event_count``; ``min_date`` keeps files in date dirs >= it."""
    con = duckdb.connect()
    try:
        if isinstance(truth, str):
            con.execute(f"CREATE VIEW truth AS SELECT * FROM read_parquet('{truth}')")
        else:
            con.register("truth", truth)
        rows = con.execute(
            _SESSIONS, {"gap_ms": gap_ms, "min_date": min_date}
        ).fetchall()
    finally:
        con.close()
    return Counter(r[0] for r in rows)


def engine_sessions(parquet_glob: str) -> Counter:
    """The ``value`` strings the engine wrote, as a multiset."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT value FROM read_parquet(?, union_by_name = true)",
            [parquet_glob],
        ).fetchall()
    except duckdb.IOException:  # the engine wrote no file at all
        rows = []
    finally:
        con.close()
    return Counter(r[0] for r in rows)


def mismatch(expected: Counter, got: Counter) -> str | None:
    """``None`` when equal; otherwise a short description of the diff."""
    if expected == got:
        return None
    missing = expected - got
    extra = got - expected
    return (
        f"{sum(missing.values())} missing (e.g. {next(iter(missing), None)!r}), "
        f"{sum(extra.values())} extra (e.g. {next(iter(extra), None)!r})"
    )
