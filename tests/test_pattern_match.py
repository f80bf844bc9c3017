"""pattern_match_topk (z-normalized subsequence search): bit-identical
DuckDB cross-engine parity on real event series (explicit left-fold
expression order, no rounding tolerance), planted shape-at-any-scale
matches, constant-window exclusion, and plan gates."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.timeseries import (
    pattern_match_topk,
)
from extended_ops.sources.tables import load_table

# query shape: one up-step. z-normalized in python; the oracle inlines
# the same z-scores as literals (computed in the test, see below).
QUERY = [1.0, 1.0, 3.0, 3.0]


def _qz():
    import math

    m = sum(QUERY) / len(QUERY)
    sd = math.sqrt(sum((x - m) ** 2 for x in QUERY) / len(QUERY))
    return [(x - m) / sd for x in QUERY]


def _oracle():
    q = _qz()
    # EXACT left-fold order mirroring the operator: ((l0+l1)+l2)+l3,
    # and the same STABLE two-pass variance fold(sq(l - mu))/w
    mu = "((((l0 + l1) + l2) + l3) / 4.0)"
    devs = [f"((l{j} - {mu}) * (l{j} - {mu}))" for j in range(4)]
    var = f"(((({devs[0]} + {devs[1]}) + {devs[2]}) + {devs[3]}) / 4.0)"
    sd = f"sqrt({var})"
    terms = [
        f"((l{j} - {mu}) / {sd} - ({q[j]!r}))" for j in range(4)
    ]
    sq = [f"({t} * {t})" for t in terms]
    dist2 = f"((({sq[0]} + {sq[1]}) + {sq[2]}) + {sq[3]})"
    return f"""
WITH s AS (
  SELECT user_id, ts,
         CAST(value AS DOUBLE) AS l0,
         lead(CAST(value AS DOUBLE), 1) OVER w AS l1,
         lead(CAST(value AS DOUBLE), 2) OVER w AS l2,
         lead(CAST(value AS DOUBLE), 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT user_id, ts, sqrt({dist2}) AS dist
  FROM s
  WHERE l0 IS NOT NULL AND l1 IS NOT NULL
    AND l2 IS NOT NULL AND l3 IS NOT NULL
    AND {var} > 0
)
SELECT user_id, ts, dist FROM c
ORDER BY dist, user_id, ts LIMIT 15
"""


def test_pattern_match_matches_duckdb_bit_for_bit(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    got = pattern_match_topk(
        ev, QUERY, key_col="user_id", time_col="ts",
        value_col="value", k=15, tiebreak_col="event_id",
    )
    # driver-shape check (assert_parity rounds floats to 6dp, so it
    # alone would NOT back the bit-identical claim)...
    assert_parity(got, _oracle(), SF_DIR)
    rows = got.collect()
    assert len(rows) == 15 and rows[0].dist < rows[-1].dist
    # ...so enforce the claim directly: RAW doubles, exact equality,
    # no tolerance — the fold order is identical, so the IEEE results
    # must be bit-for-bit the same
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{SF_DIR}/events.parquet'"
    )
    duck = {
        (r[0], r[1]): r[2] for r in con.execute(_oracle()).fetchall()
    }
    assert {(r.user_id, r.ts): r.dist for r in rows} == duck


def test_planted_shape_matches_at_any_scale_and_offset(spark):
    # key 1 carries the query shape scaled x100 and offset +5000 at
    # t=10..13; key 2 is noise; key 3 is CONSTANT (must be excluded)
    rows = []
    series = {
        1: [0.0, 2.0, 5100.0, 5100.0, 5300.0, 5300.0, 9.0, 1.0],
        2: [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0],
        3: [7.0] * 8,
    }
    for k, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((k, i, v))
    df = spark.createDataFrame(rows, "k bigint, t bigint, v double")
    got = pattern_match_topk(
        df, QUERY, key_col="k", time_col="t", value_col="v", k=3
    ).collect()
    # the scaled+shifted plant is a PERFECT z-norm match: dist 0 at t=2
    assert (got[0].k, got[0].t) == (1, 2)
    assert got[0].dist == pytest.approx(0.0, abs=1e-9)
    # constant key never appears
    assert all(r.k != 3 for r in got)


def test_validation_and_edges(spark):
    df = spark.createDataFrame([(1, 0, 1.0)], "k bigint, t bigint, v double")
    with pytest.raises(ValueError):
        pattern_match_topk(df, [1.0], key_col="k", time_col="t", value_col="v")
    with pytest.raises(ValueError):
        pattern_match_topk(
            df, [2.0, 2.0], key_col="k", time_col="t", value_col="v"
        )
    with pytest.raises(ValueError):
        pattern_match_topk(
            df, QUERY, key_col="k", time_col="t", value_col="v", k=0
        )
    # series shorter than the query yields nothing (incomplete windows)
    assert (
        pattern_match_topk(
            df, QUERY, key_col="k", time_col="t", value_col="v"
        ).count()
        == 0
    )


def test_pattern_match_plan_gates(spark):
    """Scale gate: ONE WindowExec (all leads share the spec) over one
    hash exchange, top-k via TakeOrderedAndProject — no self-join on
    time offsets, no global sort."""
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    plan = (
        pattern_match_topk(
            ev, QUERY, key_col="user_id", time_col="ts",
            value_col="value", k=15, tiebreak_col="event_id",
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window [") == 1
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
