"""weighted_sample_k (A-ES exponential keys) and cdc_apply (changelog ->
snapshot with tombstones): DuckDB cross-engine parity on the real corpus
plus pure-Python reference / hand-computed edges."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.corpus import (
    sample_k_per_group,
    weighted_sample_k,
)
from extended_ops.operators.dedup import (
    cdc_apply,
    latest_by_key,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _CORPUS_WEIGHTED_SAMPLE_ORACLE as WEIGHTED_SAMPLE_ORACLE,
    _XFORM_CDC_APPLY_ORACLE as CDC_ORACLE,
)




def test_weighted_sample_matches_duckdb(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    got = weighted_sample_k(
        docs, group_cols=["source"], weight_col="n_chars",
        key_col="doc_id", k=3,
    )
    assert_parity(got, WEIGHTED_SAMPLE_ORACLE, SF_DIR)
    # weighting is live: the weighted pick differs from the unweighted
    # md5-draw pick somewhere across the 20 source groups
    unweighted = {
        r.doc_id
        for r in sample_k_per_group(
            docs, group_cols=["source"], key_col="doc_id", k=3
        ).collect()
    }
    assert {r.doc_id for r in got.collect()} != unweighted


def test_weighted_sample_matches_python_reference(spark):
    """Exact selection parity against an independent A-ES implementation
    (same md5 draw, math.pow) over adversarial weights."""
    from extended_ops.operators.corpus import (
        _DRAW_SPACE,
    )

    rows = [
        # (group, id, weight) — includes ineligible rows (NULL, 0,
        # negative, NaN — NaN sorts LARGER than any number in Spark and
        # would hijack the sample if admitted) and a giant
        (g, i, w)
        for g in ("x", "y")
        for i, w in enumerate(
            [3.0, 0.5, None, 0.0, -1.0, 1e6, 2.0, 7.5, float("nan")]
        )
    ]
    df = spark.createDataFrame(rows, "g string, id bigint, w double")
    got = {
        (r.g, r.id)
        for r in weighted_sample_k(
            df, group_cols=["g"], weight_col="w", key_col="id", k=3
        ).collect()
    }

    import hashlib

    def draw(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)

    expect = set()
    for g in ("x", "y"):
        elig = [
            (gg, i, w) for (gg, i, w) in rows
            if gg == g and w is not None and w > 0
        ]
        keyed = sorted(
            elig,
            key=lambda t: (
                -math.pow((draw(t[1]) + 0.5) / _DRAW_SPACE, 1.0 / t[2]),
                t[1],
            ),
        )
        expect |= {(g, i) for (_, i, _) in keyed[:3]}
    assert got == expect
    # the 1e6-weight row must always be in (A-ES: p ~ w)
    assert ("x", 5) in got and ("y", 5) in got


def test_cdc_apply_matches_duckdb(spark):
    events = load_table(spark, SF_DIR, "events")


    early = events.where("ts < timestamp'2024-01-15'")
    snapshot = latest_by_key(
        early,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["value"],
    ).select("user_id", "value")
    changelog = events.where(
        "ts >= timestamp'2024-01-15' AND user_id % 3 <> 0"
    ).select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    got = cdc_apply(
        snapshot,
        changelog,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["value"],
    )
    assert_parity(got, CDC_ORACLE, SF_DIR)
    rows = got.collect()
    # non-vacuity: some users were deleted (final op error), some kept
    # their snapshot state (user_id % 3 == 0 -> NULL order cols), some
    # were upserted by the log
    n_users = events.select("user_id").distinct().count()
    assert len(rows) < n_users
    assert any(r.ts is None for r in rows)
    assert any(r.ts is not None for r in rows)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weighted_sample_plan_window_group_limit(spark):
    """Scale gate: the rank<=k filter compiles to WindowGroupLimit with a
    PARTIAL pass below the hash exchange (each map task forwards at most
    k rows per group — shuffle O(k·groups·tasks), never the corpus), and
    the eligibility filter reaches the parquet scan."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    plan = _executed_plan(
        weighted_sample_k(
            docs, group_cols=["source"], weight_col="n_chars",
            key_col="doc_id", k=3,
        )
    )
    assert "WindowGroupLimit" in plan
    assert plan.index("Exchange hashpartitioning") < plan.index(", Partial")
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,0)" in plan


def test_cdc_apply_plan_single_exchange_partial_agg(spark):
    """Scale gate: replay is ONE max(struct) aggregation — exactly one
    hash exchange over the union, with a partial_max map-side collapse
    below it (a key updated 10^9 times collapses to one row per task
    before the shuffle); the tombstone filter runs on O(keys) rows above
    the final agg, and there is no join or window anywhere."""
    snap = load_table(spark, SF_DIR, "events").select(
        "user_id", "value"
    ).limit(100)
    log = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", F.lit("U").alias("op"), "value"
    )
    plan = _executed_plan(
        cdc_apply(
            snap, log, key_cols=["user_id"],
            order_cols=["ts", "event_id"], payload_cols=["value"],
        )
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_max" in plan
    assert plan.index("partial_max") > plan.index("Exchange hashpartitioning")
    assert "Join" not in plan and "Window" not in plan


def test_cdc_apply_edges(spark):
    snap = spark.createDataFrame(
        [(1, "s1"), (2, "s2"), (3, "s3")], "k bigint, v string"
    )
    log = spark.createDataFrame(
        [
            # k=1: update then delete -> absent
            (1, 10, "U", "a"), (1, 20, "D", None),
            # k=2: delete then re-insert -> latest wins, present
            (2, 10, "D", None), (2, 20, "I", "b"),
            # k=4: pure log insert of a new key
            (4, 10, "I", "c"),
            # k=5: delete of a key with no snapshot row -> absent
            (5, 10, "D", None),
            # k=3 untouched -> snapshot passthrough
        ],
        "k bigint, seq bigint, op string, v string",
    )
    got = {
        r.k: (r.seq, r.v)
        for r in cdc_apply(
            snap, log, key_cols=["k"], order_cols=["seq"],
            payload_cols=["v"],
        ).collect()
    }
    assert got == {2: (20, "b"), 3: (None, "s3"), 4: (10, "c")}


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    snap=st.lists(
        st.tuples(st.integers(0, 8), st.text("ab", max_size=2)),
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    log=st.lists(
        st.tuples(
            st.integers(0, 8),                    # key
            st.integers(0, 5),                    # seq (duplicates allowed)
            st.sampled_from(["I", "U", "D"]),
            st.one_of(st.none(), st.text("cd", max_size=2)),
        ),
        max_size=20,
    ),
)
def test_cdc_apply_matches_python_replay(spark, snap, log):
    """Property: cdc_apply == a pure-Python per-key replay sorted by the
    same total order, for ANY op sequence (including delete-then-insert
    churn and snapshot-only keys). seq duplicates are disambiguated by a
    synthetic unique id so the order-totality contract holds."""
    log = [(k, s, i, op, v) for i, (k, s, op, v) in enumerate(log)]
    snap_df = spark.createDataFrame(snap or [(99, "z")], "k bigint, v string")
    log_df = spark.createDataFrame(
        log or [(99, 0, 0, "U", "z2")],
        "k bigint, seq bigint, uid bigint, op string, v string",
    )
    got = {
        r.k: (r.seq, r.uid, r.v)
        for r in cdc_apply(
            snap_df, log_df, key_cols=["k"],
            order_cols=["seq", "uid"], payload_cols=["v"],
        ).collect()
    }

    state = {k: (None, None, "U", v) for k, v in (snap or [(99, "z")])}
    for k, group in __import__("itertools").groupby(
        sorted(log or [(99, 0, 0, "U", "z2")], key=lambda t: (t[0], t[1], t[2])),
        key=lambda t: t[0],
    ):
        last = list(group)[-1]
        state[k] = (last[1], last[2], last[3], last[4])
    expect = {
        k: (seq, uid, v)
        for k, (seq, uid, op, v) in state.items()
        if op != "D"
    }
    assert got == expect
