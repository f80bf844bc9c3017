"""snapshot_diff (key-level dataset-version diff): DuckDB cross-engine
parity on two synthesized versions of the real documents corpus, digest
vs payload mode agreement, and hand-computed edges."""

from __future__ import annotations

import pyspark.sql.functions as F
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.dedup import snapshot_diff
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _XFORM_SNAPSHOT_DIFF_ORACLE as DIFF_ORACLE,
)

# old = corpus minus docs with doc_id%11=3, with n_chars bumped for
# doc_id%5=0 (so those read as "changed" in new); new = corpus minus
# docs with doc_id%13=4. All four statuses occur.


def _versions(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    old = docs.where("doc_id % 11 <> 3").withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") + 1).otherwise(
            F.col("n_chars")
        ),
    )
    new = docs.where("doc_id % 13 <> 4")
    return old, new


def test_snapshot_diff_matches_duckdb(spark):
    old, new = _versions(spark)
    got = snapshot_diff(
        old, new, key_cols=["doc_id"], payload_cols=["source", "n_chars"],
        include_unchanged=True,
    )
    assert_parity(got, DIFF_ORACLE, SF_DIR)
    # non-vacuity: all four statuses present
    statuses = {r.status for r in got.select("status").distinct().collect()}
    assert statuses == {"added", "removed", "changed", "unchanged"}


def test_snapshot_diff_default_drops_unchanged(spark):
    old, new = _versions(spark)
    got = snapshot_diff(
        old, new, key_cols=["doc_id"], payload_cols=["source", "n_chars"]
    )
    assert got.where("status = 'unchanged'").count() == 0
    assert got.count() > 0


def test_digest_mode_agrees_with_payload_mode(spark):
    """digest_only ships 8 bytes/row instead of the payload; the status
    assignment must be identical (the to_json digest distinguishes null
    position where a raw struct hash would collide)."""
    old, new = _versions(spark)
    full = {
        (r.doc_id, r.status)
        for r in snapshot_diff(
            old, new, key_cols=["doc_id"],
            payload_cols=["source", "n_chars"], include_unchanged=True,
        ).select("doc_id", "status").collect()
    }
    dig = snapshot_diff(
        old, new, key_cols=["doc_id"], payload_cols=["source", "n_chars"],
        include_unchanged=True, digest_only=True,
    )
    assert dig.columns == ["doc_id", "status"]
    assert {(r.doc_id, r.status) for r in dig.collect()} == full


def test_snapshot_diff_edges(spark):
    """NULL payload transitions: NULL->NULL is unchanged, NULL->value and
    value->NULL are changed; a changed row whose NEW payload holds a
    legitimate NULL must emit that NULL (per-side pick, never a
    per-column coalesce back to the stale old value)."""
    old = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, "c", 30), (4, "d", None), (6, "f", 60)],
        "k bigint, p string, q int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, None, 20), (3, None, 30), (4, "d", 40), (5, "e", 50)],
        "k bigint, p string, q int",
    )
    rows = {
        r.k: (r.status, r.p, r.q)
        for r in snapshot_diff(
            old, new, key_cols=["k"], payload_cols=["p", "q"],
            include_unchanged=True,
        ).collect()
    }
    assert rows == {
        1: ("unchanged", "a", 10),
        2: ("unchanged", None, 20),
        3: ("changed", None, 30),   # value->NULL keeps NEW null
        4: ("changed", "d", 40),    # NULL->value is a change
        5: ("added", "e", 50),
        6: ("removed", "f", 60),    # removed shows last OLD payload
    }


def test_snapshot_diff_plan_prunes_and_single_join(spark):
    """Scale gate: exactly one join (the full-outer on keys), no window,
    and column pruning reaches both parquet scans — only key + payload
    columns are read, never the full table width."""
    old, new = _versions(spark)
    plan = (
        snapshot_diff(
            old, new, key_cols=["doc_id"], payload_cols=["source", "n_chars"]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FullOuter") == 1 and "Join" in plan
    assert "Window" not in plan
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "text" not in line and "lang" not in line, line


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    old=st.lists(
        st.tuples(st.integers(0, 15), st.one_of(st.none(), st.text("ab", max_size=2))),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    new=st.lists(
        st.tuples(st.integers(0, 15), st.one_of(st.none(), st.text("ab", max_size=2))),
        max_size=12,
        unique_by=lambda t: t[0],
    ),
)
def test_snapshot_diff_matches_python_dict_diff(spark, old, new):
    """Property: for ANY pair of keyed versions (NULL payloads included,
    in both payload and digest modes) the diff equals the dict diff."""
    o = spark.createDataFrame(old or [(99, "z")], "k bigint, v string")
    n = spark.createDataFrame(new or [(99, "z")], "k bigint, v string")
    od = dict(old or [(99, "z")])
    nd = dict(new or [(99, "z")])
    expect = {}
    for k in od.keys() | nd.keys():
        if k not in od:
            expect[k] = ("added", nd[k])
        elif k not in nd:
            expect[k] = ("removed", od[k])
        elif od[k] == nd[k]:
            expect[k] = ("unchanged", nd[k])
        else:
            expect[k] = ("changed", nd[k])
    got = {
        r.k: (r.status, r.v)
        for r in snapshot_diff(
            o, n, key_cols=["k"], payload_cols=["v"],
            include_unchanged=True,
        ).collect()
    }
    assert got == expect
    dig = {
        r.k: r.status
        for r in snapshot_diff(
            o, n, key_cols=["k"], payload_cols=["v"],
            include_unchanged=True, digest_only=True,
        ).collect()
    }
    assert dig == {k: s for k, (s, _) in expect.items()}
