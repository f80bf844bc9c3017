"""balanced_shards (budget-balanced deterministic shard assignment):
DuckDB cross-engine parity on the real corpus, budget-balance quality vs
plain hashing, partitioning invariance, and the plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
from conftest import SF_DIR, SF_DIR_001
from oracle_utils import assert_parity

from extended_ops.operators.corpus import (
    balanced_shards,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _CORPUS_BALANCED_SHARDS_ORACLE as SHARDS_ORACLE,
)

# mirrors the operator step-for-step: binary-magnitude stratum, md5 cell,
# per-(stratum,cell) rank deal with md5 rotation. 8 shards, 16 cells.


def test_balanced_shards_matches_duckdb(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    got = balanced_shards(
        docs, key_col="doc_id", weight_col="n_chars",
        n_shards=8, n_cells=16,
    )
    assert_parity(got, SHARDS_ORACLE, SF_DIR)
    # non-vacuity: all 8 shards used
    assert got.select("shard").distinct().count() == 8


def test_budget_balance_beats_plain_hashing(spark):
    """The whole point: per-shard weight budgets are tighter than the
    hash-only assignment on the same heavy-tailed corpus."""
    docs = load_table(spark, SF_DIR_001, "documents").select(
        "doc_id", "n_chars"
    )

    def spread(assigned):
        sums = [
            r.s
            for r in assigned.groupBy("shard")
            .agg(F.sum("n_chars").alias("s"))
            .collect()
        ]
        assert len(sums) == 8
        mean = sum(sums) / len(sums)
        return (max(sums) - min(sums)) / mean

    dealt = spread(
        balanced_shards(
            docs, key_col="doc_id", weight_col="n_chars",
            n_shards=8, n_cells=4,
        )
    )
    hashed = spread(
        docs.withColumn(
            "shard", (F.xxhash64("doc_id") % 8 + 8) % 8
        )
    )
    # dealt counts differ by <=1 per (stratum,cell) group and weights
    # within a stratum agree within 2x, so the spread is structurally
    # small; hashing is only balanced in expectation
    assert dealt < hashed, (dealt, hashed)
    assert dealt < 0.10, dealt


def test_double_weights_above_1e7_keep_their_stratum(spark):
    """ADVICE r8 regression: DOUBLE weights >= 1e7 render as scientific
    notation ('1.0E7') under a bare string cast, conv() truncates at the
    '.', and every giant would silently collapse into stratum 1 next to
    the tiny rows. With the bigint cast the giants stratify by real
    magnitude: dealing 4 giants + many tiny rows over 2 shards must put
    2 giants on each shard (counts per (stratum, cell) differ by <=1),
    which the collapsed stratum cannot guarantee (and measurably
    violates under the old expression: all 4 giants shared the tiny
    rows' stratum)."""
    rows = [(f"t{i}", 1.0) for i in range(40)] + [
        (f"g{i}", 5e8) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id string, weight double")
    out = balanced_shards(
        df, key_col="doc_id", weight_col="weight", n_shards=2, n_cells=1
    )
    giants = {
        r.shard for r in out.where("doc_id like 'g%'").collect()
    }
    per_shard = (
        out.where("doc_id like 'g%'").groupBy("shard").count().collect()
    )
    assert giants == {0, 1}
    assert all(r["count"] == 2 for r in per_shard), per_shard


def test_assignment_is_partitioning_invariant(spark):
    """Content-addressed: the same row gets the same shard regardless of
    input partitioning (no rand(), no partition ids anywhere)."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    a = {
        (r.doc_id, r.shard)
        for r in balanced_shards(
            docs, key_col="doc_id", weight_col="n_chars",
            n_shards=5, n_cells=7,
        ).collect()
    }
    b = {
        (r.doc_id, r.shard)
        for r in balanced_shards(
            docs.repartition(13), key_col="doc_id", weight_col="n_chars",
            n_shards=5, n_cells=7,
        ).collect()
    }
    assert a == b


def test_per_cell_deal_counts_differ_by_at_most_one(spark):
    """The structural guarantee behind the balance claim, asserted
    directly: within every (stratum, cell) group, shard counts differ by
    at most 1."""
    docs = load_table(spark, SF_DIR_001, "documents").select(
        "doc_id", "n_chars"
    )
    out = balanced_shards(
        docs, key_col="doc_id", weight_col="n_chars",
        n_shards=8, n_cells=4,
    ).withColumn(
        "stratum",
        F.length(
            F.conv(
                (F.greatest(F.coalesce(F.col("n_chars"), F.lit(0)), F.lit(0))
                 + 1).cast("string"),
                10, 2,
            )
        ),
    ).withColumn(
        "cell",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("bigint") % 4,
    )
    bad = (
        out.groupBy("stratum", "cell", "shard")
        .count()
        .groupBy("stratum", "cell")
        .agg((F.max("count") - F.min("count")).alias("d"))
        .where("d > 1")
        .count()
    )
    assert bad == 0


def test_edge_weights_and_validation(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, None), (2, -5), (3, 0), (4, 10**12)], "k bigint, w bigint"
    )
    rows = balanced_shards(
        df, key_col="k", weight_col="w", n_shards=3, n_cells=2
    ).collect()
    assert len(rows) == 4 and all(0 <= r.shard < 3 for r in rows)
    with pytest.raises(ValueError):
        balanced_shards(df, key_col="k", weight_col="w", n_shards=0)


def test_balanced_shards_plan_single_exchange_scan_side_exprs(spark):
    """Scale gate: stratum/cell/draw are scan-side codegen expressions;
    the ONLY exchange is the rank window's hash partitioning over
    (stratum, cell) — no join, no Python, no second shuffle."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars")
    plan = (
        balanced_shards(
            docs, key_col="doc_id", weight_col="n_chars",
            n_shards=8, n_cells=16,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 200),  # key
            st.one_of(st.none(), st.integers(-5, 10**9)),  # weight
        ),
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    n_shards=st.integers(1, 7),
    n_cells=st.integers(1, 5),
)
def test_deal_guarantee_holds_for_any_weights(spark, rows, n_shards, n_cells):
    """Property: for ANY weight distribution (NULLs, negatives, giants),
    every row is assigned exactly one shard in range, assignment is a
    function of content only, and within every (stratum, cell) group the
    per-shard counts differ by at most 1."""
    df = spark.createDataFrame(rows or [(0, 1)], "k bigint, w bigint")
    out = balanced_shards(
        df, key_col="k", weight_col="w", n_shards=n_shards, n_cells=n_cells
    ).collect()
    assert len(out) == len(rows or [(0, 1)])
    assert all(0 <= r.shard < n_shards for r in out)
    # recompute stratum/cell in python and check the <=1 deal per group
    import hashlib
    from collections import Counter

    def draw(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)

    groups = Counter()
    per_shard = Counter()
    for r in out:
        w = max(r.w or 0, 0)
        stratum = len(bin(w + 1)) - 2
        cell = draw(r.k) % n_cells
        per_shard[(stratum, cell, r.shard)] += 1
        groups[(stratum, cell)] += 1
    for (stratum, cell), total in groups.items():
        counts = [
            per_shard.get((stratum, cell, s), 0) for s in range(n_shards)
        ]
        assert max(counts) - min(counts) <= 1, (stratum, cell, counts)
