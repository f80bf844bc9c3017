"""repeat_epochs (fractional-epoch upsampling): DuckDB cross-engine
parity on the real corpus with per-row epochs, hand-computed edges, and
the scan-side plan gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from conftest import SF_DIR
from oracle_utils import assert_parity

from extended_ops.operators.corpus import (
    repeat_epochs,
)
from extended_ops.sources.tables import load_table

# oracle SQL: single source of truth = the staged registration
# (plans/staged.py) — review r9 killed the drifting duplicates
from extended_ops.plans.staged import (  # noqa: E501
    _CORPUS_REPEAT_EPOCHS_ORACLE as EPOCHS_ORACLE,
)

# per-row epochs 0.5/1.5/2.5/3.5 by doc_id; fractional part is exactly
# representable (0.5 * 2^32 is an exact double) so the truncate-vs-round
# cast divergence between engines cannot bite; floor() in the oracle
# mirrors Spark's truncating bigint cast regardless


def test_repeat_epochs_matches_duckdb(spark):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source",
        (F.lit(0.5) + F.col("doc_id") % 4).alias("e"),
    )
    got = repeat_epochs(docs, key_col="doc_id", epochs_col="e").drop("e")
    assert_parity(got, EPOCHS_ORACLE, SF_DIR)
    # expected-volume sanity: mean epochs is 2.0 over the 4 residues
    n_docs = docs.count()
    total = got.count()
    assert abs(total - 2.0 * n_docs) < 0.1 * n_docs


def test_repeat_epochs_edges(spark):
    df = spark.createDataFrame(
        [
            (1, 2.0),    # exactly 2 copies
            (2, 0.0),    # nothing
            (3, None),   # nothing
            (4, -1.0),   # nothing
            (5, 1.0),    # exactly 1 copy
        ],
        "k bigint, e double",
    )
    rows = sorted(
        (r.k, r.epoch_copy)
        for r in repeat_epochs(df, key_col="k", epochs_col="e").collect()
    )
    assert rows == [(1, 0), (1, 1), (5, 0)]
    # constant-epochs form and mutual exclusion of the two params
    out = repeat_epochs(
        df.select("k"), key_col="k", epochs=3.0
    )
    assert out.count() == 15
    with pytest.raises(ValueError):
        repeat_epochs(df, key_col="k")
    with pytest.raises(ValueError):
        repeat_epochs(df, key_col="k", epochs=2.0, epochs_col="e")
    # runaway weight fails loudly
    big = spark.createDataFrame([(1, 1e7)], "k bigint, e double")
    with pytest.raises(Exception, match="max_epochs"):
        repeat_epochs(big, key_col="k", epochs_col="e").collect()
    # a NULL key still gets its INTEGER copies (the draw only decides
    # the fractional one) — a NULL draw must not null the whole count
    nk = spark.createDataFrame([(None, 2.9), (8, 2.0)], "k bigint, e double")
    got = sorted(
        ((r.k, r.epoch_copy) for r in
         repeat_epochs(nk, key_col="k", epochs_col="e").collect()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == [(8, 0), (8, 1), (None, 0), (None, 1)]


def test_fractional_copy_is_content_deterministic(spark):
    """The fractional copy's membership depends only on row content:
    identical under repartitioning, and e < 1 degrades to the same
    selection stratified_sample's draw would make."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    a = sorted(
        (r.doc_id, r.epoch_copy)
        for r in repeat_epochs(
            docs, key_col="doc_id", epochs=0.25
        ).collect()
    )
    b = sorted(
        (r.doc_id, r.epoch_copy)
        for r in repeat_epochs(
            docs.repartition(13), key_col="doc_id", epochs=0.25
        ).collect()
    )
    assert a == b
    assert all(c == 0 for (_, c) in a)
    assert 0 < len(a) < docs.count()


def test_repeat_epochs_plan_scan_side(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    plan = (
        repeat_epochs(docs, key_col="doc_id", epochs=2.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Generate explode" in plan
