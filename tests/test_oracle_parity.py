"""Every registered query must hash-match its DuckDB oracle (the driver's
correctness gate, re-run locally at sf0.001 for speed; the driver uses
sf0.01)."""

from __future__ import annotations

import pytest

from extended_ops.plans import ORACLES, QUERIES

from conftest import SF_DIR
from oracle_utils import assert_parity

ORACLE_KEYS = sorted(k for k in QUERIES if k in ORACLES)


def test_registry_is_fully_oracled():
    # every registered key carries a DuckDB oracle and every oracle a
    # key — a key without one would get only a rows-only check
    assert set(QUERIES) == set(ORACLES)


def test_no_oracle_produces_hugeint():
    # Class-killing gate for the r10 `text_chunk_sentences` red row: an
    # un-cast SUM(BIGINT) makes DuckDB type the column HUGEINT (int128)
    # where Spark produces BIGINT, and the DRIVER's value hash
    # distinguishes the physical type even when every value is
    # numerically identical — a failure mode INVISIBLE to the local
    # normalized compare below, so only this type-level gate prevents
    # recurrence. `.types` only plans/binds the relation — no execution.
    from oracle_utils import duckdb_conn

    con = duckdb_conn(SF_DIR)
    try:
        offenders = {}
        for key, sql in sorted(ORACLES.items()):
            bad = [
                str(t)
                for t in con.sql(sql).types
                if "HUGEINT" in str(t).upper()
            ]
            if bad:
                offenders[key] = bad
    finally:
        con.close()
    assert not offenders, (
        "oracles typing HUGEINT/UHUGEINT columns (cast them to BIGINT — "
        f"the driver hash distinguishes physical types): {offenders}"
    )


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_query_matches_oracle(spark, key):
    # min_rows=1: EVERY registered pair must be non-vacuous — 0 == 0
    # parity proves nothing (the r8 multimodal_phash_pairs lesson; the
    # gate previously lived only in the staged-queue test and was lost
    # for drained keys in r10 until this restored it registry-wide)
    df = QUERIES[key](spark, SF_DIR)
    assert_parity(df, ORACLES[key], SF_DIR, min_rows=1)
