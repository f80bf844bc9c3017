"""Registry batch r12: four more registrations. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity.

Families: exact n-gram LM model counts (the language-model half of the
LM family goes oracle-checked; scoring stays pytest-gated — its
log-likelihoods are libm territory), incremental SCD2 maintenance
(registered THROUGH its from-scratch invariant: the query runs the
incremental merge, the oracle rebuilds from the full changelog),
OHLC time-series downsampling, and Flesch readability scoring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.history import scd2_history, scd2_merge
from ..operators.lm import train_ngram_counts
from ..operators.text import TOKEN_PATTERN, with_readability
from ..operators.timeseries import ohlc_resample
from ..sources.tables import load_table
from .extended import _SQL_WORDS
from .round10 import _XFORM_SCD2_ORACLE

# --------------------------------------------------------------------------
# lm_train_counts — the exact n-gram model relation
# --------------------------------------------------------------------------

LM_ORDER = 3
LM_MIN_COUNT = 2


def q_lm_train_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_train_counts`` — the exact 1..3-gram count model over the
    corpus (:func:`~..operators.lm.train_ngram_counts`): one scan, one
    explode, one counting aggregation (the plan gate in test_lm.py
    keeps the per-order union from re-tokenizing); min_count=2 prunes
    the singleton tail. The model RELATION is what hash-checks —
    scoring (stupid backoff, log-likelihood) stays pytest-gated, libm
    being barred from the oracle path (the tfidf no-log rule)."""
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "text"
    )
    return train_ngram_counts(
        docs, order=LM_ORDER, min_count=LM_MIN_COUNT
    )


_LM_TRAIN_ORACLE = f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents WHERE text IS NOT NULL
), grams AS (
  SELECT 1 AS n, unnest(w) AS gram FROM toks
  UNION ALL
  SELECT 2, unnest(list_transform(
    generate_series(0, len(w) - 2), i -> array_to_string(w[i+1:i+2], ' ')
  )) FROM toks WHERE len(w) >= 2
  UNION ALL
  SELECT 3, unnest(list_transform(
    generate_series(0, len(w) - 3), i -> array_to_string(w[i+1:i+3], ' ')
  )) FROM toks WHERE len(w) >= 3
)
SELECT CAST(n AS INTEGER) AS n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
FROM grams GROUP BY 1, 2 HAVING COUNT(*) >= {LM_MIN_COUNT}
"""

# --------------------------------------------------------------------------
# xform_scd2_merge — incremental maintenance via its invariant
# --------------------------------------------------------------------------

#: increment cutoff (microseconds since epoch, UTC): base changelog is
#: strictly before, the increment at-or-after — which guarantees the
#: merge's no-shared-timestamp tie contract by construction.
SCD2_CUTOFF = "2024-01-16 00:00:00"


def q_xform_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_scd2_merge`` — incremental SCD2 maintenance
    (:func:`~..operators.history.scd2_merge`): build the dimension from
    the first half of the changelog, then MERGE the second half in.
    Registered through the from-scratch invariant — the oracle rebuilds
    from the FULL changelog, so the driver hash-checks
    ``merge(scd2(base), inc) == scd2(base ∪ inc)`` end-to-end. The
    merge recomputes only increment-touched keys (anti/semi joins keep
    untouched history out of the window — the incremental_minhash
    shape)."""
    # ts IS NOT NULL symmetrically with the oracle: a NULL ts fails BOTH
    # cutoff predicates, so without the explicit filter such rows would
    # silently vanish from base AND increment while a full-changelog
    # rebuild keeps them — a latent parity/data-loss divergence if events
    # ever gains NULL timestamps (r10 advice #2). The oracle mirrors the
    # WHERE below.
    events = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    cutoff = F.unix_micros(F.lit(SCD2_CUTOFF).cast("timestamp"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = events.where(us < cutoff)
    inc = events.where(us >= cutoff)
    # pin: scd2_merge consumes `existing` TWICE (anti + semi join); in
    # production it is a materialized table, but built inline it would
    # recompute its two windows per branch (the r9 doubly-consumed
    # rule, and the plan gate counts windows). O(size) storage cost:
    # the base dimension's version rows.
    existing = scd2_history(
        base,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    ).localCheckpoint(eager=False)
    return scd2_merge(
        existing,
        inc,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )


# the oracle IS the from-scratch build over the full changelog — the
# same SQL the live xform_scd2 registration hash-checks, which is the
# point: two different Spark plans (full rebuild, incremental merge)
# must land on the identical relation. Mirrored WHERE: the query's
# symmetric ts-NOT-NULL filter (see q_xform_scd2_merge) applies to the
# rebuild too, or NULL-ts rows would appear only on the oracle side.
if _XFORM_SCD2_ORACLE.count("FROM events") != 1:
    raise ValueError("xform_scd2 oracle shape changed; fix merge mirror")
_XFORM_SCD2_MERGE_ORACLE = _XFORM_SCD2_ORACLE.replace(
    "FROM events", "FROM events WHERE ts IS NOT NULL"
)

# --------------------------------------------------------------------------
# win_ohlc — per-(user, day) OHLC downsampling
# --------------------------------------------------------------------------


def q_win_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_ohlc`` — per-user daily open/high/low/close candles
    (:func:`~..operators.timeseries.ohlc_resample`): ONE hash
    aggregation with argmin/argmax-by-struct open/close (the agg_mode
    rule — no ranked window over raw rows), map-side partial
    collapse."""
    return ohlc_resample(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        tiebreak_cols=["event_id"],
        unit="day",
    )


_WIN_OHLC_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
         ts, event_id, value
  FROM events WHERE value IS NOT NULL
), r AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts, event_id, value) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id, bucket
                            ORDER BY ts DESC, event_id DESC, value DESC)
           AS rl
  FROM e
)
SELECT user_id, bucket,
       MAX(CASE WHEN rf = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rl = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       SUM(value) AS v_sum
FROM r GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# text_readability — Flesch reading ease, exactly
# --------------------------------------------------------------------------


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_readability`` — Flesch reading ease with its integer
    ingredients (:func:`~..operators.text.with_readability`):
    vowel-group syllables, terminator-run sentences (min 1), whitespace
    words; two IEEE divisions + a fixed-order linear combination — no
    libm, scan-side, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "text"
    )
    return with_readability(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    )


_TEXT_READABILITY_ORACLE = f"""
SELECT doc_id, n_words, n_sentences, n_syllables,
       CASE WHEN n_words > 0 THEN ROUND(
         206.835 - 1.015 * (n_words / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 6)
       END AS flesch
FROM (
  SELECT doc_id,
    CAST(len({_SQL_WORDS}) AS BIGINT) AS n_words,
    CAST(GREATEST(len(regexp_extract_all(lower(text), '[.!?]+')), 1)
      AS BIGINT) AS n_sentences,
    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      AS BIGINT) AS n_syllables
  FROM documents
)
"""

# --------------------------------------------------------------------------

STAGED_R12_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lm_train_counts": q_lm_train_counts,
    "xform_scd2_merge": q_xform_scd2_merge,
    "win_ohlc": q_win_ohlc,
    "text_readability": q_text_readability,
}

STAGED_R12_ORACLES: dict[str, str] = {
    "lm_train_counts": _LM_TRAIN_ORACLE,
    "xform_scd2_merge": _XFORM_SCD2_MERGE_ORACLE,
    "win_ohlc": _WIN_OHLC_ORACLE,
    "text_readability": _TEXT_READABILITY_ORACLE,
}
