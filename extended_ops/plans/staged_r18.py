"""Registry batch r18: four capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity, and
``tests/test_staged_r18.py`` holds its content checks.

Families: KMV/theta INTERSECTION estimation (the set-operation payoff
the sketch family was built for, registered as a bound check like
``agg_kmv_sketch``), BPE pair statistics (round 0 of tokenizer
learning — the hash-checkable face of ``learn_bpe_merges``), an
exact-fold EWMA smoother (both engines run the identical left fold,
so the doubles match without tolerance games), and a two-snapshot
profile drift gate (the ingest-acceptance diff over
``profile_columns``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bpe import END_TOKEN, bpe_pair_counts, word_freq_table
from ..operators.profile import profile_drift
from ..operators.sketches import kmv_intersect_estimate, kmv_table
from ..operators.text import TOKEN_PATTERN
from ..operators.timeseries import ewma_smooth
from ..sources.tables import load_table
from .staged_r12 import SCD2_CUTOFF

# --------------------------------------------------------------------------
# agg_kmv_intersect — theta-sketch set-intersection estimate, bound-checked
# --------------------------------------------------------------------------

#: sketch size for the intersect registration — small enough that both
#: sketches SATURATE even at sf0.001 (≈200 distinct parts per order
#: year), so the estimated path (θ = min(θ_a, θ_b), |common below θ|/θ)
#: is the one under test, not the exact fallback. (The events table's
#: user domain is too small for saturation at the gate SFs — 15 users
#: at sf0.001 — hence the part-basket sets.)
KMV_I_K = 64

#: year windows whose part baskets are intersected: the "how much of
#: last year's assortment is still ordered this year" overlap.
KMV_I_YEAR_A = ("1995-01-01", "1996-01-01")
KMV_I_YEAR_B = ("1996-01-01", "1997-01-01")


def q_agg_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_kmv_intersect`` — estimated |A ∩ B| from two KMV/theta
    sketches (:func:`~..operators.sketches.kmv_intersect_estimate`):
    A = parts ordered in 1995, B = parts ordered in 1996 (the
    assortment-carryover overlap). Registered as the BOUND CHECK (the
    ``agg_kmv_sketch`` pattern — DuckDB cannot reproduce xxhash64, but
    it can reproduce the EXACT overlap the estimate must land near):
    output is the exact cardinalities plus ``within_bound``, where the
    bound is 5 estimated-σ of the KMV intersection estimator
    (σ ≈ sqrt(true·max(|A|,|B|)/k)) with a +2 floor for the tiny-true
    regime. Estimation itself never touches the raw data — one
    broadcast-scale join between two ≤ k-row sketch relations; the
    exact counts exist only because the check needs them."""
    li = load_table(spark, sf_dir, "lineitem", spread=False).where(
        F.col("l_partkey").isNotNull()
    )
    orders = load_table(spark, sf_dir, "orders", spread=False)
    ev = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select("l_partkey", "o_orderdate")
    # ONE pass over the fact join: tag each line with its year window,
    # collapse to the distinct (part, window) relation, and checkpoint
    # THAT (O(parts) rows) — sketches, exact intersect and cards are
    # six consumers, and left inline each would re-run the
    # lineitem⨝orders join (the r9 doubly-consumed rule; measured
    # 41 s → ~6 s at generated sf1)
    def _in(lo: str, hi: str):
        return (
            F.col("o_orderdate") >= F.lit(lo).cast("timestamp")
        ) & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))

    parts = (
        ev.select(
            "l_partkey",
            F.when(_in(*KMV_I_YEAR_A), F.lit("a"))
            .when(_in(*KMV_I_YEAR_B), F.lit("b"))
            .alias("w"),
        )
        .where(F.col("w").isNotNull())
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = parts.where(F.col("w") == "a").select("l_partkey")
    b = parts.where(F.col("w") == "b").select("l_partkey")
    # BOTH sketches from one GROUPED build (r15): one distinct + one
    # rank-window pass over the pinned parts relation instead of two
    # per-side builds; the (<= 2k)-row grouped sketch is pinned so the
    # per-side views are cache slices. Identical per-side hash sets.
    sk = kmv_table(
        parts, "l_partkey", group_cols=["w"], k=KMV_I_K
    ).localCheckpoint(eager=False)
    sk_a = sk.where(F.col("w") == "a").select("hv")
    sk_b = sk.where(F.col("w") == "b").select("hv")
    est = kmv_intersect_estimate(sk_a, sk_b, k=KMV_I_K)
    exact = a.intersect(b).agg(
        F.count(F.lit(1)).alias("true_common")
    )
    cards = a.agg(F.count(F.lit(1)).alias("n_a")).crossJoin(
        b.agg(F.count(F.lit(1)).alias("n_b"))
    )
    bound = F.lit(2.0) + F.lit(5.0) * F.sqrt(
        F.greatest(
            F.lit(1.0),
            F.col("true_common")
            * F.greatest(F.col("n_a"), F.col("n_b"))
            / F.lit(float(KMV_I_K)),
        )
    )
    return (
        exact.crossJoin(cards)
        .crossJoin(F.broadcast(est))
        .select(
            "n_a",
            "n_b",
            "true_common",
            (
                F.abs(F.col("est_common") - F.col("true_common"))
                <= bound
            ).alias("within_bound"),
        )
    )


_AGG_KMV_INTERSECT_ORACLE = f"""
WITH j AS (
  SELECT l_partkey, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_partkey IS NOT NULL
), a AS (
  SELECT DISTINCT l_partkey FROM j
  WHERE o_orderdate >= TIMESTAMP '{KMV_I_YEAR_A[0]}'
    AND o_orderdate < TIMESTAMP '{KMV_I_YEAR_A[1]}'
), b AS (
  SELECT DISTINCT l_partkey FROM j
  WHERE o_orderdate >= TIMESTAMP '{KMV_I_YEAR_B[0]}'
    AND o_orderdate < TIMESTAMP '{KMV_I_YEAR_B[1]}'
)
SELECT (SELECT COUNT(*) FROM a) AS n_a,
       (SELECT COUNT(*) FROM b) AS n_b,
       (SELECT COUNT(*) FROM a JOIN b USING (l_partkey)) AS true_common,
       TRUE AS within_bound
"""

# --------------------------------------------------------------------------
# text_bpe_pairs — round-0 BPE pair statistics
# --------------------------------------------------------------------------

BPE_PAIR_MIN_COUNT = 2


def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_bpe_pairs`` — frequency-weighted adjacent-symbol pair
    counts over the corpus vocabulary's char+sentinel sequences
    (:func:`~..operators.bpe.bpe_pair_counts` over
    :func:`~..operators.bpe.word_freq_table`): the relation whose
    argmax is the first BPE merge. Integer counts over a relation
    bounded by |alphabet|²; the merge LOOP itself (fold-rewrite per
    round) stays pytest-gated as the documented iterative class —
    exactly the ``lm_train_counts``/scoring split."""
    docs = load_table(spark, sf_dir, "documents")
    words = word_freq_table(docs)
    return bpe_pair_counts(words, min_count=BPE_PAIR_MIN_COUNT)


_TEXT_BPE_PAIRS_ORACLE = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
    AS word
  FROM documents WHERE text IS NOT NULL
), wf AS (
  SELECT word, COUNT(*) AS freq FROM words GROUP BY word
), vocab AS (
  SELECT regexp_extract_all(word, '.') || ['{END_TOKEN}'] AS s, freq
  FROM wf WHERE word IS NOT NULL AND len(word) > 0
), prs AS (
  SELECT s[i] AS a, s[i + 1] AS b, freq
  FROM (
    SELECT s, freq, unnest(generate_series(1, len(s) - 1)) AS i
    FROM vocab
  )
)
SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
FROM prs GROUP BY a, b HAVING SUM(freq) >= {BPE_PAIR_MIN_COUNT}
"""

# --------------------------------------------------------------------------
# win_ewma — exact-fold EWMA smoother
# --------------------------------------------------------------------------

EWMA_ALPHA = 0.25
EWMA_WINDOW = 12


def q_win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_ewma`` — EWMA-smoothed hourly event rate per type
    (:func:`~..operators.timeseries.ewma_smooth`): the bounded-window
    left fold y = (1−α)·y + α·x seeded with the frame's first bucket.
    Both engines fold the identical frame list in the identical order,
    so every IEEE op matches exactly — the cross-engine determinism
    claim ``pattern_match_topk`` established, applied to the recursion
    every streaming smoother runs."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    return ewma_smooth(
        ev,
        key_col="event_type",
        ts_col="ts",
        bucket="hour",
        alpha=EWMA_ALPHA,
        window=EWMA_WINDOW,
    )


_WIN_EWMA_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), framed AS (
  SELECT event_type, hr, x,
         list(CAST(x AS DOUBLE)) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN {EWMA_WINDOW - 1} PRECEDING AND CURRENT ROW
         ) AS l
  FROM hourly
)
SELECT event_type, hr AS bucket, x AS n,
       ROUND(
         list_reduce(
           l,
           (acc, x) -> acc * CAST({1.0 - EWMA_ALPHA!r} AS DOUBLE)
                     + x * CAST({EWMA_ALPHA!r} AS DOUBLE)
         ), 6
       ) AS ewma
FROM framed
"""

# --------------------------------------------------------------------------
# dq_profile_drift — two-snapshot ingest acceptance gate
# --------------------------------------------------------------------------

#: profiled columns — integer/string only: profile min/max are
#: string-cast, and float formatting differs per engine (the
#: profile_columns caveat), so ``value`` stays out of the registered
#: drift surface.
DRIFT_COLS = ["user_id", "event_type", "event_id"]


def q_dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_profile_drift`` — the ingest gate's accept/deny evidence
    (:func:`~..operators.profile.profile_drift`): column profiles of
    the pre-cutoff snapshot vs the post-cutoff drop (the
    ``xform_scd2_merge`` split, NULL ts excluded symmetrically) with
    null-rate deltas, cardinality ratios and a range-moved tripwire.
    Two wide one-scan aggregations joined on the O(cols) profile
    relations — drift never rescans row data."""
    ev = (
        load_table(spark, sf_dir, "events", spread=False)
        .where(F.col("ts").isNotNull())
    )
    cutoff = F.unix_micros(F.lit(SCD2_CUTOFF).cast("timestamp"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return profile_drift(
        ev.where(us < cutoff), ev.where(us >= cutoff), DRIFT_COLS
    )


def _drift_half_sql(cmp: str) -> str:
    where = (
        "ts IS NOT NULL AND "
        f"epoch_us(CAST(ts AS TIMESTAMP)) {cmp} "
        f"epoch_us(TIMESTAMP '{SCD2_CUTOFF}')"
    )
    cols = {
        "user_id": "CAST(min(user_id) AS VARCHAR)",
        "event_type": "min(event_type)",
        "event_id": "CAST(min(event_id) AS VARCHAR)",
    }
    parts = []
    for c in DRIFT_COLS:
        mn = cols[c]
        mx = mn.replace("min(", "max(")
        parts.append(f"""
  SELECT '{c}' AS "column",
         COUNT(*) AS n_rows,
         COUNT(*) - COUNT({c}) AS n_nulls,
         COUNT(DISTINCT {c}) AS n_distinct,
         {mn} AS min_val,
         {mx} AS max_val
  FROM events WHERE {where}""")
    return " UNION ALL ".join(parts)


_DQ_PROFILE_DRIFT_ORACLE = f"""
WITH pb AS ({_drift_half_sql('<')}), pn AS ({_drift_half_sql('>=')})
SELECT pb."column",
       pb.n_rows AS n_rows_base,
       pn.n_rows AS n_rows_new,
       pb.n_distinct AS n_distinct_base,
       pn.n_distinct AS n_distinct_new,
       CASE WHEN pb.n_rows > 0
            THEN ROUND(pb.n_nulls / CAST(pb.n_rows AS DOUBLE), 6)
       END AS null_rate_base,
       CASE WHEN pn.n_rows > 0
            THEN ROUND(pn.n_nulls / CAST(pn.n_rows AS DOUBLE), 6)
       END AS null_rate_new,
       ROUND(ABS(
         (CASE WHEN pn.n_rows > 0
               THEN ROUND(pn.n_nulls / CAST(pn.n_rows AS DOUBLE), 6) END)
         - (CASE WHEN pb.n_rows > 0
               THEN ROUND(pb.n_nulls / CAST(pb.n_rows AS DOUBLE), 6) END)
       ), 6) AS null_rate_delta,
       CASE WHEN pb.n_distinct > 0
            THEN ROUND(pn.n_distinct / CAST(pb.n_distinct AS DOUBLE), 6)
       END AS distinct_ratio,
       (NOT (pb.min_val IS NOT DISTINCT FROM pn.min_val))
       OR (NOT (pb.max_val IS NOT DISTINCT FROM pn.max_val))
         AS range_changed
FROM pb JOIN pn ON pb."column" = pn."column"
"""

# --------------------------------------------------------------------------

STAGED_R18_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "agg_kmv_intersect": q_agg_kmv_intersect,
    "text_bpe_pairs": q_text_bpe_pairs,
    "win_ewma": q_win_ewma,
    "dq_profile_drift": q_dq_profile_drift,
}

STAGED_R18_ORACLES: dict[str, str] = {
    "agg_kmv_intersect": _AGG_KMV_INTERSECT_ORACLE,
    "text_bpe_pairs": _TEXT_BPE_PAIRS_ORACLE,
    "win_ewma": _WIN_EWMA_ORACLE,
    "dq_profile_drift": _DQ_PROFILE_DRIFT_ORACLE,
}
