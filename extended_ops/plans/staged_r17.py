"""Registry batch r17: four capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity, and
``tests/test_staged_r17.py`` holds its content checks.

Families: LM backoff-tier coverage (the hash-exact face of
stupid-backoff scoring — integer tier counts, no libm in the oracle
path), CUSUM level-shift detection (the prefix-sum identity, exact
integer-scaled arithmetic), the TPC-H Q21 "only-late supplier" shape
(adapted to this corpus's ship-vs-order delay; the Spark side uses an
aggregate reformulation where the oracle keeps EXISTS/NOT EXISTS —
two independent formulations, one relation), and a Benford
first-digit audit (string-sliced exact digits, inlined log-constant
table).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.lm import backoff_tier_counts, train_ngram_counts
from ..operators.quality import BENFORD_SHARES, benford_audit
from ..operators.text import TOKEN_PATTERN
from ..operators.timeseries import cusum_changepoints
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# lm_backoff_tiers — hash-exact LM coverage scoring
# --------------------------------------------------------------------------

LM_TIER_MIN_COUNT = 2
#: documents with doc_id % 10 == 0 are HELD OUT of training — the
#: honest reference-corpus/score-corpus split (CCNet trains on the
#: reference, scores the crawl). On THIS corpus the vocabulary CLOSES
#: over the 90% split (measured: zero OOV tokens even at min_count=8 —
#: the synthetic vocabulary is small and heavily repeated), so the
#: gate pins hit_rate == 1.0 as a corpus fact and the OOV rung is
#: exercised by the unit fixture's genuinely novel tokens
#: (tests/test_r17_ops.py).
LM_TIER_HOLDOUT_MOD = 10


def q_lm_backoff_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_backoff_tiers`` — per-document stupid-backoff TIER counts
    (:func:`~..operators.lm.backoff_tier_counts`) under a 1..3-gram
    model trained on the 90% reference split (``doc_id % 10 != 0``,
    ``min_count=2``) and applied to EVERY document: held-in documents
    resolve mostly at the trigram rung, held-out ones shift toward the
    bigram/unigram tail (this corpus's vocabulary closes over the
    split — see LM_TIER_HOLDOUT_MOD). The five-way hashed-gram join plan is
    exactly ``score_documents``'s; integer counts are what make it
    oracle-checkable (the tfidf no-log rule keeps ``avg_logprob``
    itself pytest-gated)."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(
        F.col("doc_id") % LM_TIER_HOLDOUT_MOD != 0
    ).select("text")
    model = train_ngram_counts(
        ref, order=3, min_count=LM_TIER_MIN_COUNT
    )
    return backoff_tier_counts(docs, model)


_LM_BACKOFF_TIERS_ORACLE = f"""
WITH ref_toks AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents
  WHERE text IS NOT NULL AND doc_id % {LM_TIER_HOLDOUT_MOD} != 0
), grams AS (
  SELECT 1 AS n, unnest(w) AS gram FROM ref_toks
  UNION ALL
  SELECT 2, unnest(list_transform(
    generate_series(0, len(w) - 2), i -> array_to_string(w[i+1:i+2], ' ')
  )) FROM ref_toks WHERE len(w) >= 2
  UNION ALL
  SELECT 3, unnest(list_transform(
    generate_series(0, len(w) - 3), i -> array_to_string(w[i+1:i+3], ' ')
  )) FROM ref_toks WHERE len(w) >= 3
), model AS (
  SELECT n, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2
  HAVING COUNT(*) >= {LM_TIER_MIN_COUNT}
), toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents WHERE text IS NOT NULL
), tok AS (
  SELECT doc_id,
         w[i] AS wd,
         CASE WHEN i >= 2 THEN array_to_string(w[i-1:i], ' ') END AS big,
         CASE WHEN i >= 2 THEN w[i-1] END AS uctx,
         CASE WHEN i >= 3 THEN array_to_string(w[i-2:i], ' ') END AS trig,
         CASE WHEN i >= 3 THEN array_to_string(w[i-2:i-1], ' ') END AS bctx
  FROM (
    SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
    FROM toks WHERE len(w) >= 1
  )
), tiers AS (
  SELECT t.doc_id,
         CASE
           WHEN m3.cnt IS NOT NULL AND mb.cnt IS NOT NULL THEN 'tri'
           WHEN m2.cnt IS NOT NULL AND mu.cnt IS NOT NULL THEN 'bi'
           WHEN m1.cnt IS NOT NULL THEN 'uni'
           ELSE 'oov'
         END AS tier
  FROM tok t
  LEFT JOIN model m3 ON m3.n = 3 AND m3.gram = t.trig
  LEFT JOIN model mb ON mb.n = 2 AND mb.gram = t.bctx
  LEFT JOIN model m2 ON m2.n = 2 AND m2.gram = t.big
  LEFT JOIN model mu ON mu.n = 1 AND mu.gram = t.uctx
  LEFT JOIN model m1 ON m1.n = 1 AND m1.gram = t.wd
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN tier = 'tri' THEN 1 ELSE 0 END) AS BIGINT) AS n_tri,
       CAST(SUM(CASE WHEN tier = 'bi' THEN 1 ELSE 0 END) AS BIGINT) AS n_bi,
       CAST(SUM(CASE WHEN tier = 'uni' THEN 1 ELSE 0 END) AS BIGINT) AS n_uni,
       CAST(SUM(CASE WHEN tier = 'oov' THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       ROUND(
         (COUNT(*) - SUM(CASE WHEN tier = 'oov' THEN 1 ELSE 0 END))
         / CAST(COUNT(*) AS DOUBLE), 6
       ) AS hit_rate
FROM tiers GROUP BY doc_id
"""

# --------------------------------------------------------------------------
# win_changepoint — CUSUM level-shift detection
# --------------------------------------------------------------------------


def q_win_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_changepoint`` — per event type, the peak one-sided CUSUM
    drift of the hourly count series and the hour it peaks
    (:func:`~..operators.timeseries.cusum_changepoints`): S⁺ via the
    prefix-sum-minus-running-min identity on integer-SCALED deviations
    (exact BIGINT arithmetic end-to-end; the only float op is the
    final divide-by-n, rounded 6dp)."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    return cusum_changepoints(
        ev, key_col="event_type", ts_col="ts", bucket="hour"
    )


_WIN_CHANGEPOINT_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), scaled AS (
  SELECT event_type, hr,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(x) OVER (PARTITION BY event_type) AS sx,
         x * COUNT(*) OVER (PARTITION BY event_type)
           - SUM(x) OVER (PARTITION BY event_type) AS d
  FROM hourly
), pre AS (
  SELECT event_type, hr, n, sx,
         SUM(d) OVER (PARTITION BY event_type ORDER BY hr) AS p
  FROM scaled
), cus AS (
  SELECT event_type, hr, n, sx,
         p - LEAST(MIN(p) OVER (PARTITION BY event_type ORDER BY hr), 0)
           AS su,
         GREATEST(MAX(p) OVER (PARTITION BY event_type ORDER BY hr), 0)
           - p AS sd
  FROM pre
), ranked AS (
  SELECT event_type, hr, n, sx, su, sd,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY su DESC, hr ASC
         ) AS ru,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY sd DESC, hr ASC
         ) AS rd
  FROM cus
)
SELECT u.event_type,
       u.n AS n_buckets,
       ROUND(u.sx / CAST(u.n AS DOUBLE), 6) AS mean_rate,
       ROUND(u.su / CAST(u.n AS DOUBLE), 6) AS cusum_up,
       CASE WHEN u.su > 0 THEN u.hr END AS up_bucket,
       ROUND(d.sd / CAST(d.n AS DOUBLE), 6) AS cusum_down,
       CASE WHEN d.sd > 0 THEN d.hr END AS down_bucket
FROM ranked u JOIN ranked d
  ON u.event_type = d.event_type AND u.ru = 1 AND d.rd = 1
"""

# --------------------------------------------------------------------------
# rel_supplier_delay — the TPC-H Q21 "only-late supplier" shape
# --------------------------------------------------------------------------

#: a lineitem is DELAYED when it shipped more than this many days after
#: its order date (the corpus carries no commit/receipt dates; ship-lag
#: is its delay signal).
DELAY_DAYS = 90


def q_rel_supplier_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_supplier_delay`` — TPC-H Q21 adapted: per supplier, how
    many delayed lineitems it shipped in finished multi-supplier
    orders where it was the ONLY delayed supplier (the
    "who single-handedly held the order up" audit). The classic
    formulation is EXISTS(other supplier) AND NOT EXISTS(other LATE
    supplier) — the ORACLE keeps exactly that shape; this side uses
    the aggregate reformulation instead: per order, ``n_supp =
    count(DISTINCT suppkey)`` and ``n_late = count(DISTINCT suppkey
    WHERE late)``, qualifying orders being ``n_supp >= 2 AND n_late =
    1`` — ONE map-combining aggregation plus one join back, where the
    correlated-subquery shape would self-join lineitem twice. Same
    relation, independently derived — the point of the registration.

    Scale: the per-order aggregation collapses lineitem volume
    map-side; the join back carries only late rows of qualifying
    orders; supplier is a broadcast dim. Honest cost note: the ``d``
    relation feeds both the aggregation and the late-row probe, so
    the lineitem⨝orders join evaluates twice — the right trade at
    this shape (d is O(lineitem); materializing it to save a
    scan-bound second pass costs more than it saves — the opposite
    call from ``agg_kmv_intersect``, whose consumers collapse to an
    O(parts) relation worth checkpointing)."""
    return only_late_supplier_counts(
        load_table(spark, sf_dir, "lineitem", spread=False),
        load_table(spark, sf_dir, "orders", spread=False),
        load_table(spark, sf_dir, "supplier", spread=False),
    )


def only_late_supplier_counts(
    li: DataFrame, orders: DataFrame, supp: DataFrame
) -> DataFrame:
    """The aggregate Q21 reformulation over lineitem/orders/supplier
    relations (see :func:`q_rel_supplier_delay` for semantics and the
    EXISTS-shaped oracle twin)."""
    d = (
        li.join(
            orders.where(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {DELAY_DAYS} DAYS")
            ).alias("late"),
        )
    )
    per_order = d.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late"),
    )
    qualifying = per_order.where(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
    ).select("l_orderkey")
    late_rows = d.where(F.col("late")).join(qualifying, "l_orderkey")
    return (
        late_rows.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(
            F.broadcast(supp),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .select("s_name", "numwait")
    )


_REL_SUPPLIER_DELAY_ORACLE = f"""
WITH delayed AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL {DELAY_DAYS} DAY)
           AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
)
SELECT s.s_name, COUNT(*) AS numwait
FROM delayed d1
JOIN supplier s ON s.s_suppkey = d1.l_suppkey
WHERE d1.late
  AND EXISTS (
    SELECT 1 FROM delayed d2
    WHERE d2.l_orderkey = d1.l_orderkey
      AND d2.l_suppkey <> d1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM delayed d3
    WHERE d3.l_orderkey = d1.l_orderkey
      AND d3.l_suppkey <> d1.l_suppkey
      AND d3.late
  )
GROUP BY s.s_name
"""

# --------------------------------------------------------------------------
# dq_benford — first-significant-digit audit
# --------------------------------------------------------------------------


def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_benford`` — Benford first-digit audit of
    ``l_extendedprice`` per return flag
    (:func:`~..operators.quality.benford_audit`): observed vs expected
    share per digit plus the per-group χ². Digits come from
    string-slicing the floored BIGINT (never ``log10`` of data); the
    expected shares are the pinned BENFORD_SHARES literal table both
    engines consume verbatim. Every group carries the FULL 1–9 digit
    domain (absent digits emit ``n_obs = 0`` and contribute their
    n·p_d χ² terms — dropping them would understate χ² exactly on
    fabricated data that skips digits)."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    return benford_audit(
        li, value_col="l_extendedprice", group_cols=["l_returnflag"]
    )


# CAST to DOUBLE everywhere a share appears: a bare decimal literal
# binds as DECIMAL in DuckDB, and the χ² squaring then overflows
# DECIMAL(38) — the shares must be the same IEEE doubles Spark's
# F.lit produces anyway.
def _benford_oracle() -> str:
    """Mirror of benford_audit's wide-aggregation plan, term for term:
    nine SUM(CASE) counting columns (CAST BIGINT — DuckDB types
    SUM(INT) as HUGEINT, the r10 red-row class), n_total as the same
    left-associated integer sum, chi2 as the IDENTICAL left-associated
    9-term double expression (explicit multiply, no POWER), and the
    9-row explode as a UNION ALL over the wide relation."""
    share = {d: f"CAST({s!r} AS DOUBLE)" for d, s in BENFORD_SHARES.items()}
    counts = ",\n         ".join(
        f"CAST(COALESCE(SUM(CASE WHEN digit = {d} THEN 1 ELSE 0 END), 0)"
        f" AS BIGINT) AS n{d}"
        for d in range(1, 10)
    )
    nt = " + ".join(f"n{d}" for d in range(1, 10))
    chi2 = " + ".join(
        f"((n{d} - {share[d]} * nt) * (n{d} - {share[d]} * nt)"
        f" / ({share[d]} * nt))"
        for d in range(1, 10)
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT l_returnflag, {d} AS digit, n{d} AS n_obs,\n"
        f"       ROUND(n{d} / CAST(nt AS DOUBLE), 6) AS obs_share,\n"
        f"       {share[d]} AS benford_share,\n"
        f"       ROUND(ABS(ROUND(n{d} / CAST(nt AS DOUBLE), 6)"
        f" - {share[d]}), 6) AS abs_dev,\n"
        f"       chi2\nFROM proj"
        for d in range(1, 10)
    )
    return f"""
WITH obs AS (
  SELECT l_returnflag,
         CAST(SUBSTRING(CAST(CAST(FLOOR(ABS(l_extendedprice)) AS BIGINT)
           AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND NOT isnan(l_extendedprice)
    AND ABS(l_extendedprice) >= 1
    AND ABS(l_extendedprice) < 9.2e18
), wide AS (
  SELECT l_returnflag,
         {counts}
  FROM obs
  GROUP BY 1
), proj AS (
  SELECT l_returnflag, {nt} AS nt,
         ROUND({chi2}, 6) AS chi2,
         {", ".join(f"n{d}" for d in range(1, 10))}
  FROM wide
)
{rows}
"""


_DQ_BENFORD_ORACLE = _benford_oracle()

# --------------------------------------------------------------------------

STAGED_R17_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lm_backoff_tiers": q_lm_backoff_tiers,
    "win_changepoint": q_win_changepoint,
    "rel_supplier_delay": q_rel_supplier_delay,
    "dq_benford": q_dq_benford,
}

STAGED_R17_ORACLES: dict[str, str] = {
    "lm_backoff_tiers": _LM_BACKOFF_TIERS_ORACLE,
    "win_changepoint": _WIN_CHANGEPOINT_ORACLE,
    "rel_supplier_delay": _REL_SUPPLIER_DELAY_ORACLE,
    "dq_benford": _DQ_BENFORD_ORACLE,
}
