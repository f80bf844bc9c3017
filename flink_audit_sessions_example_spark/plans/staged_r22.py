"""Registry batch r22: five capabilities. Each key is a complete (query
callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py`` replays
every pair with hash parity + non-vacuity, and
``tests/test_staged_r22.py`` holds its content checks.

Families: the TPC-H Q11 "important stock" shape (a per-key aggregate
filtered against a broadcast GLOBAL scalar — exact integer-rational
threshold comparison, no float division), a sweep-line order-backlog
series (interval stabbing via +1/−1 deltas and one running sum — the
classic how-many-open-at-time-t pattern a naive per-day interval join
would quadratic), theta-sketch set DIFFERENCE (A-not-B — the churn
complement of ``agg_kmv_intersect``; with it the sketches answer full
inclusion–exclusion), greedy next-token accuracy under a trained
bigram model (the hash-exact face of LM evaluation: integer counts of
argmax hits, no logprob float in sight), and per-document top-k
salient terms by exact (tf, rarity) ordering (the WindowGroupLimit
shape on a text relation — keyword extraction without IDF's log).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.lm import train_ngram_counts
from ..operators.sketches import (
    kmv_difference_estimate,
    kmv_table,
)
from ..operators.text import TOKEN_PATTERN, pattern_tokens
from ..sources.tables import load_table
from .extended import _cents
from .staged_r18 import KMV_I_K, KMV_I_YEAR_A, KMV_I_YEAR_B

# --------------------------------------------------------------------------
# rel_important_stock — the TPC-H Q11 shape
# --------------------------------------------------------------------------

#: selectivity threshold as an exact rational: a part is "important"
#: when its revenue exceeds IMPORTANT_NUM/IMPORTANT_DEN × the average
#: part revenue (1.5× average — measured 2/200 parts at sf0.001,
#: 29/2000 at sf0.01: non-vacuous and selective at both gate SFs). The
#: comparison is cross-multiplied in exact BIGINT cent^2 arithmetic
#: (r4·n_parts·DEN > total4·NUM·... — no float division, no epsilon).
IMPORTANT_NUM = 3
IMPORTANT_DEN = 2


def q_rel_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_important_stock`` — TPC-H Q11 shape: parts whose revenue
    exceeds 1.5× the average part's (the concentrate-attention list —
    Q11 filters a grouped aggregate against a fraction of the GLOBAL
    aggregate, the one-scalar-vs-many-groups pattern). Revenue is
    exact cent math (the ``rel_pricing_summary`` rule); the threshold
    test cross-multiplies integers so both engines decide every
    borderline part identically.

    Scale: ONE aggregation pass collapses lineitem map-side to
    O(parts); the global total re-aggregates THAT bounded relation and
    re-attaches as a broadcast 1-row scalar (BroadcastNestedLoopJoin
    over 1 row — the ``agg_mad_outliers`` attach shape, never a
    shuffle of the fact)."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    cdisc = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = _cents("l_extendedprice") * (F.lit(100) - cdisc)
    # pin the O(parts) aggregate: the global total and the filter are
    # two consumers, and unpinned each would re-run the lineitem scan
    # (the r9 doubly-consumed rule — measured 2 scans before the pin)
    per_part = (
        li.where(F.col("l_partkey").isNotNull())
        .groupBy("l_partkey")
        .agg(F.sum(rev).alias("_r4"))
        .localCheckpoint(eager=False)
    )
    total = per_part.agg(
        F.sum("_r4").alias("_t4"), F.count(F.lit(1)).alias("_np")
    )
    # DECIMAL(38,0), not BIGINT, for the cross-multiplied comparison:
    # r4·n_parts·DEN is cent²·count arithmetic that exceeds 2^63 well
    # below the 100 TB regime (Spark would wrap silently, DuckDB would
    # raise); 38 digits hold every realistic scale exactly, so the
    # threshold stays an exact integer comparison on both engines
    d38 = "decimal(38,0)"
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(
            F.col("_r4").cast(d38)
            * F.col("_np").cast(d38)
            * F.lit(IMPORTANT_DEN)
            > F.col("_t4").cast(d38) * F.lit(IMPORTANT_NUM)
        )
        .select(
            "l_partkey",
            F.round(F.col("_r4") / F.lit(10000.0), 6).alias(
                "stock_value"
            ),
        )
    )


_REL_IMPORTANT_STOCK_ORACLE = f"""
WITH pv AS (
  SELECT l_partkey,
         SUM(
           CAST(ROUND(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
         ) AS r4
  FROM lineitem
  WHERE l_partkey IS NOT NULL
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(r4) AS BIGINT) AS t4, COUNT(*) AS np FROM pv
)
SELECT l_partkey, ROUND(r4 / 10000.0, 6) AS stock_value
FROM pv, tot
WHERE CAST(r4 AS HUGEINT) * np * {IMPORTANT_DEN}
      > CAST(t4 AS HUGEINT) * {IMPORTANT_NUM}
"""

# --------------------------------------------------------------------------
# rel_order_backlog — sweep-line open-order series
# --------------------------------------------------------------------------


def q_rel_order_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_order_backlog`` — the open-order backlog time series by
    sweep-line: an order is OPEN from its order day until the day its
    last line ships; the output is one row per day on which the
    backlog CHANGES — ``(day, delta, backlog)`` with ``backlog`` the
    running count of open orders. The interval-stabbing identity
    (+1 at each start, −1 at each end, prefix-sum over time) answers
    "how many open at time t" for EVERY t in one pass where the naive
    formulation joins each day against every overlapping interval
    (O(days × open) — quadratic in the backlog it is measuring).

    Scale: the per-order close day collapses lineitem map-side to
    O(orders); the delta aggregation collapses THAT to O(distinct
    days) — a calendar-bounded relation (~2.5k rows even at sf0.1,
    still calendar-bounded at 100 TB) — and the single running-sum
    window rides it unpartitioned BY CONSTRUCTION on bounded input
    (same contract as the quantile sketches' summary windows)."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    orders = load_table(spark, sf_dir, "orders", spread=False)
    close = (
        li.where(F.col("l_shipdate").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("_close"))
    )
    # pin the O(orders) span relation: the +1 and −1 legs are two
    # consumers — unpinned, the orders⨝lineitem join runs twice
    # (measured 4 scans before the pin)
    span = orders.join(
        close, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        F.date_trunc("day", F.col("o_orderdate"))
        .cast("date")
        .alias("_d0"),
        F.date_trunc("day", F.col("_close")).cast("date").alias("_d1"),
    ).localCheckpoint(eager=False)
    deltas = (
        span.select(F.col("_d0").alias("day"), F.lit(1).alias("_delta"))
        .unionByName(
            span.select(
                F.col("_d1").alias("day"), F.lit(-1).alias("_delta")
            )
        )
        .groupBy("day")
        .agg(F.sum("_delta").cast("bigint").alias("delta"))
    )
    sweep = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return deltas.select(
        "day",
        "delta",
        F.sum("delta").over(sweep).cast("bigint").alias("backlog"),
    )


_REL_ORDER_BACKLOG_ORACLE = """
WITH close AS (
  SELECT l_orderkey, MAX(l_shipdate) AS close_ts
  FROM lineitem WHERE l_shipdate IS NOT NULL GROUP BY 1
), span AS (
  SELECT CAST(date_trunc('day', o.o_orderdate) AS DATE) AS d0,
         CAST(date_trunc('day', c.close_ts) AS DATE) AS d1
  FROM orders o JOIN close c ON c.l_orderkey = o.o_orderkey
), deltas AS (
  SELECT day, CAST(SUM(delta) AS BIGINT) AS delta FROM (
    SELECT d0 AS day, 1 AS delta FROM span
    UNION ALL
    SELECT d1, -1 FROM span
  ) GROUP BY 1
)
SELECT day, delta,
       CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT) AS backlog
FROM deltas
"""

# --------------------------------------------------------------------------
# agg_kmv_difference — theta-sketch A-not-B
# --------------------------------------------------------------------------


def q_agg_kmv_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_kmv_difference`` — estimated |A \\ B| from two KMV/theta
    sketches (:func:`~..operators.sketches.kmv_difference_estimate`):
    A = parts ordered in 1995, B = parts ordered in 1996 — the DROPPED
    assortment (the churn complement of ``agg_kmv_intersect``; same
    year windows, same k, so together they demonstrate sketch-side
    inclusion–exclusion). Registered as the BOUND CHECK, the
    ``agg_kmv_sketch`` pattern: DuckDB cannot reproduce xxhash64, but
    it can reproduce the EXACT difference the estimate must land near;
    ``within_bound`` uses 5 estimated-σ (σ ≈ sqrt(true·max(|A|,|B|)/k))
    with a +2 floor for the tiny-true regime. Construction runs the
    sketch-side collects — the bench times it construction-inclusive
    (ITERATIVE_QUERIES class, like ``agg_kmv_intersect``)."""
    li = load_table(spark, sf_dir, "lineitem", spread=False).where(
        F.col("l_partkey").isNotNull()
    )
    orders = load_table(spark, sf_dir, "orders", spread=False)
    ev = li.join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).select("l_partkey", "o_orderdate")

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
    # BOTH sketches from one GROUPED build (r15) — the
    # agg_kmv_intersect rationale: one distinct + one rank-window pass,
    # pinned (<= 2k rows), per-side views are cache slices
    sk = kmv_table(
        parts, "l_partkey", group_cols=["w"], k=KMV_I_K
    ).localCheckpoint(eager=False)
    sk_a = sk.where(F.col("w") == "a").select("hv")
    sk_b = sk.where(F.col("w") == "b").select("hv")
    est = kmv_difference_estimate(sk_a, sk_b, k=KMV_I_K)
    exact = a.join(b, "l_partkey", "left_anti").agg(
        F.count(F.lit(1)).alias("true_only_a")
    )
    cards = a.agg(F.count(F.lit(1)).alias("n_a")).crossJoin(
        b.agg(F.count(F.lit(1)).alias("n_b"))
    )
    bound = F.lit(2.0) + F.lit(5.0) * F.sqrt(
        F.greatest(
            F.lit(1.0),
            F.col("true_only_a")
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
            "true_only_a",
            (
                F.abs(F.col("est_only_a") - F.col("true_only_a"))
                <= bound
            ).alias("within_bound"),
        )
    )


_AGG_KMV_DIFFERENCE_ORACLE = f"""
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
       (SELECT COUNT(*) FROM a ANTI JOIN b USING (l_partkey))
         AS true_only_a,
       TRUE AS within_bound
"""

# --------------------------------------------------------------------------
# lm_greedy_acc — greedy next-token accuracy under a bigram model
# --------------------------------------------------------------------------

#: the reference/score split, shared with lm_backoff_tiers: documents
#: with doc_id % 10 == 0 are held out of training.
GREEDY_HOLDOUT_MOD = 10


def q_lm_greedy_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_greedy_acc`` — per-document GREEDY decoding accuracy under
    a bigram model trained on the 90% reference split: at every
    position, predict the modal next token of the current token
    (argmax by count, ties to the lexicographically smallest — the
    deterministic argmax rule) and count hits. Output ``(doc_id,
    n_positions, n_predicted, n_correct)`` — all exact integers, the
    hash-checkable face of LM evaluation (perplexity's float
    log-sums stay pytest-gated, the tfidf no-log rule).

    Scale: the model is the VOCABULARY relation (O(distinct bigrams),
    collapsed map-side from the corpus), its argmax one
    WindowGroupLimit-prunable ranked window; the corpus-side bigram
    explode joins the modal table BROADCAST (the vocabulary-relation
    trick — the corpus never reshuffles on a token key) and collapses
    straight back to O(docs)."""
    docs = load_table(spark, sf_dir, "documents")
    ref = docs.where(
        F.col("doc_id") % GREEDY_HOLDOUT_MOD != 0
    ).select("text")
    model = train_ngram_counts(ref, order=2, min_count=1)
    bi = model.where(F.col("n") == 2).select(
        F.split(F.col("gram"), " ")[0].alias("_w1"),
        F.split(F.col("gram"), " ")[1].alias("_w2"),
        "cnt",
    )
    rk = Window.partitionBy("_w1").orderBy(
        F.desc("cnt"), F.asc("_w2")
    )
    modal = (
        bi.withColumn("_rn", F.row_number().over(rk))
        .where(F.col("_rn") == 1)
        .select("_w1", F.col("_w2").alias("_pred"))
    )
    # pattern_tokens, NEVER the pattern inside F.expr: a SQL string
    # literal eats the \s escape ([^a-z0-9\s] -> [^a-z0-9s], and
    # suddenly whitespace tokenizes) — the single-definition rule
    # exists exactly for this
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        pattern_tokens(F.col("text")).alias("_w"),
    ).where(F.size("_w") >= 2)
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_w) - 1), "
                "i -> struct(_w[i-1] AS prefix, _w[i] AS actual))"
            )
        ).alias("_p"),
    ).select(
        "doc_id",
        F.col("_p.prefix").alias("_prefix"),
        F.col("_p.actual").alias("_actual"),
    )
    scored = pairs.join(
        F.broadcast(modal),
        pairs["_prefix"] == modal["_w1"],
        "left",
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_positions"),
        F.sum(
            F.when(F.col("_pred").isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("n_predicted"),
        F.sum(
            F.when(F.col("_pred") == F.col("_actual"), 1).otherwise(0)
        ).cast("bigint").alias("n_correct"),
    )


_LM_GREEDY_ACC_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents WHERE text IS NOT NULL
), big AS (
  SELECT w[i+1] AS w1, w[i+2] AS w2
  FROM toks, UNNEST(generate_series(0, len(w) - 2)) AS t(i)
  WHERE doc_id % {GREEDY_HOLDOUT_MOD} != 0 AND len(w) >= 2
), cnt AS (
  SELECT w1, w2, COUNT(*) AS c FROM big GROUP BY 1, 2
), modal AS (
  SELECT w1, w2 AS pred FROM (
    SELECT w1, w2,
           ROW_NUMBER() OVER (
             PARTITION BY w1 ORDER BY c DESC, w2 ASC
           ) AS rn
    FROM cnt
  ) WHERE rn = 1
), pos AS (
  SELECT doc_id, w[i+1] AS prefix, w[i+2] AS actual
  FROM toks, UNNEST(generate_series(0, len(w) - 2)) AS t(i)
  WHERE len(w) >= 2
)
SELECT p.doc_id,
       COUNT(*) AS n_positions,
       CAST(SUM(CASE WHEN m.pred IS NOT NULL THEN 1 ELSE 0 END)
         AS BIGINT) AS n_predicted,
       CAST(SUM(CASE WHEN m.pred = p.actual THEN 1 ELSE 0 END)
         AS BIGINT) AS n_correct
FROM pos p LEFT JOIN modal m ON m.w1 = p.prefix
GROUP BY 1
"""

# --------------------------------------------------------------------------
# text_top_terms — per-document top-k salient terms
# --------------------------------------------------------------------------

TOP_TERMS_K = 3


def q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_top_terms`` — each document's ``TOP_TERMS_K`` most
    salient terms by the exact integer ordering (tf DESC, corpus-df
    ASC, term ASC): the keyword-extraction core of tf-idf with the
    rarity preference expressed as a TIE-ORDER on exact counts instead
    of a log weight (the tfidf no-log rule — ``log`` would put libm in
    the oracle path; the ordering is what the ranking consumes
    anyway). Output ``(doc_id, term, tf, df, rank)``.

    Scale: tokenize ONCE into the (doc, term, tf) relation (map-side
    collapsed), pin it (two consumers — the r9 doubly-consumed rule);
    df is a COUNT window keyed by term over that bounded relation (one
    exchange, no join-back), and the per-doc top-k ranked window
    compiles to WindowGroupLimit — rank pruning happens partial-side,
    never materializing the full per-doc term list post-shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(pattern_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    df_w = Window.partitionBy("term")
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(df_w).cast("bigint")
    )
    rk = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        with_df.withColumn("rank", F.row_number().over(rk))
        .where(F.col("rank") <= TOP_TERMS_K)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_TEXT_TOP_TERMS_ORACLE = f"""
WITH tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
             AS term
    FROM documents WHERE text IS NOT NULL
  )
  GROUP BY 1, 2
), with_df AS (
  SELECT doc_id, term, tf,
         CAST(COUNT(*) OVER (PARTITION BY term) AS BIGINT) AS df
  FROM tf
)
SELECT doc_id, term, tf, df, CAST(rank AS BIGINT) AS rank FROM (
  SELECT *,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
         ) AS rank
  FROM with_df
) WHERE rank <= {TOP_TERMS_K}
"""

# --------------------------------------------------------------------------

STAGED_R22_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_important_stock": q_rel_important_stock,
    "rel_order_backlog": q_rel_order_backlog,
    "agg_kmv_difference": q_agg_kmv_difference,
    "lm_greedy_acc": q_lm_greedy_acc,
    "text_top_terms": q_text_top_terms,
}

STAGED_R22_ORACLES: dict[str, str] = {
    "rel_important_stock": _REL_IMPORTANT_STOCK_ORACLE,
    "rel_order_backlog": _REL_ORDER_BACKLOG_ORACLE,
    "agg_kmv_difference": _AGG_KMV_DIFFERENCE_ORACLE,
    "lm_greedy_acc": _LM_GREEDY_ACC_ORACLE,
    "text_top_terms": _TEXT_TOP_TERMS_ORACLE,
}
