"""Round-10 registrations — six capability families.

Each entry is a complete driver registration (query callable + DuckDB
oracle), registered live in ``plans/__init__.py`` the session it lands
(the r10 window had exactly these slots free after the staged-queue
drain). Families: SCD2 dimension history, skyline/Pareto, exponential
time-decay aggregates, n-gram containment near-dup, referential-
integrity audit, char-distribution quality scoring.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import ngram_containment_pairs
from ..operators.history import scd2_history
from ..operators.quality import referential_audit
from ..operators.skyline import skyline_2d
from ..operators.text import char_diversity_rows
from ..operators.timeseries import time_decay_stats
from ..sources.tables import load_table
from .extended import MAX_SHINGLE_DF, _sql_shingles

# --------------------------------------------------------------------------
# xform_scd2 — type-2 dimension history from the event changelog
# --------------------------------------------------------------------------


def q_xform_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_scd2`` — SCD2 validity intervals over each user's
    event-type state (:func:`~..operators.history.scd2_history`):
    consecutive same-state events collapse into one version, ONE
    keyed shuffle feeds both window passes."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return scd2_history(
        events,
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
        tiebreak_cols=["event_id"],
    )


_XFORM_SCD2_ORACLE = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER w AS prev,
         ROW_NUMBER() OVER w = 1 AS is_first
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE is_first OR prev IS DISTINCT FROM event_type
), vers AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER w2 AS valid_to,
         CAST(ROW_NUMBER() OVER w2 AS INTEGER) AS version
  FROM runs
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_type, valid_from, valid_to, version,
       valid_to IS NULL AS is_current
FROM vers
"""

# --------------------------------------------------------------------------
# rel_skyline — Pareto frontier (minimize price, maximize size)
# --------------------------------------------------------------------------


def q_rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_skyline`` — parts on the (retailprice ↓, size ↑) Pareto
    frontier (:func:`~..operators.skyline.skyline_2d`): sort-scan
    frontier over the distinct-price aggregate + broadcast
    verification join, NOT the O(n²) dominance anti-join the oracle
    states the semantics with."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    return skyline_2d(part, min_col="p_retailprice", max_col="p_size")


_REL_SKYLINE_ORACLE = """
SELECT p_retailprice, p_size, p_partkey
FROM part p
WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
  )
"""

# --------------------------------------------------------------------------
# win_time_decay — exponential recency-weighted per-user aggregates
# --------------------------------------------------------------------------

DECAY_HALF_LIFE_HOURS = 24


def q_win_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_time_decay`` — per-user recency-weighted value mass with a
    24 h half-life (:func:`~..operators.timeseries.time_decay_stats`):
    exact power-of-two weights (integer decay steps), order-fixed
    per-key fold, one keyed shuffle."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return time_decay_stats(
        events,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        tiebreak_cols=["event_id"],
        half_life_hours=DECAY_HALF_LIFE_HOURS,
    )


_WIN_TIME_DECAY_ORACLE = f"""
WITH a AS (
  SELECT user_id, ts, event_id, value,
         MAX(ts) OVER (PARTITION BY user_id) AS anchor
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL
), t AS (
  SELECT user_id, ts, event_id, value,
         pow(2.0, -(FLOOR(FLOOR(epoch(anchor)) / {3600 * DECAY_HALF_LIFE_HOURS})
                    - FLOOR(FLOOR(epoch(ts)) / {3600 * DECAY_HALF_LIFE_HOURS}))) AS w
  FROM a
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(ts) AS last_ts,
       ROUND(list_sum(array_agg(value * w ORDER BY ts, event_id)), 6)
         AS decayed_sum,
       ROUND(list_sum(array_agg(w ORDER BY ts, event_id)), 6)
         AS decayed_weight
FROM t
GROUP BY user_id
"""

# --------------------------------------------------------------------------
# text_containment — asymmetric n-gram inclusion near-dup pairs
# --------------------------------------------------------------------------

CONTAINMENT_K = 3
CONTAINMENT_THRESHOLD = 0.4


def q_text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_containment`` — 3-shingle containment ≥ 0.4 pairs
    (:func:`~..operators.dedup.ngram_containment_pairs`): the
    quote-inclusion/subset-document signal Jaccard misses, on an
    inverted-index plan with the ``MAX_SHINGLE_DF`` boilerplate-shingle
    cap."""
    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"),
        k=CONTAINMENT_K,
        threshold=CONTAINMENT_THRESHOLD,
        max_shingle_df=MAX_SHINGLE_DF,
    )


_TEXT_CONTAINMENT_ORACLE = f"""
WITH sh AS (
  SELECT doc_id AS id, unnest({_sql_shingles(CONTAINMENT_K)}) AS shingle
  FROM documents
), sizes AS (
  SELECT id, COUNT(*) AS n FROM sh GROUP BY id
), keep AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) >= 2 AND COUNT(*) <= {MAX_SHINGLE_DF}
), common AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
  FROM sh a
  JOIN keep k ON a.shingle = k.shingle
  JOIN sh b ON b.shingle = a.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(c / LEAST(sa.n, sb.n), 6) AS containment
FROM common
JOIN sizes sa ON sa.id = common.id_a
JOIN sizes sb ON sb.id = common.id_b
WHERE c / LEAST(sa.n, sb.n) >= {CONTAINMENT_THRESHOLD}
"""

# --------------------------------------------------------------------------
# dq_referential — FK→PK audit with PLANTED orphans (non-vacuity: an
# all-zeros audit over clean TPC-H data would prove nothing about
# detection — the text_clean dirty-injection pattern)
# --------------------------------------------------------------------------


def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_referential`` — referential-integrity audit over five
    TPC-H FK edges (:func:`~..operators.quality.referential_audit`),
    with deterministic orphan injections on two facts (every 500th
    order points at a negated customer key; every 400th customer at
    nation −1) so orphan DETECTION is hash-checked, not just absence
    of false positives. Per edge: FK-column-only scans, broadcast
    distinct-PK left join, one-pass count aggregate."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select("r_regionkey")
    orders_f = orders.unionByName(
        orders.where(F.col("o_orderkey") % 500 == 0).withColumn(
            "o_custkey", -(F.col("o_orderkey") + 1)
        )
    )
    customer_f = customer.unionByName(
        customer.where(F.col("c_custkey") % 400 == 0).withColumn(
            "c_nationkey", F.lit(-1).cast("long")
        )
    )
    return referential_audit(
        [
            ("orders.custkey->customer", orders_f, "o_custkey",
             customer, "c_custkey"),
            ("lineitem.orderkey->orders", lineitem, "l_orderkey",
             orders, "o_orderkey"),
            ("customer.nationkey->nation", customer_f, "c_nationkey",
             nation, "n_nationkey"),
            ("supplier.nationkey->nation", supplier, "s_nationkey",
             nation, "n_nationkey"),
            ("nation.regionkey->region", nation, "n_regionkey",
             region, "r_regionkey"),
        ]
    )


_DQ_REFERENTIAL_ORACLE = """
WITH o_fact AS (
  SELECT o_custkey AS fk FROM orders
  UNION ALL
  SELECT -(o_orderkey + 1) FROM orders WHERE o_orderkey % 500 = 0
), c_fact AS (
  SELECT c_nationkey AS fk FROM customer
  UNION ALL
  SELECT -1 FROM customer WHERE c_custkey % 400 = 0
), e AS (
  SELECT 'orders.custkey->customer' AS edge, f.fk,
         (p.k IS NULL) AS orphan
  FROM o_fact f
  LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p ON f.fk = p.k
  WHERE f.fk IS NOT NULL
  UNION ALL
  SELECT 'lineitem.orderkey->orders', f.l_orderkey, p.k IS NULL
  FROM lineitem f
  LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
    ON f.l_orderkey = p.k
  WHERE f.l_orderkey IS NOT NULL
  UNION ALL
  SELECT 'customer.nationkey->nation', f.fk, p.k IS NULL
  FROM c_fact f
  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p ON f.fk = p.k
  WHERE f.fk IS NOT NULL
  UNION ALL
  SELECT 'supplier.nationkey->nation', f.s_nationkey, p.k IS NULL
  FROM supplier f
  LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
    ON f.s_nationkey = p.k
  WHERE f.s_nationkey IS NOT NULL
  UNION ALL
  SELECT 'nation.regionkey->region', f.n_regionkey, p.k IS NULL
  FROM nation f
  LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) p
    ON f.n_regionkey = p.k
  WHERE f.n_regionkey IS NOT NULL
)
SELECT edge,
       CAST(COUNT(*) AS BIGINT) AS fact_rows,
       CAST(COUNT(CASE WHEN orphan THEN 1 END) AS BIGINT) AS orphan_rows,
       CAST(COUNT(DISTINCT CASE WHEN orphan THEN fk END) AS BIGINT)
         AS distinct_orphan_keys
FROM e
GROUP BY edge
"""

# --------------------------------------------------------------------------
# text_char_diversity — exact char-distribution quality signals
# --------------------------------------------------------------------------


def q_text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_char_diversity`` — per-doc Simpson char diversity,
    distinct-char count and top-char share
    (:func:`~..operators.text.char_diversity_rows`): one Arrow scan
    pass, zero shuffles; Simpson instead of Shannon so every float op
    is correctly-rounded IEEE (hash-checkable — the tfidf no-log
    rule). ``spread=False``: the loader's round-robin spread is an
    Exchange of the full text column — pure overhead for a scan-side
    pass whose parallelism already comes from parquet splits."""
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "text"
    )
    return char_diversity_rows(docs)


_TEXT_CHAR_DIVERSITY_ORACLE = """
WITH ch AS (
  SELECT doc_id, length(text) AS n,
         unnest(list_transform(
           generate_series(1, length(text)), i -> substr(text, i, 1)
         )) AS ch
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), cnt AS (
  SELECT doc_id, any_value(n) AS n, ch, CAST(COUNT(*) AS BIGINT) AS c
  FROM ch GROUP BY doc_id, ch
), agg AS (
  SELECT doc_id, any_value(n) AS n,
         CAST(COUNT(*) AS BIGINT) AS distinct_chars,
         MAX(c) AS maxc,
         array_agg(c ORDER BY ch) AS cs
  FROM cnt GROUP BY doc_id
)
SELECT doc_id AS id, CAST(n AS BIGINT) AS n_chars_tok, distinct_chars,
       ROUND(1.0 - list_sum(list_transform(
         cs, x -> (x / CAST(n AS DOUBLE)) * (x / CAST(n AS DOUBLE))
       )), 6) AS char_diversity,
       ROUND(maxc / CAST(n AS DOUBLE), 6) AS top_char_share
FROM agg
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
FROM documents WHERE text IS NULL OR length(text) = 0
"""

# --------------------------------------------------------------------------

ROUND10_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "xform_scd2": q_xform_scd2,
    "rel_skyline": q_rel_skyline,
    "win_time_decay": q_win_time_decay,
    "text_containment": q_text_containment,
    "dq_referential": q_dq_referential,
    "text_char_diversity": q_text_char_diversity,
}

ROUND10_ORACLES: dict[str, str] = {
    "xform_scd2": _XFORM_SCD2_ORACLE,
    "rel_skyline": _REL_SKYLINE_ORACLE,
    "win_time_decay": _WIN_TIME_DECAY_ORACLE,
    "text_containment": _TEXT_CONTAINMENT_ORACLE,
    "dq_referential": _DQ_REFERENTIAL_ORACLE,
    "text_char_diversity": _TEXT_CHAR_DIVERSITY_ORACLE,
}
