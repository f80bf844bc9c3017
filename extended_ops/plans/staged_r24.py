"""Registry batch r24: four capabilities. Each key is a complete (query
callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py`` replays
every pair with hash parity + non-vacuity, and
``tests/test_staged_r24.py`` holds its content checks.

Families: the TPC-H Q19 disjunctive-predicate shape (an OR-of-ANDs
bracket join — the predicate-normalization stress every BI layer
emits), the session-length histogram (session QUALITY next to
``win_session``'s session contents: the bounce-rate distribution in
one integer relation), n-gram head-coverage curves (what fraction of
trigram OCCURRENCES the top-k distinct trigrams cover — the
compression/memorization screen, TakeOrderedAndProject at every k),
and ordered string aggregation (top-parts-per-nation as a
deterministic csv — the presentation-layer contract that collect_list
order must NOT leak into)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.text import TOKEN_PATTERN, pattern_tokens
from ..sources.tables import load_table
from .extended import _cents

# --------------------------------------------------------------------------
# rel_disjunctive_revenue — the TPC-H Q19 shape
# --------------------------------------------------------------------------

#: the three disjunct brackets (brand/size/type × quantity band),
#: adapted to this catalog's value domains; each leg is non-vacuous at
#: sf0.001 (checked by the gate's content test).
Q19_BRACKETS = (
    ("p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11", "small"),
    ("p_type = 'PROMO' AND l_quantity BETWEEN 10 AND 20", "promo"),
    ("p_size >= 8 AND l_quantity BETWEEN 20 AND 30", "bulk"),
)


def q_rel_disjunctive_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``rel_disjunctive_revenue`` — TPC-H Q19 shape: revenue from
    lineitem⨝part rows matching ANY of three (part-attribute ×
    quantity-band) brackets, reported per bracket plus the disjunct
    total (a row per bracket and one ``'any'`` row — rows matching
    several brackets count once in ``'any'``, the Q19 semantics).
    Exact cent math; the brackets are shared SQL fragments so the
    Spark plan and the oracle consume identical predicates.

    Scale: ONE lineitem⨝broadcast(part) join with the whole
    disjunction pushed into the join filter — Catalyst prunes
    non-matching rows before the aggregate, and the per-bracket
    conditional sums collapse map-side to a 4-row output. The naive
    per-bracket UNION would scan lineitem three times."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    part = load_table(spark, sf_dir, "part", spread=False)
    cdisc = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = _cents("l_extendedprice") * (F.lit(100) - cdisc)
    any_pred = " OR ".join(f"({p})" for p, _ in Q19_BRACKETS)
    j = li.join(
        F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
    ).where(F.expr(any_pred))
    aggs = [
        F.sum(F.when(F.expr(pred), rev).otherwise(0)).alias(f"_r_{name}")
        for pred, name in Q19_BRACKETS
    ]
    wide = j.agg(F.sum(rev).alias("_r_any"), *aggs)
    rows = [
        F.struct(
            F.lit(name).alias("bracket"),
            F.round(F.col(f"_r_{name}") / F.lit(10000.0), 6).alias(
                "revenue"
            ),
        )
        for _, name in Q19_BRACKETS
    ] + [
        F.struct(
            F.lit("any").alias("bracket"),
            F.round(F.col("_r_any") / F.lit(10000.0), 6).alias(
                "revenue"
            ),
        )
    ]
    return wide.select(F.explode(F.array(*rows)).alias("_e")).select(
        F.col("_e.bracket").alias("bracket"),
        F.col("_e.revenue").alias("revenue"),
    )


def _q19_oracle() -> str:
    any_pred = " OR ".join(f"({p})" for p, _ in Q19_BRACKETS)
    legs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN {pred} THEN r4 ELSE 0 END) AS BIGINT)"
        f" AS r_{name}"
        for pred, name in Q19_BRACKETS
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS bracket,"
        f" ROUND(r_{name} / 10000.0, 6) AS revenue FROM wide"
        for _, name in Q19_BRACKETS
    )
    return f"""
WITH j AS (
  SELECT l.l_quantity, p.p_brand, p.p_type, p.p_size,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS r4
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE {any_pred}
), wide AS (
  SELECT CAST(SUM(r4) AS BIGINT) AS r_any,
         {legs}
  FROM j
)
{rows}
UNION ALL
SELECT 'any' AS bracket, ROUND(r_any / 10000.0, 6) AS revenue FROM wide
"""


_REL_DISJUNCTIVE_REVENUE_ORACLE = _q19_oracle()

# --------------------------------------------------------------------------
# win_session_lengths — session-length histogram
# --------------------------------------------------------------------------

SESSION_LEN_GAP_S = 1800


def q_win_session_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_session_lengths`` — the session-length histogram over
    per-user activity sessions (gap > ``SESSION_LEN_GAP_S`` seconds
    starts a new session — the ``> gap`` rule every oracle here uses):
    ``(session_len, n_sessions)``. Session QUALITY in one integer
    relation — the ``len = 1`` row is the bounce count, the tail is
    engagement depth; the product-analytics companion to
    ``win_session``'s per-session contents.

    Scale: ONE exchange on user (the lag window), then the
    gaps-and-islands prefix sum rides the same partitioning (no second
    exchange — same-key windows stack); session sizes collapse
    map-side, and the final histogram is O(distinct lengths)."""
    ev = load_table(spark, sf_dir, "events", spread=False).where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    byu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # the NTZ rule: events.parquet decodes TIMESTAMP_NTZ since the r3
    # driver corpus, and unix_micros rejects it without the cast
    tsc = F.col("ts").cast("timestamp")
    brk = F.when(
        F.lag(tsc).over(byu).isNull()
        | (
            F.unix_micros(tsc)
            - F.unix_micros(F.lag(tsc).over(byu))
            > SESSION_LEN_GAP_S * 1_000_000
        ),
        1,
    ).otherwise(0)
    sessions = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("_sid", F.sum(brk).over(byu))
        .groupBy("user_id", "_sid")
        .agg(F.count(F.lit(1)).alias("session_len"))
    )
    return sessions.groupBy("session_len").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


_WIN_SESSION_LENGTHS_ORACLE = f"""
WITH e AS (
  SELECT user_id, ts, event_id FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > {SESSION_LEN_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         SUM(brk) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS sid
  FROM d
), z AS (
  SELECT user_id, sid, COUNT(*) AS session_len FROM s GROUP BY 1, 2
)
SELECT session_len, COUNT(*) AS n_sessions FROM z GROUP BY 1
"""

# --------------------------------------------------------------------------
# text_ngram_coverage — trigram head-coverage curve
# --------------------------------------------------------------------------

COVERAGE_KS = (10, 100, 1000)


def q_text_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_ngram_coverage`` — for each k in ``COVERAGE_KS``, the
    fraction of corpus trigram OCCURRENCES covered by the k most
    frequent DISTINCT trigrams (ties by gram ascending — the
    deterministic head): the compression/boilerplate screen (a corpus
    whose top-100 trigrams cover half its mass is template spam) and
    the memorization-risk counterpart of ``text_vocab_growth``.

    Scale: one tokenize into the counted trigram relation (map-side
    collapsed, pinned — one consumer per k plus the total); each head
    is ``ORDER BY cnt DESC LIMIT k`` — TakeOrderedAndProject, per-task
    heaps, never a global sort — and the totals attach broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.where(F.col("text").isNotNull()).select(
        pattern_tokens(F.col("text")).alias("_w")
    ).where(F.size("_w") >= 3)
    tri = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(_w) - 2), "
                "i -> concat_ws(' ', _w[i-1], _w[i], _w[i+1]))"
            )
        ).alias("gram")
    )
    counts = (
        tri.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("cnt").alias("_total"))
    branches = []
    for k in COVERAGE_KS:
        head = (
            counts.orderBy(F.desc("cnt"), F.asc("gram"))
            .limit(k)
            .agg(F.sum("cnt").alias("_covered"))
        )
        branches.append(
            head.crossJoin(F.broadcast(total)).select(
                F.lit(k).cast("bigint").alias("k"),
                F.col("_covered").alias("covered_occurrences"),
                F.col("_total").alias("total_occurrences"),
                F.round(
                    F.col("_covered") / F.col("_total").cast("double"),
                    6,
                ).alias("coverage"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


def _coverage_oracle() -> str:
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS BIGINT) AS k,
       (SELECT CAST(SUM(cnt) AS BIGINT) FROM
         (SELECT cnt FROM counts ORDER BY cnt DESC, gram ASC LIMIT {k}))
         AS covered_occurrences,
       (SELECT CAST(SUM(cnt) AS BIGINT) FROM counts)
         AS total_occurrences,
       ROUND(
         (SELECT CAST(SUM(cnt) AS BIGINT) FROM
           (SELECT cnt FROM counts ORDER BY cnt DESC, gram ASC
            LIMIT {k}))
         / CAST((SELECT SUM(cnt) FROM counts) AS DOUBLE), 6
       ) AS coverage"""
        for k in COVERAGE_KS
    )
    return f"""
WITH toks AS (
  SELECT regexp_extract_all(lower(text), '{TOKEN_PATTERN}') AS w
  FROM documents WHERE text IS NOT NULL
), tri AS (
  SELECT array_to_string(w[i+1:i+3], ' ') AS gram
  FROM toks, UNNEST(generate_series(0, len(w) - 3)) AS t(i)
  WHERE len(w) >= 3
), counts AS (
  SELECT gram, COUNT(*) AS cnt FROM tri GROUP BY 1
)
{rows}
"""


_TEXT_NGRAM_COVERAGE_ORACLE = _coverage_oracle()

# --------------------------------------------------------------------------
# rel_top_parts_concat — ordered string aggregation per nation
# --------------------------------------------------------------------------

TOP_PARTS_K = 3


def q_rel_top_parts_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_top_parts_concat`` — per supplier nation, the top
    ``TOP_PARTS_K`` parts by exact cent revenue rendered as ONE
    ordered csv string (rank order, ties by partkey): the
    presentation-layer contract. ``collect_list`` order is
    partition-dependent by definition, so the deterministic recipe is
    collect structs → ``array_sort`` → ``transform`` → ``array_join``
    — the only safe way to emit ordered strings from a distributed
    aggregate (the oracle's ``string_agg ... ORDER BY`` states the
    same contract natively).

    Scale: revenue collapses map-side to O(nations × parts); the
    ranked window prunes to k partial-side (WindowGroupLimit); the
    string assembly rides O(nations) rows."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    supp = load_table(spark, sf_dir, "supplier", spread=False)
    nation = load_table(spark, sf_dir, "nation", spread=False)
    cdisc = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = _cents("l_extendedprice") * (F.lit(100) - cdisc)
    per = (
        li.join(
            F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "l_partkey")
        .agg(F.sum(rev).alias("_r4"))
    )
    rk = Window.partitionBy("nation").orderBy(
        F.desc("_r4"), F.asc("l_partkey")
    )
    top = per.withColumn("_rn", F.row_number().over(rk)).where(
        F.col("_rn") <= TOP_PARTS_K
    )
    return top.groupBy("nation").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("_rn", F.col("l_partkey").alias("_p"))
                    )
                ),
                lambda s: s["_p"].cast("string"),
            ),
            ",",
        ).alias("top_parts"),
        F.round(F.max(F.col("_r4")) / F.lit(10000.0), 6).alias(
            "top_revenue"
        ),
    )


_REL_TOP_PARTS_CONCAT_ORACLE = f"""
WITH per AS (
  SELECT n.n_name AS nation, l.l_partkey,
         SUM(
           CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))
         ) AS r4
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  GROUP BY 1, 2
), top AS (
  SELECT nation, l_partkey, r4,
         ROW_NUMBER() OVER (
           PARTITION BY nation ORDER BY r4 DESC, l_partkey ASC
         ) AS rn
  FROM per
)
SELECT nation,
       string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY rn)
         AS top_parts,
       ROUND(CAST(MAX(r4) AS BIGINT) / 10000.0, 6) AS top_revenue
FROM top WHERE rn <= {TOP_PARTS_K}
GROUP BY nation
"""

# --------------------------------------------------------------------------

STAGED_R24_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_disjunctive_revenue": q_rel_disjunctive_revenue,
    "win_session_lengths": q_win_session_lengths,
    "text_ngram_coverage": q_text_ngram_coverage,
    "rel_top_parts_concat": q_rel_top_parts_concat,
}

STAGED_R24_ORACLES: dict[str, str] = {
    "rel_disjunctive_revenue": _REL_DISJUNCTIVE_REVENUE_ORACLE,
    "win_session_lengths": _WIN_SESSION_LENGTHS_ORACLE,
    "text_ngram_coverage": _TEXT_NGRAM_COVERAGE_ORACLE,
    "rel_top_parts_concat": _REL_TOP_PARTS_CONCAT_ORACLE,
}
