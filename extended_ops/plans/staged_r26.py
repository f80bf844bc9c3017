"""Registry batch r26: three capabilities. Each key is a complete (query
callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py`` replays
every pair with hash parity + non-vacuity, and
``tests/test_staged_r26.py`` holds its content checks.

Families: the TPC-H Q20 part-promotion semi-join (suppliers filtered
through an AGGREGATED lineitem relation — this catalog has no
``partsupp``/``availqty``, so Q20's relative threshold becomes
"supplier ships > ``Q20_DOMINANT_PCT``% of the part's total quantity"
— scale-free, unlike an absolute cutoff, and exactly the
semi-join-over-aggregate shape the spec exercises), the per-document
token-frequency-decile profile (which corpus-frequency strata a
document draws its tokens from — the OCR-garbage / boilerplate
router, all-integer by construction), and head-rank Zipf ratios
(``f(k)/f(2k)`` for doubling ranks — for a Zipf corpus the ratio is
flat ≈ 2^s; computed from two exact BIGINTs and ONE IEEE division,
so it is bit-identical across engines with no libm anywhere — the
``text.py`` tfidf note's discipline).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.text import TOKEN_PATTERN, pattern_tokens
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# rel_part_promotion — the TPC-H Q20 shape
# --------------------------------------------------------------------------

Q20_PART_WORD = "widget"
Q20_DATE_LO = "1996-01-01"
Q20_DATE_HI = "1998-01-01"
#: a supplier "dominates" a part when it ships strictly more than this
#: percentage of the part's windowed total — Q20's ``0.5 * availqty``
#: relative-threshold idea restated against shipped quantity (the only
#: quantity this catalog has). Relative, therefore scale-free: an
#: absolute cutoff that is selective at sf0.001 filters EVERYTHING at
#: sf0.01+ because per-(supplier, part) volume thins as the catalog
#: grows.
Q20_DOMINANT_PCT = 40


def q_rel_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_part_promotion`` — the TPC-H Q20 shape: suppliers
    qualified through an AGGREGATED lineitem relation. A supplier
    qualifies by dominating at least one name-filtered part (shipping
    > ``Q20_DOMINANT_PCT``% of that part's total quantity in the date
    window); the output attaches the supplier dimension and the count
    of dominated parts.

    100 TB plan: the date window and the broadcast name-filtered part
    slice prune lineitem AT THE SCAN/first join; per-(supplier, part)
    quantities collapse map-side; the part totals are a re-aggregation
    of that same small aggregate (never a second fact scan); the
    dominance test is exact ``100·q > pct·total`` BIGINT math; the
    supplier table joins the O(qualifying suppliers) relation
    broadcast. No sort anywhere."""
    li = load_table(spark, sf_dir, "lineitem", spread=False).where(
        (F.col("l_shipdate") >= F.lit(Q20_DATE_LO))
        & (F.col("l_shipdate") < F.lit(Q20_DATE_HI))
    )
    part = load_table(spark, sf_dir, "part", spread=False).where(
        F.col("p_name").contains(Q20_PART_WORD)
    )
    supp = load_table(spark, sf_dir, "supplier", spread=False)
    qty = F.round(F.col("l_quantity")).cast("bigint")
    per = (
        li.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(qty).alias("_q"))
        # TWO consumers (the totals re-aggregation and the dominance
        # join probe) — unpinned, the whole lineitem⨝part subtree
        # plans twice (observed: two fact scans); the pin is the
        # rel_important_stock two-consumer rule
        .localCheckpoint(eager=False)
    )
    tot = per.groupBy("l_partkey").agg(F.sum("_q").alias("_tot"))
    dominant = (
        # the totals side is O(name-filtered parts) — a dimension-sized
        # relation at any SF, so the dominance probe never shuffles the
        # per-(supplier, part) aggregate
        per.join(F.broadcast(tot), "l_partkey")
        .where(
            F.col("_q") * 100 > F.lit(Q20_DOMINANT_PCT) * F.col("_tot")
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
    )
    return dominant.join(
        F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey")
    ).select(
        F.col("s_suppkey").alias("suppkey"),
        F.col("s_name").alias("supp_name"),
        "n_dominant_parts",
    )


_REL_PART_PROMOTION_ORACLE = f"""
WITH per AS (
  SELECT l_suppkey, l_partkey,
         CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%{Q20_PART_WORD}%'
    AND l_shipdate >= TIMESTAMP '{Q20_DATE_LO}'
    AND l_shipdate < TIMESTAMP '{Q20_DATE_HI}'
  GROUP BY 1, 2
), tot AS (
  SELECT l_partkey, CAST(SUM(q) AS BIGINT) AS tot FROM per GROUP BY 1
), dom AS (
  SELECT per.l_suppkey, COUNT(*) AS n_dominant_parts
  FROM per JOIN tot USING (l_partkey)
  WHERE per.q * 100 > {Q20_DOMINANT_PCT} * tot.tot
  GROUP BY 1
)
SELECT s.s_suppkey AS suppkey, s.s_name AS supp_name,
       d.n_dominant_parts
FROM dom d JOIN supplier s ON s.s_suppkey = d.l_suppkey
"""

# --------------------------------------------------------------------------
# lm_freq_profile — per-document token-frequency-decile histogram
# --------------------------------------------------------------------------

FREQ_PROFILE_NTILES = 10


def q_lm_freq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``lm_freq_profile`` — which corpus-frequency STRATA a document
    draws its tokens from: corpus unigrams are ranked by count
    (ties by term ascending) into ``FREQ_PROFILE_NTILES`` ntiles
    (1 = most frequent), and each document reports its token count per
    decile. A document massed in the top decile is boilerplate; one
    massed in the bottom is OCR noise / codes — the routing signal
    before expensive quality scoring. All-integer output: hash-stable
    with no rounding anywhere.

    100 TB plan: ONE tokenize pass collapsed map-side to per-(doc,
    term) tf (the Zipf pre-collapse — repeated stopwords never cross
    an exchange); the corpus unigram relation is a re-aggregation of
    that same aggregate; the ntile window runs over O(vocab) rows,
    not the corpus; the term→decile dim joins back hint-free (AQE
    broadcasts a natural-language vocabulary; a shuffle join if it
    genuinely outgrows that); the final histogram is O(docs ×
    deciles)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    tf = (
        docs.select(
            "doc_id",
            F.explode(pattern_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        # TWO consumers (the vocab re-aggregation and the decile join
        # probe) — unpinned, the tokenize pass plans twice (observed:
        # two documents scans; the rel_part_promotion two-consumer rule)
        .localCheckpoint(eager=False)
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    deciles = vocab.select(
        "term",
        F.ntile(FREQ_PROFILE_NTILES).over(w).cast("bigint").alias(
            "decile"
        ),
    )
    return (
        tf.join(deciles, "term")
        .groupBy("doc_id", "decile")
        .agg(F.sum("tf").alias("n_tokens"))
    )


_LM_FREQ_PROFILE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text),
         '{TOKEN_PATTERN}')) AS term
  FROM documents WHERE text IS NOT NULL
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), vocab AS (
  SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
), deciles AS (
  SELECT term,
         CAST(NTILE({FREQ_PROFILE_NTILES}) OVER (
           ORDER BY cnt DESC, term ASC
         ) AS BIGINT) AS decile
  FROM vocab
)
SELECT tf.doc_id, d.decile, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens
FROM tf JOIN deciles d USING (term)
GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# text_zipf_ratio — head-rank frequency ratios
# --------------------------------------------------------------------------

#: doubling rank points — f(k)/f(2k) ≈ 2^s for a Zipf-s corpus. The
#: synthetic corpus vocabulary is ~31 terms, so 2k caps at 16; larger
#: corpora simply gain more defined rows (absent ranks yield no row).
ZIPF_KS = (1, 2, 4, 8)


def q_text_zipf_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_zipf_ratio`` — the Zipf-law head diagnostic without a
    log-log regression: for each doubling rank k, the ratio of the
    k-th to the 2k-th most frequent term's count. A power-law corpus
    shows a FLAT ratio (≈ 2^s); template spam spikes it at the head.
    Each ratio is two exact BIGINTs and ONE IEEE-754 division, so the
    emitted doubles are bit-identical across engines — no libm
    (the ``tfidf_top_terms`` discipline: ``ln`` is correctly-rounded
    in neither Java nor C libm, so it never touches emitted values).

    100 TB plan: the corpus unigram aggregate collapses map-side; the
    rank head is ``ORDER BY cnt DESC, term LIMIT 2·max(k)`` —
    TakeOrderedAndProject (per-task heaps, never a global sort) — and
    the rank join runs on ≤ 2·max(k) driver-sized rows."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    counts = (
        docs.select(
            F.explode(pattern_tokens(F.col("text"))).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    head = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(
        2 * max(ZIPF_KS)
    )
    ranked = head.select(
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("term")))
        .cast("bigint")
        .alias("rank"),
        "cnt",
    )
    # BOTH legs fold in ONE conditional aggregation over the ≤2·max(k)
    # head rows — a second consumer of `ranked` (the join formulation)
    # re-plans the whole tokenize + TakeOrdered subtree (observed: two
    # documents scans), and a pin would hide the plan the gate checks
    wide = ranked.agg(
        *[
            F.max(F.when(F.col("rank") == n, F.col("cnt"))).alias(
                f"_f{n}"
            )
            for n in sorted({*ZIPF_KS, *(2 * k for k in ZIPF_KS)})
        ]
    )
    rows = [
        F.struct(
            F.lit(k).cast("bigint").alias("k"),
            F.col(f"_f{k}").alias("f_k"),
            F.col(f"_f{2 * k}").alias("f_2k"),
            F.round(
                F.col(f"_f{k}") / F.col(f"_f{2 * k}").cast("double"), 6
            ).alias("ratio"),
        )
        for k in ZIPF_KS
    ]
    return (
        wide.select(F.explode(F.array(*rows)).alias("_e"))
        .select("_e.k", "_e.f_k", "_e.f_2k", "_e.ratio")
        # absent ranks (vocabulary smaller than 2k) yield no row — the
        # join formulation's inner-join semantics, kept identical
        .where(F.col("f_k").isNotNull() & F.col("f_2k").isNotNull())
    )


_TEXT_ZIPF_RATIO_ORACLE = f"""
WITH counts AS (
  SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
           AS term
  FROM documents WHERE text IS NOT NULL
), c2 AS (
  SELECT term, COUNT(*) AS cnt FROM counts GROUP BY 1
), ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC)
         AS BIGINT) AS rank,
         CAST(cnt AS BIGINT) AS cnt
  FROM (SELECT term, cnt FROM c2
        ORDER BY cnt DESC, term ASC LIMIT {2 * max(ZIPF_KS)})
), ks AS (
  SELECT UNNEST(ARRAY{list(ZIPF_KS)}) :: BIGINT AS k
)
SELECT ks.k, a.cnt AS f_k, b.cnt AS f_2k,
       ROUND(a.cnt / CAST(b.cnt AS DOUBLE), 6) AS ratio
FROM ks
JOIN ranked a ON a.rank = ks.k
JOIN ranked b ON b.rank = 2 * ks.k
"""

# --------------------------------------------------------------------------

STAGED_R26_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_part_promotion": q_rel_part_promotion,
    "lm_freq_profile": q_lm_freq_profile,
    "text_zipf_ratio": q_text_zipf_ratio,
}

STAGED_R26_ORACLES: dict[str, str] = {
    "rel_part_promotion": _REL_PART_PROMOTION_ORACLE,
    "lm_freq_profile": _LM_FREQ_PROFILE_ORACLE,
    "text_zipf_ratio": _TEXT_ZIPF_RATIO_ORACLE,
}
