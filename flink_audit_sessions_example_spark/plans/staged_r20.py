"""Registry batch r20: five capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity, and
``tests/test_staged_r20.py`` holds its content checks.

Families: the AUDIO modality joins the multimodal column family (real
WAV payloads built in Catalyst, Arrow-decoded, exact integer frame
features — the VAD/loudness front half), language-ID confusion
against the labeled corpus (the classifier-audit table), the TPC-H
Q16 supplier-variety shape with its NOT-IN leg, lag-1 autocorrelation
of event-rate series (the integer-identity construction a third
time), and a Heaps-law vocabulary-growth audit.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import multimodal as M
from ..operators import text as X
from ..sources.tables import load_table
from .extended import _langid_oracle, _sql_shingles

# --------------------------------------------------------------------------
# multimodal_audio_energy — PCM frame features over a binary audio column
# --------------------------------------------------------------------------

AUDIO_FRAME = 64


def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``multimodal_audio_energy`` — per-frame energy / zero-crossing /
    peak features over a real WAV payload column
    (:func:`~..operators.multimodal.with_wav_payload` →
    :func:`~..operators.multimodal.audio_frame_features`): the binary
    column is packed engine-side (constant RIFF header + md5-derived
    LE int16 samples), decoded zero-copy in ONE Arrow pass, reduced to
    exact int64 features — so the whole audio pipeline (pack → binary
    column → batch decode → features) hash-checks against an oracle
    that re-derives each sample arithmetically from the same md5
    calls. This is the image-family recipe (``multimodal_phash``)
    extended to the audio modality; a real codec swaps into the decode
    seam (``decode_media``'s contract) without touching the plan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clips = M.with_wav_payload(docs)
    return M.audio_frame_features(clips, frame=AUDIO_FRAME)


_AUDIO_N = M.AUDIO_N_SAMPLES
_AUDIO_HASHES = _AUDIO_N // 8

_MULTIMODAL_AUDIO_ENERGY_ORACLE = f"""
WITH hashes AS (
  SELECT doc_id, j,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h
  FROM documents
  CROSS JOIN (
    SELECT unnest(generate_series(0, {_AUDIO_HASHES - 1})) AS j
  )
), samples AS (
  SELECT doc_id, j * 8 + t AS k,
         CAST(('0x' || substr(h, 4 * t + 3, 2)) AS INTEGER) * 256
           + CAST(('0x' || substr(h, 4 * t + 1, 2)) AS INTEGER) AS s
  FROM hashes
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS t)
), v AS (
  SELECT doc_id, k, k // {AUDIO_FRAME} AS frame_id,
         CASE WHEN s < 32768 THEN s ELSE s - 65536 END AS v
  FROM samples
), lagged AS (
  SELECT doc_id, frame_id, v,
         LAG(v) OVER (
           PARTITION BY doc_id, frame_id ORDER BY k
         ) AS pv
  FROM v
)
SELECT doc_id,
       CAST(frame_id AS INTEGER) AS frame_id,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(SUM(
         CASE WHEN pv IS NOT NULL AND ((pv >= 0) != (v >= 0))
              THEN 1 ELSE 0 END
       ) AS INTEGER) AS zero_crossings,
       CAST(MAX(ABS(v)) AS INTEGER) AS peak
FROM lagged GROUP BY doc_id, frame_id
"""

# --------------------------------------------------------------------------
# dq_langid_confusion — classifier-vs-label audit
# --------------------------------------------------------------------------


def q_dq_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_langid_confusion`` — the confusion table between the
    corpus's ``lang`` label and the registered stopword language
    classifier (:func:`~..operators.text.with_language_id`): per
    (label, prediction), the count and the row share within the label
    — what a curation team reads before trusting EITHER column (label
    noise and classifier bias both land here, off-diagonal). One
    scan-side classification + one counting aggregation on O(langs²)
    groups + one window on that bounded relation."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    pred = X.with_language_id(docs).select("lang", "pred_lang")
    counted = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_label = Window.partitionBy("lang")
    return counted.select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(per_label), 6).alias(
            "label_share"
        ),
    )


_DQ_LANGID_CONFUSION_ORACLE = f"""
WITH li AS (
  {_langid_oracle()}
), joined AS (
  SELECT d.lang, li.pred_lang
  FROM documents d JOIN li ON li.doc_id = d.doc_id
  WHERE d.lang IS NOT NULL AND d.text IS NOT NULL
), counted AS (
  SELECT lang, pred_lang, COUNT(*) AS n FROM joined GROUP BY 1, 2
)
SELECT lang, pred_lang, n,
       ROUND(
         n / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 6
       ) AS label_share
FROM counted
"""

# --------------------------------------------------------------------------
# rel_part_variety — the TPC-H Q16 supplier-variety shape
# --------------------------------------------------------------------------

#: the NOT-IN leg's exclusion set: suppliers with any lineitem shipped
#: more than this many days after its order date (the corpus carries no
#: complaint text; chronic lateness is its Q16 analog).
VARIETY_LATE_DAYS = 100


def q_rel_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_part_variety`` — TPC-H Q16 adapted: per part type, how
    many distinct parts were ordered and by how many distinct
    suppliers, EXCLUDING suppliers in the anti-set (any shipment later
    than :data:`VARIETY_LATE_DAYS` days — Q16's ``NOT IN (SELECT …
    complaints)`` leg with lateness standing in for complaints). The
    clean-supplier count is the Q16 headline; the raw distinct counts
    anchor it. Exact integers throughout.

    Scale: the late-supplier set is O(suppliers) and broadcasts into a
    left-anti-style exclusion BEFORE the distinct aggregation; part is
    a broadcast dim; the counting exchange carries O(types) groups."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    orders = load_table(spark, sf_dir, "orders", spread=False)
    part = load_table(spark, sf_dir, "part", spread=False)
    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            F.col("l_partkey").isNotNull()
            & F.col("l_suppkey").isNotNull()
        )
        .select("l_partkey", "l_suppkey", "l_shipdate", "o_orderdate")
    )
    late_supps = (
        joined.where(
            F.col("l_shipdate")
            > F.col("o_orderdate")
            + F.expr(f"INTERVAL {VARIETY_LATE_DAYS} DAYS")
        )
        .select("l_suppkey")
        .distinct()
    )
    typed = joined.join(
        F.broadcast(part.select("p_partkey", "p_type")),
        F.col("p_partkey") == F.col("l_partkey"),
    )
    clean = typed.join(
        F.broadcast(late_supps.withColumnRenamed("l_suppkey", "_bad")),
        F.col("l_suppkey") == F.col("_bad"),
        "left_anti",
    )
    per_type = typed.groupBy("p_type").agg(
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count_distinct("l_suppkey").alias("n_suppliers"),
    )
    per_type_clean = clean.groupBy("p_type").agg(
        F.count_distinct("l_suppkey").alias("n_clean_suppliers")
    )
    return per_type.join(per_type_clean, "p_type", "left").select(
        "p_type",
        "n_parts",
        "n_suppliers",
        F.coalesce(F.col("n_clean_suppliers"), F.lit(0)).alias(
            "n_clean_suppliers"
        ),
    )


_REL_PART_VARIETY_ORACLE = f"""
WITH joined AS (
  SELECT l.l_partkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_partkey IS NOT NULL AND l.l_suppkey IS NOT NULL
), late AS (
  SELECT DISTINCT l_suppkey FROM joined
  WHERE l_shipdate > o_orderdate + INTERVAL {VARIETY_LATE_DAYS} DAY
), typed AS (
  SELECT p.p_type, j.l_partkey, j.l_suppkey
  FROM joined j JOIN part p ON p.p_partkey = j.l_partkey
)
SELECT p_type,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COALESCE(COUNT(DISTINCT CASE
         WHEN l_suppkey NOT IN (SELECT l_suppkey FROM late)
         THEN l_suppkey END), 0) AS n_clean_suppliers
FROM typed GROUP BY p_type
"""

# --------------------------------------------------------------------------
# win_autocorr — lag-1 autocorrelation of hourly rates
# --------------------------------------------------------------------------


def q_win_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_autocorr`` — per event type, the lag-1 Pearson
    autocorrelation of its hourly count series (consecutive PRESENT
    buckets): the burstiness/persistence diagnostic that separates a
    memoryless arrival process (r₁ ≈ 0) from momentum or periodicity.
    The integer-identity construction a third time (``win_zscore`` /
    ``win_changepoint``): r₁ = (m·Σxy − Σx·Σy) / (√(m·Σx² − (Σx)²) ·
    √(m·Σy² − (Σy)²)) with every Σ an exact BIGINT over the (x, y) =
    (bucket, next bucket) pairs — two IEEE sqrts, one multiply, one
    divide, identical on both engines; NULL when either side is
    constant. One keyed lead window over the O(types × hours) counted
    relation."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    hourly = (
        ev.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("_k"),
            F.date_trunc("hour", F.col("ts")).alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    lead_w = Window.partitionBy("_k").orderBy("_b")
    pairs = hourly.select(
        "_k",
        F.col("_x").alias("x"),
        F.lead("_x").over(lead_w).alias("y"),
    ).where(F.col("y").isNotNull())
    agg = pairs.groupBy("_k").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
    vy = (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
    r1 = F.when(
        (vx > 0) & (vy > 0),
        F.round(
            num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
            6,
        ),
    )
    return agg.select(
        F.col("_k").alias("event_type"),
        F.col("m").alias("n_pairs"),
        r1.alias("autocorr_lag1"),
    )


_WIN_AUTOCORR_ORACLE = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), pairs AS (
  SELECT event_type, x,
         LEAD(x) OVER (PARTITION BY event_type ORDER BY hr) AS y
  FROM hourly
), agg AS (
  SELECT event_type,
         COUNT(*) AS m,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM pairs WHERE y IS NOT NULL GROUP BY event_type
)
SELECT event_type,
       CAST(m AS BIGINT) AS n_pairs,
       CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
         ROUND(
           (m * sxy - sx * sy) / (
             SQRT(CAST(m * sxx - sx * sx AS DOUBLE))
             * SQRT(CAST(m * syy - sy * sy AS DOUBLE))
           ), 6
         )
       END AS autocorr_lag1
FROM agg
"""

# --------------------------------------------------------------------------
# text_vocab_growth — Heaps-law vocabulary audit
# --------------------------------------------------------------------------

VOCAB_DECILES = 10


def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_vocab_growth`` — shingle-vocabulary growth across the
    corpus in document order: word 3-shingles bucketed by the decile
    of the document where they FIRST appear, with the cumulative
    vocabulary size — the Heaps-law curve whose flattening-too-early
    is the classic symptom of a templated/duplicated corpus (novel
    text keeps minting shingles; boilerplate does not). Shingles, not
    unigrams, deliberately: this corpus's WORD vocabulary closes in
    the first decile (the LM_TIER_HOLDOUT_MOD closure fact), so the
    unigram curve is a degenerate single bucket — the 3-shingle space
    keeps minting across all ten (the same sparsity ngram_novelty
    rides). Exact integers: first occurrence is a min-aggregation per
    shingle, the decile integer arithmetic on doc_id against the
    corpus maximum, the cumulative count one window over ≤ 10 rows."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    # the WHITESPACE tokenizer (X._words), not pattern_tokens: it is
    # the tokenizer the shingle family (and _sql_shingles) is defined
    # over, materialized as an attribute per the shingle_array contract
    words = (
        docs.select("doc_id", X._words(F.col("text")).alias("_ws"))
        .select(
            "doc_id",
            F.explode(X.shingle_array(F.col("_ws"), 3)).alias("w"),
        )
    )
    first = words.groupBy("w").agg(F.min("doc_id").alias("_first"))
    max_id = docs.agg(F.max("doc_id").alias("_max"))
    # FLOOR explicitly: Spark's cast(double AS long) truncates but
    # DuckDB's CAST ROUNDS half-up — an un-floored bucket expression
    # shifts ~10% of the vocabulary one decile between engines
    decile = F.least(
        F.lit(VOCAB_DECILES - 1),
        F.floor(
            F.col("_first") * VOCAB_DECILES / (F.col("_max") + 1)
        ).cast("long"),
    )
    per_decile = (
        first.crossJoin(F.broadcast(max_id))
        .groupBy(decile.alias("decile"))
        .agg(F.count(F.lit(1)).alias("n_new_words"))
    )
    cum_w = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_decile.select(
        "decile",
        "n_new_words",
        F.sum("n_new_words").over(cum_w).alias("vocab_cumulative"),
    )


_TEXT_VOCAB_GROWTH_ORACLE = f"""
WITH words AS (
  SELECT doc_id, unnest({_sql_shingles(3)}) AS w
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
), first AS (
  SELECT w, MIN(doc_id) AS f FROM words GROUP BY w
), mx AS (
  SELECT MAX(doc_id) AS m FROM documents
  WHERE text IS NOT NULL AND doc_id IS NOT NULL
), per_decile AS (
  SELECT LEAST({VOCAB_DECILES - 1},
               CAST(FLOOR(f * {VOCAB_DECILES} / (m + 1)) AS BIGINT))
           AS decile,
         COUNT(*) AS n_new_words
  FROM first CROSS JOIN mx GROUP BY 1
)
SELECT decile, n_new_words,
       CAST(SUM(n_new_words) OVER (
         ORDER BY decile ROWS UNBOUNDED PRECEDING
       ) AS BIGINT) AS vocab_cumulative
FROM per_decile
"""

# --------------------------------------------------------------------------

STAGED_R20_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "multimodal_audio_energy": q_multimodal_audio_energy,
    "dq_langid_confusion": q_dq_langid_confusion,
    "rel_part_variety": q_rel_part_variety,
    "win_autocorr": q_win_autocorr,
    "text_vocab_growth": q_text_vocab_growth,
}

STAGED_R20_ORACLES: dict[str, str] = {
    "multimodal_audio_energy": _MULTIMODAL_AUDIO_ENERGY_ORACLE,
    "dq_langid_confusion": _DQ_LANGID_CONFUSION_ORACLE,
    "rel_part_variety": _REL_PART_VARIETY_ORACLE,
    "win_autocorr": _WIN_AUTOCORR_ORACLE,
    "text_vocab_growth": _TEXT_VOCAB_GROWTH_ORACLE,
}
