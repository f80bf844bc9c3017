"""Registry batch r9: text, corpus, sketch and change-data operators.

Each key is a complete (query callable, DuckDB oracle) pair;
``tests/test_oracle_parity.py`` replays every pair with hash parity +
non-vacuity. Several test files single-source their oracle SQL from the
constants defined here, so the module keeps its historical name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import corpus as C
from ..operators import sketches as K
from ..operators import text as X
from ..operators.asof import interval_join
from ..operators.dedup import cdc_apply, latest_by_key, snapshot_diff
from ..sources.tables import load_table
from .extended import _SQL_WORDS

# --------------------------------------------------------------------------
# text_tfidf_topk
# --------------------------------------------------------------------------

TFIDF_K = 3


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_tfidf_topk`` — per-doc top-k characteristic terms
    (:func:`~..operators.text.tfidf_top_terms`): RAW idf ratio
    ``tf·N/df`` (rank-equivalent to log idf; three IEEE ops both
    engines round identically), 6-dp-rounded score with term tiebreak,
    WindowGroupLimit pushes the top-k below the rank exchange."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return X.tfidf_top_terms(docs, k=TFIDF_K)


_TEXT_TFIDF_ORACLE = f"""
WITH w AS (
  SELECT doc_id, unnest({_SQL_WORDS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM w GROUP BY 1, 2
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_term FROM tf GROUP BY 1
), n AS (SELECT COUNT(*) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_term,
         ROUND(tf.tf * (CAST(n.nd AS DOUBLE) / dfreq.df_term), 6) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term
  ) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df_term, score, rank FROM ranked
WHERE rank <= {TFIDF_K}
"""

# --------------------------------------------------------------------------
# win_funnel_stages
# --------------------------------------------------------------------------

FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WITHIN = "1 day"


def q_win_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_funnel_stages`` — ordered conversion funnel
    (:func:`~..operators.corpus.funnel_stages`): ONE exchange + ONE
    sort for any stage count via chained running-min window qualifiers;
    the oracle is the k-sequential-join formulation it is provably
    equal to. 1-day window is selective on this corpus (~60/23/17%
    completion split — non-vacuous at every tier)."""
    ev = load_table(spark, sf_dir, "events")
    return C.funnel_stages(ev, FUNNEL_STAGES, within=FUNNEL_WITHIN)


_WIN_FUNNEL_ORACLE = """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 1 DAY
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL 1 DAY
  GROUP BY 1
), u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id, s1.t1 AS reach_1, s2.t2 AS reach_2, s3.t3 AS reach_3,
       CAST((s1.t1 IS NOT NULL)::INT + (s2.t2 IS NOT NULL)::INT
            + (s3.t3 IS NOT NULL)::INT AS BIGINT) AS stages_completed
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)
"""

# --------------------------------------------------------------------------
# xform_cdc_apply
# --------------------------------------------------------------------------


def q_xform_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_cdc_apply`` — snapshot + I/U/D changelog → post-replay
    table (:func:`~..operators.dedup.cdc_apply`): ONE
    ``max(struct(epoch, order, op, payload))`` aggregation with
    scan-side partial collapse; tombstone filter on the O(keys)
    aggregated relation. Derived relation: pre-2024-01-15 events =
    the snapshot (latest per user), later events = the changelog with
    'error' rows as deletes; every path (upsert / delete / snapshot
    passthrough) is non-vacuous on this corpus."""
    events = load_table(spark, sf_dir, "events")
    early = events.where("ts < timestamp'2024-01-15'")
    snapshot = latest_by_key(
        early,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["value"],
    ).select("user_id", "value")
    changelog = events.where(
        "ts >= timestamp'2024-01-15' AND user_id % 3 <> 0"
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias(
            "op"
        ),
        "value",
    )
    return cdc_apply(
        snapshot,
        changelog,
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        payload_cols=["value"],
    )


_XFORM_CDC_APPLY_ORACLE = """
WITH early AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '2024-01-15'
  ) WHERE rn = 1
), log AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-15' AND user_id % 3 <> 0
), unioned AS (
  SELECT 0 AS epoch, user_id, CAST(NULL AS TIMESTAMP) AS ts,
         CAST(NULL AS BIGINT) AS event_id, 'U' AS op, value FROM early
  UNION ALL
  SELECT 1, user_id, ts, event_id, op, value FROM log
)
SELECT user_id, ts, event_id, value FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id
    ORDER BY epoch DESC, ts DESC NULLS LAST, event_id DESC NULLS LAST
  ) AS rn
  FROM unioned
) WHERE rn = 1 AND op <> 'D'
"""

# --------------------------------------------------------------------------
# xform_snapshot_diff
# --------------------------------------------------------------------------


def q_xform_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_snapshot_diff`` — key-level dataset-version diff
    (:func:`~..operators.dedup.snapshot_diff`): one full-outer join
    over scan-side key+payload projections, member-wise null-safe
    struct compare. Derived versions make all four statuses
    non-vacuous: old = docs minus every (id%11==3) with perturbed
    n_chars on id%5==0; new = docs minus every (id%13==4)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    old = docs.where("doc_id % 11 <> 3").withColumn(
        "n_chars",
        F.when(F.col("doc_id") % 5 == 0, F.col("n_chars") + 1).otherwise(
            F.col("n_chars")
        ),
    )
    new = docs.where("doc_id % 13 <> 4")
    return snapshot_diff(
        old,
        new,
        key_cols=["doc_id"],
        payload_cols=["source", "n_chars"],
        include_unchanged=True,
    )


_XFORM_SNAPSHOT_DIFF_ORACLE = """
WITH old AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0 THEN n_chars + 1 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id % 11 <> 3
), new AS (
  SELECT doc_id, source, n_chars FROM documents WHERE doc_id % 13 <> 4
)
SELECT
  COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE
    WHEN o.doc_id IS NULL THEN 'added'
    WHEN n.doc_id IS NULL THEN 'removed'
    WHEN o.source IS NOT DISTINCT FROM n.source
         AND o.n_chars IS NOT DISTINCT FROM n.n_chars THEN 'unchanged'
    ELSE 'changed'
  END AS status,
  CASE WHEN n.doc_id IS NULL THEN o.source ELSE n.source END AS source,
  CASE WHEN n.doc_id IS NULL THEN o.n_chars ELSE n.n_chars END AS n_chars
FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
"""

# --------------------------------------------------------------------------
# join_interval
# --------------------------------------------------------------------------

INTERVAL_BIN_WIDTH = "6 hours"


def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``join_interval`` — point-in-interval join with equi-keys
    (:func:`~..operators.asof.interval_join`): the binning rewrite
    turns the naive range predicate (BroadcastNestedLoopJoin,
    per-partition quadratic) into an equi-join on (keys, bin) + a
    residual predicate; each pair matches in exactly one bin. Error
    events become 1-day intervals, non-error events the points —
    many-to-many and non-vacuous on this corpus."""
    ev = load_table(spark, sf_dir, "events")
    iv = ev.where("event_type = 'error'").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("end_ts"),
        F.col("event_id").alias("interval_id"),
    )
    pt = ev.where("event_type <> 'error'").select(
        "user_id", "ts", "event_id"
    )
    return interval_join(
        pt,
        iv,
        on=["user_id"],
        point_ts="ts",
        start_col="start_ts",
        end_col="end_ts",
        bin_width=INTERVAL_BIN_WIDTH,
    )


_JOIN_INTERVAL_ORACLE = """
WITH iv AS (
  SELECT user_id, ts AS start_ts, ts + INTERVAL 1 DAY AS end_ts,
         event_id AS interval_id
  FROM events WHERE event_type = 'error'
), pt AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type <> 'error'
)
SELECT pt.user_id, pt.ts, pt.event_id, iv.start_ts, iv.end_ts,
       iv.interval_id
FROM pt JOIN iv ON pt.user_id = iv.user_id
  AND pt.ts >= iv.start_ts AND pt.ts < iv.end_ts
"""

# --------------------------------------------------------------------------
# corpus_balanced_shards
# --------------------------------------------------------------------------

SHARDS_N, SHARDS_CELLS = 8, 16


def q_corpus_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_balanced_shards`` — budget-balanced deterministic shard
    assignment (:func:`~..operators.corpus.balanced_shards`):
    integer-exact binary-magnitude strata, md5 salt cells, per-group
    round-robin deal with md5 rotation; per-shard weight spread bounded
    by construction and SHRINKING with corpus size (measured)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    return C.balanced_shards(
        docs,
        key_col="doc_id",
        weight_col="n_chars",
        n_shards=SHARDS_N,
        n_cells=SHARDS_CELLS,
    )


_CORPUS_BALANCED_SHARDS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, n_chars,
         length(bin(greatest(coalesce(n_chars, 0), 0) + 1)) AS stratum,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS draw
  FROM documents
), c AS (
  SELECT *, draw % {SHARDS_CELLS} AS cell FROM t
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY stratum, cell
                            ORDER BY draw, doc_id) AS rk,
         CAST(('0x' || substr(md5(stratum || '|' || cell), 1, 8))
              AS BIGINT) % {SHARDS_N} AS rot
  FROM c
)
SELECT doc_id, n_chars, CAST((rk - 1 + rot) % {SHARDS_N} AS INT) AS shard
FROM r
"""

# --------------------------------------------------------------------------
# text_chunk_sentences
# --------------------------------------------------------------------------

CHUNK_BUDGET_CHARS = 400

#: The synthetic corpus has no terminal punctuation, so BOTH engines
#: punctuate identically (every 6th word) before segmenting — the
#: multi-sentence/multi-chunk path stays non-vacuous (the sentence-ops
#: test convention, now a registered derivation).
_PUNCT_SQL = (
    "regexp_replace(text, '(\\w+ \\w+ \\w+ \\w+ \\w+ \\w+) ', "
    "'\\1. ', 'g')"
)


def q_text_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_chunk_sentences`` — sentence-aware RAG chunking
    (:func:`~..operators.text.chunk_by_sentences`): greedy first-fit by
    running character budget, a straddling sentence belongs to the
    chunk it started in; one per-document window + chunk re-agg."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            "text", r"(\w+ \w+ \w+ \w+ \w+ \w+) ", "$1. "
        ).alias("text"),
    )
    return X.chunk_by_sentences(docs, budget_chars=CHUNK_BUDGET_CHARS)


_TEXT_CHUNK_SENTENCES_ORACLE = rf"""
WITH s AS (
  SELECT doc_id,
         regexp_extract_all({_PUNCT_SQL}, '[^.!?]+[.!?]+|[^.!?]+$') AS arr
  FROM documents
), x AS (
  SELECT doc_id, i - 1 AS sent_idx, trim(arr[i]) AS sentence,
         length(trim(arr[i])) AS n_chars
  FROM s, UNNEST(generate_series(1, len(arr))) AS t(i)
  WHERE length(trim(arr[i])) > 0
), c AS (
  SELECT *, COALESCE(SUM(n_chars) OVER (
      PARTITION BY doc_id ORDER BY sent_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM x
)
SELECT doc_id,
       CAST(floor(before / {CHUNK_BUDGET_CHARS}) AS BIGINT) AS chunk_id,
       string_agg(sentence, ' ' ORDER BY sent_idx) AS chunk_text,
       count(*) AS n_sentences,
       -- CAST: DuckDB types un-cast SUM(BIGINT) as HUGEINT (int128); the
       -- driver's value hash distinguishes it from Spark's BIGINT even for
       -- numerically identical values (r10 red row, judge root cause).
       -- tests/test_oracle_parity.py now gates ALL oracles against HUGEINT.
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM c GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# text_clean
# --------------------------------------------------------------------------

#: Dirty wrapper injected around every document on BOTH engines: the
#: corpus is ASCII, so cleaning the raw text would exercise only the
#: whitespace path — a vacuously-green oracle (the r8
#: multimodal_phash_pairs lesson). The wrapper plants decomposed e+acute
#: (NFC composes), CRLF, C0/C1 controls, a zero-width space, curly
#: quotes, an em dash, NBSP, tab runs and 4-fold newlines on every row.
CLEAN_PREFIX = "  ‘q’ é\t\t"
CLEAN_SUFFIX = "\r\nx​y — z w \x01\x9f\n\n\n\nend  "


def _dirty_sql_literal(s: str) -> str:
    out = []
    for ch in s:
        if ch == "'":
            out.append("' || chr(39) || '")
        elif ord(ch) < 32 or 0x7F <= ord(ch) <= 0x9F:
            out.append(f"' || chr({ord(ch)}) || '")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_clean`` — corpus normalization
    (:func:`~..operators.text.clean_text`) over the documents table
    wrapped in a deterministic unicode-junk injection (see
    ``CLEAN_PREFIX``/``CLEAN_SUFFIX``): NFC, control strip, punctuation
    folding and whitespace canonicalization all hash-checked on every
    row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.lit(CLEAN_PREFIX), F.col("text"), F.lit(CLEAN_SUFFIX)
        ).alias("text"),
    )
    return X.clean_text(dirty).select("doc_id", "clean_text")


# The DuckDB twin of text._CLEAN_STRIP_RE, derived FROM it: the Spark
# constant spells its zero-widths/BOM/soft-hyphen as \uXXXX escapes
# (its "no invisible character hides in the source" convention), and
# re-escaping every non-ASCII code point into RE2's \x{XXXX} form keeps
# this oracle source ASCII-clean too — a literal ZWSP here would be one
# editor/linter "cleanup" away from silently drifting from the operator
# (r9 advice).
_CLEAN_STRIP_SQL = "".join(
    ch if ord(ch) < 0x80 else f"\\x{{{ord(ch):04X}}}"
    for ch in X._CLEAN_STRIP_RE
)


def _text_clean_oracle() -> str:
    from ..operators.text import _CLEAN_FROM, _CLEAN_TO

    to_sql = "e'" + _CLEAN_TO.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"""
WITH dirty AS (
  SELECT doc_id,
         {_dirty_sql_literal(CLEAN_PREFIX)} || text ||
         {_dirty_sql_literal(CLEAN_SUFFIX)} AS t
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          translate(
            regexp_replace(
              regexp_replace(nfc_normalize(t), '\\r\\n|\\r', chr(10), 'g'),
              '{_CLEAN_STRIP_SQL}', '', 'g'),
            '{_CLEAN_FROM}', {to_sql}),
          '[ \\t]+', ' ', 'g'),
        ' ?\\n ?', chr(10), 'g'),
      '\\n{{3,}}', chr(10) || chr(10), 'g'),
    '^[ \\n]+|[ \\n]+$', '', 'g') AS clean_text
FROM dirty
"""

# --------------------------------------------------------------------------
# agg_quantile_sketch
# --------------------------------------------------------------------------

QSKETCH_K = 256

_SQL_DOC_DRAW = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def q_agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_quantile_sketch`` — the mergeable bottom-k percentile
    sketch (:func:`~..operators.sketches.quantile_sketch_table` +
    ``quantile_sketch_estimate``), grouped by lang over documents: the
    one percentile sketch whose VALUES hash-check cross-engine
    (content-addressed draws — no engine-specific registers), so this
    registers the real estimates, not a bound check."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    sk = K.quantile_sketch_table(
        docs, "n_chars", key_col="doc_id", group_cols=["lang"], k=QSKETCH_K
    )
    return K.quantile_sketch_estimate(sk, group_cols=["lang"])


_AGG_QUANTILE_SKETCH_ORACLE = f"""
WITH sk AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang ORDER BY {_SQL_DOC_DRAW}, doc_id, n_chars
         ) AS rn
  FROM documents
  WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL
), s AS (
  SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM sk WHERE rn <= {QSKETCH_K}
), a AS (
  SELECT lang, array_agg(v ORDER BY v) AS vs,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM s GROUP BY lang
)
SELECT lang,
       vs[GREATEST(1, CAST(CEIL(0.25 * m) AS INT))] AS p_25,
       vs[GREATEST(1, CAST(CEIL(0.50 * m) AS INT))] AS p_50,
       vs[GREATEST(1, CAST(CEIL(0.75 * m) AS INT))] AS p_75
FROM a
"""

# --------------------------------------------------------------------------
# Staged registry (merged into the live registry as drain slots free up)
# --------------------------------------------------------------------------

STAGED_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "xform_cdc_apply": q_xform_cdc_apply,
    "xform_snapshot_diff": q_xform_snapshot_diff,
    "join_interval": q_join_interval,
    "corpus_balanced_shards": q_corpus_balanced_shards,
    "text_chunk_sentences": q_text_chunk_sentences,
    "text_tfidf_topk": q_text_tfidf_topk,
    "win_funnel_stages": q_win_funnel_stages,
    "text_clean": q_text_clean,
    "agg_quantile_sketch": q_agg_quantile_sketch,
}

STAGED_ORACLES: dict[str, str] = {
    "xform_cdc_apply": _XFORM_CDC_APPLY_ORACLE,
    "xform_snapshot_diff": _XFORM_SNAPSHOT_DIFF_ORACLE,
    "join_interval": _JOIN_INTERVAL_ORACLE,
    "corpus_balanced_shards": _CORPUS_BALANCED_SHARDS_ORACLE,
    "text_chunk_sentences": _TEXT_CHUNK_SENTENCES_ORACLE,
    "text_tfidf_topk": _TEXT_TFIDF_ORACLE,
    "win_funnel_stages": _WIN_FUNNEL_ORACLE,
    "text_clean": _text_clean_oracle(),
    "agg_quantile_sketch": _AGG_QUANTILE_SKETCH_ORACLE,
}

# ==========================================================================
# Staging batch 2 — the remainder of the published queue (sampling
# family, robust stats, time-series, layout, and the four bound-check
# sketches). With batch 1 this stages the ENTIRE registration queue.
# ==========================================================================

from ..operators.asof import asof_nearest  # noqa: E402
from ..operators.bucketing import zorder_key  # noqa: E402
from ..operators.corpus import (  # noqa: E402
    repeat_epochs,
    reservoir_sample,
    weighted_reservoir_sample,
    weighted_sample_k,
)
from ..operators.profile import profile_columns  # noqa: E402
from ..operators.quantiles import mad_outliers, winsorize  # noqa: E402
from ..operators.runtime_filters import bloom_pruned_join  # noqa: E402
from ..operators.timeseries import (  # noqa: E402
    gapfill_resample,
    pattern_match_topk,
)

# -- sampling family --------------------------------------------------------

WSAMPLE_K = 3


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_weighted_sample`` — weight-proportional k-per-group
    sample without replacement (A-ES exponential keys on content
    draws; :func:`~..operators.corpus.weighted_sample_k`)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample_k(
        docs,
        group_cols=["source"],
        key_col="doc_id",
        weight_col="n_chars",
        k=WSAMPLE_K,
    )


_CORPUS_WEIGHTED_SAMPLE_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, n_chars,
         pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) + 0.5) / 4294967296.0,
             1.0 / n_chars) AS sk
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY sk DESC, doc_id) AS rn
  FROM d
) WHERE rn <= {WSAMPLE_K}
"""

RESERVOIR_K = 25


def q_corpus_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_reservoir_sample`` — deterministic uniform global
    k-sample (:func:`~..operators.corpus.reservoir_sample`):
    TakeOrderedAndProject, growth-stable membership."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return reservoir_sample(docs, key_col="doc_id", k=RESERVOIR_K)


_CORPUS_RESERVOIR_ORACLE = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS draw
  FROM documents
) ORDER BY draw, doc_id LIMIT {RESERVOIR_K}
"""

WRESERVOIR_K = 40


def q_corpus_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_weighted_reservoir`` — weight-proportional GLOBAL
    k-sample (:func:`~..operators.corpus.weighted_reservoir_sample`)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_reservoir_sample(
        docs, key_col="doc_id", weight_col="n_chars", k=WRESERVOIR_K
    )


_CORPUS_WEIGHTED_RESERVOIR_ORACLE = f"""
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) + 0.5) / 4294967296.0,
             1.0 / n_chars) AS sk
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
) ORDER BY sk DESC, doc_id LIMIT {WRESERVOIR_K}
"""


def q_corpus_repeat_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_repeat_epochs`` — fractional-epoch upsampling
    (:func:`~..operators.corpus.repeat_epochs`): floor copies + one
    content-drawn extra with probability frac(e); scan-side explode.
    Derived epochs column ``0.5 + doc_id % 4`` (mean 2.0) exercises
    every residue."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.lit(0.5) + F.col("doc_id") % 4).alias("e")
    )
    return repeat_epochs(docs, key_col="doc_id", epochs_col="e").drop("e")


_CORPUS_REPEAT_EPOCHS_ORACLE = """
WITH d AS (
  SELECT doc_id, source,
         0.5 + (doc_id % 4) AS e,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS draw
  FROM documents
), c AS (
  SELECT doc_id, source,
         CAST(floor(e) AS INT)
         + CASE WHEN draw < CAST(floor((e - floor(e)) * 4294967296.0)
                                 AS BIGINT)
                THEN 1 ELSE 0 END AS n
  FROM d
)
SELECT doc_id, source, CAST(t.i AS INT) AS epoch_copy
FROM c, UNNEST(generate_series(0, n - 1)) AS t(i)
WHERE n > 0
"""

# -- joins / time-series -----------------------------------------------------


def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``join_asof_nearest`` — bidirectional nearest-event join
    (:func:`~..operators.asof.asof_nearest`): ONE WindowExec computes
    both directed frames; ties break backward then by id. Purchases
    find their nearest error event per user."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.where("event_type = 'purchase'").select(
        "user_id", "ts", "event_id"
    )
    right = ev.where("event_type = 'error'").select(
        "user_id", "ts", "event_id"
    )
    return asof_nearest(
        left,
        right,
        key_col="user_id",
        left_time="ts",
        right_time="ts",
        value_col="event_id",
        out_col="nearest_error_id",
        tiebreak_col="event_id",
    )


_JOIN_ASOF_NEAREST_ORACLE = """
WITH pt AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), er AS (
  SELECT user_id, ts AS rts, event_id AS rid FROM events
  WHERE event_type = 'error'
)
SELECT p.user_id, p.ts, p.event_id,
  (SELECT r.rid FROM er r WHERE r.user_id = p.user_id
   ORDER BY abs(epoch_us(r.rts) - epoch_us(p.ts)),
            (r.rts > p.ts),
            CASE WHEN r.rts <= p.ts THEN -r.rid ELSE r.rid END
   LIMIT 1) AS nearest_error_id
FROM pt p
"""


def q_win_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_gapfill`` — per-key hourly grid resample with forward fill
    (:func:`~..operators.timeseries.gapfill_resample`): spine from
    per-key [min, max] bounds, left join, IGNORE-NULLS last_value."""
    return gapfill_resample(load_table(spark, sf_dir, "events"))


_WIN_GAPFILL_ORACLE = """
WITH b AS (
  SELECT user_id AS key, date_trunc('hour', ts) AS bucket,
         count(*) AS n_events, sum(value) AS v_sum
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT key, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY key
), spine AS (
  SELECT key,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT s.key AS user_id,
       s.bucket,
       COALESCE(b.n_events, 0) AS n_events,
       b.v_sum,
       last_value(b.v_sum IGNORE NULLS) OVER (
         PARTITION BY s.key ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS v_ffill,
       b.n_events IS NULL AS is_gap
FROM spine s LEFT JOIN b USING (key, bucket)
"""


def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``join_bloom`` — bloom-pruned fact/dim join
    (:func:`~..operators.runtime_filters.bloom_pruned_join`): the
    manual runtime filter; the sketch can only add false positives,
    which the exact join absorbs, so the result is row-identical to
    the plain join (the oracle IS the plain join)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").where("c_nationkey = 1")
    return bloom_pruned_join(
        orders, cust, fact_key="o_custkey", dim_key="c_custkey"
    ).select("o_orderkey", "o_custkey", "c_name", "o_totalprice")


_JOIN_BLOOM_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_nationkey = 1
"""

# -- robust stats ------------------------------------------------------------


def q_xform_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_winsorize`` — per-group p1/p99 clipping
    (:func:`~..operators.quantiles.winsorize`): exact distributed
    percentiles broadcast back onto the fact rows."""
    orders = load_table(spark, sf_dir, "orders")
    return winsorize(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        group_col="o_orderpriority",
        value_col="o_totalprice",
        out_col="price_w",
    )


_XFORM_WINSORIZE_ORACLE = """
WITH b AS (
  SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.01) AS q_lo,
         quantile_cont(o_totalprice, 0.99) AS q_hi
  FROM orders GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
       least(greatest(o.o_totalprice, b.q_lo), b.q_hi) AS price_w
FROM orders o JOIN b USING (o_orderpriority)
"""


def q_agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_mad_outliers`` — robust per-group outlier flags
    (:func:`~..operators.quantiles.mad_outliers`): exact median + MAD,
    division-free flag for zero-MAD groups."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return mad_outliers(
        orders, group_col="o_orderpriority", value_col="o_totalprice"
    ).select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.round("robust_z", 6).alias("robust_z"),
        "is_outlier",
    )


_AGG_MAD_OUTLIERS_ORACLE = """
WITH med AS (
  SELECT o_orderpriority AS g, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY 1
), dev AS (
  SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, m.med,
         abs(CAST(o.o_totalprice AS DOUBLE) - m.med) AS absdev
  FROM orders o JOIN med m ON o.o_orderpriority = m.g
), mad AS (
  SELECT o_orderpriority AS g, quantile_cont(absdev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.o_orderkey, d.o_orderpriority, d.o_totalprice,
       round(CASE WHEN m.mad > 0
             THEN (CAST(d.o_totalprice AS DOUBLE) - d.med) / (1.4826 * m.mad)
             END, 6) AS robust_z,
       d.absdev > 3.0 * 1.4826 * m.mad AS is_outlier
FROM dev d JOIN mad m ON d.o_orderpriority = m.g
"""

# -- layout / pattern match / sentences ---------------------------------------

ZORDER_BITS = 4


def q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``layout_zorder`` — Morton clustering key, exact mode
    (:func:`~..operators.bucketing.zorder_key`): quantile-bucketed
    (skew-proof) per-column bits, interleaved; edges rounded to 6dp so
    the DuckDB twin reproduces the buckets bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return zorder_key(
        li, ["l_partkey", "l_suppkey"], bits=ZORDER_BITS, exact=True
    ).select("l_orderkey", "l_linenumber", "zkey")


def _layout_zorder_oracle(bits: int) -> str:
    n = 1 << bits
    probs = ", ".join(repr(i / n) for i in range(1, n))
    interleave = " + ".join(
        f"(((bucket_{c} >> {i}) & 1) << {i * 2 + j})"
        for j, c in enumerate(("l_partkey", "l_suppkey"))
        for i in range(bits)
    )
    return f"""
WITH bnds AS (
  SELECT list_transform(quantile_cont(l_partkey, [{probs}]),
                        x -> round(x, 6)) AS bp,
         list_transform(quantile_cont(l_suppkey, [{probs}]),
                        x -> round(x, 6)) AS bs
  FROM lineitem
), bucketed AS (
  SELECT l.l_orderkey, l.l_linenumber,
         len(list_filter(b.bp, e -> l.l_partkey >= e))
           AS bucket_l_partkey,
         len(list_filter(b.bs, e -> l.l_suppkey >= e))
           AS bucket_l_suppkey
  FROM lineitem l CROSS JOIN bnds b
)
SELECT l_orderkey, l_linenumber,
       CAST({interleave} AS BIGINT) AS zkey
FROM bucketed
"""


#: pattern_match query shape (one up-step), z-normalized as literals in
#: the oracle — the IEEE fold order is replicated exactly, so parity is
#: bit-identical (no rounding tolerance anywhere).
PATTERN_QUERY = [1.0, 1.0, 3.0, 3.0]
PATTERN_K = 15


def q_win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_pattern_match`` — UCR-style z-normalized subsequence
    search (:func:`~..operators.timeseries.pattern_match_topk`): one
    WindowExec of lead() arrays, closed-form distance in codegen,
    TakeOrderedAndProject top-k."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    return pattern_match_topk(
        ev,
        PATTERN_QUERY,
        key_col="user_id",
        time_col="ts",
        value_col="value",
        k=PATTERN_K,
        tiebreak_col="event_id",
    )


def _win_pattern_match_oracle() -> str:
    import math

    m = sum(PATTERN_QUERY) / len(PATTERN_QUERY)
    sd = math.sqrt(
        sum((x - m) ** 2 for x in PATTERN_QUERY) / len(PATTERN_QUERY)
    )
    q = [(x - m) / sd for x in PATTERN_QUERY]
    mu = "((((l0 + l1) + l2) + l3) / 4.0)"
    devs = [f"((l{j} - {mu}) * (l{j} - {mu}))" for j in range(4)]
    var = f"(((({devs[0]} + {devs[1]}) + {devs[2]}) + {devs[3]}) / 4.0)"
    sdx = f"sqrt({var})"
    terms = [f"((l{j} - {mu}) / {sdx} - ({q[j]!r}))" for j in range(4)]
    sq = [f"({t} * {t})" for t in terms]
    dist2 = f"((({sq[0]} + {sq[1]}) + {sq[2]}) + {sq[3]})"
    return f"""
WITH s AS (
  SELECT user_id, ts,
         CAST(value AS DOUBLE) AS l0,
         lead(CAST(value AS DOUBLE), 1) OVER w AS l1,
         lead(CAST(value AS DOUBLE), 2) OVER w AS l2,
         lead(CAST(value AS DOUBLE), 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT user_id, ts, sqrt({dist2}) AS dist
  FROM s
  WHERE l0 IS NOT NULL AND l1 IS NOT NULL
    AND l2 IS NOT NULL AND l3 IS NOT NULL
    AND {var} > 0
)
SELECT user_id, ts, dist FROM c
ORDER BY dist, user_id, ts LIMIT {PATTERN_K}
"""


def q_text_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_split_sentences`` — sentence segmentation
    (:func:`~..operators.text.split_sentences`) over the punctuated
    derivation ``text_chunk_sentences`` shares (the raw corpus has no
    terminal punctuation — both engines punctuate identically)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            "text", r"(\w+ \w+ \w+ \w+ \w+ \w+) ", "$1. "
        ).alias("text"),
    )
    return X.split_sentences(docs)


_TEXT_SPLIT_SENTENCES_ORACLE = rf"""
WITH s AS (
  SELECT doc_id,
         regexp_extract_all({_PUNCT_SQL}, '[^.!?]+[.!?]+|[^.!?]+$') AS arr
  FROM documents
)
SELECT doc_id, i - 1 AS sent_idx, trim(arr[i]) AS sentence,
       length(trim(arr[i])) AS n_chars
FROM s, UNNEST(generate_series(1, len(arr))) AS t(i)
WHERE length(trim(arr[i])) > 0
"""

# -- bound-check sketches (the agg_approx_distinct r8 pattern) ---------------

HH_TOP, HH_CAPACITY = 10, 256


def q_agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_heavy_hitters`` — Misra-Gries top words, registered as the
    BOUND CHECK over the exact top-10 (summary contents depend on batch
    slicing, so the raw summary can't value-hash; the deterministic
    ``est ≤ true ≤ est + err_bound`` contract can): every exact-top-10
    word must be in the summary with its estimate inside the bound."""
    from ..operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    words = docs.selectExpr(
        "explode(split(lower(trim(text)), '\\\\s+')) AS word"
    ).where("word != ''")
    hh = heavy_hitters(words, "word", k=10_000, capacity=HH_CAPACITY)
    exact_top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "word")
        .limit(HH_TOP)
    )
    return exact_top.join(
        hh.withColumnRenamed("key", "word"), "word", "left"
    ).select(
        "word",
        "true_cnt",
        (
            F.col("est").isNotNull()
            & (F.col("est") <= F.col("true_cnt"))
            & (F.col("true_cnt") <= F.col("est") + F.col("err_bound"))
        ).alias("within_bound"),
    )


_AGG_HEAVY_HITTERS_ORACLE = f"""
WITH w AS (
  SELECT unnest({_SQL_WORDS}) AS word FROM documents
)
SELECT word, CAST(COUNT(*) AS BIGINT) AS true_cnt, TRUE AS within_bound
FROM w GROUP BY word ORDER BY true_cnt DESC, word LIMIT {HH_TOP}
"""

CMS_W, CMS_D = 2048, 5


def q_agg_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_count_min`` — Count-Min point-frequency estimates,
    registered as the BOUND CHECK (est ≥ true always; est ≤ true +
    (e/width)·N at the fixed seed)."""
    import math

    from ..operators.sketches import cms_estimate, count_min_table

    ev = load_table(spark, sf_dir, "events")
    cms = count_min_table(ev, "event_type", width=CMS_W, depth=CMS_D)
    queries = (
        ev.select("event_type").where("event_type IS NOT NULL").distinct()
    )
    est = cms_estimate(cms, queries, "event_type", width=CMS_W, depth=CMS_D)
    exact = (
        ev.where("event_type IS NOT NULL")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    # N arrives as a broadcast 1-row aggregate — NO driver action during
    # construction (the registration callable stays pure; review r9)
    n_rel = (
        ev.where("event_type IS NOT NULL")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        est.join(exact, "event_type")
        .crossJoin(F.broadcast(n_rel))
        .select(
            "event_type",
            "true_cnt",
            (
                (F.col("est") >= F.col("true_cnt"))
                & (
                    F.col("est")
                    <= F.col("true_cnt")
                    + F.lit(math.e / CMS_W) * F.col("_n")
                )
            ).alias("within_bound"),
        )
    )


_AGG_COUNT_MIN_ORACLE = """
SELECT event_type,
       count(*) AS true_cnt,
       TRUE AS within_bound
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
"""

HLL_P = 12


def q_agg_hll_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_hll_table`` — the mergeable HLL table, registered as the
    BOUND CHECK (register layout is ours, so the estimate itself can't
    value-hash; the 3σ relative-error contract can)."""
    from ..operators.sketches import hll_estimate, hll_table

    docs = load_table(spark, sf_dir, "documents")
    sk = hll_table(docs, "doc_id", group_cols=["source"], p=HLL_P)
    est = hll_estimate(sk, p=HLL_P, group_cols=["source"])
    exact = docs.groupBy("source").agg(
        F.count_distinct("doc_id").alias("true_distinct")
    )
    bound = 3 * 1.04 / (2**HLL_P) ** 0.5
    return est.join(exact, "source").select(
        "source",
        "true_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            <= F.greatest(F.lit(1.0), F.lit(bound) * F.col("true_distinct"))
        ).alias("within_bound"),
    )


_AGG_HLL_TABLE_ORACLE = """
SELECT source,
       count(DISTINCT doc_id) AS true_distinct,
       TRUE AS within_bound
FROM documents GROUP BY source
"""

KMV_K = 256


def q_agg_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_kmv_sketch`` — the KMV/theta table (set ops HLL lacks),
    registered as the BOUND CHECK (3σ of ~1/sqrt(k−2))."""
    from ..operators.sketches import kmv_estimate, kmv_table

    ev = load_table(spark, sf_dir, "events").where(
        "event_type IS NOT NULL"
    )
    sk = kmv_table(ev, "user_id", group_cols=["event_type"], k=KMV_K)
    est = kmv_estimate(sk, k=KMV_K, group_cols=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    bound = 3.0 / (KMV_K - 2) ** 0.5
    return est.join(exact, "event_type").select(
        "event_type",
        "true_distinct",
        (
            F.abs(F.col("est_distinct") - F.col("true_distinct"))
            <= F.greatest(F.lit(1.0), F.lit(bound) * F.col("true_distinct"))
        ).alias("within_bound"),
    )


_AGG_KMV_SKETCH_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS true_distinct,
       TRUE AS within_bound
FROM events WHERE event_type IS NOT NULL
GROUP BY event_type
"""

_REL_PROFILE_COLUMNS_ORACLE = """
WITH n AS (SELECT count(*) AS n_rows FROM events)
SELECT 'user_id' AS "column", n.n_rows,
       (SELECT count(*) - count(user_id) FROM events) AS n_nulls,
       (SELECT count(DISTINCT user_id) FROM events) AS n_distinct,
       (SELECT CAST(min(user_id) AS VARCHAR) FROM events) AS min_val,
       (SELECT CAST(max(user_id) AS VARCHAR) FROM events) AS max_val
FROM n
UNION ALL
SELECT 'event_type', n.n_rows,
       (SELECT count(*) - count(event_type) FROM events),
       (SELECT count(DISTINCT event_type) FROM events),
       (SELECT min(event_type) FROM events),
       (SELECT max(event_type) FROM events)
FROM n
UNION ALL
SELECT 'event_id', n.n_rows,
       (SELECT count(*) - count(event_id) FROM events),
       (SELECT count(DISTINCT event_id) FROM events),
       (SELECT CAST(min(event_id) AS VARCHAR) FROM events),
       (SELECT CAST(max(event_id) AS VARCHAR) FROM events)
FROM n
"""


STAGED_QUERIES.update(
    {
        "corpus_weighted_sample": q_corpus_weighted_sample,
        "corpus_reservoir_sample": q_corpus_reservoir_sample,
        "corpus_weighted_reservoir": q_corpus_weighted_reservoir,
        "corpus_repeat_epochs": q_corpus_repeat_epochs,
        "join_asof_nearest": q_join_asof_nearest,
        "win_gapfill": q_win_gapfill,
        "join_bloom": q_join_bloom,
        "xform_winsorize": q_xform_winsorize,
        "agg_mad_outliers": q_agg_mad_outliers,
        "layout_zorder": q_layout_zorder,
        "win_pattern_match": q_win_pattern_match,
        "text_split_sentences": q_text_split_sentences,
        "rel_profile_columns": lambda spark, sf_dir: profile_columns(
            load_table(spark, sf_dir, "events"),
            ["user_id", "event_type", "event_id"],
        ),
        "agg_heavy_hitters": q_agg_heavy_hitters,
        "agg_count_min": q_agg_count_min,
        "agg_hll_table": q_agg_hll_table,
        "agg_kmv_sketch": q_agg_kmv_sketch,
    }
)

STAGED_ORACLES.update(
    {
        "corpus_weighted_sample": _CORPUS_WEIGHTED_SAMPLE_ORACLE,
        "corpus_reservoir_sample": _CORPUS_RESERVOIR_ORACLE,
        "corpus_weighted_reservoir": _CORPUS_WEIGHTED_RESERVOIR_ORACLE,
        "corpus_repeat_epochs": _CORPUS_REPEAT_EPOCHS_ORACLE,
        "join_asof_nearest": _JOIN_ASOF_NEAREST_ORACLE,
        "win_gapfill": _WIN_GAPFILL_ORACLE,
        "join_bloom": _JOIN_BLOOM_ORACLE,
        "xform_winsorize": _XFORM_WINSORIZE_ORACLE,
        "agg_mad_outliers": _AGG_MAD_OUTLIERS_ORACLE,
        "layout_zorder": _layout_zorder_oracle(ZORDER_BITS),
        "win_pattern_match": _win_pattern_match_oracle(),
        "text_split_sentences": _TEXT_SPLIT_SENTENCES_ORACLE,
        "rel_profile_columns": _REL_PROFILE_COLUMNS_ORACLE,

        "agg_heavy_hitters": _AGG_HEAVY_HITTERS_ORACLE,
        "agg_count_min": _AGG_COUNT_MIN_ORACLE,
        "agg_hll_table": _AGG_HLL_TABLE_ORACLE,
        "agg_kmv_sketch": _AGG_KMV_SKETCH_ORACLE,
    }
)
