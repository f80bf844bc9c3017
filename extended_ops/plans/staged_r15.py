"""Registry batch r15: four capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity, and
``tests/test_staged_r15.py`` holds its content checks.

Families: URL canonicalization (crawl curation's first join key),
HTML/boilerplate stripping (regex-only, the ``clean_text``
dialect-intersection discipline), windowed rate-anomaly auditing
(``mad_outliers`` composed over tumbling counts, with a planted burst
so detection itself is hash-checked), and the labeled
quality-calibration relation (score deciles × a derivable dup label —
the "is my quality score actually predictive" table every filtering
pipeline builds before trusting a threshold).

Oracle strategy note: the two constructed-input registrations
(``xform_url_canonical``, ``text_strip_html``) deliberately do NOT
mirror the operator's regex pipeline in DuckDB — they rebuild the same
messy input from (doc_id, source, text) and compute the expected
output as an INDEPENDENT ground-truth expression, so the Spark regex
chain is verified against what it must produce rather than against a
dialect translation of itself.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quantiles import mad_outliers
from ..operators.text import _words, with_quality_score
from ..operators.web import canonicalize_urls, strip_html
from ..sources.tables import load_table
from .extended import (
    _QUALITY_EXPR,
    _SQL_WORDS,
)

# --------------------------------------------------------------------------
# xform_url_canonical — URL canonicalization over a messy constructed url
# --------------------------------------------------------------------------


def _messy_url() -> Column:
    """Deterministic messy URL from (doc_id, source): scheme-case,
    www-prefix, host-case, default/non-default ports, trailing slash,
    tracking + unsorted query params, fragment — every residue class
    exercises a different canonicalization rule."""
    m2 = F.col("doc_id") % 2
    m3 = F.col("doc_id") % 3
    m4 = F.col("doc_id") % 4
    m5 = F.col("doc_id") % 5
    return F.concat(
        F.when(m3 == 0, F.lit("HTTP://WWW."))
        .when(m3 == 1, F.lit("https://"))
        .otherwise(F.lit("http://")),
        F.col("source"),
        F.when(m2 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        ),
        F.when(m4 == 0, F.lit(":80"))
        .when(m4 == 1, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/Docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(m2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b=2&a=1"),
        F.when(m5 == 0, F.lit("#sec-2")).otherwise(F.lit("")),
    )


def q_xform_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_url_canonical`` — canonical URL + registrable host per
    document (:func:`~..operators.web.canonicalize_urls`): a pure
    scan-side Catalyst projection (zero shuffle, zero Python) over a
    deterministically-constructed messy URL."""
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "source"
    )
    messy = docs.withColumn("url", _messy_url())
    return canonicalize_urls(messy, "url").select(
        "doc_id", "url", "canonical_url", "host"
    )


#: the SQL twin of :func:`_messy_url` — byte-identical construction
_SQL_MESSY_URL = """
  CASE WHEN doc_id % 3 = 0 THEN 'HTTP://WWW.'
       WHEN doc_id % 3 = 1 THEN 'https://'
       ELSE 'http://' END
  || source
  || CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.example.com' END
  || CASE WHEN doc_id % 4 = 0 THEN ':80'
          WHEN doc_id % 4 = 1 THEN ':443' ELSE '' END
  || '/Docs/' || (doc_id % 50)
  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
  || '?utm_source=feed&b=2&a=1'
  || CASE WHEN doc_id % 5 = 0 THEN '#sec-2' ELSE '' END
"""

# ground truth, derived INDEPENDENTLY from the residues (not by
# re-running a canonicalizer): scheme lowercases; host lowercases and
# sheds www.; :80 survives only on https, :443 only on http; the
# trailing slash and fragment vanish; tracking params drop and the
# survivors sort.
_XFORM_URL_CANONICAL_ORACLE = f"""
SELECT doc_id,
       {_SQL_MESSY_URL} AS url,
       CASE WHEN doc_id % 3 = 1 THEN 'https' ELSE 'http' END
       || '://' || source || '.example.com'
       || CASE WHEN doc_id % 4 = 0 AND doc_id % 3 = 1 THEN ':80'
               WHEN doc_id % 4 = 1 AND doc_id % 3 <> 1 THEN ':443'
               ELSE '' END
       || '/Docs/' || (doc_id % 50)
       || '?a=1&b=2' AS canonical_url,
       source || '.example.com' AS host
FROM documents
"""

# --------------------------------------------------------------------------
# text_strip_html — markup removal over a constructed HTML wrapper
# --------------------------------------------------------------------------


def _html_wrap() -> Column:
    """Deterministic HTML wrapper: title + style + script (with fake
    tags and entities inside — MUST vanish wholesale), heading,
    paragraph body, self-closing tag, entity tail."""
    return F.concat(
        F.lit("<html><head><title>D"),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p {color: red}</style>"),
        F.lit('<script>if (a < b && c > 1) { alert("x&y"); }</script>'),
        F.lit("</head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="main">'),
        F.col("text"),
        F.lit("</p><br/>&nbsp;&amp;&lt;tail&gt;</body></html>"),
    )


def q_text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_strip_html`` — boilerplate stripping
    (:func:`~..operators.web.strip_html`): script/style elements out
    wholesale, tags to spaces, entities decoded (``&amp;`` last),
    whitespace collapsed. Scan-side regex projection, zero shuffle."""
    # spread=False: a pure scan-side regex projection — the spread
    # exchange would be the plan's ONLY shuffle, pure overhead
    docs = load_table(spark, sf_dir, "documents", spread=False).select(
        "doc_id", "text"
    )
    html = docs.withColumn("html", _html_wrap())
    return strip_html(html, "html").select(
        "doc_id",
        "clean_text",
        F.length("clean_text").cast("bigint").alias("n_chars_clean"),
    )


# ground truth: what stripping MUST recover — the title/heading text,
# the body with its whitespace collapsed, and the decoded entity tail;
# the whole wrapper's markup and the entire script/style contents gone.
_TEXT_STRIP_HTML_ORACLE = f"""
WITH gt AS (
  SELECT doc_id,
         trim(regexp_replace(
           'D' || doc_id || ' Doc ' || doc_id || ' ' || text
             || ' &<tail>',
           '\\s+', ' ', 'g')) AS clean_text
  FROM documents
)
SELECT doc_id, clean_text,
       CAST(length(clean_text) AS BIGINT) AS n_chars_clean
FROM gt
"""

# --------------------------------------------------------------------------
# dq_rate_anomaly — MAD outliers over tumbling event-rate windows
# --------------------------------------------------------------------------

#: planted burst: events before this cutoff (the corpus's first hour)
#: count 25× — the per-type hourly rate series then contains one
#: guaranteed anomaly, so anomaly DETECTION itself is hash-checked (the
#: dq_freshness planted-defect rule), not just the arithmetic.
BURST_CUTOFF = "2024-01-01 01:00:00"
BURST_WEIGHT = 25


def q_dq_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_rate_anomaly`` — robust anomaly flags over per-type hourly
    event rates: tumbling 1 h counts (the ``win_tumbling`` shape, one
    keyed exchange with map-side partials), then
    :func:`~..operators.quantiles.mad_outliers` per event_type (exact
    median + MAD, broadcast re-attach, division-free zero-MAD
    contract). The composition the brief's "windowed rate anomaly
    audit" names: a traffic burst (planted here) or a dead hour is an
    outlier against the type's own typical rate, not a fixed
    threshold. NULL ts/type rows excluded symmetrically."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = F.when(
        F.col("ts") < F.lit(BURST_CUTOFF).cast("timestamp"),
        F.lit(BURST_WEIGHT),
    ).otherwise(F.lit(1))
    counts = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.sum(w).cast("bigint").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    return mad_outliers(
        counts, group_col="event_type", value_col="n"
    ).select(
        "event_type",
        "win_start",
        "n",
        F.round("robust_z", 6).alias("robust_z"),
        "is_outlier",
    )


_DQ_RATE_ANOMALY_ORACLE = f"""
WITH c AS (
  SELECT event_type, date_trunc('hour', ts) AS win_start,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '{BURST_CUTOFF}'
                  THEN {BURST_WEIGHT} ELSE 1 END) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), med AS (
  SELECT event_type AS g, quantile_cont(n, 0.5) AS med FROM c GROUP BY 1
), dev AS (
  SELECT c.*, m.med, abs(CAST(c.n AS DOUBLE) - m.med) AS absdev
  FROM c JOIN med m ON c.event_type = m.g
), mad AS (
  SELECT event_type AS g, quantile_cont(absdev, 0.5) AS mad
  FROM dev GROUP BY 1
)
SELECT d.event_type, d.win_start, d.n,
       round(CASE WHEN m.mad > 0
             THEN (CAST(d.n AS DOUBLE) - d.med) / (1.4826 * m.mad)
             END, 6) AS robust_z,
       d.absdev > 3.0 * 1.4826 * m.mad AS is_outlier
FROM dev d JOIN mad m ON d.event_type = m.g
"""

# --------------------------------------------------------------------------
# dq_quality_calibration — score deciles × dup label
# --------------------------------------------------------------------------


def q_dq_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_quality_calibration`` — is the quality score predictive?
    One row per score decile with its document count, duplicate count,
    duplicate rate and mean score. The label is DERIVED, not synthetic:
    membership in a bag-of-words duplicate group (md5 of the sorted
    distinct token set — the corpus's planted shuffled-word near-dups
    collapse to one fingerprint), i.e. exactly the rows a dedup pass
    would drop; a well-calibrated quality score should not be
    independent of it. Decile boundaries are the nine exact type-7
    percentiles of the score, broadcast as ONE aggregate row (the
    ``text_quality_tiers`` rule — no global ORDER BY window, which
    would single-task the sort at 100 TB); ties at a boundary share
    the upper decile, so bucket populations are value-determined and
    engine-independent. Shuffles: one fingerprint agg + one
    fingerprint join + one O(10) rollup."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    scored = with_quality_score(docs).select("doc_id", "text", "quality")
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(_words(F.col("text")))), " ")
    )
    sizes = docs.groupBy(fp.alias("_f")).agg(
        F.count(F.lit(1)).alias("_m")
    )
    labeled = scored.withColumn("_fp", fp).join(
        sizes, F.col("_fp") == F.col("_f")
    )
    probs = [i / 10.0 for i in range(1, 10)]
    bounds = scored.agg(
        F.expr(
            "percentile(quality, array("
            + ", ".join(f"{p}D" for p in probs)
            + "))"
        ).alias("_bs")
    )
    # boundaries round to 6dp — the score's own precision — before the
    # comparisons: the two engines interpolate tied boundaries with
    # different fp evaluation orders (lower + g·Δ vs (1−g)·lo + g·hi),
    # and a last-ulp boundary under a 6-doc tie run would flip deciles
    decile = sum(
        (F.col("quality") >= F.round(F.col("_bs")[i], 6)).cast("int")
        for i in range(9)
    ) + F.lit(1)
    return (
        labeled.crossJoin(F.broadcast(bounds))
        .select(
            decile.alias("decile"),
            (F.col("_m") >= 2).cast("int").alias("_dup"),
            "quality",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_dup").cast("bigint").alias("n_dups"),
            F.round(
                F.sum("_dup").cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_rate"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
        )
    )


_DQ_QUALITY_CALIBRATION_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
), scored AS (
  SELECT doc_id, text, {_QUALITY_EXPR} AS quality FROM docs
), fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({_SQL_WORDS})), ' '))
           AS f
  FROM docs
), gs AS (
  SELECT f, COUNT(*) AS m FROM fp GROUP BY 1
), b AS (
  SELECT {", ".join(
      f"quantile_cont(quality, {i / 10.0}) AS q{i}" for i in range(1, 10)
  )}
  FROM scored
)
SELECT {"1 + " + " + ".join(
    f"CAST(s.quality >= round(b.q{i}, 6) AS INT)" for i in range(1, 10)
)} AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(g.m >= 2 AS INT)) AS BIGINT) AS n_dups,
       round(SUM(CAST(g.m >= 2 AS INT)) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_rate,
       round(AVG(s.quality), 6) AS avg_quality
FROM scored s
JOIN fp ON fp.doc_id = s.doc_id
JOIN gs g ON g.f = fp.f
CROSS JOIN b
GROUP BY 1
"""

# --------------------------------------------------------------------------

STAGED_R15_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "xform_url_canonical": q_xform_url_canonical,
    "text_strip_html": q_text_strip_html,
    "dq_rate_anomaly": q_dq_rate_anomaly,
    "dq_quality_calibration": q_dq_quality_calibration,
}

STAGED_R15_ORACLES: dict[str, str] = {
    "xform_url_canonical": _XFORM_URL_CANONICAL_ORACLE,
    "text_strip_html": _TEXT_STRIP_HTML_ORACLE,
    "dq_rate_anomaly": _DQ_RATE_ANOMALY_ORACLE,
    "dq_quality_calibration": _DQ_QUALITY_CALIBRATION_ORACLE,
}
