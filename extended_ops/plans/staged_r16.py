"""Registry batch r16: four capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity, and
``tests/test_staged_r16.py`` holds its content checks.

Families: domain-level curation stats (the per-host quality/dup table
FineWeb-style crawl filtering keys on — composes the r15 URL
canonicalizer), linear multi-touch attribution (the zero-self-join
window formulation), rolling-window distinct entities (exact twin of
the HLL-merge scale path), and exactly-balanced stratified k-fold
assignment.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.corpus import stratified_kfold
from ..operators.text import _words, with_quality_score
from ..operators.timeseries import next_touch_attribution, rolling_distinct
from ..operators.web import canonicalize_urls
from ..sources.tables import load_table
from .extended import _QUALITY_EXPR, _SQL_WORDS
from .staged_r15 import _messy_url

# --------------------------------------------------------------------------
# web_domain_stats — per-host curation table
# --------------------------------------------------------------------------


def q_web_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``web_domain_stats`` — one row per registrable host: document
    count, bag-of-words duplicate count/rate, mean quality score, total
    characters — the domain-level table crawl curation filters on
    (FineWeb/RefinedWeb drop or down-weight whole hosts by exactly
    these signals). Composes the r15 canonicalizer (host from the
    messy constructed URL), the quality score, and the word-set dup
    fingerprint; plan = scan-side projections + one fingerprint agg +
    one fingerprint join + one O(hosts) rollup."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
    )
    messy = docs.withColumn("url", _messy_url())
    hosted = canonicalize_urls(messy, "url").select(
        "doc_id", "host", "text"
    )
    scored = with_quality_score(hosted).select(
        "doc_id", "host", "text", "quality"
    )
    fp = F.md5(
        F.array_join(
            F.array_sort(F.array_distinct(_words(F.col("text")))), " "
        )
    )
    sizes = docs.groupBy(fp.alias("_f")).agg(F.count(F.lit(1)).alias("_m"))
    labeled = scored.withColumn("_fp", fp).join(
        sizes, F.col("_fp") == F.col("_f")
    )
    return (
        labeled.groupBy("host")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("_m") >= 2).cast("int"))
            .cast("bigint")
            .alias("n_dups"),
            F.round(
                F.sum((F.col("_m") >= 2).cast("int")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("dup_rate"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
    )


_WEB_DOMAIN_STATS_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, source, text FROM documents WHERE text IS NOT NULL
), scored AS (
  SELECT doc_id, source || '.example.com' AS host, text,
         {_QUALITY_EXPR} AS quality
  FROM docs
), fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct({_SQL_WORDS})), ' '))
           AS f
  FROM docs
), gs AS (
  SELECT f, COUNT(*) AS m FROM fp GROUP BY 1
)
SELECT s.host,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(g.m >= 2 AS INT)) AS BIGINT) AS n_dups,
       round(SUM(CAST(g.m >= 2 AS INT)) / CAST(COUNT(*) AS DOUBLE), 6)
         AS dup_rate,
       round(AVG(s.quality), 6) AS avg_quality,
       CAST(SUM(length(s.text)) AS BIGINT) AS total_chars
FROM scored s
JOIN fp ON fp.doc_id = s.doc_id
JOIN gs g ON g.f = fp.f
GROUP BY 1
"""

# --------------------------------------------------------------------------
# win_attribution — linear multi-touch attribution
# --------------------------------------------------------------------------

ATTR_LOOKBACK_HOURS = 168


def q_win_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_attribution`` — linear multi-touch credit per touch type
    (:func:`~..operators.timeseries.next_touch_attribution`): one
    reverse keyed window carries each event's next purchase (running
    ``last ignorenulls`` — no purchases⋈touches range self-join), then
    two tiny-relation aggregations."""
    return next_touch_attribution(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        type_col="event_type",
        ts_col="ts",
        tiebreak_col="event_id",
        conversion_type="purchase",
        lookback_hours=ATTR_LOOKBACK_HOURS,
    )


_WIN_ATTRIBUTION_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL AND event_id IS NOT NULL
), tagged AS (
  SELECT *,
    last_value(CASE WHEN event_type = 'purchase' THEN us END
               IGNORE NULLS) OVER w AS cus,
    last_value(CASE WHEN event_type = 'purchase' THEN event_id END
               IGNORE NULLS) OVER w AS cid
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), touches AS (
  SELECT * FROM tagged
  WHERE event_type <> 'purchase' AND cid IS NOT NULL
    AND cus - us <= {ATTR_LOOKBACK_HOURS} * 3600000000
), grouped AS (
  SELECT user_id, cid, event_type,
         COUNT(*) AS cnt,
         MAX({{'us': us, 'eid': event_id}}) AS latest
  FROM touches GROUP BY 1, 2, 3
), per_type AS (
  SELECT event_type, cnt,
         SUM(cnt) OVER (PARTITION BY user_id, cid) AS n,
         MAX({{'latest': latest, 't': event_type}})
           OVER (PARTITION BY user_id, cid) AS last_row
  FROM grouped
)
SELECT event_type,
       CAST(SUM(cnt) AS BIGINT) AS n_touches,
       round(SUM(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS linear_credit,
       CAST(SUM(CAST(event_type = last_row.t AS INT)) AS BIGINT)
         AS n_last_touch
FROM per_type GROUP BY 1
"""

# --------------------------------------------------------------------------
# win_rolling_distinct — trailing 24 h distinct users per active hour
# --------------------------------------------------------------------------

ROLLING_HOURS = 24


def q_win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_rolling_distinct`` — exact trailing-24 h distinct users at
    every active hour (:func:`~..operators.timeseries.rolling_distinct`):
    distinct (user, hour) collapse first, bounded ×24 fan-out of THAT
    relation, broadcast active-hour restriction; the HLL-merge scale
    path is documented on the operator."""
    return rolling_distinct(
        load_table(spark, sf_dir, "events"),
        entity_col="user_id",
        ts_col="ts",
        window_hours=ROLLING_HOURS,
    )


_WIN_ROLLING_DISTINCT_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT user_id AS e, date_trunc('hour', ts) AS h
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), active AS (
  SELECT DISTINCT h AS tick FROM pairs
), fanned AS (
  SELECT p.e, p.h + to_hours(x.g) AS tick
  FROM pairs p,
       (SELECT unnest(generate_series(0, {ROLLING_HOURS - 1})) AS g) x
)
SELECT f.tick AS win_end_hour,
       CAST(COUNT(DISTINCT f.e) AS BIGINT) AS n_distinct
FROM fanned f JOIN active a ON a.tick = f.tick
GROUP BY 1
"""

# --------------------------------------------------------------------------
# xform_kfold — exactly-balanced stratified k-fold
# --------------------------------------------------------------------------

KFOLD_K = 5


def q_xform_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_kfold`` — per-source exactly-balanced 5-fold assignment
    (:func:`~..operators.corpus.stratified_kfold`): rank by the md5
    draw within each source stratum, fold = (rank−1) mod 5; one
    per-stratum keyed window, never a global sort."""
    return stratified_kfold(
        load_table(spark, sf_dir, "documents"),
        key_col="doc_id",
        strata_col="source",
        k=KFOLD_K,
    )


_XFORM_KFOLD_ORACLE = f"""
SELECT doc_id, source,
       CAST((ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       ) - 1) % {KFOLD_K} AS BIGINT) AS fold
FROM documents WHERE doc_id IS NOT NULL
"""

# --------------------------------------------------------------------------

STAGED_R16_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "web_domain_stats": q_web_domain_stats,
    "win_attribution": q_win_attribution,
    "win_rolling_distinct": q_win_rolling_distinct,
    "xform_kfold": q_xform_kfold,
}

STAGED_R16_ORACLES: dict[str, str] = {
    "web_domain_stats": _WEB_DOMAIN_STATS_ORACLE,
    "win_attribution": _WIN_ATTRIBUTION_ORACLE,
    "win_rolling_distinct": _WIN_ROLLING_DISTINCT_ORACLE,
    "xform_kfold": _XFORM_KFOLD_ORACLE,
}
