"""Registry batch r23: four capabilities. Each key is a complete (query
callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py`` replays
every pair with hash parity + non-vacuity, and
``tests/test_staged_r23.py`` holds its content checks.

Families: the TPC-H Q8 market-share shape (a conditional share of a
multi-dim join's revenue, exact cent math end-to-end), per-source
hapax statistics (the vocabulary-tail health check next to
``text_vocab_growth``), a χ² category-drift audit between the corpus's
two time halves (the distribution-shift screen ``dq_profile_drift``
does for columns, done for a categorical's SHAPE — per-category exact
counts, each χ² contribution a pure projection from integers so no
cross-row float sum exists to diverge), and silence-run detection
over the WAV frame features (gaps-and-islands on the audio
modality)."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.text import TOKEN_PATTERN, pattern_tokens
from ..sources.tables import load_table
from .extended import _cents
from .staged_r20 import (
    _MULTIMODAL_AUDIO_ENERGY_ORACLE,
    q_multimodal_audio_energy,
)

# --------------------------------------------------------------------------
# rel_market_share — the TPC-H Q8 shape (local-content variant)
# --------------------------------------------------------------------------

MKT_REGION = "ASIA"


def q_rel_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_market_share`` — TPC-H Q8 shape: per order year, the share
    of the ``MKT_REGION`` customers' spend served by suppliers FROM
    that same region (the local-content share — Q8's
    nation-inside-region conditional share, adapted to this corpus's
    uniform nation spread so the numerator is non-degenerate at every
    SF). Revenue is exact cent math; the share is ONE division of two
    exact BIGINTs, rounded 6dp — deterministic cross-engine.

    Scale: lineitem joins orders keyed (the only fact-fact join), then
    every dimension — customer, the two nation legs, region, supplier
    — broadcasts; the conditional share collapses map-side to O(years)
    rows. The same single-exchange shape as ``rel_revenue_by_nation``
    with one more broadcast leg."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    orders = load_table(spark, sf_dir, "orders", spread=False)
    cust = load_table(spark, sf_dir, "customer", spread=False)
    supp = load_table(spark, sf_dir, "supplier", spread=False)
    nation = load_table(spark, sf_dir, "nation", spread=False)
    region = load_table(spark, sf_dir, "region", spread=False)
    cdisc = F.round(F.col("l_discount") * 100).cast("bigint")
    rev = _cents("l_extendedprice") * (F.lit(100) - cdisc)
    cn = nation.select(
        F.col("n_nationkey").alias("_cn_key"),
        F.col("n_regionkey").alias("_cn_region"),
    )
    sn = nation.select(
        F.col("n_nationkey").alias("_sn_key"),
        F.col("n_regionkey").alias("_sn_region"),
    )
    joined = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(cust),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(F.broadcast(cn), F.col("_cn_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(region),
            F.col("r_regionkey") == F.col("_cn_region"),
        )
        .where(F.col("r_name") == MKT_REGION)
        .join(
            F.broadcast(supp),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(F.broadcast(sn), F.col("_sn_key") == F.col("s_nationkey"))
    )
    local = F.when(
        F.col("_sn_region") == F.col("_cn_region"), rev
    ).otherwise(F.lit(0))
    return (
        joined.groupBy(
            F.year("o_orderdate").cast("bigint").alias("o_year")
        )
        .agg(
            F.sum(local).alias("_local4"),
            F.sum(rev).alias("_total4"),
        )
        .select(
            "o_year",
            F.round(
                F.col("_local4") / F.col("_total4").cast("double"), 6
            ).alias("mkt_share"),
            F.round(F.col("_total4") / F.lit(10000.0), 6).alias(
                "total_revenue"
            ),
        )
    )


_REL_MARKET_SHARE_ORACLE = f"""
WITH rev AS (
  SELECT EXTRACT(year FROM o.o_orderdate) AS y,
         (sn.n_regionkey = cn.n_regionkey) AS local,
         CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
         * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT)) AS r4
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region rg ON rg.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  WHERE rg.r_name = '{MKT_REGION}'
)
SELECT CAST(y AS BIGINT) AS o_year,
       ROUND(
         CAST(SUM(CASE WHEN local THEN r4 ELSE 0 END) AS BIGINT)
         / CAST(SUM(r4) AS DOUBLE), 6
       ) AS mkt_share,
       ROUND(CAST(SUM(r4) AS BIGINT) / 10000.0, 6) AS total_revenue
FROM rev
GROUP BY y
"""

# --------------------------------------------------------------------------
# text_hapax_rate — vocabulary-tail statistics per source
# --------------------------------------------------------------------------


def q_text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_hapax_rate`` — per source: token count, vocabulary size,
    hapax-legomenon count (terms occurring exactly once in that
    source) and the hapax share of the vocabulary. The vocabulary-tail
    health check: natural corpora keep a fat hapax tail (Zipf), boiler
    -plate and template spam collapse it — read next to
    ``text_vocab_growth``'s accumulation curve.

    Scale: one tokenize into the (source, term, tf) relation —
    map-side collapsed, O(sources × vocabulary) — then ONE counting
    re-aggregation to O(sources). Exact integers plus one final
    division."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.where(
            F.col("text").isNotNull() & F.col("source").isNotNull()
        )
        .select(
            "source",
            F.explode(pattern_tokens(F.col("text"))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    return tf.groupBy("source").agg(
        F.sum("_tf").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("_tf") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.round(
            F.sum(F.when(F.col("_tf") == 1, 1).otherwise(0))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("hapax_share"),
    )


_TEXT_HAPAX_RATE_ORACLE = f"""
WITH tf AS (
  SELECT source, term, COUNT(*) AS tf
  FROM (
    SELECT source,
           unnest(regexp_extract_all(lower(text), '{TOKEN_PATTERN}'))
             AS term
    FROM documents
    WHERE text IS NOT NULL AND source IS NOT NULL
  )
  GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab_size,
       CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       ROUND(
         SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE), 6
       ) AS hapax_share
FROM tf
GROUP BY source
"""

# --------------------------------------------------------------------------
# dq_category_drift — χ² homogeneity between the corpus's time halves
# --------------------------------------------------------------------------


def q_dq_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_category_drift`` — the event-type distribution compared
    between the event stream's two calendar halves (split at the
    midpoint day of the [min, max] day range — an exact integer-day
    midpoint both engines compute identically): per type, the two
    exact counts, each half's share, and the type's χ² homogeneity
    contribution (observed vs the expectation under no-drift,
    2×K-table form). The categorical twin of ``dq_profile_drift``:
    that audit watches per-COLUMN moments, this one watches a
    category distribution's SHAPE. Every χ² contribution is a pure
    projection from exact integers — no cross-row float sum exists,
    so cross-engine parity needs no summation-order argument at all.

    Scale: ONE scan collapses event volume map-side into the
    O(types × days) daily relation, which is pinned and serves BOTH
    consumers (the min/max bounds scalar and the half counts) — the
    naive formulation re-scans events for the bounds aggregate; every
    share/contribution rides O(types) rows as projections (windows
    over a bounded relation)."""
    ev = load_table(spark, sf_dir, "events", spread=False).where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    day = F.date_trunc("day", F.col("ts")).cast("date")
    daily = (
        ev.groupBy("event_type", day.alias("_day"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(
        F.min("_day").alias("_d0"), F.max("_day").alias("_d1")
    )
    # FLOOR the half-range on both engines: Spark's cast-to-int
    # truncates where DuckDB's CAST rounds — integer floor division is
    # the one midpoint both compute identically
    mid = F.date_add(
        F.col("_d0"),
        F.floor(
            F.datediff(F.col("_d1"), F.col("_d0")) / 2
        ).cast("int"),
    )
    counted = (
        daily.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("_day") < mid, F.col("_n")).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.sum(
                F.when(F.col("_day") >= mid, F.col("_n")).otherwise(0)
            )
            .cast("bigint")
            .alias("n_second"),
        )
    )
    tot = Window.partitionBy(F.lit(1))
    t1 = F.sum("n_first").over(tot)
    t2 = F.sum("n_second").over(tot)
    n_type = F.col("n_first") + F.col("n_second")
    # expectation under homogeneity: the type keeps its overall share
    # in each half — e1 = n_type * t1 / (t1 + t2)
    e1 = n_type * t1 / (t1 + t2).cast("double")
    e2 = n_type * t2 / (t1 + t2).cast("double")
    d1 = F.col("n_first") - e1
    d2 = F.col("n_second") - e2
    return counted.select(
        "event_type",
        "n_first",
        "n_second",
        F.round(F.col("n_first") / t1.cast("double"), 6).alias(
            "share_first"
        ),
        F.round(F.col("n_second") / t2.cast("double"), 6).alias(
            "share_second"
        ),
        F.round(d1 * d1 / e1 + d2 * d2 / e2, 6).alias("chi2_contrib"),
    )


_DQ_CATEGORY_DRIFT_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
), b AS (
  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev
), counted AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN day < d0 + CAST((d1 - d0) // 2 AS INTEGER)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
         CAST(SUM(CASE WHEN day >= d0 + CAST((d1 - d0) // 2 AS INTEGER)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_second
  FROM ev, b
  GROUP BY 1
), tot AS (
  SELECT event_type, n_first, n_second,
         CAST(SUM(n_first) OVER () AS BIGINT) AS t1,
         CAST(SUM(n_second) OVER () AS BIGINT) AS t2
  FROM counted
)
SELECT event_type, n_first, n_second,
       ROUND(n_first / CAST(t1 AS DOUBLE), 6) AS share_first,
       ROUND(n_second / CAST(t2 AS DOUBLE), 6) AS share_second,
       ROUND(
         (n_first - (n_first + n_second) * t1 / CAST(t1 + t2 AS DOUBLE))
         * (n_first - (n_first + n_second) * t1 / CAST(t1 + t2 AS DOUBLE))
         / ((n_first + n_second) * t1 / CAST(t1 + t2 AS DOUBLE))
         + (n_second - (n_first + n_second) * t2 / CAST(t1 + t2 AS DOUBLE))
         * (n_second - (n_first + n_second) * t2 / CAST(t1 + t2 AS DOUBLE))
         / ((n_first + n_second) * t2 / CAST(t1 + t2 AS DOUBLE)),
         6
       ) AS chi2_contrib
FROM tot
"""

# --------------------------------------------------------------------------
# multimodal_audio_silence — quiet-run detection over WAV frames
# --------------------------------------------------------------------------


def q_multimodal_audio_silence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``multimodal_audio_silence`` — per clip: total frames, QUIET
    frames (energy strictly below the clip's own mean frame energy —
    the threshold test cross-multiplies exact BIGINTs,
    ``energy · n_frames < Σ energy``, no float epsilon), and the
    longest consecutive quiet run (gaps-and-islands on the frame
    index). The silence/activity segmentation primitive — composed on
    the registered frame features
    (:func:`~.staged_r20.q_multimodal_audio_energy`), so the whole
    audio chain pack → decode → features → segmentation hash-checks.

    Scale: the frame relation is O(docs × frames-per-clip); the mean
    re-attach is a window keyed by doc, the run id one row_number
    subtraction, the rollup one counting aggregation — all on that
    bounded relation, zero additional scans of the payload."""
    # pin the frame relation: the totals and the quiet-run legs are
    # two consumers, and unpinned the Arrow WAV-decode pass would run
    # TWICE (the pinned-single-tokenizer rule, applied to the audio
    # modality — measured 2 MapInPandas nodes before the pin)
    feat = q_multimodal_audio_energy(spark, sf_dir).localCheckpoint(
        eager=False
    )
    per_doc = Window.partitionBy("doc_id")
    with_tot = feat.select(
        "doc_id",
        "frame_id",
        "energy",
        F.count(F.lit(1)).over(per_doc).alias("_nf"),
        F.sum("energy").over(per_doc).alias("_te"),
    )
    quiet = with_tot.where(
        F.col("energy") * F.col("_nf") < F.col("_te")
    )
    runs = quiet.withColumn(
        "_run",
        F.col("frame_id")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("frame_id")
        ),
    )
    run_lens = runs.groupBy("doc_id", "_run").agg(
        F.count(F.lit(1)).alias("_len")
    )
    per_doc_quiet = run_lens.groupBy("doc_id").agg(
        F.sum("_len").cast("bigint").alias("n_quiet"),
        F.max("_len").cast("bigint").alias("longest_quiet_run"),
    )
    totals = with_tot.groupBy("doc_id").agg(
        F.max("_nf").cast("bigint").alias("n_frames")
    )
    return (
        totals.join(per_doc_quiet, "doc_id", "left")
        .select(
            "doc_id",
            "n_frames",
            F.coalesce(F.col("n_quiet"), F.lit(0).cast("bigint")).alias(
                "n_quiet"
            ),
            F.coalesce(
                F.col("longest_quiet_run"), F.lit(0).cast("bigint")
            ).alias("longest_quiet_run"),
        )
    )


_MULTIMODAL_AUDIO_SILENCE_ORACLE = f"""
WITH feat AS (
  {_MULTIMODAL_AUDIO_ENERGY_ORACLE}
), with_tot AS (
  SELECT doc_id, frame_id, energy,
         COUNT(*) OVER (PARTITION BY doc_id) AS nf,
         CAST(SUM(energy) OVER (PARTITION BY doc_id) AS BIGINT) AS te
  FROM feat
), quiet AS (
  SELECT doc_id, frame_id,
         frame_id - ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY frame_id
         ) AS run
  FROM with_tot WHERE energy * nf < te
), run_lens AS (
  SELECT doc_id, run, COUNT(*) AS len FROM quiet GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(SUM(len) AS BIGINT) AS n_quiet,
         CAST(MAX(len) AS BIGINT) AS longest_quiet_run
  FROM run_lens GROUP BY 1
)
SELECT t.doc_id,
       CAST(MAX(t.nf) AS BIGINT) AS n_frames,
       COALESCE(MAX(p.n_quiet), 0) AS n_quiet,
       COALESCE(MAX(p.longest_quiet_run), 0) AS longest_quiet_run
FROM with_tot t LEFT JOIN per_doc p ON p.doc_id = t.doc_id
GROUP BY t.doc_id
"""

# --------------------------------------------------------------------------

STAGED_R23_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_market_share": q_rel_market_share,
    "text_hapax_rate": q_text_hapax_rate,
    "dq_category_drift": q_dq_category_drift,
    "multimodal_audio_silence": q_multimodal_audio_silence,
}

STAGED_R23_ORACLES: dict[str, str] = {
    "rel_market_share": _REL_MARKET_SHARE_ORACLE,
    "text_hapax_rate": _TEXT_HAPAX_RATE_ORACLE,
    "dq_category_drift": _DQ_CATEGORY_DRIFT_ORACLE,
    "multimodal_audio_silence": _MULTIMODAL_AUDIO_SILENCE_ORACLE,
}
