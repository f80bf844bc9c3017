"""Registry batch r28: four capabilities. Each key is a complete (query
callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py`` replays
every pair with hash parity + non-vacuity, and
``tests/test_staged_r28.py`` holds its content checks.

Families: Holt linear smoothing (the trend-aware telemetry smoother —
the ``win_ewma`` exact-fold machinery extended to a STRUCT
accumulator, still bit-identical cross-engine because both engines
fold the identical frame list with the identical IEEE op stream and
the α = β = ¼ literals are exact binary fractions), burstiness
(the Fano factor of daily counts per type — over/under-dispersion
from three exact integer moments, the cheapest bot/campaign screen
next to ``dq_bot_regularity``'s modal-gap test), revenue
concentration (the Pareto table: the top-1/5/10% customers' share of
exact cent revenue, cutoffs by POSITIONAL rank so no percentile
interpolation exists), and the per-source document-length Gini
(corpus length inequality from the sorted positional formula — exact
BIGINT numerator, one division).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.timeseries import holt_smooth
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# win_holt — Holt linear (level + trend) smoothing
# --------------------------------------------------------------------------

#: α = β = ¼: exact binary fractions — the smoothing literals parse to
#: the identical double on any engine (the no-decimal-drift rule).
HOLT_ALPHA = 0.25
HOLT_BETA = 0.25
HOLT_WINDOW = 12


def q_win_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_holt`` — Holt linear smoothing of hourly event rates per
    type (:func:`~..operators.timeseries.holt_smooth`): level AND
    trend, the ``win_ewma`` recursion extended to a struct
    accumulator. Both engines fold the identical bounded frame list
    in the identical order — the l′ expression is repeated verbatim
    inside the trend update on both sides — so every IEEE op matches
    term for term."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    return holt_smooth(
        ev,
        key_col="event_type",
        ts_col="ts",
        bucket="hour",
        alpha=HOLT_ALPHA,
        beta=HOLT_BETA,
        window=HOLT_WINDOW,
    )


#: The accumulator is a 2-element LIST [level, trend], NOT a struct:
#: DuckDB v1.0.0's ``list_reduce`` mutates a STRUCT accumulator
#: field-by-field while evaluating the struct-literal lambda, so the
#: second field's expression reads the FIRST field's already-updated
#: value (observed: {'b': ...a.l...} saw the new l — trend diverged on
#: any frame ≥ 3 while level matched). A list accumulator evaluates
#: both elements against the pre-step value, matching Spark's
#: ``F.aggregate`` struct semantics exactly (verified element-wise
#: against a pure-Python fold).
_WIN_HOLT_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), framed AS (
  SELECT event_type, hr, x,
         list(CAST(x AS DOUBLE)) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN {HOLT_WINDOW - 1} PRECEDING AND CURRENT ROW
         ) AS l
  FROM hourly
), folded AS (
  SELECT event_type, hr, x,
         list_reduce(
           list_transform(
             l, v -> [CAST(v AS DOUBLE), CAST(0.0 AS DOUBLE)]
           ),
           (a, e) -> [
             e[1] * CAST({HOLT_ALPHA!r} AS DOUBLE)
               + (a[1] + a[2]) * CAST({1.0 - HOLT_ALPHA!r} AS DOUBLE),
             ((e[1] * CAST({HOLT_ALPHA!r} AS DOUBLE)
               + (a[1] + a[2]) * CAST({1.0 - HOLT_ALPHA!r} AS DOUBLE))
              - a[1]) * CAST({HOLT_BETA!r} AS DOUBLE)
               + a[2] * CAST({1.0 - HOLT_BETA!r} AS DOUBLE)
           ]
         ) AS acc
  FROM framed
)
SELECT event_type, hr AS bucket, CAST(x AS BIGINT) AS n,
       ROUND(acc[1], 6) AS level, ROUND(acc[2], 6) AS trend
FROM folded
"""

# --------------------------------------------------------------------------
# win_burstiness — the Fano factor of daily counts
# --------------------------------------------------------------------------


def q_win_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_burstiness`` — per event type, the Fano factor
    (variance/mean) of its daily count series: 1 ≈ Poisson arrivals,
    ≫1 bursty campaigns, ≪1 metronomic bots — the cheapest
    dispersion screen next to ``dq_bot_regularity``'s modal-gap test.
    Derived from three exact integer moments (n, Σc, Σc²) in a fixed
    IEEE sequence — no cross-row float sum exists to diverge (the
    ``win_autocorr`` integer-moment discipline).

    100 TB plan: events collapse map-side to O(types × days); the
    moment aggregate collapses that to O(types)."""
    ev = load_table(spark, sf_dir, "events", spread=False).where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type",
        F.to_date(F.col("ts").cast("timestamp")).alias("_d"),
    ).agg(F.count(F.lit(1)).alias("_c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("_c").alias("total_events"),
        F.sum(F.col("_c") * F.col("_c")).alias("_sum_sq"),
    )
    mean = F.col("total_events") / F.col("n_days").cast("double")
    var = F.col("_sum_sq") / F.col("n_days").cast("double") - mean * mean
    return m.select(
        "event_type",
        "n_days",
        "total_events",
        F.round(var / mean, 6).alias("fano"),
    )


_WIN_BURSTINESS_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         COUNT(*) AS c
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), m AS (
  SELECT event_type,
         COUNT(*) AS n_days,
         CAST(SUM(c) AS BIGINT) AS total_events,
         CAST(SUM(c * c) AS BIGINT) AS sum_sq
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, total_events,
       ROUND(
         (sum_sq / CAST(n_days AS DOUBLE)
          - (total_events / CAST(n_days AS DOUBLE))
            * (total_events / CAST(n_days AS DOUBLE)))
         / (total_events / CAST(n_days AS DOUBLE)), 6
       ) AS fano
FROM m
"""

# --------------------------------------------------------------------------
# rel_pareto_share — revenue concentration (the Pareto table)
# --------------------------------------------------------------------------

PARETO_PCTS = (1, 5, 10)


def q_rel_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_pareto_share`` — what share of total order revenue the
    top 1/5/10% of customers hold (by exact cent revenue, ties by
    custkey): the concentration table every account-risk and
    whale-analysis readout starts from. Cutoffs are POSITIONAL —
    ``ceil(n·pct/100)`` customers by rank — so no percentile
    interpolation semantics exist to diverge (the
    ``rel_order_gap_median`` selection discipline).

    100 TB plan: orders collapse map-side to O(customers) exact cent
    rows; the rank window runs over that dimension-sized relation (a
    single-partition sort of O(customers) rows — the documented
    ``rel_quantiles_dist`` class, never the fact table); one
    conditional aggregate emits the 3-row table."""
    orders = load_table(spark, sf_dir, "orders", spread=False)
    per = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "_r2"
        )
    )
    w = Window.orderBy(F.desc("_r2"), F.asc("o_custkey"))
    ranked = per.select(
        "_r2",
        F.row_number().over(w).alias("_rank"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1))
        ).alias("_n"),
    )
    cut = {
        p: F.ceil(F.col("_n") * p / F.lit(100.0)).cast("bigint")
        for p in PARETO_PCTS
    }
    wide = ranked.agg(
        F.max("_n").alias("_nc"),
        F.sum("_r2").alias("_total"),
        *[
            F.sum(
                F.when(F.col("_rank") <= cut[p], F.col("_r2")).otherwise(
                    0
                )
            ).alias(f"_top{p}")
            for p in PARETO_PCTS
        ],
    )
    rows = [
        F.struct(
            F.lit(p).cast("bigint").alias("pct"),
            F.ceil(F.col("_nc") * p / F.lit(100.0))
            .cast("bigint")
            .alias("n_top"),
            F.round(F.col(f"_top{p}") / F.lit(100.0), 2).alias(
                "top_revenue"
            ),
            F.round(F.col("_total") / F.lit(100.0), 2).alias(
                "total_revenue"
            ),
            F.round(
                F.col(f"_top{p}") / F.col("_total").cast("double"), 6
            ).alias("share"),
        )
        for p in PARETO_PCTS
    ]
    return wide.select(F.explode(F.array(*rows)).alias("_e")).select(
        "_e.pct", "_e.n_top", "_e.top_revenue", "_e.total_revenue",
        "_e.share",
    )


def _pareto_oracle() -> str:
    legs = ",\n         ".join(
        f"CAST(SUM(CASE WHEN rank <= CEIL(n * {p} / 100.0)"
        f" THEN r2 ELSE 0 END) AS BIGINT) AS top{p}"
        for p in PARETO_PCTS
    )
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({p} AS BIGINT) AS pct,
       CAST(CEIL(nc * {p} / 100.0) AS BIGINT) AS n_top,
       ROUND(top{p} / 100.0, 2) AS top_revenue,
       ROUND(total / 100.0, 2) AS total_revenue,
       ROUND(top{p} / CAST(total AS DOUBLE), 6) AS share
FROM wide"""
        for p in PARETO_PCTS
    )
    return f"""
WITH per AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS r2
  FROM orders GROUP BY 1
), ranked AS (
  SELECT r2,
         ROW_NUMBER() OVER (ORDER BY r2 DESC, o_custkey ASC) AS rank,
         COUNT(*) OVER () AS n
  FROM per
), wide AS (
  SELECT MAX(n) AS nc, CAST(SUM(r2) AS BIGINT) AS total,
         {legs}
  FROM ranked
)
{rows}
"""


_REL_PARETO_SHARE_ORACLE = _pareto_oracle()

# --------------------------------------------------------------------------
# corpus_length_gini — per-source document-length inequality
# --------------------------------------------------------------------------


def q_corpus_length_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``corpus_length_gini`` — the Gini coefficient of document
    lengths per source: the corpus-mix inequality readout (a source
    whose length mass sits in a few huge documents packs, shards and
    trains differently from a uniform one). Computed by the sorted
    positional formula ``G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx)`` over
    length-ranked docs — the numerator is an exact BIGINT (lengths
    and ranks are integers), the result one division (the
    ``rel_order_gap_median`` exact-selection discipline applied to an
    inequality index). BIGINT bound: |2i−n−1| < n, so the numerator
    is < n²·max_len — widen to DECIMAL past ~3·10⁶ docs/source at
    10⁶-char docs (documented, far past bench scale).

    100 TB plan: one scan projecting (source, n_chars, doc_id); the
    rank window + both aggregates ride ONE source-keyed exchange."""
    docs = load_table(spark, sf_dir, "documents", spread=False).where(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    )
    w = Window.partitionBy("source").orderBy(
        F.asc("n_chars"), F.asc("doc_id")
    )
    ranked = docs.select(
        "source",
        F.col("n_chars").cast("bigint").alias("_x"),
        F.row_number().over(w).cast("bigint").alias("_i"),
        F.count(F.lit(1))
        .over(Window.partitionBy("source"))
        .cast("bigint")
        .alias("_n"),
    )
    num = F.sum(
        (F.lit(2) * F.col("_i") - F.col("_n") - F.lit(1)) * F.col("_x")
    )
    return ranked.groupBy("source").agg(
        F.max("_n").alias("n_docs"),
        F.sum("_x").alias("total_chars"),
        F.round(
            num / (F.max("_n") * F.sum("_x")).cast("double"), 6
        ).alias("gini"),
    )


_CORPUS_LENGTH_GINI_ORACLE = """
WITH ranked AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY n_chars ASC, doc_id ASC
         ) AS BIGINT) AS i,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM documents
  WHERE text IS NOT NULL AND n_chars IS NOT NULL
)
SELECT source,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(SUM(x) AS BIGINT) AS total_chars,
       ROUND(CAST(SUM((2 * i - n - 1) * x) AS BIGINT)
             / CAST(MAX(n) * SUM(x) AS DOUBLE), 6) AS gini
FROM ranked
GROUP BY 1
"""

# --------------------------------------------------------------------------

STAGED_R28_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "win_holt": q_win_holt,
    "win_burstiness": q_win_burstiness,
    "rel_pareto_share": q_rel_pareto_share,
    "corpus_length_gini": q_corpus_length_gini,
}

STAGED_R28_ORACLES: dict[str, str] = {
    "win_holt": _WIN_HOLT_ORACLE,
    "win_burstiness": _WIN_BURSTINESS_ORACLE,
    "rel_pareto_share": _REL_PARETO_SHARE_ORACLE,
    "corpus_length_gini": _CORPUS_LENGTH_GINI_ORACLE,
}
