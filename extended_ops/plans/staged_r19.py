"""Registry batch r19: three capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity, and
``tests/test_staged_r19.py`` holds its content checks.

Families: the quantile-sketch MERGE invariant (merged per-group
sketches hash-check row-for-row against a direct build over the union
— the mergeability claim every rollup architecture rests on, proven
cross-engine), the TPC-H Q17 small-quantity revenue shape in exact
cent arithmetic, and integer-exact per-bucket z-score anomalies.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import sketches as K
from ..sources.tables import load_table
from .extended import _cents

# --------------------------------------------------------------------------
# agg_quantile_merge — the sketch mergeability invariant, cross-engine
# --------------------------------------------------------------------------

QMERGE_K = 128

_SQL_EVENT_DRAW = (
    "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)"
)


def q_agg_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_quantile_merge`` — per-event-type quantile sketches
    re-aggregated into ONE global sketch
    (:func:`~..operators.sketches.quantile_sketch_merge`), registered
    through the mergeability invariant: because draws are
    content-derived (md5 of the row key), ``bottomk(∪ groups) =
    bottomk(∪ bottomk(group))`` EXACTLY, so the merged sketch's rows
    hash-check against a DuckDB bottom-k built DIRECTLY over the raw
    relation — two different constructions (hierarchical merge vs flat
    build), one relation, row for row. This is the daily-partials →
    monthly-rollup path every sketch architecture runs; the registered
    check is what makes it safe. Shape: per-group WindowGroupLimit
    (≤ k rows/group forwarded per task) then one ≤ k·groups-row
    group-limit — raw data touched once."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    per_type = K.quantile_sketch_table(
        ev,
        "value",
        key_col="event_id",
        group_cols=["event_type"],
        k=QMERGE_K,
    )
    merged = K.quantile_sketch_merge(per_type, k=QMERGE_K)
    return merged.select("qs_key", F.round("qs_value", 6).alias("qs_value"))


_AGG_QUANTILE_MERGE_ORACLE = f"""
SELECT event_id AS qs_key, ROUND(value, 6) AS qs_value
FROM (
  SELECT event_id, value,
         ROW_NUMBER() OVER (
           ORDER BY {_SQL_EVENT_DRAW}, event_id, value
         ) AS rn
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND event_id IS NOT NULL
) WHERE rn <= {QMERGE_K}
"""

# --------------------------------------------------------------------------
# rel_small_quantity — the TPC-H Q17 shape, exact cent arithmetic
# --------------------------------------------------------------------------

#: Q17's 0.2·avg threshold as exact integers: qty < avg/5 ⟺
#: 5·n·cents(qty) < Σ cents(qty) — no float compare anywhere.
SMALLQTY_FRAC_DEN = 5


def q_rel_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_small_quantity`` — TPC-H Q17 generalized to every brand:
    per brand, the average yearly revenue lost if small-quantity
    lineitems (quantity below 20% of that PART's average) moved to
    scheduled bulk orders: ``sum(extendedprice)/7`` over qualifying
    lines. The classic correlated-subquery shape, expressed as one
    per-part aggregate joined back (Catalyst's decorrelation by hand —
    no per-row subquery exists at plan time). All arithmetic is exact
    cent-scaled BIGINTs (the ``rel_pricing_summary`` rule); the only
    doubles are the final /100 and /7, identical single ops.

    Scale: the per-part aggregate collapses lineitem map-side to
    O(parts); the threshold join carries (part → two integers) and
    broadcasts; part is a broadcast dim."""
    li = load_table(spark, sf_dir, "lineitem", spread=False)
    part = load_table(spark, sf_dir, "part", spread=False)
    cq = _cents("l_quantity")
    cp = _cents("l_extendedprice")
    lines = li.where(
        F.col("l_partkey").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_extendedprice").isNotNull()
    ).select("l_partkey", cq.alias("_cq"), cp.alias("_cp"))
    per_part = lines.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_cq").alias("_sq")
    )
    small = (
        lines.join(F.broadcast(per_part), "l_partkey")
        .where(
            F.col("_cq") * F.lit(SMALLQTY_FRAC_DEN) * F.col("_n")
            < F.col("_sq")
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
    )
    return small.groupBy("p_brand").agg(
        F.round(
            F.sum("_cp") / F.lit(100.0) / F.lit(7.0), 6
        ).alias("avg_yearly")
    )


_REL_SMALL_QUANTITY_ORACLE = f"""
WITH lines AS (
  SELECT l_partkey,
         CAST(ROUND(l_quantity * 100) AS BIGINT) AS cq,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cp
  FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_quantity IS NOT NULL
    AND l_extendedprice IS NOT NULL
), per_part AS (
  SELECT l_partkey, COUNT(*) AS n, SUM(cq) AS sq
  FROM lines GROUP BY l_partkey
)
SELECT p.p_brand,
       ROUND(SUM(l.cp) / 100.0 / 7.0, 6) AS avg_yearly
FROM lines l
JOIN per_part pp ON l.l_partkey = pp.l_partkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.cq * {SMALLQTY_FRAC_DEN} * pp.n < pp.sq
GROUP BY p.p_brand
"""

# --------------------------------------------------------------------------
# win_zscore — integer-exact per-bucket anomaly scores
# --------------------------------------------------------------------------

ZSCORE_FLAG = 2.0


def q_win_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``win_zscore`` — per event type, each hourly bucket's z-score
    against that type's own rate distribution, with an anomaly flag at
    |z| ≥ 2: the per-bucket complement of ``win_changepoint`` (CUSUM
    finds sustained shifts; the z-score flags single-bucket spikes).
    Exact construction: z = (n·x − s) / sqrt(n·Σx² − s²) — numerator
    and radicand are exact BIGINTs (population-variance identity
    scaled by n²), sqrt is IEEE-correctly-rounded, one division —
    identical doubles on both engines, rounded 6dp by convention.
    Constant series (radicand 0) yield NULL z, not a division blowup.

    Scale: the count collapse absorbs event volume map-side; the
    moment windows ride O(types × hours)."""
    ev = load_table(spark, sf_dir, "events", spread=False)
    hourly = (
        ev.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("_k"),
            F.date_trunc("hour", F.col("ts")).alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    per_key = Window.partitionBy("_k")
    n = F.count(F.lit(1)).over(per_key)
    s = F.sum("_x").over(per_key)
    s2 = F.sum(F.col("_x") * F.col("_x")).over(per_key)
    rad = (n * s2 - s * s).cast("double")
    z = F.when(
        rad > 0,
        F.round((n * F.col("_x") - s) / F.sqrt(rad), 6),
    )
    return hourly.select(
        F.col("_k").alias("event_type"),
        F.col("_b").alias("bucket"),
        F.col("_x").alias("n"),
        z.alias("z"),
        (F.abs(z) >= ZSCORE_FLAG).alias("is_anomaly"),
    )


_WIN_ZSCORE_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS x
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), m AS (
  SELECT event_type, hr, x,
         COUNT(*) OVER (PARTITION BY event_type) AS n,
         SUM(x) OVER (PARTITION BY event_type) AS s,
         SUM(x * x) OVER (PARTITION BY event_type) AS s2
  FROM hourly
), zs AS (
  SELECT event_type, hr AS bucket, x AS n,
         CASE WHEN n * s2 - s * s > 0 THEN
           ROUND(
             (n * x - s) / SQRT(CAST(n * s2 - s * s AS DOUBLE)), 6
           )
         END AS z
  FROM m
)
SELECT event_type, bucket, n, z, (ABS(z) >= {ZSCORE_FLAG}) AS is_anomaly
FROM zs
"""

# --------------------------------------------------------------------------

STAGED_R19_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "agg_quantile_merge": q_agg_quantile_merge,
    "rel_small_quantity": q_rel_small_quantity,
    "win_zscore": q_win_zscore,
}

STAGED_R19_ORACLES: dict[str, str] = {
    "agg_quantile_merge": _AGG_QUANTILE_MERGE_ORACLE,
    "rel_small_quantity": _REL_SMALL_QUANTITY_ORACLE,
    "win_zscore": _WIN_ZSCORE_ORACLE,
}
