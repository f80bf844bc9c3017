"""Registry batch r14: three capability families. Each key is a complete
(query callable, DuckDB oracle) pair; ``tests/test_oracle_parity.py``
replays every pair with hash parity + non-vacuity.

Families: JSON schema profiling (key/cardinality discovery over
semi-structured payloads), behavioral-regularity audit (planted
periodic bots), and size-2 association rules
(support/confidence/lift over order baskets).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.baskets import association_rules
from ..operators.profile import json_key_stats
from ..operators.quality import regularity_audit
from ..sources.tables import load_table

# --------------------------------------------------------------------------
# xform_props_schema — JSON key/cardinality discovery
# --------------------------------------------------------------------------


def q_xform_props_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``xform_props_schema`` — key/cardinality profile of a
    semi-structured JSON payload (:func:`~..operators.profile
    .json_key_stats`). The native ``props`` column is a single-key
    object, so the registration SYNTHESIZES a varied payload from typed
    event columns — identically in both engines, the clean_text
    dirty-wrapper pattern — with always-present, 1-in-3 and 1-in-5 keys
    so presence shares and cardinalities are all non-trivial."""
    events = load_table(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"uid": '),
        F.coalesce(F.col("user_id"), F.lit(-1)).cast("string"),
        F.lit(', "etype": "'),
        F.col("event_type"),
        F.lit('"'),
        F.when(
            F.col("event_id") % 3 == 0, F.lit(', "flag": true')
        ).otherwise(F.lit("")),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(
                F.lit(', "batch": "b'),
                (F.col("event_id") % 7).cast("string"),
                F.lit('"'),
            ),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return json_key_stats(
        events.select(payload.alias("props2")), json_col="props2"
    )


_XFORM_PROPS_SCHEMA_ORACLE = """
WITH built AS (
  SELECT '{"uid": ' || CAST(COALESCE(user_id, -1) AS VARCHAR)
      || ', "etype": "' || event_type || '"'
      || CASE WHEN event_id % 3 = 0 THEN ', "flag": true' ELSE '' END
      || CASE WHEN event_id % 5 = 0
              THEN ', "batch": "b' || CAST(event_id % 7 AS VARCHAR) || '"'
              ELSE '' END
      || '}' AS props2
  FROM events
), parsed AS (
  -- OBJECT check, not just validity: '123', '[1,2]' and 'null' are
  -- valid JSON that Spark's from_json-to-map rejects (NULL map), so
  -- they must leave the share denominator here too (review r11b #2)
  SELECT props2 FROM built
  WHERE json_valid(props2) AND json_type(props2) = 'OBJECT'
), total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM parsed
), keys AS (
  SELECT unnest(json_keys(props2)) AS key, props2 FROM parsed
), kv AS (
  -- json_extract_string strips value quoting, matching Spark's
  -- map<string,string> parse byte-for-byte ('69', 'view', 'true').
  -- The path segment is QUOTED so a key containing '.' or '[' is one
  -- key, not a nested navigation (review r11b #4); keys containing a
  -- literal '"' remain out of contract on the oracle side.
  SELECT key, json_extract_string(props2, '$."' || key || '"') AS v
  FROM keys
), per_kv AS (
  SELECT key, v, CAST(COUNT(*) AS BIGINT) AS c FROM kv GROUP BY 1, 2
)
SELECT key,
       CAST(SUM(c) AS BIGINT) AS n_present,
       ROUND(CAST(SUM(c) AS DOUBLE) / CAST(total.n_rows AS DOUBLE), 6)
         AS share,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_values
FROM per_kv, total
GROUP BY key, total.n_rows
"""

# --------------------------------------------------------------------------
# dq_bot_regularity — planted periodic bots
# --------------------------------------------------------------------------

BOT_BASE = "2024-01-05 00:00:00"
BOT_N = 3           # planted bots (user_ids 900001..900003)
BOT_EVENTS = 200    # events per bot
BOT_PERIOD_S = 600  # exact period: the regularity signature
REG_MIN_EVENTS = 20
REG_SHARE_THRESHOLD = 0.5


def q_dq_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dq_bot_regularity`` — inter-arrival-regularity audit
    (:func:`~..operators.quality.regularity_audit`) with DETERMINISTIC
    planted bots: three synthetic users emitting exactly-600-second
    event trains (modal-gap share 1.0 — generated by ``sequence`` here
    and ``generate_series`` in the oracle, identical timestamps), so
    bot DETECTION itself is hash-checked against real users' messy
    microsecond gaps (the dq planted-defect rule). Signals are counting
    ratios, never variance/entropy — the exact-math repertoire."""
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    base_us = F.unix_micros(F.lit(BOT_BASE).cast("timestamp"))
    bots = (
        spark.range(BOT_N)
        .select(
            (F.col("id") + 900001).alias("user_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(BOT_EVENTS - 1))
            ).alias("_i"),
        )
        .select(
            "user_id",
            F.timestamp_micros(
                base_us
                + (F.col("user_id") - 900000) * F.lit(3_600_000_000)
                # long cast: the sequence index is int32 and
                # 199 * 600e6 overflows an ANSI int multiply
                + F.col("_i").cast("long") * F.lit(BOT_PERIOD_S * 1_000_000)
                # the NTZ cast is LOAD-BEARING: the loader's events.ts
                # is TIMESTAMP_NTZ, and without it the union coerces
                # BOTH sides to LTZ (verified). Wall-clock identity
                # holds under the engine-wide pinned-UTC session
                # contract (conftest/bench/driver all pin UTC).
            ).cast("timestamp_ntz").alias("ts"),
        )
    )
    return regularity_audit(
        events.unionByName(bots),
        key_col="user_id",
        ts_col="ts",
        min_events=REG_MIN_EVENTS,
        top_gap_share_threshold=REG_SHARE_THRESHOLD,
    )


_DQ_BOT_REGULARITY_ORACLE = f"""
WITH bots AS (
  SELECT 900000 + u AS user_id,
         make_timestamp(
           epoch_us(TIMESTAMP '{BOT_BASE}')
           + u * 3600000000
           + i * {BOT_PERIOD_S * 1_000_000}
         ) AS ts
  FROM generate_series(1, {BOT_N}) t(u),
       generate_series(0, {BOT_EVENTS - 1}) s(i)
), fact AS (
  SELECT user_id, ts FROM events
  UNION ALL SELECT user_id, ts FROM bots
), base AS (
  SELECT user_id, epoch_us(ts) AS us, hour(ts) AS h
  FROM fact WHERE ts IS NOT NULL
), g AS (
  SELECT user_id, h, us,
         us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
  FROM base
), ev AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM base GROUP BY 1
), gc AS (
  SELECT user_id, gap, CAST(COUNT(*) AS BIGINT) AS c
  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
), gs AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_gaps,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_gaps,
         CAST(MAX(c) AS BIGINT) AS modal
  FROM gc GROUP BY 1
), hc AS (
  SELECT user_id, h, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
), hs AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS htotal,
         CAST(MAX(c) AS BIGINT) AS hmodal
  FROM hc GROUP BY 1
)
SELECT ev.user_id, ev.n_events,
       COALESCE(gs.n_gaps, 0) AS n_gaps,
       COALESCE(gs.n_distinct_gaps, 0) AS n_distinct_gaps,
       ROUND(CAST(gs.modal AS DOUBLE) / CAST(gs.n_gaps AS DOUBLE), 6)
         AS top_gap_share,
       ROUND(CAST(hs.hmodal AS DOUBLE) / CAST(hs.htotal AS DOUBLE), 6)
         AS top_hour_share,
       (ev.n_events >= {REG_MIN_EVENTS}
        AND CAST(gs.modal AS DOUBLE) / CAST(gs.n_gaps AS DOUBLE)
            > {REG_SHARE_THRESHOLD}) AS is_suspect
FROM ev
-- null-safe: the operator audits NULL-key cohorts too (review r11b #3)
LEFT JOIN gs ON gs.user_id IS NOT DISTINCT FROM ev.user_id
JOIN hs ON hs.user_id IS NOT DISTINCT FROM ev.user_id
"""

# --------------------------------------------------------------------------
# rel_assoc_rules — size-2 association rules over order baskets
# --------------------------------------------------------------------------

ASSOC_MIN_PAIR = 2
ASSOC_MAX_BASKET = 256


def q_rel_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rel_assoc_rules`` — directional part→part association rules
    over order baskets (:func:`~..operators.baskets.association_rules`):
    the ``rel_copurchase`` pairs-from-postings plan extended with item
    supports and the support/confidence/lift ratios that actually rank
    a pair's usefulness. Buffer-capped posting lists; every ratio an
    exact counting division."""
    li = load_table(spark, sf_dir, "lineitem", spread=False).select(
        "l_orderkey", "l_partkey"
    )
    return association_rules(
        li,
        basket_col="l_orderkey",
        item_col="l_partkey",
        min_pair_count=ASSOC_MIN_PAIR,
        max_basket_size=ASSOC_MAX_BASKET,
    )


_REL_ASSOC_RULES_ORACLE = f"""
WITH di AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), nb AS (
  SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM di
), sup AS (
  SELECT i, CAST(COUNT(*) AS BIGINT) AS ni FROM di GROUP BY 1
), sz AS (
  SELECT b, COUNT(*) AS s FROM di GROUP BY 1
), pairs AS (
  SELECT a.i AS x, c.i AS y
  FROM di a
  JOIN di c ON c.b = a.b AND a.i < c.i
  JOIN sz ON sz.b = a.b AND sz.s BETWEEN 2 AND {ASSOC_MAX_BASKET}
), pc AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= {ASSOC_MIN_PAIR}
), dir AS (
  SELECT x AS antecedent, y AS consequent, n_pair FROM pc
  UNION ALL
  SELECT y, x, n_pair FROM pc
)
SELECT d.antecedent, d.consequent, d.n_pair,
       sa.ni AS n_antecedent, sc.ni AS n_consequent,
       ROUND(CAST(d.n_pair AS DOUBLE) / CAST(nb.n AS DOUBLE), 6)
         AS support,
       ROUND(CAST(d.n_pair AS DOUBLE) / CAST(sa.ni AS DOUBLE), 6)
         AS confidence,
       ROUND((CAST(d.n_pair AS DOUBLE) * CAST(nb.n AS DOUBLE))
             / (CAST(sa.ni AS DOUBLE) * CAST(sc.ni AS DOUBLE)), 6)
         AS lift
FROM dir d
JOIN sup sa ON sa.i = d.antecedent
JOIN sup sc ON sc.i = d.consequent
CROSS JOIN nb
"""

# --------------------------------------------------------------------------

STAGED_R14_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "xform_props_schema": q_xform_props_schema,
    "dq_bot_regularity": q_dq_bot_regularity,
    "rel_assoc_rules": q_rel_assoc_rules,
}

STAGED_R14_ORACLES: dict[str, str] = {
    "xform_props_schema": _XFORM_PROPS_SCHEMA_ORACLE,
    "dq_bot_regularity": _DQ_BOT_REGULARITY_ORACLE,
    "rel_assoc_rules": _REL_ASSOC_RULES_ORACLE,
}
