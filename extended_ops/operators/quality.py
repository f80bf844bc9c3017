"""Data-quality audit operators.

``referential_audit`` checks foreign-key edges across a star/snowflake
schema in one DataFrame: per edge, how many fact rows point at a parent
key that does not exist. The admission gate every warehouse load and
every training-data join runs before trusting a join's row counts —
an orphaned FK silently DROPS rows from inner joins and NULL-pollutes
left joins, and at 100 TB nobody eyeballs that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def referential_audit(
    edges: "list[tuple[str, DataFrame, str, DataFrame, str]]",
) -> DataFrame:
    """Audit FK → PK edges: ``edges`` is a list of ``(edge_name, fact,
    fk_col, dim, pk_col)``. Output one row per edge — ``(edge,
    fact_rows, orphan_rows, distinct_orphan_keys)`` — where a row is an
    orphan when its FK value has no matching PK row. NULL FKs are NOT
    orphans (SQL FK semantics: a null reference is absent, not
    dangling); they are excluded from ``fact_rows`` too, so
    ``orphan_rows/fact_rows`` reads as "share of actual references that
    dangle".

    Plan, per edge: project the fact table to its single FK column
    (column pruning reaches the scan — the audit never reads payload
    bytes), LEFT join the dim's distinct PK relation, and aggregate
    counts in one pass. The dim side is distinct-key only and joins
    broadcast when small (TPC-H dims; Catalyst/AQE decide by size —
    no hint needed for the general case, since a genuinely huge dim
    must shuffle anyway). All edges union into one DAG, so one action
    audits the whole schema; each edge's subtree is independent and
    schedules in parallel.

    Orphan DETECTION is exercised, not assumed: callers that want a
    non-vacuous check plant known-dangling rows (see the registered
    ``dq_referential`` query) the same way ``text_clean`` injects known
    junk — an all-zeros audit over clean data proves nothing about the
    operator.
    """
    if not edges:
        raise ValueError("referential_audit needs at least one edge")
    per_edge = []
    for name, fact, fk_col, dim, pk_col in edges:
        refs = fact.select(F.col(fk_col).alias("_fk")).where(
            F.col(fk_col).isNotNull()
        )
        pks = dim.select(F.col(pk_col).alias("_pk")).distinct()
        joined = refs.join(pks, refs["_fk"] == pks["_pk"], "left")
        agg = joined.agg(
            F.count(F.lit(1)).alias("fact_rows"),
            F.count(F.when(F.col("_pk").isNull(), 1)).alias("orphan_rows"),
            F.count_distinct(
                F.when(F.col("_pk").isNull(), F.col("_fk"))
            ).alias("distinct_orphan_keys"),
        )
        per_edge.append(
            agg.select(
                F.lit(name).alias("edge"),
                "fact_rows",
                "orphan_rows",
                "distinct_orphan_keys",
            )
        )
    out = per_edge[0]
    for df in per_edge[1:]:
        out = out.unionByName(df)
    return out


def expectations_audit(
    df: DataFrame,
    rules: "list[tuple[str, object]]",
) -> DataFrame:
    """Rule-based data-quality audit (the Great-Expectations shape as a
    single relational pass): ``rules`` is an ordered list of
    ``(rule_name, violation_predicate_column)``; output is one row per
    rule — ``(rule, rows_checked, violations)`` — where
    ``rows_checked`` is the table's row count and ``violations`` counts
    rows where the predicate is TRUE. A NULL predicate result counts as
    NOT violated (three-valued logic: an unevaluable rule is not
    evidence of a violation — write ``col.isNull() | bad`` to treat
    NULLs as failures explicitly).

    Plan: ONE aggregation pass over ONE scan — every rule compiles to a
    conditional count in the same aggregate (column pruning still
    reaches parquet: only columns referenced by some rule are read),
    then the one-row wide result melts to tall via Spark's native
    UNPIVOT ``Expand``, a zero-shuffle generate. The per-rule
    union alternative scans the table once PER RULE; at 100 TB the
    audit must cost one pass no matter how many rules ride it.
    """
    if not rules:
        raise ValueError("expectations_audit needs at least one rule")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    wide = df.agg(
        F.count(F.lit(1)).alias("_rows"),
        *[
            F.count(F.when(pred, 1)).alias(f"_v{i}")
            for i, (_, pred) in enumerate(rules)
        ],
    )
    # one-row wide -> tall: the rule axis is a generate, not a join/union
    stacked = wide.unpivot(
        [F.col("_rows")],
        [F.col(f"_v{i}").alias(name) for i, (name, _) in enumerate(rules)],
        "rule",
        "violations",
    )
    return stacked.select(
        "rule",
        F.col("_rows").alias("rows_checked"),
        "violations",
    )


def freshness_audit(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    sla_hours: int,
) -> DataFrame:
    """``dq_freshness`` — per-key data-freshness audit: for every key,
    the last observed timestamp, its staleness against the NEWEST
    timestamp anywhere in the relation, and the SLA verdict. Output
    ``(key, last_ts, staleness_hours, is_stale)`` — the "which feeds
    stopped updating" check every ingestion pipeline runs (the
    freshness half of the referential/expectations audit family).

    The anchor is data-derived (global ``max(ts)``) rather than
    wall-clock ``now()`` — deliberately: the relation stays a pure
    function of its input (reproducible, hash-checkable, the engine's
    no-``Date.now()`` rule), and in practice batch freshness is always
    judged against the batch's own high-water mark. ``staleness_hours``
    is INTEGER arithmetic end-to-end (microsecond difference, integer
    division by 3.6e9) — exact in any engine; the SLA compare is
    strict ``>``.

    Plan: one map-side-combining ``groupBy(key).max(ts)`` (the only
    event-volume stage, shuffling O(keys) rows), then the 1-row global
    anchor — itself an aggregate OVER THE PER-KEY MAXES, not a second
    scan — broadcast back via the engine's 1-row crossJoin idiom. NULL
    timestamps never advance ``max``; keys with ONLY NULL timestamps
    are maximally stale by definition and surface with NULL ``last_ts``
    and NULL staleness but ``is_stale = true`` (a feed that never
    produced a valid timestamp is exactly what the audit must flag,
    not drop).
    """
    if sla_hours < 1:
        raise ValueError(f"sla_hours must be >= 1; got {sla_hours}")
    per_key = df.groupBy(key_col).agg(F.max(ts_col).alias("last_ts"))
    anchor = per_key.agg(F.max("last_ts").alias("_anchor"))
    # NTZ cast (the unix_micros gotcha); FLOOR the double division on
    # both engines, never bare double->bigint cast (Spark truncates,
    # DuckDB rounds) — exact for the same reason as gap_sessions
    staleness = F.floor(
        (
            F.unix_micros(F.col("_anchor").cast("timestamp"))
            - F.unix_micros(F.col("last_ts").cast("timestamp"))
        )
        / F.lit(3_600_000_000)
    ).cast("bigint")
    return per_key.crossJoin(F.broadcast(anchor)).select(
        key_col,
        "last_ts",
        staleness.alias("staleness_hours"),
        F.when(F.col("last_ts").isNull(), F.lit(True))
        .otherwise(staleness > F.lit(sla_hours))
        .alias("is_stale"),
    )


def regularity_audit(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    min_events: int = 20,
    top_gap_share_threshold: float = 0.5,
) -> DataFrame:
    """``dq_bot_regularity`` — behavioral-regularity audit: humans emit
    events with messy inter-arrival gaps; schedulers, scrapers and
    replay loops emit the SAME gap over and over. Per key: event/gap
    counts, how concentrated the gap distribution is
    (``top_gap_share`` — the modal gap's share of all gaps; a perfectly
    periodic bot scores 1.0), how concentrated the hour-of-day profile
    is (``top_hour_share``), and the suspect verdict
    (``n_events ≥ min_events AND top_gap_share > threshold``).

    Signal design follows the engine's exact-math rule (the
    Simpson-not-Shannon decision in char_diversity): regularity is
    measured by COUNTING RATIOS — modal-share = max(count)/total, one
    IEEE division rounded to 6dp — not by gap-variance (whose
    sum-of-squares rides each engine's aggregation order) or entropy
    (libm). Gaps compare as exact integer microseconds, so "the same
    gap" is byte-precise.

    Plan: one keyed window exchange computes lag gaps; the gap-modal
    and hour-modal shares are each a (key, value) counting aggregation
    + an argmax rollup — both partial-aggregate map-side, and all three
    post-window aggregations reuse the window's key partitioning
    (subset clustering). NULL timestamps are excluded up front (the
    engine-portable rule); single-event keys have no gaps and report
    ``top_gap_share`` NULL, never suspect.
    """
    if min_events < 2:
        raise ValueError(f"min_events must be >= 2; got {min_events}")
    from pyspark.sql.window import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # the window orders by the MATERIALIZED _us column: ordering by the
    # ts-derived expression would reference a column the projection
    # below already dropped
    w = Window.partitionBy(key_col).orderBy(F.col("_us"))
    base = (
        df.where(F.col(ts_col).isNotNull())
        .select(
            key_col,
            us.alias("_us"),
            F.hour(F.col(ts_col).cast("timestamp")).alias("_hour"),
        )
        .withColumn("_gap", F.col("_us") - F.lag("_us").over(w))
    )
    events = base.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    gap_counts = (
        base.where(F.col("_gap").isNotNull())
        .groupBy(key_col, "_gap")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    gap_stats = gap_counts.groupBy(key_col).agg(
        F.sum("_c").cast("bigint").alias("n_gaps"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_gaps"),
        F.max("_c").cast("bigint").alias("_modal"),
    ).withColumnRenamed(key_col, "_gk")
    hour_counts = base.groupBy(key_col, "_hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("_hc")
    )
    hour_stats = hour_counts.groupBy(key_col).agg(
        F.sum("_hc").cast("bigint").alias("_htotal"),
        F.max("_hc").cast("bigint").alias("_hmodal"),
    ).withColumnRenamed(key_col, "_hk")
    # the verdict compares the UNROUNDED ratio (one IEEE division —
    # identical in any engine); only the REPORTED share is 6dp-rounded.
    # Rounding inside the comparison would flip verdicts in the
    # (threshold, threshold + 5e-7] band once a key accumulates ~1M
    # gaps (review r11b #1 — the paired oracle compares unrounded too).
    raw_share = F.col("_modal").cast("double") / F.col("n_gaps").cast(
        "double"
    )
    # null-safe joins: a NULL-key cohort (events behind a missing id —
    # often the MOST suspicious traffic) must be audited, not silently
    # dropped by the equi-join (review r11b #3; the oracle mirrors with
    # IS NOT DISTINCT FROM)
    return (
        events.join(
            gap_stats, F.col(key_col).eqNullSafe(F.col("_gk")), "left"
        )
        .join(hour_stats, F.col(key_col).eqNullSafe(F.col("_hk")))
        .select(
            key_col,
            "n_events",
            F.coalesce(F.col("n_gaps"), F.lit(0).cast("bigint")).alias(
                "n_gaps"
            ),
            F.coalesce(
                F.col("n_distinct_gaps"), F.lit(0).cast("bigint")
            ).alias("n_distinct_gaps"),
            F.round(raw_share, 6).alias("top_gap_share"),
            F.round(
                F.col("_hmodal").cast("double")
                / F.col("_htotal").cast("double"),
                6,
            ).alias("top_hour_share"),
            (
                (F.col("n_events") >= F.lit(min_events))
                & (raw_share > F.lit(top_gap_share_threshold))
            ).alias("is_suspect"),
        )
    )


#: Benford expected first-digit shares log10(1 + 1/d), d = 1..9 —
#: INLINED literals (computed once, pinned here) so the Spark plan and
#: the DuckDB oracle consume bit-identical constants instead of each
#: calling its own libm log10 (the tfidf no-log rule applies to the
#: oracle path; a constant table is how a log-DEFINED quantity crosses
#: it). Sum is 1 up to representation error.
BENFORD_SHARES = {
    1: 0.30102999566398114,
    2: 0.17609125905568124,
    3: 0.12493873660829985,
    4: 0.09691001300805639,
    5: 0.07918124604762478,
    6: 0.06694678963061318,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}


def benford_audit(
    df: DataFrame,
    *,
    value_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """First-significant-digit distribution audit (Benford's law): per
    group and digit 1-9, ``(group_cols..., digit, n_obs, obs_share,
    benford_share, abs_dev, chi2)`` — observed share, the Benford
    expectation, their absolute gap, and the group's total χ² statistic
    Σ_d (obs_d − n·p_d)²/(n·p_d) repeated on each of its rows. The
    fraud/fabrication screen for value columns that SHOULD be
    scale-invariant (prices, populations, file sizes): conforming data
    hugs the log-uniform shares, generated or clamped data shows up as
    a large χ² — either answer is the audit's point.

    Every group emits ALL NINE digit rows: digits absent from the data
    appear with ``n_obs = 0`` so their χ² terms — (0 − n·p_d)²/(n·p_d)
    = n·p_d — are counted, not silently dropped. That matters exactly
    when the data is most anomalous (fabricated values that skip whole
    digits would otherwise UNDERSTATE χ², inverting the audit's
    verdict), so the statistic is the full Σ_d over the 1–9 domain,
    never an observed-support subset.

    Digit extraction is string-slicing an exact integer — ``floor`` to
    BIGINT, cast to string, first char — never ``log10(x)``/``pow``:
    integer-to-string is bit-exact on every engine while float log is
    libm-dependent (the BENFORD_SHARES rule, applied to data this
    time). Rows with NULL, non-finite, or |x| < 1 values are excluded
    (their first significant digit would need the log path; for audit
    purposes sub-unit values are a separate population anyway —
    document the exclusion, don't guess digits). So are |x| ≥ 9.2e18
    values: past Long.MaxValue the double→BIGINT cast SATURATES in
    Spark (digit '9') where ANSI engines raise — excluding the band
    keeps the digit exact on every engine rather than an artifact of
    one engine's overflow policy.

    Scale shape: ONE scan, ONE map-side-combining conditional
    aggregation into nine counting columns per group (O(groups) rows);
    the domain fill, n_total, χ² and the 9-row explode are all
    projections over that bounded wide relation — no windows, no
    domain join, and the χ² summation order is an explicit
    left-associated expression both engines evaluate identically.
    Group-key skew is irrelevant — the hot group collapses scan-side
    like every counting aggregate here.
    """
    group_cols = list(group_cols or [])
    x = F.abs(F.col(value_col))
    ok = (
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
        & (x >= 1)
        # < 9.2e18, not just finite: beyond Long.MaxValue the
        # double->long cast saturates (non-ANSI Spark) or raises (ANSI
        # engines) — either way the digit is no longer the data's
        & (x < 9.2e18)
    )
    digit = F.substring(
        F.floor(x).cast("long").cast("string"), 1, 1
    ).cast("int")
    # ONE conditional aggregation carries the whole 1..9 domain as nine
    # counting columns (absent digits are exact zeros, never dropped
    # rows), so the domain fill, n_total, and chi2 are all PROJECTIONS
    # over the O(groups)-row wide relation: one scan, one exchange, no
    # windows, no domain join. The chi2 sum is an EXPLICIT
    # left-associated 9-term expression — the oracle spells out the
    # identical parenthesization, so the float summation order is
    # pinned by construction (a window SUM would leave it to each
    # engine's partition order).
    wide = df.where(ok).groupBy(*group_cols).agg(
        *[
            # coalesce: the UNGROUPED aggregate over zero ok-rows still
            # emits its one row — zeros, not NULLs
            F.coalesce(F.sum(F.when(digit == d, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias(f"_n{d}")
            for d in range(1, 10)
        ]
    )
    n_total = sum((F.col(f"_n{d}") for d in range(2, 10)), F.col("_n1"))
    chi2 = None
    for d in range(1, 10):
        exp_d = F.lit(BENFORD_SHARES[d]) * n_total
        diff = F.col(f"_n{d}") - exp_d
        # explicit multiply, not `** 2`: squaring must be the same
        # single IEEE op on both engines, not a libm pow
        term = diff * diff / exp_d
        chi2 = term if chi2 is None else chi2 + term
    wide = wide.select(
        *group_cols,
        n_total.alias("_nt"),
        F.round(chi2, 6).alias("_chi2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("digit"),
                        F.col(f"_n{d}").alias("n_obs"),
                        F.lit(BENFORD_SHARES[d]).alias("benford_share"),
                    )
                    for d in range(1, 10)
                ]
            )
        ).alias("_e"),
    )
    obs_share = F.round(F.col("_e.n_obs") / F.col("_nt"), 6)
    return wide.select(
        *group_cols,
        F.col("_e.digit").alias("digit"),
        F.col("_e.n_obs").alias("n_obs"),
        obs_share.alias("obs_share"),
        F.col("_e.benford_share").alias("benford_share"),
        F.round(
            F.abs(obs_share - F.col("_e.benford_share")), 6
        ).alias("abs_dev"),
        F.col("_chi2").alias("chi2"),
    )
