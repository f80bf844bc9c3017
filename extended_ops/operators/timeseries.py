"""Time-series resample / gap-fill — regularize an event stream onto a
fixed bucket grid per key, materializing the missing buckets and carrying
observations forward.

The operator class behind downsampling ("hourly rollup with no holes"),
feature windows for training pipelines ("activity vector per user per
hour, zeros where idle"), and monitor-style queries over the reference's
audit stream (a session count per poll interval with explicit empty
intervals, cf. the reference's windowed session aggregation —
flink-audit-sessions-example `AuditSession` windowing — which only ever
EMITS non-empty windows; gap-fill is the completion of that output).

Scale shape (100 TB): the only row-count-proportional stage is the first
aggregation (raw events → one row per (key, bucket)), which runs with a
scan-side partial combine and shuffles O(distinct buckets), not O(rows).
Everything downstream — spine generation, the left join, the
forward-fill window — operates on the bucketed relation, which is
O(keys x buckets_per_key): bounded by the time horizon, independent of
event volume. The spine is generated per key with ``sequence()`` +
``explode`` (no driver loop, no cross join against a calendar table),
so a key observed over N buckets contributes exactly N spine rows on
whatever task owns it after the keyed shuffle.

Skew note: a single key's spine length is (max-min)/step — bounded by
the CALENDAR, not by that key's event count, so the classic hot-key
hazard (one user with 10^9 events) does not inflate any post-agg task;
the hot key is collapsed scan-side by the partial aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: truncation unit -> the sequence step expression. date_trunc units and
#: interval literals both exist in ANSI SQL, so the DuckDB oracle can
#: mirror the grid exactly.
_STEPS = {
    "hour": "interval 1 hour",
    "day": "interval 1 day",
    "week": "interval 1 week",
    "minute": "interval 1 minute",
}


def gapfill_resample(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    unit: str = "hour",
) -> DataFrame:
    """Resample ``df`` onto a per-key grid of ``unit`` buckets spanning
    [min bucket, max bucket] of that key, with one output row per grid
    point:

    - ``bucket``     — the grid timestamp (``date_trunc(unit, ts)``)
    - ``n_events``   — rows observed in the bucket (0 for gaps)
    - ``v_sum``      — sum(value) in the bucket (NULL for gaps: the
                       sum of nothing is not zero)
    - ``v_ffill``    — ``v_sum`` carried forward over gaps (last
                       observation carried forward; the first buckets of
                       a key are never gaps, the spine starts at the
                       first observation)
    - ``is_gap``     — whether the bucket had no observations

    Plan: groupBy(key, bucket) agg -> per-key min/max -> sequence/explode
    spine -> left join actuals -> ffill window. The join and the window
    both key on ``key_col``, so AQE coalesces them onto the same
    executor-side layout; the window's sort is per key over its spine
    only.

    Known scale tradeoff: Catalyst plans the spine bounds as a SECOND
    scan-side min/max aggregate over the raw input (it pushes min/max
    below the bucket agg rather than reusing it), so the source is
    scanned twice — each scan shuffles only its combined aggregate, but
    at IO-bound scale callers should pin the input
    (``df.localCheckpoint()``) or pre-bucket once and pass the bucketed
    relation if a second scan is the dominant cost.
    """
    if unit not in _STEPS:
        raise ValueError(f"unsupported unit {unit!r}; one of {sorted(_STEPS)}")
    step = _STEPS[unit]

    bucketed = (
        df.select(
            F.col(key_col).alias("key"),
            F.date_trunc(unit, F.col(time_col)).alias("bucket"),
            F.col(value_col).alias("v"),
        )
        .groupBy("key", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("v_sum"),
        )
    )
    spine = (
        bucketed.groupBy("key")
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            "key",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr(step))
            ).alias("bucket"),
        )
    )
    joined = spine.join(bucketed, ["key", "bucket"], "left")
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        F.col("key").alias(key_col),
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "v_sum",
        F.last("v_sum", ignorenulls=True).over(w).alias("v_ffill"),
        F.col("n_events").isNull().alias("is_gap"),
    )


def pattern_match_topk(
    df: DataFrame,
    query: "list[float]",
    *,
    key_col: str,
    time_col: str,
    value_col: str,
    k: int = 10,
    tiebreak_col: "str | None" = None,
) -> DataFrame:
    """Z-normalized subsequence pattern matching (the UCR-suite primitive):
    find the ``k`` windows, across ALL keys' time-ordered value series,
    whose SHAPE is closest to ``query`` — shape meaning the z-normalized
    Euclidean distance, so a sawtooth matches a sawtooth at any offset
    and amplitude (raw Euclidean would only match at the same scale).
    Output: ``(key_col, time_col, dist)`` — the window's starting row —
    ordered by distance; the anomaly/motif search a monitoring or
    feature-mining pipeline runs over event series.

    Spark-first shape: each row's window is assembled by ``len(query)``
    ``lead()`` calls sharing ONE window spec — a single hash exchange on
    the key and one sort, never a self-join on time offsets; the
    distance is a CLOSED-FORM expression over those leads (whole-stage
    codegen), and the top-k compiles to TakeOrderedAndProject (per-task
    heaps, no global sort). Cross-engine determinism: mean/variance/
    distance are built as explicit LEFT-FOLD sums over the lead columns,
    so the oracle can replicate the exact IEEE operation order and the
    doubles match bit-for-bit — no rounding tolerance needed.

    Excluded windows: shorter than the query (series tail), CONSTANT
    (zero variance — z-normalization is undefined; UCR practice skips
    them), and any window overlapping a NULL value (a NULL has no
    magnitude to normalize — sparse NULLs therefore remove up to
    len(query) candidate windows each; gap-fill first if those
    positions must be scorable). The query itself must not be constant.

    Determinism contract: (``time_col``, ``tiebreak_col``) must totally
    order each key's rows — with ties and no tiebreak, ``lead()``
    assembles partition-layout-dependent windows and the top-k varies
    run to run. Pass a unique id as ``tiebreak_col`` whenever
    timestamps can collide (the same contract as ``latest_by_key``).
    """
    import math

    w = len(query)
    if w < 2:
        raise ValueError(f"query must have >= 2 points, got {w}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qm = sum(query) / w
    qsd = math.sqrt(sum((x - qm) ** 2 for x in query) / w)
    if qsd == 0:
        raise ValueError("query is constant; its shape is undefined")
    qz = [(x - qm) / qsd for x in query]

    order = [time_col] + ([tiebreak_col] if tiebreak_col else [])
    spec = Window.partitionBy(key_col).orderBy(*order)
    leads = [
        F.lead(F.col(value_col).cast("double"), j).over(spec)
        for j in range(w)
    ]
    cols = [F.col(f"_l{j}") for j in range(w)]

    def fold(terms):
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return acc

    staged = df.select(
        key_col,
        time_col,
        *[ld.alias(f"_l{j}") for j, ld in enumerate(leads)],
    )
    mu = fold(cols) / F.lit(float(w))
    # two-pass variance fold(sq(c - mu))/w, NOT E[x^2] - mu^2: the
    # one-pass form catastrophically cancels for windows with large
    # means (values ~1e8 oscillating by 0.1 compute var <= 0 and the
    # genuine match is dropped as "constant"); same explicit fold
    # order, so the oracle still replicates it bit-for-bit
    var = fold([(c - mu) * (c - mu) for c in cols]) / F.lit(float(w))
    sd = F.sqrt(var)
    # squared via explicit multiply, never pow(x, 2): pow is not
    # required to be correctly rounded and would break the bit-identical
    # cross-engine contract (the repo's standing ln/pow caveat)
    def sq(t):
        return t * t

    dist2 = fold(
        [
            sq((c - mu) / sd - F.lit(float(qz[j])))
            for j, c in enumerate(cols)
        ]
    )
    complete = fold([c.isNotNull().cast("int") for c in cols]) == w
    return (
        staged.where(complete)
        .where(var > 0)
        .select(
            key_col,
            time_col,
            F.sqrt(dist2).alias("dist"),
        )
        .orderBy("dist", key_col, time_col)
        .limit(k)
    )


def time_decay_stats(
    events: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: "list[str] | None" = None,
    half_life_hours: int = 24,
) -> DataFrame:
    """Exponential time-decay aggregates per key — the recency-weighted
    feature every activity/reputation/engagement pipeline keeps: each
    event contributes ``value · 2^(-steps)``, where ``steps`` counts
    CALENDAR-ALIGNED half-life buckets (``floor(epoch_seconds /
    (3600·half_life_hours))``) between the event and the KEY's most
    recent event (its natural anchor: the stats are comparable across
    keys regardless of when each was last active). Output per key:
    ``n_events`` (VALUED events — NULL-valued rows are excluded up
    front, see below), ``last_ts``, ``decayed_sum`` (weighted value
    sum), ``decayed_weight`` (weight mass — divide for the decayed
    mean; emitted separately so the caller can also use it as an
    effective-sample-size).

    Determinism/portability contract (what makes this hash-checkable
    against any IEEE engine):

    - ``steps`` is an integer bucket DIFFERENCE, so every weight is an
      exact power of two (one IEEE double, no libm) and ``value ·
      weight`` is a single correctly-rounded multiply in every engine.
    - the per-key sum is an ORDER-FIXED left fold over the key's events
      sorted by ``(ts, *tiebreak_cols)`` — engines disagree on
      aggregation order, never on a sequential fold (the PQ-ADC
      precedent); outputs round to 6 dp only at the very end.

    Why FIXED-EPOCH buckets and not anchor-relative ages (the obvious
    alternative, ``floor(age_hours / h)``): bucket differences make the
    decayed sums PROVABLY mergeable — moving the anchor forward by
    ``k`` buckets rescales every weight, hence the whole sum, by the
    single exact factor ``2^(-k)`` (an exponent shift; anchor-relative
    nested floors decompose no such way). That exactness is what a
    production partial-agg formulation at 10^9 events/key would
    exploit: partials anchored per task, rescaled and added at merge,
    every rescale exact.

    Scale note, stated honestly: the fold materializes each key's
    events as one array (``collect_list`` + ``sort_array``), so a key's
    history must fit a task — the price of cross-ENGINE
    bit-reproducibility; the mergeable production shape above trades
    that for engine-local summation order.
    """
    if half_life_hours < 1:
        raise ValueError(
            f"half_life_hours must be >= 1, got {half_life_hours}"
        )
    tiebreak = list(tiebreak_cols or [])
    # NULL-value, NaN-value and NULL-timestamp events are EXCLUDED up
    # front (they carry no mass / no position): inside the fold a
    # single NULL term would poison the whole key's sum to NULL in
    # Spark while DuckDB's list_sum skips NULLs — the one place the two
    # engines' sum semantics differ — and a NaN term poisons both; so
    # the contract is pinned here on both sides (the sketch family's
    # NULL rule).
    # n_events therefore counts VALUED, TIMESTAMPED events.
    events = events.where(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
        & F.col(ts_col).isNotNull()
    )
    anchor = F.max(F.col(ts_col)).over(
        Window.partitionBy(key_col)
    )
    # the ts column may decode as TIMESTAMP_NTZ (driver parquet since
    # r3), which rejects a direct epoch cast — route through timestamp
    epoch = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    bucket_s = 3600 * half_life_hours
    bucket = lambda c: F.floor(epoch(c) / F.lit(bucket_s))  # noqa: E731
    steps = bucket(anchor) - bucket(F.col(ts_col))
    weight = F.pow(F.lit(2.0), (-steps).cast("double"))
    row = F.struct(
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tiebreak)],
        (F.col(value_col) * weight).alias("_wv"),
        weight.alias("_w"),
    )
    folded = (
        events.select(key_col, F.col(ts_col).alias("_anchor_src"), row.alias("_r"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("_anchor_src").alias("last_ts"),
            F.sort_array(F.collect_list("_r")).alias("_rows"),
        )
    )
    fold_sum = lambda field: F.aggregate(  # noqa: E731
        F.col("_rows"),
        F.lit(0.0),
        lambda acc, r: acc + r.getField(field),
    )
    return folded.select(
        key_col,
        "n_events",
        "last_ts",
        F.round(fold_sum("_wv"), 6).alias("decayed_sum"),
        F.round(fold_sum("_w"), 6).alias("decayed_weight"),
    )


def activity_streaks(
    events: DataFrame,
    *,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Consecutive-active-day streaks per key — the retention/engagement
    gaps-and-islands classic ("longest daily streak", "how fragmented
    is this user's activity"): one row per key with ``active_days``
    (distinct calendar days), ``n_streaks`` (maximal runs of
    consecutive days), ``longest_streak_days`` and its start date
    (earliest such start on ties — deterministic). All integer/date
    arithmetic: exact in any engine.

    Plan: distinct ``(key, day)`` — an aggregation whose map-side
    partial collapses duplicate days before its exchange (a key with
    10⁹ events on one day ships ONE row per task) — then the
    gaps-and-islands trick: ``day − row_number()`` is constant exactly
    along a consecutive run, so a hash aggregation on ``(key, anchor)``
    sizes the runs and a final one collapses to one row per key. Two
    exchanges total, BOTH carrying the collapsed O(distinct (key, day))
    relation: the (key, day)-keyed distinct exchange, then the
    key-keyed window exchange (whose partitioning the two run
    aggregations then reuse — key ⊂ (key, anchor) clustering). The
    one-exchange alternative (repartition raw events by key first)
    would ship O(events) rows instead; collapsing before any shuffle is
    the whole point. Skew bound: a key's post-distinct row count is
    bounded by the CALENDAR, not its event volume — the gapfill bound.
    """
    days = events.select(
        key_col, F.to_date(F.col(ts_col)).alias("_day")
    ).distinct()
    w = Window.partitionBy(key_col).orderBy("_day")
    anchored = days.withColumn(
        "_anchor", F.date_sub(F.col("_day"), F.row_number().over(w))
    )
    runs = anchored.groupBy(key_col, "_anchor").agg(
        F.count(F.lit(1)).cast("bigint").alias("_len"),
        F.min("_day").alias("_start"),
    )
    # argmax(len) with EARLIEST start on ties: dates don't negate, so
    # order by (len desc, start asc) as min(struct(-len, start))
    return (
        runs.groupBy(key_col)
        .agg(
            F.sum("_len").alias("active_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.min(
                F.struct((-F.col("_len")).alias("_neg"), F.col("_start"))
            ).alias("_best"),
        )
        .select(
            key_col,
            "active_days",
            "n_streaks",
            (-F.col("_best._neg")).cast("bigint").alias(
                "longest_streak_days"
            ),
            F.col("_best._start").alias("longest_streak_start"),
        )
    )


def ohlc_resample(
    events: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_cols: "list[str] | None" = None,
    unit: str = "day",
) -> DataFrame:
    """Per-(key, bucket) OHLC downsampling — open/high/low/close, the
    canonical lossy time-series compaction (finance candles, metric
    rollups, feature snapshots): one output row per key per ``unit``
    bucket with the FIRST value (by event time), max, min, LAST value,
    event count and value sum.

    Open/close are argmin/argmax-by-struct over ``(ts, *tiebreak_cols,
    value)`` — ONE hash aggregation with map-side partial collapse, the
    ``agg_mode``/``latest_by_key`` rule (a ranked-window formulation
    would shuffle every raw row to sort it; this collapses each task's
    slice to one partial row per (key, bucket) first). A key with 10⁹
    events in one bucket ships O(tasks) partial rows. NULL values are
    excluded (no magnitude to aggregate); ties beyond the tiebreak
    make open/close nondeterministic — supply a unique id (the
    ``latest_by_key`` contract).
    """
    if unit not in _STEPS:
        raise ValueError(f"unsupported unit {unit!r}; one of {sorted(_STEPS)}")
    tiebreak = list(tiebreak_cols or [])
    ordered = F.struct(
        F.col(ts_col).alias("_ts"),
        *[F.col(c).alias(f"_t{i}") for i, c in enumerate(tiebreak)],
        F.col(value_col).alias("_v"),
    )
    return (
        events.where(F.col(value_col).isNotNull())
        .groupBy(
            F.col(key_col),
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.min(ordered).alias("_first"),
            F.max(ordered).alias("_last"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("v_sum"),
        )
        .select(
            key_col,
            "bucket",
            F.col("_first._v").alias("open"),
            "high",
            "low",
            F.col("_last._v").alias("close"),
            "n_events",
            "v_sum",
        )
    )


def gap_sessions(
    events: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """``win_gap_sessions`` — gap-based sessionization: one row per
    (key, session), where a session is a maximal run of the key's
    events with no inter-event silence STRICTLY longer than
    ``gap_minutes``. Output ``(key, session_seq, session_start,
    session_end, n_events, duration_secs)`` — ``session_seq`` numbers a
    key's sessions 1..n in time order.

    This is the batch relation behind the reference's session windows
    (flink-audit-sessions-example `App.java` keys by user and windows
    with a session gap — reference `App.java:79-110`): the reference
    EMITS per-window aggregates on a stream; this operator materializes
    the same gap semantics as a table, the form analytics and
    feature pipelines join against. The engine's streaming form is the
    audit package's ``operators/sessionize.py`` (same gap contract,
    watermarked).

    Boundary semantics pinned cross-engine: the silence comparison is
    on INTEGER microseconds (``unix_micros``) with a STRICT ``>`` —
    an event exactly ``gap_minutes`` after its predecessor continues
    the session; ``duration_secs`` is integer-division micros, exact in
    any engine. NULL timestamps are excluded up front (no position in
    time ⇒ no session; also Spark windows sort NULLS FIRST where DuckDB
    defaults LAST — exclusion keeps the relation engine-portable, the
    skyline rule).

    Plan — ONE keyed exchange carries everything: the lag and the
    running session-index sum share the same ``(key × ts)`` window
    spec, so Catalyst plans a single Exchange + Sort; the closing
    ``groupBy(key, session_seq)`` reuses that hash partitioning (key ⊂
    grouping — subset clustering, no second exchange). Equal-timestamp
    events need no tiebreak: their lag difference is 0 ≤ gap under ANY
    order among the ties, so session assignment is order-invariant.
    Skew: a hot key's rows DO colocate (windows need that); the state
    per row is one lag + one running int — no per-key buffering.
    """
    if gap_minutes < 1:
        raise ValueError(f"gap_minutes must be >= 1; got {gap_minutes}")
    gap_us = gap_minutes * 60_000_000
    # cast: parquet NTZ timestamps reject unix_micros directly; with the
    # engine's UTC session the cast is wall-clock-identity, matching
    # DuckDB's epoch_us on the NTZ value
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy(us)
    silence = us - F.lag(us).over(w)
    flag = F.when(silence > gap_us, F.lit(1)).otherwise(F.lit(0))
    sessions = (
        events.where(F.col(ts_col).isNotNull())
        .withColumn("_new", flag)
        .withColumn(
            "session_seq",
            (F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ) + 1).cast("bigint"),
        )
    )
    return (
        sessions.groupBy(key_col, "session_seq")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            # FLOOR the double division on BOTH engines, never bare
            # double->bigint cast (Spark's cast truncates, DuckDB's
            # rounds — the engine's div-cast gotcha). Exact here: the
            # micro diff is an integer < 2^53, so when it is a whole
            # multiple of 1e6 the division is exact, and otherwise the
            # sub-integer remainder keeps the double strictly below the
            # next integer (1 ulp can't bridge >= 1e-6 at these scales).
            F.floor(
                (F.max(us) - F.min(us)) / F.lit(1_000_000)
            ).cast("bigint").alias("duration_secs"),
        )
    )


def event_transitions(
    events: DataFrame,
    *,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak_cols: "list[str] | None" = None,
) -> DataFrame:
    """``win_transitions`` — the first-order Markov transition matrix of
    an event stream: for each ordered pair of event types, how often a
    key's event of ``from_type`` is IMMEDIATELY followed by one of
    ``to_type``, with the row-conditional probability. Output
    ``(from_type, to_type, n_transitions, p)`` — the
    behavioral-analytics artifact behind "what do users do after an
    error" and the transition prior sequence models get initialized
    from (the funnel/pattern operators answer "does path X happen";
    this is the full conditional matrix).

    Determinism: consecutive-pair extraction depends on the TOTAL order
    of a key's events, so ties on ``ts_col`` break by
    ``tiebreak_cols`` (required — an untiebroken lead would make the
    matrix run-dependent). Rows with a NULL tiebreak are EXCLUDED, the
    same way NULL ``ts_col``/``type_col`` rows are: a NULL tiebreak
    cannot break a tie (and engines disagree on NULL sort placement —
    Spark windows default NULLS FIRST, DuckDB NULLS LAST — so keeping
    such rows would make the matrix engine-dependent, not just
    run-dependent). ``p`` is one double division rounded to 6dp
    (hash-stable); counts are exact integers.

    Plan: one keyed exchange for the ``(key × (ts, tiebreaks))`` lead
    window over a projection of just the needed columns; the pair count
    is a map-side-combining hash agg over O(|types|²) groups; the
    conditional divides by a broadcast-joined per-``from_type`` total
    (two more exchanges, both over the tiny type-pair relation —
    never the event volume).
    """
    if not tiebreak_cols:
        raise ValueError(
            "tiebreak_cols is required: equal-timestamp events would "
            "otherwise make the transition pairs run-dependent"
        )
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(key_col).orderBy(*order)
    float_cols = {
        f.name
        for f in events.schema.fields
        if f.dataType.simpleString() in ("float", "double")
    }
    not_null = F.col(ts_col).isNotNull()
    for c in [type_col, *tiebreak_cols]:
        not_null = not_null & F.col(c).isNotNull()
        # a NaN type/tiebreak is as useless for ordering/labelling as a
        # NULL one — exclude both so the pairing sees the same event
        # sequence for float columns as for any other
        if c in float_cols:
            not_null = not_null & ~F.isnan(c)
    pairs = (
        events.where(not_null)
        .select(key_col, ts_col, *tiebreak_cols, type_col)
        .withColumn("_next", F.lead(type_col).over(w))
        .where(F.col("_next").isNotNull())
        .select(
            F.col(type_col).alias("from_type"),
            F.col("_next").alias("to_type"),
        )
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").cast("bigint").alias("_total")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double")
                / F.col("_total").cast("double"),
                6,
            ).alias("p"),
        )
    )


def next_touch_attribution(
    events: DataFrame,
    *,
    key_col: str,
    type_col: str,
    ts_col: str,
    tiebreak_col: str,
    conversion_type: str = "purchase",
    lookback_hours: int = 168,
) -> DataFrame:
    """``win_attribution`` — linear multi-touch attribution: every
    non-conversion event ("touch") within ``lookback_hours`` BEFORE a
    key's next conversion shares that conversion's credit equally.
    Output one row per touch type — ``(event_type, n_touches,
    linear_credit, n_last_touch)`` — the channel-credit table marketing
    attribution starts from, and the complement of the single-pass
    ``win_first_touch`` relation (first touch credits acquisition; this
    credits the path to each conversion).

    Semantics, pinned exactly: events order per key by the TOTAL order
    ``(ts, tiebreak)`` (NULL ts/type/tiebreak rows excluded — the
    ``event_transitions`` rule); each touch attributes to the first
    conversion AT-OR-AFTER it in that order (a touch sharing a
    conversion's timestamp attributes to it iff its tiebreak sorts
    first); touches with no conversion inside the lookback earn
    nothing. ``linear_credit`` = Σ 1/n_touches over attributed touches
    of the type, rounded 6dp once at the end; ``n_last_touch`` counts
    conversions whose LAST attributed touch (max ``(ts, tiebreak)``)
    was of the type.

    Plan — ZERO self-joins (the naive formulation is purchases ⋈
    touches on a time-range predicate, quadratic under skew): one keyed
    window in REVERSE ``(ts, tiebreak)`` order carries the next
    conversion's timestamp and id to every row via running
    ``last(..., ignorenulls)`` (both engines agree on the frame
    semantics — spiked cross-engine); the per-conversion touch counts
    aggregate over the already-grouped (key, conversion, type) relation
    with a subset-clustered window sum; the final rollup is O(types).
    Shuffles: the keyed window exchange over events + two exchanges
    over the tiny grouped relation.
    """
    if lookback_hours < 1:
        raise ValueError(
            f"lookback_hours must be >= 1, got {lookback_hours}"
        )
    lookback_us = lookback_hours * 3_600_000_000
    not_null = (
        F.col(ts_col).isNotNull()
        & F.col(type_col).isNotNull()
        & F.col(tiebreak_col).isNotNull()
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    rows = events.where(not_null).select(
        F.col(key_col).alias("_k"),
        us.alias("_us"),
        F.col(tiebreak_col).alias("_tb"),
        F.col(type_col).alias("_t"),
    )
    w_rev = Window.partitionBy("_k").orderBy(
        F.desc("_us"), F.desc("_tb")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_conv = F.col("_t") == F.lit(conversion_type)
    tagged = rows.select(
        "_k",
        "_us",
        "_tb",
        "_t",
        F.last(F.when(is_conv, F.col("_us")), ignorenulls=True)
        .over(w_rev)
        .alias("_cus"),
        F.last(F.when(is_conv, F.col("_tb")), ignorenulls=True)
        .over(w_rev)
        .alias("_cid"),
    )
    touches = tagged.where(
        (F.col("_t") != F.lit(conversion_type))
        & F.col("_cid").isNotNull()
        & (F.col("_cus") - F.col("_us") <= F.lit(lookback_us))
    )
    # per (key, conversion, type): touch count + the latest touch of
    # the type — ONE aggregation over the touch rows
    grouped = touches.groupBy("_k", "_cid", "_t").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.max(F.struct(F.col("_us"), F.col("_tb"))).alias("_latest"),
    )
    w_conv = Window.partitionBy("_k", "_cid")
    per_type = grouped.select(
        "_k",
        "_cid",
        "_t",
        "_cnt",
        F.sum("_cnt").over(w_conv).alias("_n"),
        (
            F.max(F.struct(F.col("_latest"), F.col("_t"))).over(w_conv)
        ).getField("_t").alias("_last_type"),
    )
    return (
        per_type.groupBy(F.col("_t").alias("event_type"))
        .agg(
            F.sum("_cnt").cast("bigint").alias("n_touches"),
            F.round(
                F.sum(
                    F.col("_cnt").cast("double")
                    / F.col("_n").cast("double")
                ),
                6,
            ).alias("linear_credit"),
            F.sum(
                (F.col("_t") == F.col("_last_type")).cast("int")
            ).cast("bigint").alias("n_last_touch"),
        )
    )


def rolling_distinct(
    events: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    window_hours: int = 24,
) -> DataFrame:
    """``win_rolling_distinct`` — for every ACTIVE hour (an hour with
    ≥1 event), the exact number of distinct entities seen in the
    trailing ``window_hours`` window ``(h − window_hours, h]`` —
    rolling DAU over an hourly tick, the liveness series every usage
    dashboard and training-data freshness audit wants. NULL
    entity/timestamp rows are excluded.

    Plan: distinct ``(entity, hour)`` pairs first (ONE map-side-partial
    aggregation — the raw event volume collapses to at most
    entities × active-hours rows), then each pair fans out to the
    ``window_hours`` ticks it contributes to (a bounded, documented
    ×W explode of the ALREADY-COLLAPSED relation, never of the events)
    and one count-distinct per tick; ticks restrict to active hours via
    a broadcast semi-join (the active-hour relation is O(time-range) —
    ~9k rows/year — broadcastable at any corpus size).

    100 TB path, stated plainly: the exact form's shuffle is
    O(entities × hours × W); when entities are web-scale users the
    mergeable-sketch route replaces it — one HLL register table per
    hour (``sketches.hll_table``) merged over the trailing W buckets
    (``hll_merge``), O(hours) state and no per-entity fan-out, at the
    documented ±1.6% (p=12). This operator is the exact twin that
    bound-checks that path.
    """
    if window_hours < 1:
        raise ValueError(f"window_hours must be >= 1, got {window_hours}")
    hour = F.date_trunc("hour", F.col(ts_col).cast("timestamp"))
    pairs = (
        events.where(
            F.col(entity_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(F.col(entity_col).alias("_e"), hour.alias("_h"))
        .distinct()
    )
    active = pairs.select("_h").distinct().select(
        F.col("_h").alias("_tick")
    )
    fanned = pairs.select(
        "_e",
        F.explode(
            F.sequence(
                F.col("_h"),
                F.col("_h") + F.expr(f"INTERVAL {window_hours - 1} HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("_tick"),
    )
    return (
        fanned.join(F.broadcast(active), "_tick")
        .groupBy("_tick")
        .agg(F.count_distinct("_e").cast("bigint").alias("n_distinct"))
        .select(F.col("_tick").alias("win_end_hour"), "n_distinct")
    )


def cusum_changepoints(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "hour",
) -> DataFrame:
    """Level-shift detection per key — the classic CUSUM statistic over
    each key's bucketed count series: ``(key_col, n_buckets, mean_rate,
    cusum_up, up_bucket, cusum_down, down_bucket)`` where ``cusum_up``
    is the peak of the one-sided upward CUSUM S⁺_t = max(0, S⁺_{t-1} +
    (x_t − x̄)) over the series (and ``up_bucket`` the bucket where it
    peaks — NULL when the peak is 0, i.e. the drift never rose above
    zero and there is no meaningful argmax; ``cusum_down`` /
    ``down_bucket`` the mirrored downward drift). A sustained rate shift makes deviations accumulate — the
    peak CUSUM is the standard "did the level change, and when" audit
    over pipeline telemetry (error-rate regressions, traffic-mix
    shifts), which a plain max-vs-mean scan misses because it only sees
    single-bucket spikes.

    The recursion is NOT iterated: S⁺_t = P_t − min_{j≤t} P_j (and
    S⁻_t = max_{j≤t} P_j − P_t) for the deviation prefix sums P — two
    running-extreme windows over the bucketed relation, no fixpoint, no
    UDF. Deviations are integer-SCALED (d_t = n·x_t − Σx, exact BIGINT
    arithmetic: summation order cannot perturb a bit), so the only
    float op is the final divide-by-n back to count units, rounded 6dp
    — hash-exact across engines by construction rather than by
    rounding-tolerance luck.

    Scale shape: the count aggregation collapses event volume map-side
    to O(keys × buckets); every window below it rides that bounded
    relation, partitioned by key. Peak election is ONE conditional
    aggregation — min over ``(−scaled value, bucket)`` structs, i.e.
    the exact-integer argmax with the earliest-peak tie rule — so both
    peaks come out of a single pass (a per-peak ranked-window + join
    formulation would make Catalyst re-run the whole pipeline per
    branch; the plan gate pins one scan)."""
    if bucket not in _STEPS:
        raise ValueError(
            f"bucket must be one of {sorted(_STEPS)}; got {bucket!r}"
        )
    hourly = (
        events.where(
            F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
        )
        .groupBy(
            F.col(key_col).alias("_k"),
            F.date_trunc(bucket, F.col(ts_col)).alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    per_key = Window.partitionBy("_k")
    n_col = F.count(F.lit(1)).over(per_key)
    sum_col = F.sum("_x").over(per_key)
    # deviations from the series mean, integer-scaled by n
    scaled = hourly.select(
        "_k",
        "_b",
        n_col.alias("_n"),
        F.round(sum_col / n_col.cast("double"), 6).alias("_mean"),
        (F.col("_x") * n_col - sum_col).alias("_d"),
    )
    ordered = Window.partitionBy("_k").orderBy("_b")
    pre = scaled.withColumn("_p", F.sum("_d").over(ordered))
    cus = pre.select(
        "_k",
        "_b",
        "_n",
        "_mean",
        # the running extremes include P_0 = 0 (the empty prefix):
        # S+_t = P_t - min_{0<=j<=t} P_j, so a first-bucket positive
        # deviation already registers as drift
        (
            F.col("_p")
            - F.least(F.min("_p").over(ordered), F.lit(0).cast("long"))
        ).alias("_su"),
        (
            F.greatest(F.max("_p").over(ordered), F.lit(0).cast("long"))
            - F.col("_p")
        ).alias("_sd"),
    )
    # BOTH peak elections in ONE aggregation: min of (−value, bucket)
    # structs is the (max value, earliest bucket) argmax in exact
    # integer order. The previous formulation — two row_number windows
    # filtered to rank 1 and self-joined — made Catalyst re-run the
    # whole scan+window pipeline per branch (subtrees are not deduped
    # across join sides; the plan gate counts scans), i.e. TWO passes
    # over the events table for one answer.
    agg = cus.groupBy("_k").agg(
        F.max("_n").alias("_n"),          # constant per key
        F.max("_mean").alias("_mean"),
        F.min(
            F.struct(
                (-F.col("_su")).alias("neg"), F.col("_b").alias("b")
            )
        ).alias("_up"),
        F.min(
            F.struct(
                (-F.col("_sd")).alias("neg"), F.col("_b").alias("b")
            )
        ).alias("_dn"),
    )
    # zero peak -> NULL bucket: "the drift never rose above 0" has no
    # argmax (the integer argmax would otherwise report the earliest
    # bucket, an arbitrary answer); peaks divide by n back to count units
    return agg.select(
        F.col("_k").alias(key_col),
        F.col("_n").alias("n_buckets"),
        F.col("_mean").alias("mean_rate"),
        F.round(
            -F.col("_up.neg") / F.col("_n").cast("double"), 6
        ).alias("cusum_up"),
        F.when(-F.col("_up.neg") > 0, F.col("_up.b")).alias("up_bucket"),
        F.round(
            -F.col("_dn.neg") / F.col("_n").cast("double"), 6
        ).alias("cusum_down"),
        F.when(-F.col("_dn.neg") > 0, F.col("_dn.b")).alias(
            "down_bucket"
        ),
    )


def ewma_smooth(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "hour",
    alpha: float = 0.25,
    window: int = 12,
) -> DataFrame:
    """Exponentially-weighted moving average of each key's bucketed
    count series: ``(key_col, bucket, n, ewma)`` — the standard
    telemetry smoother (y_t = (1−α)·y_{t-1} + α·x_t, seeded y_1 = x_1)
    evaluated over a BOUNDED trailing window of ``window`` buckets, so
    the recursion is a finite left fold instead of unbounded state.

    Exactly reproducible across engines WITHOUT rounding tolerance
    games: the fold runs in bucket order on both sides (Spark
    ``F.aggregate`` over the ordered frame's ``collect_list``; DuckDB
    ``list_reduce`` over the same frame list — both seed the
    accumulator with the frame's first element), so every multiply/add
    is the same IEEE-754 op on the same operands in the same order.
    The output rounds to 6dp only as harness convention. The bounded
    frame also caps the numerical difference vs the infinite-history
    EWMA at (1−α)^window (≈3% of a unit step at the defaults) — the
    truncation every streaming EWMA with TTL'd state makes anyway.

    Scale shape: the count aggregation collapses event volume map-side
    to O(keys × buckets); the frame/collect/fold ride that bounded
    relation. ``window`` bounds per-row array state at W elements.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if bucket not in _STEPS:
        raise ValueError(
            f"bucket must be one of {sorted(_STEPS)}; got {bucket!r}"
        )
    counts = (
        events.where(
            F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
        )
        .groupBy(
            F.col(key_col).alias("_k"),
            F.date_trunc(bucket, F.col(ts_col)).alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    frame = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    arr = F.collect_list(F.col("_x").cast("double")).over(frame)
    fold = F.aggregate(
        F.slice(F.col("_l"), 2, F.size(F.col("_l")) - 1),
        F.element_at(F.col("_l"), 1),
        lambda acc, x: acc * F.lit(1.0 - alpha) + x * F.lit(alpha),
    )
    return (
        counts.withColumn("_l", arr)
        .select(
            F.col("_k").alias(key_col),
            F.col("_b").alias("bucket"),
            F.col("_x").alias("n"),
            F.round(fold, 6).alias("ewma"),
        )
    )


def holt_smooth(
    events: DataFrame,
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    bucket: str = "hour",
    alpha: float = 0.25,
    beta: float = 0.25,
    window: int = 12,
) -> DataFrame:
    """Holt linear (double-exponential) smoothing of each key's
    bucketed count series: ``(key_col, bucket, n, level, trend)`` —
    the trend-aware telemetry smoother (level l and trend b:
    ``l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})``,
    ``b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}``, seeded l₁ = x₁,
    b₁ = 0) over the same BOUNDED trailing frame as
    :func:`ewma_smooth`, so the recursion is a finite left fold.

    Cross-engine exactness is the ewma argument extended to a STRUCT
    accumulator: both engines fold the identical frame list in the
    identical order with the identical op sequence (the l′ expression
    is repeated verbatim inside the trend update on both sides rather
    than referenced, so the IEEE op streams match term for term), and
    the default α = β = 0.25 are exact binary fractions — the
    smoothing literals carry no decimal-parse drift at all.

    Scale shape: identical to :func:`ewma_smooth` — event volume
    collapses map-side to O(keys × buckets); frame/collect/fold ride
    that bounded relation with per-row array state capped at
    ``window`` elements.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if not 0 <= beta <= 1:
        raise ValueError(f"beta must be in [0, 1], got {beta}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if bucket not in _STEPS:
        raise ValueError(
            f"bucket must be one of {sorted(_STEPS)}; got {bucket!r}"
        )
    counts = (
        events.where(
            F.col(ts_col).isNotNull() & F.col(key_col).isNotNull()
        )
        .groupBy(
            F.col(key_col).alias("_k"),
            F.date_trunc(bucket, F.col(ts_col)).alias("_b"),
        )
        .agg(F.count(F.lit(1)).alias("_x"))
    )
    frame = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    arr = F.collect_list(F.col("_x").cast("double")).over(frame)

    def _merge(acc, x):
        new_l = x * F.lit(alpha) + (acc["l"] + acc["b"]) * F.lit(
            1.0 - alpha
        )
        # l' recomputed verbatim (not referenced) inside the trend
        # update — the oracle repeats the same expression, keeping the
        # two engines' IEEE op streams identical term for term
        new_l2 = x * F.lit(alpha) + (acc["l"] + acc["b"]) * F.lit(
            1.0 - alpha
        )
        new_b = (new_l2 - acc["l"]) * F.lit(beta) + acc["b"] * F.lit(
            1.0 - beta
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    seed = F.struct(
        F.element_at(F.col("_l"), 1).alias("l"),
        F.lit(0.0).alias("b"),
    )
    fold = F.aggregate(
        F.slice(F.col("_l"), 2, F.size(F.col("_l")) - 1), seed, _merge
    )
    return (
        counts.withColumn("_l", arr)
        .select(
            F.col("_k").alias(key_col),
            F.col("_b").alias("bucket"),
            F.col("_x").alias("n"),
            F.round(fold["l"], 6).alias("level"),
            F.round(fold["b"], 6).alias("trend"),
        )
    )
