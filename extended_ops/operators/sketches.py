"""Sketch aggregations — the 100 TB path for distinct counts and
percentiles.

The exact operators these approximate (``count_distinct``,
``rel_quantiles``' sort-based ``percentile``) shuffle
or sort data proportional to the key cardinality; at 100 TB the sketch
variants are the only sane default: HyperLogLog++ (``approx_count_distinct``)
keeps a fixed ~KB register set per group and merges map-side, and the
t-digest-style ``approx_percentile`` streams in one pass with bounded
state. Both are JVM aggregates inside whole-stage codegen — the plan
shape (partial → merge → final) is identical to any other hash agg, so
every scale property of the exact plans carries over with O(1) state.

Register-based sketches (HLL, GK percentiles, Count-Min, Misra-Gries)
cannot be cross-engine VALUE-hashed — their layouts are engine-specific
by construction. Their driver-oracle rows therefore register the ERROR
CONTRACT itself as hash-checked booleans (``agg_approx_distinct`` since
r8, ``rel_quantiles_approx``'s rank check since r9, the
``agg_*`` bound checks staged in ``plans/staged.py``), with the bounds
additionally pinned by pytest against exact twins
(`tests/test_sketches.py`). The ONE exception is the bottom-k quantile
sketch at the end of this module: its sample is content-addressed
(md5 draws), so its values DO hash cross-engine — and its merge is
exact, not approximate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._pins import pin


def approx_distinct_by(
    df: DataFrame,
    key_cols: list[str],
    distinct_col: str,
    *,
    rsd: float = 0.05,
) -> DataFrame:
    """Approximate distinct-count per group (HyperLogLog++).

    ``rsd`` is the target relative standard deviation (Spark default
    0.05 → ~1.6 KB of registers per group). Output columns:
    ``key_cols…, approx_distinct``.
    """
    return df.groupBy(*key_cols).agg(
        F.approx_count_distinct(distinct_col, rsd).alias("approx_distinct")
    )


def exact_distinct_by(
    df: DataFrame, key_cols: list[str], distinct_col: str
) -> DataFrame:
    """Exact twin of :func:`approx_distinct_by` (the verification side of
    the error-bound test; at scale it shuffles every distinct value)."""
    return df.groupBy(*key_cols).agg(
        F.count_distinct(distinct_col).alias("exact_distinct")
    )


def approx_quantiles_by(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    *,
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Approximate grouped percentiles in ONE streaming pass
    (``approx_percentile``; rank error ≤ 1/accuracy).

    The exact twin is ``rel_quantiles``' sort-based ``percentile`` —
    right for small groups, wrong for a 100 TB global percentile where
    the sketch is the only single-pass option. Output: one
    ``p_<percent>`` column per requested probability.
    """
    probs = ", ".join(f"{p}D" for p in probabilities)
    # backtick-quote the identifier (escaping embedded backticks) so names
    # with spaces/dots/hyphens/keywords resolve like every Column-based API
    quoted = value_col.replace("`", "``")
    agg = F.expr(
        f"approx_percentile(`{quoted}`, array({probs}), {accuracy})"
    ).alias("_q")
    out = df.groupBy(*key_cols).agg(agg)
    return out.select(
        *key_cols,
        *[
            F.element_at("_q", i + 1).alias(f"p_{int(p * 100)}")
            for i, p in enumerate(probabilities)
        ],
    )


def approx_quantiles_rank_check(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    *,
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75),
    accuracy: int = 10_000,
) -> DataFrame:
    """Self-verifying twin of :func:`approx_quantiles_by`: per group, a
    boolean per percentile asserting the sketch honored its RANK
    guarantee — making the sketch's error contract itself a cross-engine
    hash-checkable row (any correct engine's answer is ``TRUE``).

    The guarantee ``approx_percentile`` documents is on RANK, not value:
    the returned element's rank must be within ``n/accuracy`` of the
    target rank ``p·n``. So the check counts, per group, the values
    strictly below (``lt``) and at-or-below (``le``) the sketch's answer
    and asserts ``lt ≤ p·n + slack`` and ``le ≥ p·n − slack`` with
    ``slack = ceil(n/accuracy) + 1`` (one extra position for the
    boundary-interpolation convention). A VALUE band against the
    interpolating exact percentile is the wrong formulation: at small n
    the sketch legitimately returns an element farther from the
    interpolated value than one inter-element gap (measured — p50 of an
    sf0.001 group fails it; ``tests/test_r8_ops.py``).

    All-integer counts and integer-rational bounds, so the booleans are
    deterministic on any engine and partitioning. Plan shape: the sketch
    agg produces one tiny row per group, broadcast back onto the corpus
    for ONE counting pass — two scans, no corpus-sized shuffle beyond
    the two hash aggs; at 100 TB the check costs one extra pass over
    the data, which is exactly what "verify the sketch" must cost.
    """
    probs = ", ".join(f"{p}D" for p in probabilities)
    quoted = value_col.replace("`", "``")
    ap = df.groupBy(*key_cols).agg(
        F.expr(
            f"approx_percentile(`{quoted}`, array({probs}), {accuracy})"
        ).alias("_ap")
    )
    # eqNullSafe join keys: a NULL group would otherwise vanish from the
    # check entirely (null-unsafe equality never matches), silently
    # un-verifying it (review r9)
    apk = ap.select(
        *[F.col(c).alias(f"_k_{c}") for c in key_cols], "_ap"
    )
    cond = None
    for c in key_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_k_{c}"))
        cond = eq if cond is None else cond & eq
    j = df.join(F.broadcast(apk), cond).drop(
        *[f"_k_{c}" for c in key_cols]
    )
    counted = j.groupBy(*key_cols).agg(
        # count the VALUE column, not rows: approx_percentile and the
        # lt/le sums both ignore NULL values, so counting NULL-bearing
        # rows into n would inflate the rank target p·n and falsely
        # fail the lower bound on sparse columns (review r9)
        F.count(F.col(value_col)).alias("_n"),
        *[
            agg
            for i in range(len(probabilities))
            for agg in (
                F.sum(
                    (F.col(value_col) < F.element_at("_ap", i + 1)).cast(
                        "long"
                    )
                ).alias(f"_lt{i}"),
                F.sum(
                    (F.col(value_col) <= F.element_at("_ap", i + 1)).cast(
                        "long"
                    )
                ).alias(f"_le{i}"),
            )
        ],
    )
    slack = F.ceil(F.col("_n") / accuracy) + 1
    return counted.select(
        *key_cols,
        *[
            (
                (F.col(f"_lt{i}") <= probabilities[i] * F.col("_n") + slack)
                & (F.col(f"_le{i}") >= probabilities[i] * F.col("_n") - slack)
            ).alias(f"p{int(probabilities[i] * 100)}_ok")
            for i in range(len(probabilities))
        ],
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    *,
    k: int = 20,
    capacity: int = 256,
) -> DataFrame:
    """``agg_heavy_hitters`` — approximate top-k most frequent values
    (batched Misra-Gries summaries) with a DETERMINISTIC error bound.

    The exact formulation (``groupBy(key).count()`` then top-k) shuffles
    one row per distinct key; at 100 TB over an unbounded key domain
    (words, URLs, user agents) that is the whole corpus. Misra-Gries
    keeps ≤ ``capacity`` counters per task and is a MERGEABLE summary
    (Agarwal et al., PODS'12): per-partition summaries sum key-wise and
    the bounds ADD, so the plan is one narrow Arrow pass emitting
    ≤ ``capacity`` rows per task + a summary-sized aggregation — the
    shuffle carries tasks × capacity rows, independent of both the row
    count and the key cardinality.

    Guarantees (the contract the tests pin, with W = retained summary
    weight, N = non-null input rows, both computed in the same pass):

    - ``est ≤ true ≤ est + err_bound`` for every reported key, with
      ``err_bound = floor((N − W) / (capacity + 1))``. Each batched
      compression subtracts the (capacity+1)-th largest counter value v
      from every counter, discarding ≥ (capacity+1)·v total weight while
      any single key loses ≤ v — so a key's cumulative deficit is at
      most the partition's discarded weight / (capacity+1), and deficits
      sum across partitions into the global bound.
    - every key with true count > err_bound survives into the merged
      summary (a key absent from a partition's summary has lost its
      whole local count to deficits). The top-``k`` cut can still drop
      it: the MERGED summary holds up to tasks × capacity keys, so the
      membership guarantee transfers to the output only when ``k`` is at
      least that (pass a large ``k`` to keep the full summary; the
      summary is tiny either way).

    Plan: scan → ``mapInPandas`` (pandas ``value_counts`` per batch +
    vectorized compression; one meta row per task carries N_p) →
    lazy-``localCheckpoint`` pin (the totals row and the per-key sum are
    two consumers feeding different exchanges — unpinned, the full scan
    runs twice) → tiny hash agg + broadcast of the 1-row totals.

    Output: ``(key, est, err_bound)``, top-k by ``est`` (desc, key
    tiebreak), key cast to string, NULL keys ignored.
    """
    import pandas as pd

    cap = int(capacity)
    if cap < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    if k < 1:
        # limit(0) would silently return an empty "top keys" answer
        # indistinguishable from an empty input; negative k dies as an
        # opaque AnalysisException at action time
        raise ValueError(f"k must be >= 1, got {k}")

    def gen(batches):
        # dict-accumulate instead of pandas Series.add: the Series form
        # rebuilds a union-indexed object array EVERY batch (O(summary +
        # batch) allocations per batch); plain dict updates over the
        # value_counts buffers touch only the batch's keys. Compression
        # picks the (cap+1)-th largest weight with a heap select
        # (O(m log cap)), subtracts it everywhere and drops the
        # non-positive counters — same Misra-Gries step, same bounds
        # (r15, per-task-work optimization; guide §4.2).
        import heapq

        counters: dict = {}
        n = 0
        get = counters.get
        for pdf in batches:
            vc = pdf["_k"].value_counts()  # drops NULL keys
            n += int(vc.sum())
            for key, cnt in zip(vc.index.tolist(), vc.to_list()):
                counters[key] = get(key, 0) + cnt
            if len(counters) > cap:
                v = heapq.nlargest(cap + 1, counters.values())[-1]
                counters = {k: c - v for k, c in counters.items() if c > v}
                get = counters.get
        keys = list(counters.keys())
        ws = [int(x) for x in counters.values()]
        yield pd.DataFrame(
            {
                "key": keys + [None],
                "w": ws + [0],
                "n": [0] * len(keys) + [n],
            }
        )

    summ = df.select(F.col(key_col).cast("string").alias("_k")).mapInPandas(
        gen, "key string, w long, n long"
    )
    summ = pin(summ, eager=False)
    totals = summ.agg(F.sum("n").alias("_N"), F.sum("w").alias("_W"))
    est = (
        summ.where(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.sum("w").alias("est"))
    )
    topk = est.orderBy(F.desc("est"), "key").limit(k)
    return topk.crossJoin(F.broadcast(totals)).select(
        "key",
        "est",
        F.floor((F.col("_N") - F.col("_W")) / F.lit(cap + 1))
        .cast("bigint")
        .alias("err_bound"),
    )


def count_min_table(
    df: DataFrame,
    value_col: str,
    *,
    width: int = 2048,
    depth: int = 5,
    seed: int = 42,
    weight_col: "str | None" = None,
) -> DataFrame:
    """Build a Count-Min sketch as a DataFrame — ``(d, bucket, cnt)``,
    depth × width rows. Point-frequency estimation for ANY value (the
    complement of Misra-Gries :func:`heavy_hitters`, which only tracks a
    top set): est(x) = min over rows d of cnt[d, hash_d(x) mod width],
    with the classic guarantee est ≥ true always and
    est ≤ true + (e/width)·N with probability ≥ 1 − exp(−depth) per
    query (Cormode & Muthukrishnan 2005), N = total weight.

    Why a DataFrame and not Spark's builtin ``count_min_sketch``
    aggregate: the builtin emits an opaque binary whose queries must
    happen JVM-side per-call; this table IS the sketch — O(d·w) rows,
    broadcastable, mergeable by plain ``groupBy(d, bucket).sum(cnt)``
    (the sketch is a counter matrix, merge = elementwise add), and
    queryable as a join (:func:`cms_estimate`). The build is ONE
    aggregation: each row explodes to its depth buckets scan-side, the
    partial agg collapses to ≤ d·w rows per task, and the shuffle
    carries O(d·w·tasks) regardless of input size — the same
    summary-bound shape as `heavy_hitters`.

    NULL values are skipped (not a frequency class); ``weight_col``
    accumulates a weight instead of 1 per row (NULL weight = 0).
    """
    if width < 2 or depth < 1:
        raise ValueError(f"need width >= 2, depth >= 1; got {width}, {depth}")
    buckets = F.array(
        *[
            F.pmod(
                F.xxhash64(F.col(value_col), F.lit(int(seed) + i)),
                F.lit(width),
            )
            for i in range(depth)
        ]
    )
    if weight_col:
        # double, not a bigint cast (which would truncate fractional
        # weights to 0 and silently zero the sketch); negative weights
        # would break the est >= true guarantee, so they fail loudly
        wd = F.col(weight_col).cast("double")
        w = F.when(
            wd < 0,
            F.raise_error(
                F.concat(
                    F.lit(
                        "count_min_table: negative weight breaks the "
                        "CMS est>=true guarantee: "
                    ),
                    wd.cast("string"),
                )
            ),
        ).otherwise(F.coalesce(wd, F.lit(0.0)))
    else:
        w = F.lit(1.0)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(w.alias("_w"), F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    queries: DataFrame,
    value_col: str,
    *,
    width: int,
    depth: int,
    seed: int = 42,
    out_col: str = "est",
) -> DataFrame:
    """Point-frequency estimates for EVERY row of ``queries`` (duplicate
    rows each keep their own output row — the re-aggregation keys on a
    per-row id, not the row content, which also keeps map-typed query
    columns legal) against a :func:`count_min_table` sketch (same
    width/depth/seed — caller contract, not encoded in the table).
    Returns ``queries``' columns + ``out_col``. Never-seen values
    estimate 0 or the collision mass of their buckets — still ≥ true
    (=0) per the CMS guarantee; NULL query values estimate NULL (the
    build skips NULLs — they are not a frequency class, and hashing one
    would return arbitrary seed-bucket collision mass).

    Plan: queries explode to their depth probes scan-side, the sketch
    side is O(d·w) rows and broadcasts, the min-over-depths is a
    re-aggregation keyed on the query-row id — no shuffle ever carries
    the sketch or more than depth rows per query.
    """
    # the row id is assigned in its OWN projection BELOW the explode —
    # in the same select, the nondeterministic id would be evaluated per
    # exploded probe row (measured: depth distinct ids per query row,
    # which silently disables the min-over-depths) — AND the projection
    # is pinned (lazy localCheckpoint, the heavy_hitters pin): a task
    # retry or speculative re-execution of the probe stage after partial
    # shuffle consumption would otherwise reassign ids and split/merge
    # query groups, corrupting estimates (ADVICE r8)
    base = queries.select(
        F.monotonically_increasing_id().alias("_qid"),
        F.struct(*[F.col(c) for c in queries.columns]).alias("_q"),
    )
    base = pin(base, eager=False)
    probes = base.select(
        "_qid",
        "_q",
        F.posexplode(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(
                            F.col(f"_q.{value_col}"), F.lit(int(seed) + i)
                        ),
                        F.lit(width),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("d", "bucket"),
    )
    joined = probes.join(F.broadcast(cms), ["d", "bucket"], "left").select(
        "_qid", "_q", F.coalesce(F.col("cnt"), F.lit(0.0)).alias("_cnt")
    )
    agg = joined.groupBy("_qid").agg(
        F.first("_q").alias("_q"), F.min("_cnt").alias("_est")
    )
    return agg.select(
        "_q.*",
        F.when(
            F.col(f"_q.{value_col}").isNotNull(), F.col("_est")
        ).alias(out_col),
    )


def hll_table(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
    p: int = 12,
    seed: int = 42,
) -> DataFrame:
    """HyperLogLog as a DataFrame — ``(group_cols…, register, max_rho)``,
    ≤ 2^p rows per group. Same design rationale as :func:`count_min_table`
    vs the opaque builtin: Spark's ``approx_count_distinct`` sketch lives
    and dies inside one aggregation call, so distinct counts over a NEW
    grouping (daily partials → monthly rollup, per-shard sketches →
    corpus total) must rescan the data. This table IS the sketch:
    ``hll_merge`` unions pre-aggregated sketches with a plain
    ``max(max_rho)`` — HLL's merge is an elementwise register max — and
    :func:`hll_estimate` turns any (merged) table into counts.

    Register math is integer-exact in codegen: register = low ``p`` hash
    bits, rho = leading-zero count of the remaining 64−p bits + 1,
    computed as binary-string-length arithmetic (the
    ``balanced_shards``/zorder trick — no float log2 anywhere in the
    sketch itself). NULL values are skipped. Build shape: scan-side
    projection + ONE aggregation whose partial collapses to ≤ 2^p rows
    per group per task.
    """
    if not 7 <= p <= 18:
        raise ValueError(f"p must be in [7, 18], got {p}")
    g = group_cols or []
    h = F.xxhash64(F.col(value_col), F.lit(int(seed)))
    reg = F.pmod(h, F.lit(2**p))
    w = F.shiftrightunsigned(h, p)
    rho = F.when(w == 0, F.lit(64 - p + 1)).otherwise(
        F.lit(64 - p) - (F.length(F.conv(w.cast("string"), 10, 2)) - 1)
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*g, reg.alias("register"), rho.alias("rho"))
        .groupBy(*g, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_merge(
    tables: "list[DataFrame]", *, group_cols: "list[str] | None" = None
) -> DataFrame:
    """Merge HLL tables built with the SAME (p, seed): union + register
    max. Exact merge law — sketch(A ∪ B) == merge(sketch(A), sketch(B))
    row-for-row, because max is idempotent/commutative/associative."""
    if not tables:
        raise ValueError("tables must be non-empty")
    g = group_cols or []
    out = tables[0]
    for t in tables[1:]:
        out = out.unionByName(t)
    return out.groupBy(*g, "register").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(
    table: DataFrame,
    *,
    p: int,
    group_cols: "list[str] | None" = None,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Distinct-count estimates from a :func:`hll_table` (possibly
    merged): one row per group, ``round`` to BIGINT. Flajolet et al.'s
    raw estimator ``alpha·m²/Σ2^(−M_j)`` (absent registers contribute
    2^0 = 1 each) with the small-range linear-counting correction
    ``m·ln(m/V)`` when E ≤ 2.5m and zero registers exist — the standard
    error is 1.04/√m (±1.6% at p=12). The aggregation reads ≤ 2^p rows
    per group; estimation cost is independent of the original data."""
    if not 7 <= p <= 18:
        raise ValueError(f"p must be in [7, 18], got {p}")
    m = 2**p
    alpha = 0.7213 / (1 + 1.079 / m)
    g = group_cols or []
    agg = table.groupBy(*g).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_s"),
        F.count(F.lit(1)).alias("_nreg"),
    )
    zeros = F.lit(m) - F.col("_nreg")
    raw = F.lit(alpha * m * m) / (F.col("_s") + zeros)
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *g, F.round(est).cast("bigint").alias(out_col)
    )


def kmv_table(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: "list[str] | None" = None,
    k: int = 1024,
    seed: int = 42,
) -> DataFrame:
    """K-minimum-values (theta) sketch as a DataFrame — the k smallest
    DISTINCT hash values per group, ``(group_cols…, hv)``. Completes the
    sketch family: HLL estimates one set's cardinality, but a KMV sketch
    is a uniform SAMPLE of the hash space, so two sketches support SET
    OPERATION estimates — corpus overlap ("how many doc_ids appear in
    both crawls"), union sizes — via :func:`kmv_estimate` /
    :func:`kmv_intersect_estimate` (Beyer et al. 2007 / theta-sketch
    semantics).

    Hashes are ``xxhash64`` shifted to unsigned ordering by XOR with the
    sign bit (Long.MIN_VALUE), so "k smallest" is over uniform [0, 2^64).
    Build: scan-side hash + per-group DISTINCT + rank ≤ k — the
    ``row_number`` compiles to WindowGroupLimit with a PARTIAL pass below
    the exchange (each task forwards ≤ k rows per group), so the shuffle
    carries O(k·groups·tasks). Merge two sketches = union → distinct →
    re-take k smallest = ``kmv_table`` over the unioned sketch rows.
    """
    if k < 16:
        raise ValueError(f"k must be >= 16, got {k}")
    from pyspark.sql.window import Window

    g = group_cols or []
    hv = F.xxhash64(F.col(value_col), F.lit(int(seed))).bitwiseXOR(
        F.lit(-(2**63))
    )
    distinct = (
        df.where(F.col(value_col).isNotNull())
        .select(*g, hv.alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*g).orderBy("hv") if g else Window.orderBy("hv")
    return (
        distinct.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def _theta():
    """Normalized MAX sketch hash — the fraction of hash space the
    sketch covers. Equals the k-th smallest only when the sketch is
    saturated (n ≥ k); every caller guards the unsaturated case with
    its own n-vs-k check before using this as a theta."""
    return (F.max("hv") + F.lit(2.0**63)) / F.lit(2.0**64)


def kmv_estimate(
    sketch: DataFrame,
    *,
    k: int,
    group_cols: "list[str] | None" = None,
    out_col: str = "est_distinct",
) -> DataFrame:
    """Distinct-count estimate per group: (k−1)/theta_k when the sketch
    is full (saturated), else the EXACT count of sketch rows (fewer than
    k distinct values ⇒ the sketch holds all of them)."""
    g = group_cols or []
    agg = sketch.groupBy(*g).agg(
        F.count(F.lit(1)).alias("_n"), _theta().alias("_theta")
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(k - 1) / F.col("_theta")
    )
    return agg.select(*g, F.round(est).cast("bigint").alias(out_col))


def _sketch_stats_relation(a: DataFrame, b: DataFrame, *, k: int):
    """Pinned sketches + a LAZY one-row stats relation
    ``(_theta, _cut)``.

    r15 pinned the ≤ k-row sketches and fused the two theta collects
    into one action; r16 removes the driver round-trip ENTIRELY
    (guide §5): theta and the hash-space cut are computed in-engine
    from the two sides' one-row aggregates (a broadcast cross join),
    so estimator construction runs ZERO actions — the whole estimate
    evaluates inside the consumer's single job, with the sketch
    builds materializing once through the lazy pins. The arithmetic
    is the exact expression sequence the old driver-side Python ran —
    IEEE doubles either way, ``cast(double as long)`` truncates
    toward zero and saturates at ``2^63−1`` exactly like
    ``min(int(...), 2**63-1)`` — so estimates are bit-identical.

    An UNSATURATED side (n < k) covers its whole set: its theta is 1.
    Empty sketches need no special case — ``max(hv)`` over zero rows
    is NULL, n=0 < k routes to the theta=1 branch, and the downstream
    count is 0, so the estimate is 0.
    """
    a = pin(a, eager=False)
    b = pin(b, eager=False)
    sa = a.agg(_theta().alias("_ta"), F.count(F.lit(1)).alias("_na"))
    sb = b.agg(_theta().alias("_tb"), F.count(F.lit(1)).alias("_nb"))
    theta = F.least(
        F.when(F.col("_na") >= k, F.col("_ta")).otherwise(F.lit(1.0)),
        F.when(F.col("_nb") >= k, F.col("_tb")).otherwise(F.lit(1.0)),
    )
    stats = sa.crossJoin(sb).select(
        theta.alias("_theta"),
        F.least(
            (theta * F.lit(2.0**64) - F.lit(2.0**63)).cast("long"),
            F.lit(2**63 - 1),
        ).alias("_cut"),
    )
    return a, b, stats


def _scaled_count(counted: DataFrame, stats: DataFrame, out_col: str):
    """``round(count / theta)`` as a one-row relation: global count of
    ``counted`` (1 row even when empty) cross-joined with the one-row
    stats; ``bround`` is HALF_EVEN — the same banker's rounding as the
    Python ``round`` the r15 driver-side path used."""
    cnt = counted.agg(F.count(F.lit(1)).alias("_common"))
    return cnt.crossJoin(F.broadcast(stats)).select(
        F.bround(F.col("_common") / F.col("_theta"), 0)
        .cast("bigint")
        .alias(out_col)
    )


def kmv_intersect_estimate(
    a: DataFrame,
    b: DataFrame,
    *,
    k: int,
    out_col: str = "est_common",
) -> DataFrame:
    """Estimated |A ∩ B| from two UNGROUPED :func:`kmv_table` sketches
    built with the same (k, seed): theta = min(theta_a, theta_b) bounds
    the jointly-sampled hash region; hashes below it present in BOTH
    sketches are a uniform sample of the intersection, so
    est = |common below theta| / theta (exact when both sets fit their
    sketches). One broadcast-scale join between two ≤ k-row relations —
    estimation never touches the original data, and since r16 never
    touches the DRIVER either: theta/cut evaluate in-engine
    (:func:`_sketch_stats_relation`), so the whole estimate is one
    lazy plan with zero construction actions."""
    a, b, stats = _sketch_stats_relation(a, b, k=k)
    # join on hv first, cut after: the join key IS hv, so a matching
    # pair is below the cut iff either side is — identical to the old
    # both-sides pre-filter
    common = (
        a.join(b, "hv")
        .crossJoin(F.broadcast(stats))
        .where(F.col("hv") <= F.col("_cut"))
    )
    return _scaled_count(common, stats, out_col)


def kmv_difference_estimate(
    a: DataFrame,
    b: DataFrame,
    *,
    k: int,
    out_col: str = "est_only_a",
) -> DataFrame:
    """Estimated |A \\ B| (theta-sketch A-not-B) from two UNGROUPED
    :func:`kmv_table` sketches built with the same (k, seed): below
    theta = min(theta_a, theta_b) the two sketches hold uniform
    hash-samples of their sets over the SAME region, so A's sub-theta
    hashes absent from B's sub-theta hashes are a uniform sample of
    A \\ B and est = |a_below \\ b_below| / theta — one LEFT ANTI join
    between two ≤ k-row relations; like the intersect estimator,
    estimation never touches the original data. The churn/attrition
    question the intersect can't answer directly (how much of last
    year's assortment was DROPPED), and together with it the full
    inclusion–exclusion triple: |A∪B| = |A∩B| + |A\\B| + |B\\A|.
    Zero construction actions since r16 (see the intersect
    estimator)."""
    a, b, stats = _sketch_stats_relation(a, b, k=k)
    # anti-join against the UNFILTERED b side is equivalent to the old
    # both-sides pre-filter: any b row matching an a row shares its hv,
    # so it is below the cut exactly when the a row is
    only_a = (
        a.join(b, "hv", "left_anti")
        .crossJoin(F.broadcast(stats))
        .where(F.col("hv") <= F.col("_cut"))
    )
    return _scaled_count(only_a, stats, out_col)


# -- bottom-k quantile sketch (mergeable sample) ----------------------------

#: quantile_sketch row cap — the per-group sample size. 1024 gives
#: ~±1.6% rank error at 1σ (sqrt(p(1-p)/k) at p=0.5), ±6% at 4σ.
QUANTILE_SKETCH_K = 1024


def quantile_sketch_table(
    df: DataFrame,
    value_col: str,
    *,
    key_col: str,
    group_cols: "list[str] | None" = None,
    k: int = QUANTILE_SKETCH_K,
) -> DataFrame:
    """Mergeable quantile sketch as a DataFrame — ``(group_cols…,
    qs_key, qs_value)``, the ≤ ``k`` rows per group with the SMALLEST
    content-derived md5 draws of ``key_col`` (a uniform bottom-k row
    sample). Completes the sketch-IS-a-DataFrame family
    (:func:`hll_table` / :func:`kmv_table` / :func:`count_min_table`)
    for percentiles: Spark's ``approx_percentile`` sketch lives and
    dies inside one aggregation call, so quantiles over a NEW grouping
    (daily partials → monthly rollup) must rescan the data — this
    table re-aggregates instead (:func:`quantile_sketch_merge`).

    Why bottom-k: the minimum-draw property makes merge EXACT —
    ``bottomk(A ∪ B) = bottomk(bottomk(A) ∪ bottomk(B))`` — and the
    draw is content-addressed (md5 of the row key, no RNG), so the
    sketch is deterministic under any partitioning, re-run, or merge
    order, which also makes it the one percentile sketch in the engine
    whose VALUES can be cross-engine hash-checked row-for-row (the
    HLL/GK register layouts cannot). Sample quantiles over k uniform
    draws carry rank error ~``n·sqrt(p(1-p)/k)`` whp — the bound
    :func:`quantile_sketch_estimate`'s tests pin.

    Scale shape: grouped = ``row_number`` over (draw, key) compiling to
    the WindowGroupLimit partial pushdown (each map task forwards ≤ k
    rows per group — shuffle O(k·groups·tasks), never the corpus);
    global (``group_cols=None``) = TakeOrderedAndProject (per-task
    k-heaps, driver merge, no global sort). NULL/NaN measurements are
    skipped (not a value class); NULL keys are rejected — the draw of
    NULL sorts first under asc and would hijack every sample.

    CALLER CONTRACT: ``key_col`` uniquely identifies each row (it is
    the row's content address — the whole sampling family's contract).
    Violations stay deterministic (duplicate keys draw identically and
    tie-break by value, so repeated rows can occupy several sample
    slots), but the sample is then no longer uniform over rows.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from .text import md5_draw

    # NULL and NaN measurements are both excluded (a NaN would sort
    # last and poison high percentiles; the double cast turns any
    # non-numeric junk into NULL)
    vcast = F.col(value_col).cast("double")
    base = df.where(
        vcast.isNotNull()
        & ~F.isnan(vcast)
        & F.col(key_col).isNotNull()
    ).select(
        *(group_cols or []),
        F.col(key_col).alias("qs_key"),
        F.col(value_col).alias("qs_value"),
    )
    # qs_value joins the ordering as the final tiebreak: duplicate keys
    # draw identically, and without it the kept row at the k boundary
    # would be partition-order dependent — breaking the documented
    # determinism and exact-merge guarantees (review r9). Rows tied on
    # (draw, key, value) are interchangeable by construction.
    draw = md5_draw(F.col("qs_key"))
    order = [draw.asc(), F.col("qs_key").asc(), F.col("qs_value").asc()]
    if not group_cols:
        return base.orderBy(*order).limit(k)
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def quantile_sketch_merge(
    parts: DataFrame,
    *,
    group_cols: "list[str] | None" = None,
    k: int = QUANTILE_SKETCH_K,
) -> DataFrame:
    """Merge pre-aggregated :func:`quantile_sketch_table` relations
    (pass their UNION, possibly under a coarser grouping than they were
    built with): re-take the bottom k per group. Because draws are
    content-derived, the merge is EXACT — identical, row for row, to a
    sketch built directly over the union of the original data (pinned
    in tests). Cost: a ≤ k·groups-row relation through one group-limit
    — the original data is never touched."""
    return quantile_sketch_table(
        parts,
        "qs_value",
        key_col="qs_key",
        group_cols=group_cols,
        k=k,
    )


def quantile_sketch_estimate(
    sketch: DataFrame,
    *,
    group_cols: "list[str] | None" = None,
    probabilities: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """Quantile estimates from a (possibly merged)
    :func:`quantile_sketch_table`: per group, the type-1 sample order
    statistic ``sorted(values)[max(1, ceil(p·m))]`` per requested
    probability — one ``p_<percent>`` double column each. Deterministic
    integer rank math on a deterministic sample, so the output is
    hash-checkable cross-engine (unlike every register-based sketch).
    The per-group buffer is the ≤ k-row sample (``collect_list`` over
    the SKETCH, never the data) — bounded by construction."""
    for p in probabilities:
        if not 0 < p <= 1:
            raise ValueError(f"probabilities must be in (0, 1], got {p}")
    vals = F.array_sort(
        F.collect_list(F.col("qs_value").cast("double"))
    )
    agg = (
        sketch.groupBy(*(group_cols or []))
        .agg(vals.alias("_v"), F.count(F.lit(1)).alias("_m"))
    )
    return agg.select(
        *(group_cols or []),
        *[
            F.element_at(
                "_v",
                F.greatest(
                    F.lit(1), F.ceil(F.lit(float(p)) * F.col("_m"))
                ).cast("int"),
            ).alias(f"p_{int(p * 100)}")
            for p in probabilities
        ],
    )
