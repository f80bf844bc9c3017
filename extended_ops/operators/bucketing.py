"""Bucketed (co-located) joins — the shuffle-elimination strategy for
repeated big⨝big joins at 100 TB.

A shuffle join of two 100 TB fact tables exchanges BOTH sides on the join
key every time the join runs. If the tables are written **bucketed** on
that key (`bucketBy(n, key)`), every future join, aggregation, or window
on the key reads co-located buckets and skips the exchange entirely —
the classic amortize-the-shuffle-once trade every large warehouse makes
(Spark's table bucketing; equivalent to Hive bucketed tables).

Design constraints this module encodes:

- **Bucket counts must match** (or divide, with
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``) across join
  sides — both writers take the count from one place.
- **Sorted buckets** (`sortBy`) additionally let the sort-merge join skip
  its per-task sort when Spark can trust the file order.
- The demonstration is **plan-asserted** in ``tests/test_bucketing.py``:
  the bucketed join's physical plan contains NO shuffle exchange on
  either side, while the identical unbucketed join exchanges both sides.
  That assertion — not a benchmark at toy scale — is the evidence that
  transfers to the 1000-executor case.

The writers produce EXTERNAL tables (explicit ``path``) so tests and
pipelines control the storage location; ``saveAsTable`` is required
because bucket metadata lives in the catalog, not the parquet footers —
a plain ``parquet(path)`` write silently drops the bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    key: str,
    buckets: int,
    path: str,
    sort: bool = True,
) -> None:
    """Write ``df`` as an external bucketed table: ``buckets`` hash
    buckets on ``key``, optionally sorted by ``key`` within each bucket
    (lets downstream sort-merge joins skip their sort)."""
    w = df.write.mode("overwrite").option("path", path).bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Join two catalog tables; when both are bucketed on the join key
    with matching bucket counts, Catalyst plans a zero-exchange
    sort-merge join (asserted in tests). The function is a plain
    ``DataFrame.join`` on purpose: co-location is a property of the
    STORAGE, not a special operator — any join/groupBy/window on the
    bucket key gets the same free pass."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


# --------------------------------------------------------------------------
# Z-order (multi-column) layout
# --------------------------------------------------------------------------


def _bucket_search_expr(col, boundaries):
    """0-based bucket of ``col`` against the sorted ``boundaries`` list,
    built as a BALANCED BINARY-SEARCH ``when`` tree: the result r
    satisfies ``boundaries[r-1] <= col < boundaries[r]`` (r in
    [0, len(boundaries)]).

    O(log n) codegen'd comparisons per row — a ``filter()`` /
    ``aggregate()`` over a literal array would be an interpreted
    higher-order function at O(n) per row, and a flat ``when`` chain is
    O(n) too. NULL values take every ``otherwise`` branch and land in
    bucket 0 (callers that need NULL isolation filter first).
    """
    from pyspark.sql import functions as F

    def search(lo: int, hi: int):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi + 1) // 2
        return F.when(
            col >= F.lit(boundaries[mid - 1]), search(mid, hi)
        ).otherwise(search(lo, mid - 1))

    return search(0, len(boundaries))


def zorder_key(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 6,
    boundaries: dict[str, list[float]] | None = None,
    exact: bool = False,
) -> DataFrame:
    """``layout_zorder`` — add a Morton (Z-order) clustering key over
    ``cols``: quantile-bucket each column to ``bits`` bits, interleave
    the bits. Sorting/range-partitioning by ``zkey`` co-locates rows
    that are close in EVERY dimension, so min/max footer stats prune
    scans for predicates on ANY of the columns — the same layout
    strategy as Delta's OPTIMIZE ZORDER BY, built from first principles
    on plain DataFrames.

    Why this shape at 100 TB:

    - **Quantile boundaries, not equi-width**: buckets hold equal row
      counts whatever the value skew, so every zkey prefix addresses a
      comparable data volume (an equi-width grid collapses under Zipf /
      long-tail distributions — most rows in one cell, no pruning).
    - **One construction-time pass, O(1) driver state**: boundaries come
      from a single ``approx_percentile`` aggregate (t-digest-style
      sketch, map-side mergeable) collecting cols × (2^bits − 1)
      doubles. Pass ``boundaries`` explicitly to reuse a layout across
      incremental writes (stable keys need stable edges).
    - **O(bits) per-row bucket math**: the binary-search ``when`` tree +
      bit interleave are pure codegen'd integer/compare expressions —
      no UDF, no join, no shuffle added by the key itself.
    - ``exact=True`` computes boundaries with the exact ``percentile``
      aggregate ROUNDED to 6 decimals — deterministic cross-engine
      (DuckDB ``round(quantile_cont(..), 6)`` reproduces the edges
      bit-for-bit, the oracle-twin contract). Exact percentile buffers
      the column per aggregation — construction cost for tests and
      modest tables, not the 100 TB default.

    Output: ``df`` + ``zkey`` (bigint). Use :func:`zorder_layout` to
    also range-partition and sort for writing.
    """
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    if not 1 <= bits <= 8:
        raise ValueError(f"bits must be in [1, 8], got {bits}")
    if len(cols) < 2:
        raise ValueError(
            "z-order needs >= 2 columns (one column: just sort by it)"
        )
    if bits * len(cols) > 63:
        # bit position 63 is the bigint sign bit (top-bucket rows would
        # sort FIRST) and Java shifts wrap mod 64 (position 65 collides
        # with 1) — either silently destroys the layout
        raise ValueError(
            f"bits * len(cols) must be <= 63 to fit a signed 64-bit "
            f"zkey, got {bits} * {len(cols)} = {bits * len(cols)}; "
            f"lower bits or drop columns"
        )
    n_buckets = 1 << bits
    if boundaries is None:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        arr = ", ".join(f"{p!r}D" for p in probs)
        fn = (
            "array_sort(transform(percentile(`{c}`, array({a})), "
            "x -> round(x, 6)))"
            if exact
            else "approx_percentile(`{c}`, array({a}), 10000)"
        )
        row = df.agg(
            *[
                F.expr(fn.format(c=c.replace("`", "``"), a=arr)).alias(c)
                for c in cols
            ]
        ).first()
        for c in cols:
            if row[c] is None:
                raise ValueError(
                    f"cannot derive z-order boundaries for {c!r}: "
                    "empty input or all-NULL column"
                )
        boundaries = {c: [float(x) for x in row[c]] for c in cols}
    for c in cols:
        b = boundaries[c]
        if len(b) != n_buckets - 1 or sorted(b) != list(b):
            raise ValueError(
                f"boundaries[{c!r}] must be {n_buckets - 1} sorted edges"
            )

    m = len(cols)
    terms = []
    for j, c in enumerate(cols):
        bucket = _bucket_search_expr(
            F.col(c).cast("double"), boundaries[c]
        ).cast("bigint")
        for i in range(bits):
            terms.append(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * m + j,
                )
            )
    return df.withColumn("zkey", reduce(add, terms).cast("bigint"))


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 6,
    num_partitions: int | None = None,
    boundaries: dict[str, list[float]] | None = None,
) -> DataFrame:
    """Z-order a DataFrame for writing: :func:`zorder_key` +
    ``repartitionByRange(zkey)`` (contiguous zkey ranges per output
    file — what makes footer min/max stats selective) + a
    ``sortWithinPartitions`` so row groups inside each file stay
    clustered too."""
    if num_partitions is not None and num_partitions < 1:
        raise ValueError(
            f"num_partitions must be >= 1, got {num_partitions}"
        )
    out = zorder_key(df, cols, bits=bits, boundaries=boundaries)
    parts = [] if num_partitions is None else [num_partitions]
    return out.repartitionByRange(*parts, "zkey").sortWithinPartitions(
        "zkey"
    )
