"""Temporal / dimension-history operators.

``scd2_history`` builds a type-2 slowly-changing-dimension table from a
changelog — the warehouse-modeling sibling of the CDC family in
:mod:`.dedup` (``cdc_apply`` materializes the LATEST state; SCD2 keeps
EVERY state with its validity interval, the shape BI tools and
point-in-time joins consume).

Reference parity note: the reference engine's session store keeps only
current state per key (``App.java`` keyed process state); this module is
part of the extended warehouse surface built on the same keyed-change
semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def scd2_history(
    changelog: DataFrame,
    *,
    key_cols: "list[str]",
    ts_col: str,
    attr_cols: "list[str]",
    tiebreak_cols: "list[str] | None" = None,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    version_col: str = "version",
    current_col: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a keyed changelog:
    one row per (key, attribute-state) RUN, with ``[valid_from,
    valid_to)`` validity, a 1-based per-key ``version`` and an
    ``is_current`` flag on the open interval (``valid_to`` NULL).

    Semantics:

    - Rows are replayed per key in ``(ts_col, *tiebreak_cols)`` order —
      the caller supplies enough tiebreak columns (log sequence, event
      id) to make that order TOTAL within a key; ties left ambiguous
      would make the collapse nondeterministic.
    - Consecutive rows whose ``attr_cols`` are unchanged COLLAPSE into
      one version (null-safe comparison: ``(NULL → 'x' → NULL)`` is
      three versions, ``(NULL → NULL)`` is one) — the standard SCD2
      contract: a version spans until the attributes actually change,
      re-asserting the same state extends the current version.
    - ``valid_to`` = the next version's ``valid_from`` (half-open
      intervals chain gaplessly; a point-in-time lookup is
      ``valid_from <= t AND (valid_to IS NULL OR t < valid_to)``).

    Plan (designed for the 100 TB changelog): ONE shuffle. Both window
    passes — the change-detection ``lag`` and the interval/version
    ``lead``/``row_number`` — partition by the same key, and the
    intervening filter preserves the child's hash partitioning, so
    Catalyst plans a single Exchange with two Window operators over it
    (plan-gated in tests). State per key is O(1) per pass (streaming
    window frames), never a per-key buffer; skew = the hottest single
    key's row count, same bound as any keyed log replay.
    """
    tiebreak = list(tiebreak_cols or [])
    order = [F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak]
    w_scan = Window.partitionBy(*key_cols).orderBy(*order)

    state = F.struct(*attr_cols)
    changed: Column = ~state.eqNullSafe(F.lag(state).over(w_scan))
    # lag is NULL on each key's first row; eqNullSafe makes that compare
    # FALSE (a struct of values is never "equal" to a missing row), so
    # `changed` is already TRUE there — no extra first-row special case.
    runs = changelog.withColumn("_chg", changed).where(F.col("_chg"))

    w_runs = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    nxt = F.lead(F.col(ts_col)).over(w_runs)
    return runs.select(
        *key_cols,
        *attr_cols,
        F.col(ts_col).alias(valid_from_col),
        nxt.alias(valid_to_col),
        F.row_number().over(w_runs).cast("int").alias(version_col),
        nxt.isNull().alias(current_col),
    )


def scd2_merge(
    existing: DataFrame,
    increment: DataFrame,
    *,
    key_cols: "list[str]",
    ts_col: str,
    attr_cols: "list[str]",
    tiebreak_cols: "list[str] | None" = None,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    version_col: str = "version",
    current_col: str = "is_current",
) -> DataFrame:
    """Incremental SCD2 maintenance: merge a NEW changelog batch into an
    ALREADY-BUILT SCD2 table and return the updated table — the nightly
    delta-maintenance step that keeps a dimension current without
    replaying the full history (incremental maintenance of
    :func:`scd2_history`).

    The from-scratch invariant (pinned in tests and by the staged
    registration's oracle, which re-derives the result from the FULL
    changelog): ``scd2_merge(scd2_history(base), inc) ==
    scd2_history(base ∪ inc)`` — UNDER the append contract below.

    APPEND CONTRACT (precise, and uncheckable from ``existing`` — the
    caller must guarantee it): every increment row of a key is strictly
    later than that key's LAST BASE CHANGELOG ROW — not merely its last
    version boundary. The distinction matters: collapsed rows are
    unrecoverable from the SCD2 table, so an increment landing INSIDE
    an existing run cannot see the collapsed duplicates after its
    position. Concretely, base ``(t1,A),(t2,A)`` builds one open
    version ``A@t1`` (t2 collapsed); an increment ``(t1.5,B)`` — later
    than the last BOUNDARY t1 but not the last ROW t2 — would rebuild
    ``A@[t1,t1.5), B@[t1.5,∞)``, silently losing the full history's
    re-assertion ``A@[t2,∞)``. The nightly-append deployment (each
    batch wholly later than the previous) satisfies the contract
    trivially; bi-temporal corrections need the full-history rebuild.
    Within that contract, replaying only the version BOUNDARIES is
    lossless: collapsed rows were consecutive same-state duplicates
    BEFORE every increment row, so they can never move a run boundary
    the replay would compute differently.

    Tie contract: increment rows must not share a timestamp with an
    existing version boundary of the same key (re-played boundaries
    carry ``version`` as their ordering, new rows their own
    ``tiebreak_cols`` — the two domains are never compared). Implied by
    the append contract.

    Plan — the scale story is what does NOT recompute: keys absent
    from the increment pass through UNTOUCHED via one broadcast-
    eligible LEFT ANTI join against the increment's distinct keys
    (their rows never enter a window), and only the affected keys'
    boundary rows + new rows — increment-sized, not history-sized —
    go through the :func:`scd2_history` rebuild. One keyed exchange
    over the affected slice, one anti-join over the table.
    """
    inc_keys = increment.select(*key_cols).distinct()
    untouched = existing.join(inc_keys, key_cols, "left_anti")
    affected_versions = existing.join(inc_keys, key_cols, "left_semi")
    tiebreak = list(tiebreak_cols or [])
    # ordering columns for the rebuild: replayed boundaries order by
    # their version number (column "_tbv"); new rows order by the
    # caller's tiebreak_cols in their ORIGINAL types (no lossy cast, no
    # dropped secondary tiebreaks — a long coercion would reorder
    # string ids and ANSI-fail on non-numeric ones). The two domains
    # never meet at one timestamp (tie contract), so each side carries
    # NULLs for the other's columns.
    replay = affected_versions.select(
        *key_cols,
        F.col(valid_from_col).alias(ts_col),
        *attr_cols,
        F.col(version_col).cast("long").alias("_tbv"),
        *[
            F.lit(None).cast(increment.schema[c].dataType).alias(c)
            for c in tiebreak
        ],
    )
    new_rows = increment.select(
        *key_cols,
        ts_col,
        *attr_cols,
        F.lit(None).cast("long").alias("_tbv"),
        *tiebreak,
    )
    rebuilt = scd2_history(
        replay.unionByName(new_rows),
        key_cols=key_cols,
        ts_col=ts_col,
        attr_cols=attr_cols,
        tiebreak_cols=["_tbv", *tiebreak],
        valid_from_col=valid_from_col,
        valid_to_col=valid_to_col,
        version_col=version_col,
        current_col=current_col,
    )
    return untouched.unionByName(rebuilt)
