"""The partitioned (MERGE-INTO-shaped) CDC materializer
(``streaming/cdc.py::make_partitioned_cdc_batch_applier`` — the
production path the r13 verdict asked for): cross-micro-batch equality
vs the batch ``cdc_apply`` replay AND vs the full-rewrite twin, the
touched-buckets-only write-set bound (per-batch rewrite bytes bounded
by touched partitions, not table size), batch-id fencing, the frozen
``n_buckets`` contract, and manifest GC."""

from __future__ import annotations

import os
import re

import pytest

from extended_ops.operators.dedup import cdc_apply
from extended_ops.streaming.cdc import (
    make_partitioned_cdc_batch_applier,
    materialize_cdc_stream_partitioned,
    read_materialized_partitioned,
)
from test_stream_cdc import (
    B1,
    B2,
    B3,
    EXPECTED,
    _snapshot_df,
    _write_batches,
)

CHANGELOG_SCHEMA = "k bigint, seq bigint, op string, v string"
N_BUCKETS = 8


def _versioned_buckets(target: str) -> "dict[int, list[int]]":
    """version → sorted bucket ids physically present on disk."""
    out: "dict[int, list[int]]" = {}
    for vname in os.listdir(target):
        m = re.fullmatch(r"v(\d+)", vname)
        if not m:
            continue
        out[int(m.group(1))] = sorted(
            int(bm.group(1))
            for bm in (
                re.fullmatch(r"_bucket=(\d+)", n)
                for n in os.listdir(os.path.join(target, vname))
            )
            if bm
        )
    return out


def test_partitioned_stream_matches_batch_replay(spark, tmp_path):
    src = str(tmp_path / "log")
    _write_batches(src)
    target = str(tmp_path / "target")
    stream = (
        spark.readStream.schema(CHANGELOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = materialize_cdc_stream_partitioned(
        stream,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot=_snapshot_df(spark),
        n_buckets=N_BUCKETS,
        available_now=True,
    )
    q.awaitTermination(120)

    got = {
        r.k: (r.seq, r.v)
        for r in read_materialized_partitioned(spark, target).collect()
    }
    assert got == EXPECTED
    batch = {
        r.k: (r.seq, r.v)
        for r in cdc_apply(
            _snapshot_df(spark),
            spark.read.parquet(src),
            key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        ).collect()
    }
    assert got == batch
    # the deleted key stays out of the view (tombstone semantics hold
    # across bucket boundaries)
    assert 1 not in got


def test_rewrite_set_is_touched_buckets_only(spark, tmp_path):
    """The MERGE bound: a single-key batch writes that key's bucket
    and nothing else — untouched buckets stay at their old version."""
    target = str(tmp_path / "target")
    apply_batch = make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        snapshot=None,
        n_buckets=N_BUCKETS,
    )
    # seed: keys spread across many buckets
    seed = [(k, 10, "U", f"v{k}") for k in range(1, 33)]
    apply_batch(spark.createDataFrame(seed, CHANGELOG_SCHEMA), 0)
    v0 = _versioned_buckets(target)
    assert len(v0[0]) > 1, "seed landed in one bucket — test is vacuous"

    # single-key update: exactly ONE bucket may be rewritten
    apply_batch(
        spark.createDataFrame([(7, 20, "U", "v7b")], CHANGELOG_SCHEMA), 1
    )
    vb = _versioned_buckets(target)
    assert len(vb[1]) == 1, f"single-key batch rewrote buckets {vb[1]}"
    # untouched buckets still live at v0
    assert set(vb[0]) >= set(v0[0]) - set(vb[1])

    got = {
        r.k: (r.seq, r.v)
        for r in read_materialized_partitioned(spark, target).collect()
    }
    want = {k: (10, f"v{k}") for k in range(1, 33)}
    want[7] = (20, "v7b")
    assert got == want


def test_partitioned_fencing_and_frozen_buckets(spark, tmp_path):
    target = str(tmp_path / "target")
    apply_batch = make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        snapshot=None,
        n_buckets=N_BUCKETS,
    )
    apply_batch(spark.createDataFrame(B1, CHANGELOG_SCHEMA), 0)
    before = {
        r.k: (r.seq, r.v)
        for r in read_materialized_partitioned(spark, target).collect()
    }
    # at-least-once redelivery: same batch_id is a no-op even with
    # different (corrupt/partial) content
    apply_batch(
        spark.createDataFrame([(1, 99, "D", None)], CHANGELOG_SCHEMA), 0
    )
    after = {
        r.k: (r.seq, r.v)
        for r in read_materialized_partitioned(spark, target).collect()
    }
    assert after == before == {1: (10, "a"), 2: (10, "b"), 3: (10, "c")}
    # checkpoint reset (lower batch_id) must raise, not silently skip
    with pytest.raises(RuntimeError, match="checkpoint was reset"):
        apply_batch(
            spark.createDataFrame([(9, 1, "U", "x")], CHANGELOG_SCHEMA), -1
        )
    # n_buckets is frozen at table creation
    mismatched = make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        snapshot=None,
        n_buckets=N_BUCKETS * 2,
    )
    with pytest.raises(ValueError, match="rebucketing"):
        mismatched(
            spark.createDataFrame([(9, 1, "U", "x")], CHANGELOG_SCHEMA), 1
        )


def test_partitioned_gc_keeps_two_generations(spark, tmp_path):
    """After repeated rewrites of the SAME bucket, only the current and
    the immediately-previous generation of that bucket survive."""
    target = str(tmp_path / "target")
    apply_batch = make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        snapshot=None,
        n_buckets=N_BUCKETS,
    )
    for i in range(4):
        apply_batch(
            spark.createDataFrame(
                [(7, 10 + i, "U", f"gen{i}")], CHANGELOG_SCHEMA
            ),
            i,
        )
    vb = _versioned_buckets(target)
    # key 7's bucket was rewritten at v0..v3; only v2 (prev) + v3
    # (current) survive GC
    assert sorted(vb) == [2, 3]
    got = {
        r.k: (r.seq, r.v)
        for r in read_materialized_partitioned(spark, target).collect()
    }
    assert got == {7: (13, "gen3")}


def test_partitioned_matches_full_rewrite_twin(spark, tmp_path):
    """Same log, both materializers, identical readable views — the
    partitioned path is an OPTIMIZATION, never a semantics change."""
    from extended_ops.streaming.cdc import (
        make_cdc_batch_applier,
        read_materialized,
    )

    t_full = str(tmp_path / "full")
    t_part = str(tmp_path / "part")
    full = make_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=t_full,
        snapshot=_snapshot_df(spark),
    )
    part = make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=t_part,
        snapshot=_snapshot_df(spark),
        n_buckets=3,  # deliberately tiny: forces multi-key buckets
    )
    for i, rows in enumerate((B1, B2, B3)):
        df = spark.createDataFrame(rows, CHANGELOG_SCHEMA)
        full(df, i)
        part(df, i)
    got_full = {
        r.k: (r.seq, r.v)
        for r in read_materialized(spark, t_full).collect()
    }
    got_part = {
        r.k: (r.seq, r.v)
        for r in read_materialized_partitioned(spark, t_part).collect()
    }
    assert got_full == got_part == EXPECTED


def test_partitioned_slicing_invariance(spark, tmp_path):
    """Batch-boundary invariance: the SAME seeded changelog applied
    under three different micro-batch slicings (one shot, three
    chunks, five chunks) yields the identical readable view, equal to
    the whole-log ``cdc_apply`` replay — the associative-max merge
    contract stated by the module docstring, exercised across bucket
    boundaries (tiny n_buckets forces multi-key buckets)."""
    import random

    rng = random.Random(1404)
    log = []
    for seq in range(60):
        k = rng.randrange(12)
        op = "D" if rng.random() < 0.25 else "U"
        log.append((k, seq, op, None if op == "D" else f"v{seq}"))
    rng.shuffle(log)  # out-of-order arrival; ORDER is seq, not position

    def run(slices, tag):
        target = str(tmp_path / tag)
        apply_batch = make_partitioned_cdc_batch_applier(
            spark,
            key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
            target_dir=target,
            snapshot=None,
            n_buckets=4,
        )
        for i, chunk in enumerate(slices):
            apply_batch(
                spark.createDataFrame(chunk, CHANGELOG_SCHEMA), i
            )
        return {
            r.k: (r.seq, r.v)
            for r in read_materialized_partitioned(
                spark, target
            ).collect()
        }

    def split(n):
        size = (len(log) + n - 1) // n
        return [log[i:i + size] for i in range(0, len(log), size)]

    one = run(split(1), "one")
    three = run(split(3), "three")
    five = run(split(5), "five")
    batch = {
        r.k: (r.seq, r.v)
        for r in cdc_apply(
            spark.createDataFrame([], "k bigint, v string"),
            spark.createDataFrame(log, CHANGELOG_SCHEMA),
            key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        ).collect()
    }
    assert one == three == five == batch
    # tombstoned keys are really absent from every view
    dead = {k for k, seq, op, _ in log
            if (seq, op) == max((s, o) for kk, s, o, _ in log if kk == k)
            and op == "D"}
    assert dead.isdisjoint(one)


def test_empty_first_batch_reads_empty_like_full_rewrite_twin(
    spark, tmp_path
):
    """An applied-but-EMPTY first batch (no snapshot) must leave both
    twins readable as an empty view with the state columns — the
    full-rewrite twin writes an empty v0 parquet; the partitioned twin
    materializes no bucket, so its reader reconstructs the empty view
    from the state schema the pointer records (r14 advice: the
    FileNotFoundError here was the twins' only behavioral asymmetry)."""
    from extended_ops.streaming.cdc import (
        make_cdc_batch_applier,
        read_materialized,
    )

    empty = spark.createDataFrame([], CHANGELOG_SCHEMA)

    t_full = str(tmp_path / "full")
    make_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=t_full,
        snapshot=None,
    )(empty, 0)
    full_view = read_materialized(spark, t_full)

    t_part = str(tmp_path / "part")
    make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=t_part,
        snapshot=None,
        n_buckets=N_BUCKETS,
    )(empty, 0)
    part_view = read_materialized_partitioned(spark, t_part)

    assert part_view.count() == full_view.count() == 0
    assert part_view.columns == full_view.columns
    # and the empty target still accepts + serves the NEXT batch
    make_partitioned_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=t_part,
        snapshot=None,
        n_buckets=N_BUCKETS,
    )(spark.createDataFrame(B1, CHANGELOG_SCHEMA), 1)
    assert read_materialized_partitioned(spark, t_part).count() == 3


def test_custom_merge_target_inherits_law(spark, tmp_path):
    """The adapter seam (MergeIntoTarget): a from-scratch target that
    implements only the interface contract — fold the per-key delta
    under max(struct-order), durably record batch_id, serve the live
    view — gets batch-replay equality and slicing invariance for free,
    because the applier owns the law. This is the drop-in shape an
    ACID table format's MERGE INTO would take."""
    import random

    from extended_ops.streaming.cdc import (
        MergeIntoTarget,
    )

    class InMemoryMergeTarget(MergeIntoTarget):
        """Driver-side dict emulation of MERGE INTO (test-scale only):
        WHEN MATCHED AND u.order > t.order THEN UPDATE, WHEN NOT
        MATCHED THEN INSERT. Order = (_epoch, seq), unique per key in
        this log, so the tie-breaking tail of the struct never
        decides."""

        def __init__(self, spark):
            self.spark = spark
            self.state = {}
            self.batch_id = None

        def last_applied(self):
            return self.batch_id

        def merge(self, updates, batch_id):
            for r in updates.collect():
                cur = self.state.get(r.k)
                if cur is None or (r._epoch, r.seq) > (cur[0], cur[1]):
                    self.state[r.k] = (r._epoch, r.seq, r.op, r.v)
            self.batch_id = batch_id

        def read(self):
            live = [
                (k, seq, v)
                for k, (_e, seq, op, v) in self.state.items()
                if op != "D"
            ]
            return self.spark.createDataFrame(
                live, "k bigint, seq bigint, v string"
            )

    rng = random.Random(2026)
    log = []
    for seq in range(40):
        k = rng.randrange(9)
        op = "D" if rng.random() < 0.3 else "U"
        log.append((k, seq, op, None if op == "D" else f"v{seq}"))
    rng.shuffle(log)

    def run(n_slices):
        mem = InMemoryMergeTarget(spark)
        apply_batch = make_partitioned_cdc_batch_applier(
            spark,
            key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
            snapshot=None,
            target=mem,
        )
        size = (len(log) + n_slices - 1) // n_slices
        for i, lo in enumerate(range(0, len(log), size)):
            apply_batch(
                spark.createDataFrame(
                    log[lo:lo + size], CHANGELOG_SCHEMA
                ),
                i,
            )
            # redelivery of the same id must be a no-op here too
            apply_batch(
                spark.createDataFrame([(0, 999, "U", "boom")],
                                      CHANGELOG_SCHEMA),
                i,
            )
        return {r.k: (r.seq, r.v) for r in mem.read().collect()}

    batch = {
        r.k: (r.seq, r.v)
        for r in cdc_apply(
            spark.createDataFrame([], "k bigint, v string"),
            spark.createDataFrame(log, CHANGELOG_SCHEMA),
            key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        ).collect()
    }
    assert run(1) == run(4) == batch
