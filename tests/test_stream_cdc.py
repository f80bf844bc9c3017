"""materialize_cdc_stream (foreachBatch CDC sink): cross-micro-batch
equality vs the batch cdc_apply replay, tombstone retention against late
older upserts, batch-id fencing (redelivery idempotence), and version GC."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from extended_ops.operators.dedup import cdc_apply
from extended_ops.streaming.cdc import (
    make_cdc_batch_applier,
    materialize_cdc_stream,
    read_materialized,
)

SCHEMA = pa.schema(
    [
        ("k", pa.int64()),
        ("seq", pa.int64()),
        ("op", pa.string()),
        ("v", pa.string()),
    ]
)

B1 = [(1, 10, "U", "a"), (2, 10, "U", "b"), (3, 10, "U", "c")]
B2 = [(1, 20, "D", None), (4, 5, "I", "d")]
B3 = [
    (1, 15, "U", "late"),   # OLDER than k=1's tombstone: must NOT resurrect
    (2, 30, "U", "b2"),     # newer: replaces
    (3, 5, "U", "stale"),   # older: must not replace
]
SNAPSHOT = [(9, "s9"), (2, "s0")]  # k=2 overwritten by the log; k=9 survives

EXPECTED = {
    2: (30, "b2"),
    3: (10, "c"),
    4: (5, "d"),
    9: (None, "s9"),
}


def _write_batches(d):
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate((B1, B2, B3)):
        p = os.path.join(d, f"b{i}.parquet")
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(SCHEMA.names, r)) for r in rows], SCHEMA
            ),
            p,
        )
        # force the file-source to deliver b0 < b1 < b2
        t = time.time() - 300 + i * 60
        os.utime(p, (t, t))


def _snapshot_df(spark):
    return spark.createDataFrame(SNAPSHOT, "k bigint, v string")


def test_materializer_matches_batch_replay(spark, tmp_path):
    src = str(tmp_path / "log")
    _write_batches(src)
    target = str(tmp_path / "target")
    stream = (
        spark.readStream.schema("k long, seq long, op string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = materialize_cdc_stream(
        stream,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        checkpoint_dir=str(tmp_path / "ckpt"),
        snapshot=_snapshot_df(spark),
        available_now=True,
    )
    q.awaitTermination(120)

    got = {
        r.k: (r.seq, r.v) for r in read_materialized(spark, target).collect()
    }
    assert got == EXPECTED

    # the ground truth: batch replay of the whole log over the snapshot
    batch = {
        r.k: (r.seq, r.v)
        for r in cdc_apply(
            _snapshot_df(spark),
            spark.read.parquet(src),
            key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        ).collect()
    }
    assert got == batch
    # deleted key is really gone from the view but RETAINED as state
    assert 1 not in got
    meta_dir = [n for n in os.listdir(target) if n.startswith("v")]
    latest = sorted(meta_dir, key=lambda n: int(n[1:]))[-1]
    raw = spark.read.parquet(os.path.join(target, latest))
    tomb = raw.where("op = 'D'").collect()
    assert [(r.k, r.seq) for r in tomb] == [(1, 20)]
    # GC: only current + previous versions remain after 3 batches
    assert sorted(int(n[1:]) for n in meta_dir) == [1, 2]


def test_redelivered_batch_is_fenced(spark, tmp_path):
    target = str(tmp_path / "target")
    apply_batch = make_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        snapshot=None,
    )
    df1 = spark.createDataFrame(B1, "k bigint, seq bigint, op string, v string")
    apply_batch(df1, 0)
    v_after = read_materialized(spark, target).count()
    # at-least-once redelivery: same batch_id must be a no-op even with
    # different (corrupt/partial) content
    apply_batch(
        spark.createDataFrame(
            [(1, 99, "D", None)], "k bigint, seq bigint, op string, v string"
        ),
        0,
    )
    assert read_materialized(spark, target).count() == v_after
    got = {r.k: (r.seq, r.v) for r in read_materialized(spark, target).collect()}
    assert got == {1: (10, "a"), 2: (10, "b"), 3: (10, "c")}


def test_read_before_any_version_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_materialized(spark, str(tmp_path / "nope"))


def test_snapshotless_start_and_delete_of_absent_key(spark, tmp_path):
    target = str(tmp_path / "target")
    apply_batch = make_cdc_batch_applier(
        spark,
        key_cols=["k"], order_cols=["seq"], payload_cols=["v"],
        target_dir=target,
        snapshot=None,
    )
    apply_batch(
        spark.createDataFrame(
            [(5, 10, "D", None), (6, 10, "I", "x")],
            "k bigint, seq bigint, op string, v string",
        ),
        0,
    )
    got = {r.k: (r.seq, r.v) for r in read_materialized(spark, target).collect()}
    assert got == {6: (10, "x")}
    # the delete-of-absent tombstone still fences later older upserts
    apply_batch(
        spark.createDataFrame(
            [(5, 7, "U", "resurrect?")],
            "k bigint, seq bigint, op string, v string",
        ),
        1,
    )
    got = {r.k: (r.seq, r.v) for r in read_materialized(spark, target).collect()}
    assert got == {6: (10, "x")}
