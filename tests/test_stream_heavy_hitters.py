"""Streaming Misra-Gries heavy hitters
(`streaming/heavy_hitters.py::stream_heavy_hitters`).

Gates: (a) the state fn driven directly — fold, compress, carry state,
emission shape, and the NULL-key empty-summary marker (retraction when
compression empties a bucket); (b) checkpointed cross-micro-batch e2e —
exact arrival counts when the bucket fits capacity (state survives
restart, NULL input keys ignored), and the est/bound/membership
invariants under forced compression; (c) input validation.
"""

from __future__ import annotations

import time
from collections import Counter

import pandas as pd
import pytest

from conftest import FakeState

from extended_ops.streaming.heavy_hitters import (
    _make_hh_fn,
    stream_heavy_hitters,
)


def _drive(fn, state, values):
    out = list(fn((0,), iter([pd.DataFrame({"_k": values})]), state))
    assert len(out) <= 1
    return (
        {r.key: (r.est, r.err_bound, r.ver) for _, r in out[0].iterrows()}
        if out
        else {}
    )


def test_fn_exact_within_capacity_and_state_carries():
    fn = _make_hh_fn(8)
    state = FakeState()
    got = _drive(fn, state, ["a", "a", "b", None])
    assert got == {"a": (2, 0, 3), "b": (1, 0, 3)}  # NULL dropped, ver=n
    got = _drive(fn, state, ["b", "b"])
    assert got == {"a": (2, 0, 5), "b": (3, 0, 5)}


def test_fn_empty_summary_emits_null_key_marker():
    """When compression empties the whole summary, the bucket must emit
    a NULL-key marker at the new ver — a silent skip would leave
    latest-wins consumers holding the previous summary as current
    (stale est/bound claims)."""
    fn = _make_hh_fn(2)
    state = FakeState()
    got = _drive(fn, state, ["a"])
    assert got == {"a": (1, 0, 1)}
    # fold {a:2, x:2, y:2} -> v=2 subtracts everything away
    got = _drive(fn, state, ["a", "x", "x", "y", "y"])
    assert got == {None: (0, 2, 6)}  # marker: est 0, bound (6-0)//3, ver 6
    keys, ws, n = state.get
    assert (list(keys), list(ws), n) == ([], [], 6)


def test_fn_compression_bound_and_retraction():
    """Force compression: capacity 2, four distinct keys. The dominant
    key survives with an underestimate inside the bound; a squeezed-out
    key is ABSENT from the next emission (latest-wins retraction)."""
    fn = _make_hh_fn(2)
    state = FakeState()
    vals = ["hot"] * 6 + ["x", "y", "z"]
    got = _drive(fn, state, vals)
    true = Counter(v for v in vals if v)
    assert got, "dominant key must survive"
    for key, (est, bound, ver) in got.items():
        assert ver == 9
        assert est <= true[key] <= est + bound, (key, est, bound)
    assert "hot" in got
    # keys dropped by compression are not in the emission at all
    assert len(got) <= 2


def test_validation_and_null_keys(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="capacity"):
        stream_heavy_hitters(df, "k", capacity=0)
    with pytest.raises(ValueError, match="n_buckets"):
        stream_heavy_hitters(df, "k", n_buckets=0)


def _run_phases(spark, tmp_path, phases, *, capacity, n_buckets):
    """One checkpointed query restarted per phase (one new parquet file
    each); returns the accumulated emissions (latest ver per bucket
    wins, per the module contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "vals"
    d.mkdir()
    chk = str(tmp_path / "chk")
    schema = pa.schema([("k", pa.string())])
    latest: dict = {}  # bucket -> (ver, {key: (est, bound)})
    for name, values in phases:
        pq.write_table(
            pa.Table.from_pylist([{"k": v} for v in values], schema),
            str(d / name),
        )
        stream = spark.readStream.schema("k string").parquet(str(d))

        def sink(batch_df, _epoch):
            for r in batch_df.collect():
                ver, summ = latest.get(r.bucket, (-1, {}))
                # NULL key = empty-summary marker (see module contract):
                # replace with an empty dict, store no key row
                row = {} if r.key is None else {r.key: (r.est, r.err_bound)}
                if r.ver > ver:
                    latest[r.bucket] = (r.ver, row)
                elif r.ver == ver:
                    summ.update(row)

        q = (
            stream_heavy_hitters(
                stream, "k", capacity=capacity, n_buckets=n_buckets
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        try:
            deadline = time.time() + 120
            while q.isActive and time.time() < deadline:
                time.sleep(0.3)
        finally:
            q.stop()
    return {
        key: v for _, (_, summ) in latest.items() for key, v in summ.items()
    }


def test_stream_exact_across_batches_matches_arrival_counts(
    spark, tmp_path
):
    """Capacity ample: after two micro-batches (with a query restart
    between them) every key's estimate is its EXACT total arrival count
    with a zero bound — state carried across the checkpoint."""
    phases = [
        ("b1.parquet", ["a", "a", "b", None, "c"]),  # NULLs ignored
        ("b2.parquet", ["a", "b", "b", "d", None]),
    ]
    got = _run_phases(spark, tmp_path, phases, capacity=16, n_buckets=4)
    true = Counter(v for _, vals in phases for v in vals if v is not None)
    assert {k: est for k, (est, _) in got.items()} == dict(true)
    assert all(b == 0 for _, b in got.values())


def test_stream_bound_and_membership_under_compression(spark, tmp_path):
    """Tiny capacity, one bucket (n_buckets=1 makes the per-bucket
    guarantee global): estimates stay within the emitted bound and
    every key whose true count exceeds the bound is present."""
    phases = [
        ("b1.parquet", ["hot"] * 30 + [f"n{i}" for i in range(20)]),
        ("b2.parquet", ["hot"] * 10 + ["warm"] * 12 + [f"m{i}" for i in range(20)]),
    ]
    got = _run_phases(spark, tmp_path, phases, capacity=4, n_buckets=1)
    true = Counter(v for _, vals in phases for v in vals)
    assert got, "summary must not be empty"
    bound = next(iter(got.values()))[1]
    for key, (est, b) in got.items():
        assert b == bound
        assert est <= true[key] <= est + bound, (key, est, true[key], bound)
    for key, cnt in true.items():
        if cnt > bound:
            assert key in got, (key, cnt, bound)
