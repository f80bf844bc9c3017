"""stream_pit_enrich: stream-static PIT enrichment must equal the
batch pit_join over the same facts and dimension snapshot — per row,
across micro-batches — and preserve LEFT row counts."""

from __future__ import annotations

import os

from conftest import SF_DIR

import pyspark.sql.functions as F

from extended_ops.operators.asof import pit_join
from extended_ops.plans.staged_r11 import (
    pit_dim,
    pit_facts,
)
from extended_ops.sources.tables import load_table
from extended_ops.streaming.enrichment import (
    stream_pit_enrich,
)


def test_stream_pit_equals_batch_pit(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = load_table(spark, SF_DIR, "events")
    # the REGISTERED construction (single source of truth — review
    # r10d): any change to the registered join_pit plan flows into this
    # equivalence test automatically
    dim = pit_dim(events).localCheckpoint()
    facts = pit_facts(events).drop("event_type")

    rows = [(r.event_id, r.ts, r.user_id, r.value) for r in facts.collect()]
    d = tmp_path / "facts"
    d.mkdir()
    sch = pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("value", pa.float64())]
    )
    half = len(rows) // 2
    for _i, (name, chunk) in enumerate((("b1.parquet", rows[:half]),
                        ("b2.parquet", rows[half:]))):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("event_id", "ts", "user_id", "value"), r))
                 for r in chunk],
                sch,
            ),
            str(d / name),
        )
        # FileStreamSource orders batches by MODIFICATION time;
        # back-to-back writes can share an mtime at its granularity,
        # so pin ascending mtimes (the stream_utils rule) to make
        # batch order — and any order-dependent state — deterministic
        _p = str(d / name)
        os.utime(_p, (1_700_000_000 + _i * 10,
                      1_700_000_000 + _i * 10))
    stream = (
        spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    collected = []
    q = (
        stream_pit_enrich(
            stream, dim, key_cols=["user_id"], ts_col="ts",
            payload_cols=["state", "version"],
        )
        .writeStream.foreachBatch(
            lambda df, _id: collected.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    got = {r.event_id: (r.state, r.version, r.valid_from) for r in collected}
    want = {
        r.event_id: (r.state, r.version, r.valid_from)
        for r in pit_join(
            facts, dim, key_cols=["user_id"], ts_col="ts",
            payload_cols=["state", "version"],
        ).collect()
    }
    assert len(collected) == len(rows)  # LEFT: every fact once
    assert got == want and got
    # the NULL-enrichment path (facts before any state) is exercised
    assert any(v[0] is None for v in got.values())
