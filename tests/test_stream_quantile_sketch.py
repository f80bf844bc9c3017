"""stream_quantile_sketch: cross-micro-batch equality vs the batch
sketch (byte-identical — the sketch definition is order-free),
re-delivery idempotence on the state fn, NULL handling, validation."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from conftest import FakeState

from extended_ops.operators.sketches import (
    quantile_sketch_estimate,
    quantile_sketch_table,
)
from extended_ops.streaming.quantile_sketch import (
    _make_qs_fn,
    _py_draw,
    stream_quantile_sketch,
)

K = 64


def _pdf(rows):
    return pd.DataFrame(
        {
            "_k": [None if r[0] is None else str(r[0]) for r in rows],
            "_v": [r[1] for r in rows],
        }
    )


def test_py_draw_matches_spark_md5_draw(spark):
    """The Python fold and the Catalyst expression must stay
    bit-identical — the whole stream-equals-batch claim rests on it."""
    from pyspark.sql import functions as F

    from extended_ops.operators.text import md5_draw

    keys = ["0", "17", "doc-42", "", "ünïcode"]
    df = spark.createDataFrame([(k2,) for k2 in keys], "k string")
    got = {
        r.k: r.d
        for r in df.select("k", md5_draw(F.col("k")).alias("d")).collect()
    }
    for k2 in keys:
        assert got[k2] == _py_draw(k2), k2


def test_state_fn_redelivery_is_idempotent():
    fn = _make_qs_fn(8, (0.5,), numeric_key=True)
    state = FakeState()
    rows = [(1, 10.0), (2, 20.0), (3, 30.0)]
    out1 = list(fn(("g",), iter([_pdf(rows)]), state))
    sample1 = state.get[:3]
    # re-deliver the same rows: sample unchanged, only ver advances
    out2 = list(fn(("g",), iter([_pdf(rows)]), state))
    assert state.get[:3] == sample1
    assert out1[0].iloc[0]["p_50"] == out2[0].iloc[0]["p_50"]
    assert out2[0].iloc[0]["ver"] == 6 and out1[0].iloc[0]["ver"] == 3
    # NULL / NaN rows are skipped entirely
    out3 = list(fn(("g",), iter([_pdf([(None, 1.0), (9, None)])]), state))
    assert out3 == [] and state.get[3] == 6


def test_stream_equals_batch_sketch(spark, tmp_path):
    """Two micro-batches through the stream; the latest-wins estimates
    per group must equal the batch estimate over the union at the same
    k — exactly, not approximately."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import SF_DIR
    from extended_ops.sources.tables import load_table

    docs = [
        (r.doc_id, r.lang, float(r.n_chars))
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", "lang", "n_chars")
        .collect()
    ]
    d = tmp_path / "docs"
    d.mkdir()
    sch = pa.schema(
        [("doc_id", pa.int64()), ("lang", pa.string()),
         ("n_chars", pa.float64())]
    )
    half = len(docs) // 2
    for _i, (name, rows) in enumerate((("b1.parquet", docs[:half]), ("b2.parquet", docs[half:]))):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(("doc_id", "lang", "n_chars"), r)) for r in rows],
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
        spark.readStream.schema("doc_id bigint, lang string, n_chars double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    collected = []
    q = (
        stream_quantile_sketch(
            stream, "n_chars", key_col="doc_id", group_col="lang", k=K
        )
        .writeStream.foreachBatch(
            lambda df, _id: collected.extend(df.collect())
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "stream did not drain"
    latest = {}
    for r in collected:
        if r.group not in latest or r.ver > latest[r.group].ver:
            latest[r.group] = r
    batch_df = spark.createDataFrame(
        docs, "doc_id bigint, lang string, n_chars double"
    )
    expected = {
        r.lang: (r.p_25, r.p_50, r.p_75)
        for r in quantile_sketch_estimate(
            quantile_sketch_table(
                batch_df, "n_chars", key_col="doc_id",
                group_cols=["lang"], k=K,
            ),
            group_cols=["lang"],
        ).collect()
    }
    assert {g: (r.p_25, r.p_50, r.p_75) for g, r in latest.items()} == expected


def test_validation(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.0)], "doc_id bigint, lang string, v double"
    )
    with pytest.raises(ValueError, match="k must"):
        stream_quantile_sketch(
            df, "v", key_col="doc_id", group_col="lang", k=0
        )
    with pytest.raises(ValueError, match="probabilities"):
        stream_quantile_sketch(
            df, "v", key_col="doc_id", group_col="lang",
            probabilities=(1.5,),
        )


def test_duplicate_key_resolves_order_free():
    """Review r9: a duplicate key with a DIFFERENT value (unique-key
    contract violation / indistinguishable from a re-delivery) must
    resolve the same way under any arrival order — the smallest value
    wins, never the first arrival."""
    for order in ([(7, 9.0), (7, 1.0)], [(7, 1.0), (7, 9.0)]):
        fn = _make_qs_fn(8, (0.5,), numeric_key=True)
        state = FakeState()
        out = list(fn(("g",), iter([_pdf(order)]), state))
        keys, draws, vals, n = state.get
        assert vals == [1.0] and n == 2
        assert out[0].iloc[0]["p_50"] == 1.0
