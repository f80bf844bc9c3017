"""Behavioral tests for posting-list / multimodal operators — properties
the DuckDB parity harness can't express (the posting-list cap's null
keys, stub decode plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from extended_ops.operators import dedup as D
from extended_ops.operators import multimodal as M
from extended_ops.sources.tables import load_table

from conftest import SF_DIR


def test_bounded_posting_lists_caps_null_keys(spark):
    """r7 (ADVICE): the over-cap blacklist anti-join must be null-safe.
    A plain name-list anti-join never matches NULL, so an over-cap
    NULL-keyed group would bypass the cap — rebuilding the unbounded
    collect_list buffer AND appearing in results, unlike the naive
    post-filter form the docstring promises identity with."""
    rows = [Row(k=None, id=i) for i in range(10)]  # hot NULL key (df=10)
    rows += [Row(k=1, id=100), Row(k=1, id=101)]  # under-cap normal key
    df = spark.createDataFrame(rows, "k int, id int")
    out = D.bounded_posting_lists(
        df, ["k"], "id", max_size=5, pin_keyed=False
    ).collect()
    assert {r.k for r in out} == {1}  # NULL group capped out
    assert sorted(out[0].ids) == [100, 101]
    # identity with the naive form: an UNDER-cap NULL group survives
    out2 = D.bounded_posting_lists(
        df, ["k"], "id", max_size=50, pin_keyed=False
    ).collect()
    assert {r.k for r in out2} == {None, 1}


def test_pnm_codec_roundtrip():
    """The dependency-free PNM codec is real: it parses headers it wrote,
    rejects garbage, and nearest-neighbor resize picks the exact pixels."""
    raster = bytes(range(12))  # 4x3 grayscale
    img = b"P5\n4 3\n255\n" + raster
    assert M.pnm_decode(img) == (4, 3, 1)
    # identity resize preserves the raster bytes
    assert M.pnm_resize(img, 4, 3) == img
    # 2x2 downsample: src pixel (x*4//2, y*3//2) -> (0,0),(2,0),(0,1),(2,1)
    small = M.pnm_resize(img, 2, 2)
    assert small == b"P5\n2 2\n255\n" + bytes([0, 2, 4, 6])
    # upsample replicates nearest pixels, output raster is w*h bytes
    big = M.pnm_resize(img, 8, 6)
    assert M.pnm_decode(big) == (8, 6, 1)
    # P6 RGB: 2x1, resize to 1x1 keeps the first pixel's 3 channels
    rgb = b"P6\n2 1\n255\n" + bytes([10, 20, 30, 40, 50, 60])
    assert M.pnm_decode(rgb) == (2, 1, 1)
    assert M.pnm_resize(rgb, 1, 1) == b"P6\n1 1\n255\n" + bytes([10, 20, 30])
    with pytest.raises(ValueError):
        M.pnm_decode(b"JFIF not a pnm")
    with pytest.raises(ValueError):
        M.pnm_decode(b"P5\n4 3\n255\nshort")  # truncated raster


def test_multimodal_decode_real_pgm(spark):
    docs = M.with_pgm_payload(load_table(spark, SF_DIR, "documents"))
    out = M.decode_media(docs)
    assert out.schema == M.DECODED_SCHEMA
    rows = out.orderBy("doc_id").limit(5).collect()
    assert rows
    for row in rows:
        # decoder output must agree with the id-derived dimensions
        assert row.width == 4 + row.doc_id % 13
        assert row.height == 3 + row.doc_id % 7
        assert row.n_frames == 1
        assert row.media_type == M.PGM_MEDIA_TYPE
        # header + raster bytes
        header = f"P5\n{row.width} {row.height}\n255\n"
        assert row.n_bytes == len(header) + row.width * row.height


def test_resize_media_real_pgm(spark):
    docs = M.with_pgm_payload(load_table(spark, SF_DIR, "documents"))
    out = M.resize_media(docs, width=8, height=4)
    assert out.schema == M.RESIZED_SCHEMA
    rows = out.limit(5).collect()
    assert rows
    for r in rows:
        assert (r.width, r.height) == (8, 4)
        # output is itself a valid PGM the decoder accepts
        assert M.pnm_decode(bytes(r.payload)) == (8, 4, 1)


def test_frame_sample_reconstructs_prefix(spark):
    docs = M.with_binary_payload(load_table(spark, SF_DIR, "documents"))
    frames = (
        M.frame_sample(docs, stride=4)
        .where(F.col("doc_id") == 0)
        .orderBy("frame_idx")
        .collect()
    )
    src = load_table(spark, SF_DIR, "documents").where(F.col("doc_id") == 0).collect()[0]
    joined = b"".join(bytes(r.frame_bytes) for r in frames).decode()
    assert src.text.startswith(joined)
    assert len(frames) <= 16


def test_extract_features_hand_computed(spark):
    """Pixel stats from a hand-built 2x2 P5 raster: bytes 'ab01' =
    [97, 98, 48, 49] -> n=4, mean=73.0, var from exact integer moments,
    bins: two in [64,128), two in [0,64)."""
    import math

    payload = b"P5\n2 2\n255\nab01"
    df = spark.createDataFrame([(7, payload)], "doc_id long, payload binary")
    r = M.extract_features(df).collect()[0]
    px = [97, 98, 48, 49]
    n, sx = len(px), sum(px)
    sxx = sum(v * v for v in px)
    assert r.n_pixels == 4
    assert r.px_mean == float(sx) / n
    assert r.px_std == math.sqrt(float(n * sxx - sx * sx)) / n
    assert (r.b0, r.b1, r.b2, r.b3) == (2, 2, 0, 0)


def test_extract_features_over_generated_payloads(spark):
    """Over real generated PGMs: histogram bins cover all pixels, std is
    finite, and the raster is ASCII hex so every pixel lands in b0/b1."""
    docs = M.with_pgm_payload(load_table(spark, SF_DIR, "documents"))
    rows = M.extract_features(docs).limit(20).collect()
    assert rows
    for r in rows:
        assert r.b0 + r.b1 + r.b2 + r.b3 == r.n_pixels
        assert (r.b2, r.b3) == (0, 0)  # hex chars are 48-57 / 97-102
        assert 48 <= r.px_mean <= 102
        assert r.px_std >= 0


def test_extract_features_zero_pixel_payload_yields_null_stats(spark):
    """A well-formed 0x0 P5 payload must produce NULL mean/std, not kill
    the task with a division by zero."""
    df = spark.createDataFrame(
        [(1, b"P5\n0 0\n255\n"), (2, b"P5\n2 2\n255\nab01")],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in M.extract_features(df).collect()}
    assert rows[1].n_pixels == 0
    assert rows[1].px_mean is None and rows[1].px_std is None
    assert rows[2].n_pixels == 4 and rows[2].px_mean is not None
