"""Behavioral edge tests for the r7 operators (chunk_overlap,
quantize_embeddings, with_token_counts, agg_mode / win_first_touch
tie-break semantics) — properties worth pinning beyond the DuckDB
parity harness."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from extended_ops.operators import corpus as C
from extended_ops.operators import similarity as S
from extended_ops.operators import text as X


def _chunks(spark, text, chunk_size=5, stride=3):
    df = spark.createDataFrame([Row(doc_id=1, text=text)])
    return sorted(
        C.chunk_overlap(
            df, chunk_size=chunk_size, stride=stride
        ).collect(),
        key=lambda r: r.chunk_idx,
    )


def test_chunk_overlap_geometry(spark):
    # 12 words, chunk 5, stride 3 -> m = 1 + ceil(7/3) = 4 chunks,
    # starts 0,3,6,9; overlap = 2 words between consecutive chunks
    words = [f"w{i}" for i in range(12)]
    out = _chunks(spark, " ".join(words))
    assert [r.chunk_start for r in out] == [0, 3, 6, 9]
    assert [r.chunk_n_words for r in out] == [5, 5, 5, 3]
    assert out[0].chunk_text == "w0 w1 w2 w3 w4"
    assert out[-1].chunk_text == "w9 w10 w11"  # short tail chunk
    # every word covered; consecutive chunks share chunk_size-stride words
    assert out[1].chunk_text.split()[:2] == out[0].chunk_text.split()[3:]


def test_chunk_overlap_short_and_empty_docs(spark):
    # shorter than one chunk -> exactly one chunk, full doc
    out = _chunks(spark, "a b c")
    assert len(out) == 1 and out[0].chunk_text == "a b c"
    assert out[0].chunk_n_words == 3
    # exactly chunk_size words -> one chunk (no empty tail)
    out = _chunks(spark, "a b c d e")
    assert len(out) == 1
    # empty / whitespace-only doc -> no chunks
    assert _chunks(spark, "   ") == []


def test_chunk_overlap_rejects_bad_geometry(spark):
    df = None  # validation precedes any DataFrame use
    with pytest.raises(ValueError):
        C.chunk_overlap(df, chunk_size=5, stride=6)
    with pytest.raises(ValueError):
        C.chunk_overlap(df, chunk_size=5, stride=0)


def test_quantize_embeddings_roundtrip_and_zero_vector(spark):
    df = spark.createDataFrame(
        [
            Row(vec_id=1, embedding=[1.0, -2.0, 0.5, 4.0]),
            Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.vec_id: r for r in S.quantize_embeddings(df).collect()}
    # max|x| maps to ±q_max exactly; signs preserved
    assert out[1].qvec[3] == 127
    assert out[1].qvec[1] == round(-2.0 / (4.0 / 127))
    assert out[1].scale == pytest.approx(4.0 / 127, abs=1e-6)
    # zero vector: scale 0, all-zero codes, no division blow-up
    assert out[2].scale == 0.0 and out[2].qvec == [0, 0, 0, 0]
    # dequantization error bounded by scale/2 per element
    scale = 4.0 / 127
    deq = [q * scale for q in out[1].qvec]
    for a, b in zip(deq, [1.0, -2.0, 0.5, 4.0]):
        assert abs(a - b) <= scale / 2 + 1e-12


def test_token_counts_classes_sum_and_fertility(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello, world! 42 times."),
            Row(doc_id=2, text="   "),
        ]
    )
    out = {r.doc_id: r for r in X.with_token_counts(df).collect()}
    r = out[1]
    # tokens: hello , world ! 42 times .  -> 7 total; 3 alpha+times=4? ->
    # alpha: hello, world, times; num: 42; punct: , ! .
    assert r.n_alpha_tokens == 3
    assert r.n_num_tokens == 1
    assert r.n_punct_tokens == 3
    assert r.n_tokens_total == 7
    assert r.fertility == pytest.approx(7 / 4)  # 4 whitespace words
    # wordless doc: zero counts, NULL fertility
    assert out[2].n_tokens_total == 0 and out[2].fertility is None


def test_perceptual_hash_hand_computed(spark):
    """8×8 image, left half 0 / right half 255: bit k set iff the pixel
    beats the mean, so each row contributes 00001111 → every 16-bit
    band is 0xF0F0 and the digest is f0f0 repeated."""
    from extended_ops.operators import multimodal as M

    raster = (b"\x00" * 4 + b"\xff" * 4) * 8
    payload = b"P5\n8 8\n255\n" + raster
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, bytearray(payload))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in M.perceptual_hash(df).collect()}
    assert out[1].phash == "f0f0f0f0f0f0f0f0"
    assert (out[1].hb0, out[1].hb1, out[1].hb2, out[1].hb3) == (
        0xF0F0,
    ) * 4
    # identical payloads collide exactly (the dedup contract)
    assert out[2].phash == out[1].phash
    # a small perturbation moves few bits: flip one dark pixel bright
    pert = b"P5\n8 8\n255\n" + (b"\xff" + raster[1:])
    df2 = spark.createDataFrame(
        [(3, bytearray(pert))], "doc_id long, payload binary"
    )
    h = int(M.perceptual_hash(df2).collect()[0].phash, 16)
    assert bin(h ^ int(out[1].phash, 16)).count("1") <= 2


def test_perceptual_hash_p6_and_degenerate(spark):
    """P6/RGB payloads hash via exact per-pixel channel sums (no crash,
    same geometry as P5 — r7 review fix); zero-dimension images yield
    NULL bands/phash instead of killing the task."""
    from extended_ops.operators import multimodal as M

    rgb = (b"\x00\x00\x00" * 4 + b"\xff\xff\xff" * 4) * 8
    p6 = b"P6\n8 8\n255\n" + rgb
    degen = b"P5\n0 8\n255\n"
    df = spark.createDataFrame(
        [(1, bytearray(p6)), (2, bytearray(degen))],
        "doc_id long, payload binary",
    )
    out = {r.doc_id: r for r in M.perceptual_hash(df).collect()}
    assert out[1].phash == "f0f0f0f0f0f0f0f0"  # same image, RGB-encoded
    assert out[2].phash is None and out[2].hb0 is None


def test_hashed_features_counts_and_determinism(spark):
    """Hashing-trick features: bucket counts sum to the word count,
    identical words land in identical buckets across documents, and the
    md5 bucket of a known word matches a hand computation."""
    import hashlib

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple banana apple"),
            Row(doc_id=2, text="banana"),
            Row(doc_id=3, text="   "),
        ]
    )
    out = {r.doc_id: r for r in X.with_hashed_features(df, dim=8).collect()}
    assert sum(out[1].features) == 3 == out[1].n_feature_words
    b_apple = int(hashlib.md5(b"apple").hexdigest()[:8], 16) % 8
    b_banana = int(hashlib.md5(b"banana").hexdigest()[:8], 16) % 8
    assert out[1].features[b_apple] >= 2
    if b_apple == b_banana:
        assert out[1].features[b_banana] == 3
    else:
        assert out[1].features[b_banana] == 1 == out[2].features[b_banana]
    assert out[2].n_feature_words == 1
    assert out[3].features == [0] * 8 and out[3].n_feature_words == 0


def test_phash_near_dup_pairs_banded_hamming(spark):
    """Banded Hamming join: exact dup (0 bits), near dup (2 bits in one
    band), and a far pair (4 bands all different) — the far pair must
    not appear even though verification would pass it at a high
    threshold, because it collides on no band (the documented recall
    contract is exact only for hamming <= 3)."""
    from extended_ops.operators.multimodal import (
        phash_near_dup_pairs,
    )

    base = dict(hb0=0x1234, hb1=0x00FF, hb2=0xABCD, hb3=0x0F0F)
    rows = [
        Row(doc_id=1, **base),
        Row(doc_id=2, **base),  # exact dup -> hamming 0
        Row(doc_id=3, **{**base, "hb1": 0x00FC}),  # 2 bits off in hb1
        Row(
            doc_id=4,
            hb0=base["hb0"] ^ 1,
            hb1=base["hb1"] ^ 1,
            hb2=base["hb2"] ^ 1,
            hb3=base["hb3"] ^ 1,
        ),  # hamming 4, spread over all bands -> no band collision
        Row(doc_id=5, hb0=None, hb1=None, hb2=None, hb3=None),  # degenerate
    ]
    df = spark.createDataFrame(rows)
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in phash_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert got == {(1, 2): 0, (1, 3): 2, (2, 3): 2}
    # e2e through real images: identical payloads pair at hamming 0
    from extended_ops.operators import multimodal as M

    raster = (b"\x00" * 4 + b"\xff" * 4) * 8
    payload = b"P5\n8 8\n255\n" + raster
    imgs = spark.createDataFrame(
        [(10, bytearray(payload)), (11, bytearray(payload))],
        "doc_id long, payload binary",
    )
    pairs = phash_near_dup_pairs(M.perceptual_hash(imgs)).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in pairs] == [(10, 11, 0)]


def test_phash_pairs_compose_into_image_dedup_clusters(spark):
    """End-to-end image dedup: perceptual_hash → banded Hamming pairs →
    near_dup_clusters. Two planted groups (one transitive A≈B≈C chain
    via 1-bit steps, one exact pair) cluster to their min-id
    representatives; the outlier image forms no cluster."""
    from extended_ops.operators.dedup import (
        near_dup_clusters,
    )
    from extended_ops.operators.multimodal import (
        phash_near_dup_pairs,
    )

    base = dict(hb0=0x1234, hb1=0x00FF, hb2=0xABCD, hb3=0x0F0F)
    rows = [
        Row(doc_id=1, **base),
        Row(doc_id=2, **{**base, "hb0": base["hb0"] ^ 1}),  # 1 bit from 1
        Row(doc_id=3, **{**base, "hb0": base["hb0"] ^ 3}),  # 2 bits from 1
        Row(doc_id=7, **base),  # exact dup of 1
        Row(
            doc_id=9,
            hb0=0xFFFF ^ base["hb0"],
            hb1=0xFFFF ^ base["hb1"],
            hb2=0xFFFF ^ base["hb2"],
            hb3=0xFFFF ^ base["hb3"],
        ),  # far from everything
    ]
    pairs = phash_near_dup_pairs(
        spark.createDataFrame(rows), max_hamming=3
    )
    clusters = near_dup_clusters(pairs)
    got = {r.doc_id: r.cluster_id for r in clusters.collect()}
    # 1,2,3,7 all within hamming 3 of doc 1 (and 2≈3 transitively chain)
    assert got == {1: 1, 2: 1, 3: 1, 7: 1}


def test_multimodal_on_error_null_survives_corrupt_payload(spark):
    """100 TB robustness: one corrupt blob must not kill the stage.
    With on_error='null' every decode op keeps the corrupt row with
    NULL derived fields and processes its batch neighbors normally;
    the default ('fail') still raises loudly."""
    from extended_ops.operators import multimodal as M

    good = b"P5\n2 2\n255\nABCD"
    rows = [
        (1, bytearray(good)),
        (2, bytearray(b"not a pnm at all")),
        (3, bytearray(b"P5\n9 9\n255\nshort")),  # truncated raster
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    meta = df.withColumn("media_meta", F.struct(
        F.lit("x").alias("media_type"),
        F.octet_length("payload").cast("long").alias("n_bytes"),
        F.sha2("payload", 256).alias("sha"),
    ))

    dec = {r.doc_id: r for r in M.decode_media(meta, on_error="null").collect()}
    assert (dec[1].width, dec[1].height) == (2, 2)
    assert dec[2].width is None and dec[3].width is None

    rz = {r.doc_id: r for r in M.resize_media(
        df, width=2, height=2, on_error="null").collect()}
    assert rz[1].payload is not None and rz[2].payload is None

    ft = {r.doc_id: r for r in M.extract_features(df, on_error="null").collect()}
    assert ft[1].n_pixels == 4 and ft[2].n_pixels is None

    ph = {r.doc_id: r for r in M.perceptual_hash(df, on_error="null").collect()}
    assert ph[1].phash is not None and ph[2].phash is None

    import pytest as _pytest

    # default: loud failure (PySpark wraps the worker's ValueError)
    with _pytest.raises(Exception, match="PNM|pnm|raster"):
        M.decode_media(meta).collect()
    with _pytest.raises(ValueError):
        M.decode_media(meta, on_error="skip")


def test_sample_k_per_group_deterministic_and_growth_stable(spark):
    from extended_ops.operators.corpus import (
        sample_k_per_group,
    )

    rows = [Row(id=i, g=f"g{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows)
    kw = dict(group_cols=["g"], key_col="id", k=5)
    s1 = {(r.g, r.id) for r in sample_k_per_group(df, **kw).collect()}
    s2 = {(r.g, r.id) for r in sample_k_per_group(df, **kw).collect()}
    assert s1 == s2 and len(s1) == 15  # deterministic, k per group
    # growth stability: adding rows can only replace members that the
    # new rows out-draw — the old sample never reshuffles wholesale
    grown = spark.createDataFrame(rows + [Row(id=i, g=f"g{i % 3}") for i in range(60, 66)])
    s3 = {(r.g, r.id) for r in sample_k_per_group(grown, **kw).collect()}
    assert len(s3) == 15
    assert len(s1 & s3) >= 9  # at most the 6 new rows displaced members


def test_copurchase_basket_cap_drops_degenerate_orders(spark):
    """An over-cap basket (a 'buy everything' order) contributes no
    pairs; normal baskets pair up."""
    from extended_ops.operators.dedup import (
        _pair_explode,
        bounded_posting_lists,
    )

    rows = [Row(o=1, p=p) for p in range(30)]  # degenerate basket
    rows += [Row(o=2, p=1), Row(o=2, p=2), Row(o=3, p=1), Row(o=3, p=2)]
    df = spark.createDataFrame(rows)
    posts = bounded_posting_lists(df, ["o"], "p", max_size=10)
    pairs = posts.select(F.explode(_pair_explode()).alias("x")).select(
        F.col("x.id_a").alias("a"), F.col("x.id_b").alias("b")
    )
    got = [(r.a, r.b) for r in pairs.collect()]
    assert sorted(got) == [(1, 2), (1, 2)]  # only the two small baskets


def test_chunk_overlap_coverage_property(spark):
    """Property sweep over (n_words, chunk_size, stride): every word is
    covered by at least one chunk, reconstruction from stride-prefixes
    equals the document, and consecutive chunks overlap by exactly
    chunk_size - stride words (except possibly at the tail)."""
    cases = [
        (n, c, s)
        for n in (1, 2, 5, 29, 30, 31, 59, 60, 61, 100)
        for (c, s) in ((5, 3), (5, 5), (40, 30), (7, 1))
    ]
    rows = [
        Row(doc_id=i, text=" ".join(f"w{j}" for j in range(n)))
        for i, (n, _, _) in enumerate(cases)
    ]
    df = spark.createDataFrame(rows)
    for i, (n, c, s) in enumerate(cases):
        chunks = sorted(
            (
                r
                for r in C.chunk_overlap(
                    df.where(F.col("doc_id") == i), chunk_size=c, stride=s
                ).collect()
            ),
            key=lambda r: r.chunk_idx,
        )
        words = [f"w{j}" for j in range(n)]
        covered = set()
        for r in chunks:
            got = r.chunk_text.split()
            assert got == words[r.chunk_start : r.chunk_start + c]
            assert r.chunk_n_words == len(got)
            covered.update(range(r.chunk_start, r.chunk_start + len(got)))
        assert covered == set(range(n)), (n, c, s)
        # reconstruction: first `stride` words of each chunk + tail
        rebuilt = []
        for r in chunks[:-1]:
            rebuilt += r.chunk_text.split()[:s]
        rebuilt += chunks[-1].chunk_text.split()
        assert rebuilt[: len(words)] == words or rebuilt == words, (n, c, s)


def test_scan_side_ops_are_streaming_safe(spark, tmp_path):
    """The stateless scan-side r7 ops (chunk_overlap, with_token_counts,
    perceptual_hash) run unchanged on a streaming DataFrame — no
    aggregation state, so append mode with availableNow reproduces the
    batch answer exactly."""
    from extended_ops.operators import multimodal as M

    from conftest import SF_DIR

    batch = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch.limit(50).write.mode("overwrite").parquet(str(tmp_path / "docs"))
    src = spark.read.parquet(str(tmp_path / "docs"))
    stream = spark.readStream.schema(src.schema).parquet(
        str(tmp_path / "docs")
    )

    def run(name, fn):
        q = (
            fn(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name)

    pipelines = {
        "t_stream_chunks": lambda d: C.chunk_overlap(
            d, chunk_size=10, stride=7
        ),
        "t_stream_tokens": lambda d: X.with_token_counts(d).select(
            "doc_id", "n_tokens_total", "fertility"
        ),
        "t_stream_phash": lambda d: M.perceptual_hash(
            M.with_pgm_payload(d)
        ),
    }
    for name, fn in pipelines.items():
        got = sorted(map(tuple, run(name, fn).collect()))
        want = sorted(map(tuple, fn(src).collect()))
        assert got == want, name


def test_stream_first_touch_matches_batch_with_retroactive_event(spark, tmp_path):
    """Stateful streaming first-touch: two micro-batches where the second
    delivers an EARLIER event for user 1 (retroactive attribution change)
    plus more purchases; the latest update row per user must equal the
    batch min(struct)+rollup aggregate over the union."""
    import datetime as dt

    from extended_ops.streaming import (
        stream_first_touch,
    )

    d = tmp_path / "ev"
    d.mkdir()
    schema = "user_id bigint, ts timestamp, event_id bigint, event_type string, value double"

    def t(*a):
        return dt.datetime(*a)

    b1 = [
        (1, t(2024, 1, 2, 10), 10, "click", 0.0),
        (1, t(2024, 1, 2, 11), 11, "purchase", 19.99),
        (2, t(2024, 1, 1, 9), 12, "view", 0.0),
    ]
    b2 = [
        (1, t(2024, 1, 1, 8), 13, "signup", 0.0),  # EARLIER: new first touch
        (1, t(2024, 1, 3, 9), 14, "purchase", 5.005),
        (2, t(2024, 1, 2, 9), 15, "purchase", 1.25),
        # user 3: microsecond ordering within one millisecond — the
        # higher event_id arrives EARLIER by 400µs and must win
        (3, dt.datetime(2024, 1, 1, 7, 0, 0, 500), 21, "view", 0.0),
        (3, dt.datetime(2024, 1, 1, 7, 0, 0, 900), 20, "click", 0.0),
        # user 3's only purchase carries a NULL value: n_purchases=1,
        # purchase_value NULL (batch SUM over all-NULL decimals)
        (3, t(2024, 1, 2, 7), 22, "purchase", None),
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    pa_schema = pa.schema(
        [
            ("user_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("event_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
        ]
    )
    for name, rows in (("b1.parquet", b1), ("b2.parquet", b2)):
        pq.write_table(
            pa.Table.from_pylist(
                [dict(zip(pa_schema.names, r)) for r in rows], pa_schema
            ),
            str(d / name),
        )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_first_touch(stream)
        .writeStream.format("memory")
        .queryName("t_first_touch")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.table("t_first_touch").collect()
    assert len(updates) >= 3  # user 1 updated across batches
    final = {}
    for r in updates:  # memory sink appends update rows in batch order
        final[r.user_id] = r
    u1, u2 = final[1], final[2]
    assert (u1.first_event_id, u1.first_event_type) == (13, "signup")
    assert u1.n_purchases == 2 and u1.purchase_value == pytest.approx(
        24.995, abs=1e-9
    )
    assert (u2.first_event_id, u2.n_purchases) == (12, 1)
    u3 = final[3]
    assert u3.first_event_id == 21  # earlier microsecond beats lower id
    assert u3.first_ts.microsecond == 500  # no millisecond truncation
    assert u3.n_purchases == 1 and u3.purchase_value is None

    # equivalence with the batch aggregate over the union
    batch = spark.createDataFrame(b1 + b2, schema)
    agg = (
        batch.groupBy("user_id")
        .agg(
            F.min(
                F.struct(F.col("ts"), F.col("event_id"), F.col("event_type"))
            ).alias("ft"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("n_purchases"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,6)"),
                )
            )
            .cast("double")
            .alias("purchase_value"),
        )
        .collect()
    )
    for r in agg:
        f = final[r.user_id]
        assert f.first_event_id == r.ft.event_id
        assert f.n_purchases == r.n_purchases
        assert (f.purchase_value is None) == (r.purchase_value is None)
        if r.purchase_value is not None:
            assert f.purchase_value == pytest.approx(
                r.purchase_value, abs=1e-9
            )


def test_stream_minhash_candidates_cross_batch(spark, tmp_path):
    """Streaming LSH dedup: a near-copy arriving in a LATER micro-batch
    must pair with the original admitted in an earlier one (the
    "seen-so-far" state), an exact copy estimates 1.0, and an unrelated
    document pairs with nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from extended_ops.streaming import (
        stream_minhash_candidates,
    )

    d = tmp_path / "docs"
    d.mkdir()
    base = " ".join(f"tok{i}" for i in range(60))
    near = " ".join(f"tok{i}" for i in range(55)) + " zzz yyy xxx www vvv"
    other = " ".join(f"u{i}a u{i}b" for i in range(40))
    pa_schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

    def write(name, rows):
        pq.write_table(
            pa.Table.from_pylist(
                [{"doc_id": i, "text": t} for i, t in rows], pa_schema
            ),
            str(d / name),
        )

    write("b1.parquet", [(1, base), (2, other)])
    write("b2.parquet", [(3, base), (4, near), (5, "short text only")])
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    q = (
        stream_minhash_candidates(stream, threshold=0.5)
        .writeStream.format("memory")
        .queryName("t_stream_lsh")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.table("t_stream_lsh").collect()
    pairs = {}
    for r in rows:  # at-least-once per band: dedup, est is deterministic
        pairs[(r.id_a, r.id_b)] = r.est_jaccard
    assert pairs[(1, 3)] == 1.0  # exact copy across batches
    assert pairs[(1, 4)] >= 0.5 and pairs[(3, 4)] >= 0.5  # near copy
    assert not any(5 in p or 2 in p for p in pairs), pairs


def test_quality_tiers_boundaries_path_matches_registered(spark):
    """r5-verdict item: quality_tiers(boundaries=...) must produce the
    identical tiers as the registered compute-the-quartiles shape, via
    a SINGLE scan (no aggregate, no join in the plan)."""
    from conftest import SF_DIR
    from extended_ops.plans import QUERIES
    from extended_ops.plans.extended import (
        quality_tiers,
    )
    from extended_ops.sources.tables import load_table

    registered = QUERIES["text_quality_tiers"](spark, SF_DIR)
    expected = {r.doc_id: r.tier for r in registered.collect()}

    scored = X.with_quality_score(
        load_table(spark, SF_DIR, "documents")
    ).select("doc_id", "quality")
    b = scored.agg(
        F.expr("percentile(quality, array(0.25D, 0.5D, 0.75D))").alias("b")
    ).collect()[0].b
    fast = quality_tiers(scored, boundaries=tuple(b))
    got = {r.doc_id: r.tier for r in fast.collect()}
    assert got == expected
    plan = fast._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final and "Aggregate" not in final, final
    assert final.count("Scan parquet") == 1


def test_agg_mode_tie_breaks_lexicographically(spark):
    from extended_ops.plans.extended import q_agg_mode

    # build a tiny events-shaped relation through the registered query's
    # operator shape: counts 2-2 tie between 'b' and 'a' -> 'a' wins
    ev = spark.createDataFrame(
        [Row(user_id=1, event_type=t) for t in ["b", "a", "b", "a"]]
        + [Row(user_id=2, event_type="z")]
    )
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    mode = (
        counts.groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n")).alias("neg_n"),
                    F.col("event_type").alias("v"),
                )
            ).alias("b")
        )
        .select("user_id", F.col("b.v").alias("mode_event"))
    )
    got = {r.user_id: r.mode_event for r in mode.collect()}
    assert got == {1: "a", 2: "z"}
