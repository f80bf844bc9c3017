"""Multimodal columns: opaque binary payloads + typed metadata.

Images / audio / video ride through the pipeline as ``BinaryType`` columns
with a typed metadata struct alongside — the layout that keeps Spark's
columnar machinery effective (metadata predicates prune without touching
payload bytes; parquet stores the blobs contiguously).

The decode / feature-extract stage is the one place Python is unavoidable
(codec libraries), so it is an Arrow-batched ``mapInPandas`` with an
explicit output schema. The built-in codec is a REAL, dependency-free PNM
(netpbm) implementation: ``pnm_decode`` parses P5 (grayscale) / P6 (RGB)
binary headers and ``pnm_resize`` does an actual nearest-neighbor raster
resample — no PIL/ffmpeg needed, and the whole path is byte-exact
reproducible in the DuckDB oracle (the header is ASCII, the raster is a
flat byte matrix). Heavier codecs (JPEG via PIL, video via ffmpeg) plug in
through the same ``decode_fn`` / ``resize_fn`` hooks without touching the
Spark plumbing.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)


def with_binary_payload(
    df: DataFrame, text_col: str = "text", media_type: str = "text/plain"
) -> DataFrame:
    """``multimodal_cols`` — attach an opaque binary payload + typed
    metadata struct. (The driver tables carry no real media, so the demo
    payload is the utf-8 encoding of ``text`` — the column shapes,
    metadata derivation, and downstream plumbing are exactly what a real
    image/audio column uses.)

    Pure Catalyst: ``encode``/``length``/``sha2`` never leave the JVM.
    """
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha"),
        ),
    )


PGM_MEDIA_TYPE = "image/x-portable-graymap"


def with_pgm_payload(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Materialize a real binary PGM (netpbm ``P5``) image per document.

    Deterministic synthetic raster — dimensions derived from the id, pixel
    bytes from the md5 hex of the text cycled to width·height — but a REAL
    image file: ``pnm_decode``/``pnm_resize`` (and any netpbm tool) parse
    it. Built entirely in Catalyst (concat/repeat/substring/md5), and the
    payload is pure ASCII, so the DuckDB oracle reconstructs the exact
    bytes with the same string expressions.
    """
    out = df.withColumn(
        "_w", (F.lit(4) + F.pmod(F.col(id_col), F.lit(13))).cast("int")
    ).withColumn("_h", (F.lit(3) + F.pmod(F.col(id_col), F.lit(7))).cast("int"))
    raster = F.expr(
        f"substring(repeat(md5({text_col}), (_w * _h div 32) + 1), 1, _w * _h)"
    )
    payload_str = F.concat(
        F.lit("P5\n"),
        F.col("_w").cast("string"),
        F.lit(" "),
        F.col("_h").cast("string"),
        F.lit("\n255\n"),
        raster,
    )
    payload = F.encode(payload_str, "utf-8")
    return (
        out.withColumn("payload", payload)
        .withColumn(
            "media_meta",
            F.struct(
                F.lit(PGM_MEDIA_TYPE).alias("media_type"),
                F.octet_length(payload).cast("long").alias("n_bytes"),
                F.sha2(payload, 256).alias("sha"),
            ),
        )
        .drop("_w", "_h")
    )


# -- PNM codec (real, dependency-free) -------------------------------------

#: Binary PNM header: magic, width, height, maxval, ONE whitespace byte,
#: then the raster (netpbm spec). Comments (#...) are not emitted by any
#: writer in this pipeline and are rejected rather than silently misread.
_PNM_HEADER = re.compile(rb"\A(P[56])\s+(\d+)\s+(\d+)\s+(\d+)[ \t\r\n]")


def _pnm_parse(payload: bytes) -> tuple[bytes, int, int, int, bytes]:
    """Parse a binary PNM payload → (magic, width, height, maxval, raster).

    Raises ``ValueError`` on anything that isn't a well-formed binary
    P5/P6 with the full raster present.
    """
    m = _PNM_HEADER.match(payload)
    if not m:
        raise ValueError("not a binary PNM (P5/P6) payload")
    magic, w, h, maxval = m.group(1), int(m.group(2)), int(m.group(3)), int(m.group(4))
    if maxval <= 0 or maxval > 255:
        raise ValueError(f"unsupported PNM maxval {maxval}")
    channels = 1 if magic == b"P5" else 3
    raster = payload[m.end() :]
    if len(raster) < w * h * channels:
        raise ValueError(
            f"truncated PNM raster: need {w * h * channels}, got {len(raster)}"
        )
    return magic, w, h, maxval, raster[: w * h * channels]


def pnm_decode(payload: bytes) -> tuple[int, int, int]:
    """Real decode: parse the PNM header, validate the raster, return
    (width, height, n_frames). Still images have exactly one frame."""
    _, w, h, _, _ = _pnm_parse(payload)
    return w, h, 1


def _nn_downsample(img, width: int, height: int):
    """Nearest-neighbor downsample of an (h, w, channels) array: output
    pixel (x, y) samples input ``(x·w_in div width, y·h_in div height)``
    — THE codec mapping, shared by :func:`pnm_resize` and
    :func:`perceptual_hash` so their documented equivalence is
    structural, not duplicated."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return img[ys][:, xs]


def pnm_resize(payload: bytes, width: int, height: int) -> bytes:
    """Real nearest-neighbor raster resize of a binary P5/P6 image.

    Output pixel (x, y) samples input pixel
    (floor(x·w_in/w_out), floor(y·h_in/h_out)) — the standard
    nearest-neighbor mapping — and the result is re-emitted as a
    well-formed PNM of the same magic/maxval.
    """
    import numpy as np

    magic, w, h, maxval, raster = _pnm_parse(payload)
    channels = 1 if magic == b"P5" else 3
    img = np.frombuffer(raster, dtype=np.uint8).reshape(h, w, channels)
    resized = _nn_downsample(img, width, height)
    header = b"%s\n%d %d\n%d\n" % (magic, width, height, maxval)
    return header + resized.tobytes()


def _row_guard(fn, on_error: str, null_result):
    """Per-payload error policy for the Arrow decode ops. ``'fail'``
    (default — the registered/oracle behavior): a malformed payload
    raises and fails the task, loudly. ``'null'``: the row survives with
    NULL derived fields — at 100 TB one corrupt blob in a trillion must
    not kill the stage; count the NULLs downstream to monitor decode
    health. Policy is per-ROW, never per-batch: one bad payload must not
    poison its batch neighbors."""
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be 'fail' or 'null', got {on_error!r}")
    if on_error == "fail":
        return fn

    def guarded(*a):
        try:
            return fn(*a)
        except Exception:
            return null_result

    return guarded


def decode_media(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    decode_fn: Callable[[bytes], tuple[int, int, int]] | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """``multimodal_decode`` — Arrow-batched decode / feature extraction.

    ``mapInPandas`` processes whole Arrow record batches per call (the
    ~10-100× win over row-at-a-time UDFs); decode CPU parallelizes with
    the partition count, so at 100 TB this stage scales linearly with
    executors and the payload bytes are read exactly once.

    ``decode_fn`` maps payload bytes → (width, height, n_frames); the
    default is the real :func:`pnm_decode`. Other codecs slot in the same
    way, import-gated at call time:

    >>> try:
    ...     from PIL import Image  # doctest: +SKIP
    ...     decode_fn = lambda b: Image.open(io.BytesIO(b)).size + (1,)
    ... except ImportError:
    ...     decode_fn = None  # fall back to the PNM codec

    ``on_error='null'`` keeps a corrupt payload's row with NULL
    width/height/n_frames instead of failing the task (:func:`_row_guard`).
    """
    fn = _row_guard(decode_fn or pnm_decode, on_error, (None, None, None))

    def decode_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            decoded = [fn(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media_type": [m["media_type"] for m in pdf["media_meta"]],
                    "n_bytes": [m["n_bytes"] for m in pdf["media_meta"]],
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                }
            )

    return df.select(id_col, "payload", "media_meta").mapInPandas(
        decode_batches, DECODED_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_media(
    df: DataFrame,
    *,
    width: int,
    height: int,
    id_col: str = "doc_id",
    resize_fn: Callable[[bytes, int, int], bytes] | None = None,
    on_error: str = "fail",
) -> DataFrame:
    """``multimodal_resize`` — batch resize via ``mapInPandas``.

    Same plumbing contract as :func:`decode_media`: Arrow batches of
    binary payloads in, transformed payloads out, decode CPU scaling with
    partitions. ``resize_fn(payload, w, h) -> bytes`` defaults to the real
    nearest-neighbor :func:`pnm_resize`; PIL ``Image.resize`` etc. slot in
    through the same hook. ``on_error='null'``: corrupt payloads yield a
    NULL output payload instead of failing the task.
    """
    fn = _row_guard(resize_fn or pnm_resize, on_error, None)

    def resize_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "payload": [fn(bytes(p), width, height) for p in pdf["payload"]],
                    "width": width,
                    "height": height,
                }
            )

    return df.select(id_col, "payload").mapInPandas(
        resize_batches, RESIZED_SCHEMA
    )


def frame_sample(
    df: DataFrame, *, stride: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Frame/segment sampling over a binary payload: every ``stride``-th
    byte as a "frame" (the real operator samples video frames; the Spark
    shape — explode a bounded slice index, slice bytes JVM-side — is
    identical). Demonstrates payload slicing without Python."""
    n_frames = F.least(
        F.floor(F.octet_length("payload") / stride).cast("int"), F.lit(16)
    )
    idx = F.when(n_frames >= 1, F.sequence(F.lit(0), n_frames - 1)).otherwise(
        F.array().cast("array<int>")
    )
    return (
        df.select(id_col, "payload", F.explode(idx).alias("frame_idx"))
        .select(
            id_col,
            "frame_idx",
            F.substring(F.col("payload"), F.col("frame_idx") * stride + 1, stride)
            .alias("frame_bytes"),
        )
    )


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("px_std", T.DoubleType()),
        T.StructField("b0", T.LongType()),
        T.StructField("b1", T.LongType()),
        T.StructField("b2", T.LongType()),
        T.StructField("b3", T.LongType()),
    ]
)


def extract_features(
    df: DataFrame, *, id_col: str = "doc_id", on_error: str = "fail"
) -> DataFrame:
    """``multimodal_features`` — pixel-level feature extraction: per-image
    intensity statistics (mean, population std, 4-bin histogram over
    [0,256) in 64-wide bins) from the REAL decoded raster. The
    embedding-adjacent stage of a multimodal pipeline — the decode →
    per-pixel-reduce shape is exactly what a CLIP-style featurizer costs
    Spark-side (the model call replaces the numpy reduce; the plumbing —
    Arrow batches of binary in, fixed-width feature rows out — is
    identical and is what this operator pins down).

    Numeric contract (what makes a pixel UDF hash-checkable): the
    per-image reduce accumulates only INTEGER moment sums (n, Σp, Σp²,
    bin counts) — exact in any engine — and the two doubles are derived
    in single IEEE steps both engines perform identically:
    ``mean = Σp/n`` (one divide), ``std = sqrt(n·Σp² − (Σp)²)/n`` (exact
    integer radicand, one sqrt, one divide). The DuckDB oracle computes
    the same sums by exploding the ASCII raster with ``string_split``
    (the payload is pure ASCII by construction, `with_pgm_payload`).

    Scale shape: one ``mapInPandas`` pass — payload bytes are read once,
    feature rows are fixed-width, CPU parallelizes with partitions; no
    shuffle at all (the per-image reduce happens inside the Arrow batch,
    there is no cross-row aggregation). ``on_error='null'``: a corrupt
    payload keeps its row with NULL features instead of failing the task
    (see :func:`_row_guard` for the policy rationale).
    """
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be 'fail' or 'null', got {on_error!r}")

    def feature_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import math

        import numpy as np
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in FEATURES_SCHEMA}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    _, _, _, _, raster = _pnm_parse(bytes(payload))
                except Exception:
                    if on_error != "null":
                        raise
                    out["doc_id"].append(doc_id)
                    for k in (
                        "n_pixels", "px_mean", "px_std", "b0", "b1", "b2", "b3",
                    ):
                        out[k].append(None)
                    continue
                px = np.frombuffer(raster, dtype=np.uint8).astype(np.int64)
                n = int(px.size)
                sx = int(px.sum())
                sxx = int((px * px).sum())
                out["doc_id"].append(doc_id)
                out["n_pixels"].append(n)
                # a zero-pixel image (P5 with w or h = 0 parses fine) gets
                # NULL stats instead of killing the whole task on a
                # division by zero — one degenerate payload in a batch
                # must not fail the job
                out["px_mean"].append(float(sx) / float(n) if n else None)
                out["px_std"].append(
                    math.sqrt(float(n * sxx - sx * sx)) / float(n)
                    if n
                    else None
                )
                counts = [int(((px >= lo) & (px < lo + 64)).sum()) for lo in (0, 64, 128, 192)]
                for b, c in zip(("b0", "b1", "b2", "b3"), counts):
                    out[b].append(c)
            yield pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(
        feature_batches, FEATURES_SCHEMA
    )


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("hb0", T.LongType()),
        T.StructField("hb1", T.LongType()),
        T.StructField("hb2", T.LongType()),
        T.StructField("hb3", T.LongType()),
        T.StructField("phash", T.StringType()),
    ]
)


def perceptual_hash(
    df: DataFrame, *, id_col: str = "doc_id", on_error: str = "fail"
) -> DataFrame:
    """``multimodal_phash`` — 64-bit average-hash (aHash) per image: the
    perceptual fingerprint image-dedup pipelines bucket on (near-
    identical images differ in a few bits; exact dups collide exactly).

    Construction (all integer-exact, hence hash-checkable cross-engine):
    nearest-neighbor downsample of the decoded raster to 8×8 using the
    REAL codec's ``pnm_resize`` mapping (output pixel (x, y) samples
    input ``(x·w div 8, y·h div 8)``), then bit k = 1 iff
    ``64·p_k > Σp`` — the mean compare as an exact integer cross-
    multiplication, no float tie ambiguity. Bits pack little-endian
    into four 16-bit bands ``hb0..hb3`` (directly usable as LSH band
    keys for a banded near-dup join: Hamming-≤3 pairs collide on at
    least one band by pigeonhole) plus the 16-hex-digit ``phash``.

    Scale shape: one Arrow ``mapInPandas`` pass, fixed-width output,
    zero shuffle — decode and hash ride the scan exactly like
    :func:`extract_features`.
    ``on_error='null'``: a corrupt payload keeps its row with NULL
    bands/phash instead of failing the task (:func:`_row_guard` policy).
    """
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be 'fail' or 'null', got {on_error!r}")

    def phash_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in PHASH_SCHEMA}
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    magic, w, h, _, raster = _pnm_parse(bytes(payload))
                except Exception:
                    if on_error != "null":
                        raise
                    w = h = 0  # corrupt payload → the NULL-output path
                    magic, raster = b"P5", b""
                out["doc_id"].append(doc_id)
                if w == 0 or h == 0:
                    for k in ("hb0", "hb1", "hb2", "hb3", "phash"):
                        out[k].append(None)
                    continue
                channels = 1 if magic == b"P5" else 3
                img = np.frombuffer(raster, dtype=np.uint8).reshape(
                    h, w, channels
                )
                # P6/RGB: per-pixel channel SUM (exact integer luma proxy;
                # reduces to the pixel value for P5) — the mean compare
                # below is scale-free, so no division is needed
                q = (
                    _nn_downsample(img, 8, 8)
                    .astype(np.int64)
                    .sum(axis=2)
                    .ravel()  # row-major
                )
                total = int(q.sum())
                bits = (64 * q > total).astype(np.int64)
                bands = [
                    int((bits[16 * j : 16 * (j + 1)] << np.arange(16)).sum())
                    for j in range(4)
                ]
                for name, b in zip(("hb0", "hb1", "hb2", "hb3"), bands):
                    out[name].append(b)
                out["phash"].append("%04x%04x%04x%04x" % tuple(bands))
            yield pd.DataFrame(out)

    return df.select(id_col, "payload").mapInPandas(
        phash_batches, PHASH_SCHEMA
    )


def phash_near_dup_pairs(
    hashes: DataFrame,
    *,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Image near-dup pairs over :func:`perceptual_hash` output — the
    LSH-banded Hamming join that makes the 64-bit aHash a dedup
    operator rather than a fingerprint column.

    Candidates are pairs colliding on at least one of the four 16-bit
    bands; by pigeonhole, any pair with Hamming distance ≤ 3 differs in
    at most 3 bands, so it collides on at least one — **recall is 1.0
    (deterministic, not probabilistic) for ``max_hamming ≤ 3``**; for
    larger thresholds banding only loses pairs that differ in all four
    bands. Verification is the exact popcount of band XORs
    (``bit_count``, JVM-side), so precision is always 1.0.

    Scale shape: the band bucket build is
    :func:`~.dedup.bounded_posting_lists` (``max_bucket_size`` drops
    degenerate buckets — e.g. the all-black-image band value — BEFORE
    the aggregation buffer and the quadratic pair explode), the bands
    RIDE the posting payload (``struct(id, hb0..hb3)``) so no join
    back to the hash table is needed, and pairs emit in place — never
    a self-join. Degenerate NULL-band rows (zero-dimension images)
    are excluded up front.

    Output: ``(id_a, id_b, hamming)``, ``id_a < id_b``, one row per
    qualifying pair regardless of how many bands it collided on.
    """
    from pyspark.sql import functions as F

    from .dedup import _pair_explode, bounded_posting_lists

    payload = F.struct(
        F.col(id_col).alias("id"),
        *[F.col(f"hb{j}").alias(f"h{j}") for j in range(4)],
    )
    banded = hashes.where(F.col("hb0").isNotNull()).select(
        payload.alias("pay"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band"), F.col(f"hb{j}").alias("v")
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select("pay", F.col("bk.band").alias("band"), F.col("bk.v").alias("v"))
    buckets = bounded_posting_lists(
        banded, ["band", "v"], F.col("pay"), max_size=max_bucket_size,
        pin_keyed=False,
    )
    pairs = buckets.select(F.explode(_pair_explode()).alias("p")).select(
        F.col("p.id_a").alias("a"), F.col("p.id_b").alias("b")
    )
    hamming = sum(
        F.bit_count(
            F.col(f"a.h{j}").bitwiseXOR(F.col(f"b.h{j}"))
        )
        for j in range(4)
    )
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# -- audio (PCM/WAV) -------------------------------------------------------

WAV_MEDIA_TYPE = "audio/wav"
#: synthetic-clip geometry: fixed sample count keeps the RIFF header a
#: compile-time constant byte string (every size field depends only on
#: N); 8 kHz mono 16-bit.
AUDIO_N_SAMPLES = 256
AUDIO_SAMPLE_RATE = 8000


def _wav_header_hex(n_samples: int, rate: int) -> str:
    """The 44-byte canonical PCM WAV header as hex — little-endian
    fields packed host-side once (the payload builder concats it as a
    constant; Catalyst never does int→LE-bytes arithmetic)."""
    import struct

    data_size = n_samples * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
    hdr += b"data" + struct.pack("<I", data_size)
    assert len(hdr) == 44
    return hdr.hex()


def with_wav_payload(
    df: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Materialize a REAL mono 16-bit PCM WAV clip per row (the
    ``with_pgm_payload`` recipe for the audio modality): a constant
    44-byte RIFF header + ``AUDIO_N_SAMPLES`` little-endian int16
    samples whose bytes come straight from md5 hex of ``id:k`` — a
    deterministic synthetic waveform any wav reader parses
    (``wave``/ffmpeg/np.frombuffer), built entirely in Catalyst
    (md5/substring/concat/unhex), so a SQL oracle reconstructs the
    identical sample values from the same md5 calls. Each consecutive
    4-hex-digit group becomes one LE sample: first byte pair = low
    byte. One md5 per 8 samples (32 hex digits), not one per sample —
    the derivation stays O(samples) with a 1/8 constant."""
    from pyspark.sql import functions as F

    per_md5 = 8  # 32 hex chars -> 8 four-hex samples
    n_hashes = AUDIO_N_SAMPLES // per_md5
    sample_hex = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_hashes - 1)),
            lambda j: F.md5(
                F.concat_ws(":", F.col(id_col).cast("string"), j.cast("string"))
            ),
        ),
        "",
    )
    payload = F.concat(
        F.unhex(F.lit(_wav_header_hex(AUDIO_N_SAMPLES, AUDIO_SAMPLE_RATE))),
        F.unhex(sample_hex),
    )
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(WAV_MEDIA_TYPE).alias("media_type"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("sha"),
        ),
    )


def audio_frame_features(
    media: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame: int = 64,
) -> DataFrame:
    """Per-frame PCM features over a WAV payload column: ``(id_col,
    frame_id, n_samples, energy, zero_crossings, peak)`` — frame energy
    Σv² (exact int64), sign-change count within the frame, and peak
    |v|. The front half of every VAD / silence-trim / loudness-bucket
    pipeline, expressed as the standard Arrow batch pass: payloads
    arrive as binary, ``np.frombuffer`` unpacks each clip zero-copy,
    features are integer reductions — all EXACT, so the registration
    hash-checks against an oracle that re-derives the samples
    arithmetically. Rows whose payload is NULL, too short for the
    44-byte header, or odd-length are dropped (a malformed clip has no
    frames; count them upstream via ``media_meta.n_bytes``).

    Scale shape: one ``mapInPandas`` pass, no shuffle — output rows
    fan out ≤ n_samples/frame per clip; the decode never leaves the
    Arrow batch. ``frame`` must divide ``AUDIO_N_SAMPLES``-style clip
    lengths or the tail partial frame is emitted with its true
    ``n_samples`` (features stay exact either way)."""
    if frame < 2:
        raise ValueError(f"frame must be >= 2, got {frame}")
    import numpy as np
    import pandas as pd

    def _frames(batches):
        for pdf in batches:
            out = {
                "_id": [], "frame_id": [], "n_samples": [],
                "energy": [], "zero_crossings": [], "peak": [],
            }
            for i, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None or len(payload) <= 44:
                    continue
                body = bytes(payload)[44:]
                if len(body) % 2:
                    continue
                v = np.frombuffer(body, dtype="<i2").astype(np.int64)
                for f0 in range(0, len(v), frame):
                    w = v[f0:f0 + frame]
                    nonneg = w >= 0
                    out["_id"].append(i)
                    out["frame_id"].append(f0 // frame)
                    out["n_samples"].append(len(w))
                    out["energy"].append(int((w * w).sum()))
                    out["zero_crossings"].append(
                        int((nonneg[1:] != nonneg[:-1]).sum())
                    )
                    out["peak"].append(int(np.abs(w).max()))
            yield pd.DataFrame(out)

    id_type = media.schema[id_col].dataType.simpleString()
    return (
        media.select(id_col, payload_col)
        .mapInPandas(
            _frames,
            schema=(
                f"_id {id_type}, frame_id int, n_samples int, "
                "energy long, zero_crossings int, peak int"
            ),
        )
        .withColumnRenamed("_id", id_col)
    )
