"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode/feature-extract as Arrow-batched pandas stages (``mapInPandas``).

A 100 TB multimodal corpus stores image/audio/video as `binary` columns
(or object-store URIs) beside typed metadata; compute-heavy decode runs in
Python workers over Arrow batches. This module makes all of that plumbing
real — schema, batching, partitioning, deterministic feature extraction —
while compressed-bitstream decode is stubbed (PIL/ffmpeg are not in
this environment): `decode_stub=True` (default) derives a deterministic
fake "decode" from the payload bytes; `decode_stub=False` raises
NotImplementedError at the exact point a real codec (PIL/torchaudio/ffmpeg)
would be invoked. All three CONTAINER paths are real since round 6,
with zero installs, each verified differentially against closed-form
integer SQL: :func:`wav_roundtrip_features` (RIFF/WAVE PCM16 through
the stdlib ``wave`` codec), :func:`png_roundtrip_features`
(spec-conformant baseline PNG over stdlib ``zlib``/``struct`` — chunk
framing, CRC32, deflated filter-0 scanlines), and
:func:`avi_roundtrip_features` (uncompressed RIFF/AVI over stdlib
``struct`` — header lists, BITMAPINFOHEADER, bottom-up padded BGR DIB
frames). What genuinely needs ffmpeg — compressed video/image
bitstreams ('00dc' + fourCC, JPEG, H.264) — raises at exactly the
point the codec would be invoked.

The synthetic corpus has no binary column, so :func:`attach_fake_payloads`
manufactures one from `documents.text` (utf-8 bytes) — the engine-side
semantics (binary type, per-batch processing, metadata struct) are
identical to real payloads.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geektime_bigdata_spark.functions import exact_sum, grid_round
from geektime_bigdata_spark.registry import table

FEATURE_DIM = 8

FEATURES_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, "
    f"feature array<double>, feature_norm double"
)


def attach_fake_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`documents` with an opaque binary `payload` column + metadata —
    the storage shape of a multimodal table (payload = utf-8 text bytes
    here; would be image/audio bytes or an object-store pointer)."""
    docs = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        # deterministic media-type assignment for partitioned processing
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.length(payload).cast("long").alias("n_bytes"),
        payload.alias("payload"),
    )


def _decode_and_featurize(
    batches: Iterator[pd.DataFrame], decode_stub: bool
) -> Iterator[pd.DataFrame]:
    """Per-Arrow-batch decode + feature extraction. The stub 'decoder'
    folds payload bytes into FEATURE_DIM accumulators — deterministic,
    content-sensitive, and cheap; a real implementation replaces ONLY the
    body of `_decode` (the batching/schema contract stays identical)."""

    import math

    def _round6(x: float) -> float:
        # HALF_UP like SQL round() — Python's round() is half-even and
        # diverges at exact ties (power-of-2 payload lengths hit them)
        return math.floor(x * 1e6 + 0.5) / 1e6

    def _decode(payload: bytes) -> list[float]:
        if not decode_stub:
            raise NotImplementedError(
                "real media decode requires PIL/torchaudio/ffmpeg — "
                "not available in this environment; stub path only"
            )
        acc = [0.0] * FEATURE_DIM
        for i, b in enumerate(payload):
            acc[i % FEATURE_DIM] += float(b)
        n = max(len(payload), 1)
        return [_round6(a / n) for a in acc]

    for pdf in batches:
        feats = [_decode(p) for p in pdf["payload"]]
        norms = [_round6(sum(x * x for x in f) ** 0.5) for f in feats]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["n_bytes"],
                "feature": feats,
                "feature_norm": norms,
            }
        )


def media_features(
    spark: SparkSession, sf_dir: str, decode_stub: bool = True
) -> DataFrame:
    """Decode + featurize every payload via ``mapInPandas`` (Arrow batches,
    no per-row Python overhead). Output keeps the metadata columns so
    downstream similarity/dedup can join without re-reading payloads."""
    media = attach_fake_payloads(spark, sf_dir)
    return media.mapInPandas(
        lambda it: _decode_and_featurize(it, decode_stub),
        schema=FEATURES_SCHEMA,
    )


def media_features_wide(
    spark: SparkSession, sf_dir: str, decode_stub: bool = True
) -> DataFrame:
    """Oracle-checkable twin of :func:`media_features`: the feature vector
    unpivoted to scalar columns f0..f7 + the norm. Because the stub
    decoder is a deterministic byte fold and the synthetic corpus is
    ASCII, the whole Python decode path can be verified bit-for-bit
    against a SQL oracle — upgrading this module's check from rows-only
    to full differential (real codecs would drop back to rows-only)."""
    feats = media_features(spark, sf_dir, decode_stub=decode_stub)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        *[
            F.element_at("feature", i + 1).alias(f"f{i}")
            for i in range(FEATURE_DIM)
        ],
        "feature_norm",
    )


def media_features_str(
    spark: SparkSession, sf_dir: str, decode_stub: bool = True
) -> DataFrame:
    """Oracle-checkable face of :func:`media_features`: the feature array
    canonicalized to a comma-joined micro-unit (x*1e6) integer string —
    arrays hash differently across engines, integers never do. This
    upgrades the array query from a rows-only check to a full
    differential one; `media_features` itself stays the API for
    downstream consumers that want the typed array."""
    feats = media_features(spark, sf_dir, decode_stub=decode_stub)
    micro = F.transform(
        F.col("feature"),
        lambda x: F.floor(x * 1e6 + F.lit(0.5)).cast("long").cast("string"),
    )
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.concat_ws(",", micro).alias("feature_str"),
        "feature_norm",
    )


def media_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-type rollup over extracted features — the downstream
    aggregate a curation pipeline runs after featurization (also the
    driver-facing rows-only check for this module)."""
    feats = media_features(spark, sf_dir)
    return (
        feats.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            # exact_sum/count: feature_norm is on the 1e-6 grid (HALF_UP
            # round in the decoder), so decimal accumulation is exact and
            # the mean is partition-order-independent at the hashed edge
            grid_round(
                exact_sum("feature_norm") / F.count(F.lit(1)), 6
            ).alias("avg_feature_norm"),
        )
    )


RESIZE_TARGET_BYTES = 64


def media_resize(
    spark: SparkSession, sf_dir: str, decode_stub: bool = True
) -> DataFrame:
    """'Resize' every payload to a fixed byte budget via deterministic
    stride resampling — the mapInPandas plumbing of an image-resize /
    audio-downsample stage (Arrow batches in, binary column out; a real
    implementation swaps the stride sampler for PIL.thumbnail /
    torchaudio.resample behind the same schema)."""

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(payload: bytes) -> bytes:
            if not decode_stub:
                raise NotImplementedError(
                    "real resize requires PIL/torchaudio — stub path only"
                )
            if len(payload) <= RESIZE_TARGET_BYTES:
                return bytes(payload)
            stride = len(payload) / RESIZE_TARGET_BYTES
            return bytes(
                payload[int(i * stride)] for i in range(RESIZE_TARGET_BYTES)
            )

        for pdf in batches:
            resized = [one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "orig_bytes": pdf["n_bytes"],
                    "payload": resized,
                    "n_bytes_resized": [len(r) for r in resized],
                }
            )

    media = attach_fake_payloads(spark, sf_dir)
    return media.mapInPandas(
        _resize,
        schema=(
            "doc_id long, media_type string, orig_bytes long, "
            "payload binary, n_bytes_resized long"
        ),
    )


def frame_sample(
    spark: SparkSession, sf_dir: str, every_n_bytes: int = 64
) -> DataFrame:
    """'Frame sampling' plumbing: explode each payload into fixed-stride
    chunk records ((doc_id, frame_no, chunk)) — the access pattern video
    frame extraction has, expressed with native substring/sequence ops so
    the explode happens JVM-side, not in Python."""
    media = attach_fake_payloads(spark, sf_dir)
    # empty-payload guard: sequence(0, -1) DESCENDS in Spark ([0, -1]),
    # it is not empty — an empty payload must emit zero frames (the
    # oracle's generate_series(0, -1) is empty)
    frames = F.expr(
        f"CASE WHEN n_bytes > 0 THEN "
        f"sequence(0, cast(ceil(n_bytes / {every_n_bytes}) as int) - 1) "
        f"ELSE array() END"
    )
    return (
        media.select(
            "doc_id",
            "media_type",
            "payload",
            F.explode(frames).alias("frame_no"),
        )
        .select(
            "doc_id",
            "media_type",
            F.col("frame_no").cast("long").alias("frame_no"),
            F.expr(
                f"substring(payload, frame_no * {every_n_bytes} + 1, {every_n_bytes})"
            ).alias("chunk"),
        )
    )


def media_resize_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable surface for :func:`media_resize`: the resized
    payload collapses to an md5 digest (binary columns don't hash-
    compare across engines; digests do). Drives the REAL mapInPandas
    resize path end-to-end — the oracle reconstructs the deterministic
    stride sampler positionally (payloads are utf-8 text bytes, ASCII
    in this corpus, so byte k == character k+1)."""
    r = media_resize(spark, sf_dir)
    return r.select(
        "doc_id",
        "media_type",
        "orig_bytes",
        "n_bytes_resized",
        F.md5(F.col("payload")).alias("resize_md5"),
    )


WAV_RATE = 8000  # divides 1e6 -> duration_us = n_frames * 125, exact
WAV_AMP = 12000


def synthesize_wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL RIFF/WAVE payload per document: a PCM16 mono square wave
    whose half-period (8 + doc_id % 5 samples) and frame count
    (400 + (doc_id % 23) * 16) derive from doc_id. Encoding runs through
    the stdlib ``wave`` module inside ``mapInPandas`` — these are genuine
    audio files any player opens, not byte-fold stubs. doc_id is carried
    through so downstream stages can verify parsed audio against the
    closed-form parameters."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        def one(doc_id: int) -> bytes:
            half_period = 8 + doc_id % 5
            n = 400 + (doc_id % 23) * 16
            i = np.arange(n)
            samples = np.where(
                (i // half_period) % 2 == 0, WAV_AMP, -WAV_AMP
            ).astype(np.int16)
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(WAV_RATE)
                w.writeframes(samples.tobytes())
            return buf.getvalue()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [one(int(d)) for d in pdf["doc_id"]],
                }
            )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_synth, schema="doc_id long, payload binary")


def wav_roundtrip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path, end-to-end: encode a per-document square
    wave as RIFF/WAVE PCM16 (stdlib ``wave``), then DECODE the bytes with
    the same real parser and extract features from the parsed sample
    array — header fields (sample rate, channels, sample width, frame
    count), container size, duration, zero-crossing count, and the
    integer sample sum. Every output is recomputed FROM THE PARSED AUDIO,
    never echoed from the synthesis parameters, so the differential
    oracle (closed-form integer SQL over doc_id) proves the full
    encode -> container -> decode -> featurize loop is lossless.

    This closes the audio third of the module's codec debt with a real
    codec that needs no external install; image/video decode still
    requires PIL/ffmpeg and stays behind the documented stub seam. At
    100 TB this is the exact shape of an audio-ingest QA stage: decode
    runs Arrow-batched in Python workers, output is a narrow all-integer
    feature relation, and the payload bytes never cross an engine edge.
    All columns are integers — nothing can knife-edge."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        import numpy as np

        def one(payload: bytes) -> tuple[int, int, int, int, int, int, int]:
            with wave.open(io.BytesIO(payload), "rb") as w:
                rate = w.getframerate()
                channels = w.getnchannels()
                sampwidth = w.getsampwidth()
                n_frames = w.getnframes()
                samples = np.frombuffer(
                    w.readframes(n_frames), dtype=np.int16
                )
            zero_crossings = int(
                np.count_nonzero(np.sign(samples[1:]) != np.sign(samples[:-1]))
            )
            return (
                rate,
                channels,
                sampwidth,
                n_frames,
                len(payload),
                zero_crossings,
                int(samples.astype(np.int64).sum()),
            )

        for pdf in batches:
            decoded = [one(p) for p in pdf["payload"]]
            cols = list(zip(*decoded)) if decoded else [[]] * 7
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "sample_rate": cols[0],
                    "n_channels": cols[1],
                    "sample_width": cols[2],
                    "n_frames": cols[3],
                    "n_bytes": cols[4],
                    "zero_crossings": cols[5],
                    "sample_sum": cols[6],
                }
            )

    wavs = synthesize_wav_payloads(spark, sf_dir)
    decoded = wavs.mapInPandas(
        _decode,
        schema=(
            "doc_id long, sample_rate long, n_channels long, "
            "sample_width long, n_frames long, n_bytes long, "
            "zero_crossings long, sample_sum long"
        ),
    )
    return decoded.select(
        "doc_id",
        "sample_rate",
        "n_channels",
        "sample_width",
        "n_frames",
        "n_bytes",
        (F.col("n_frames") * (1_000_000 // WAV_RATE)).alias("duration_us"),
        "zero_crossings",
        "sample_sum",
    )


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _encode_png_rgb(rgb) -> bytes:
    """Spec-conformant baseline PNG encoder (RFC 2083 / ISO 15948) over
    stdlib zlib+struct: 8-bit truecolor, filter 0 scanlines, one IDAT.
    Any PNG viewer opens the output — this is a real container, not a
    byte-fold stub."""
    import struct
    import zlib

    h, w, _ = rgb.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png_rgb(data: bytes):
    """Baseline-subset PNG parser: walks the chunk stream, VERIFIES every
    CRC32, parses IHDR, inflates the concatenated IDAT stream, and
    reverses per-scanline filtering (filter 0; other filter types raise
    — the encoder half never emits them, and a refusal is honest where
    a full spec implementation would be padding). Returns (ihdr fields,
    h x w x 3 uint8 array) recomputed entirely from the container."""
    import struct
    import zlib

    import numpy as np

    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat, header = 8, b"", None
    while pos < len(data):
        # every malformed shape must surface as the documented
        # ValueError, never a raw struct.error/IndexError: bound-check
        # the chunk frame (len + tag + payload + crc) before unpacking
        if pos + 8 > len(data):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        if pos + 12 + length > len(data):
            raise ValueError(f"truncated PNG chunk {tag!r}")
        payload = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + payload) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError("IHDR length must be 13")
            header = struct.unpack(">IIBBBBB", payload)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + length
    if header is None:
        raise ValueError("missing IHDR chunk in PNG stream")
    w, h, bit_depth, color_type, comp, filt, inter = header
    if w == 0 or h == 0:
        raise ValueError("empty PNG image")
    if (bit_depth, color_type, comp, filt, inter) != (8, 2, 0, 0, 0):
        raise NotImplementedError(
            "only 8-bit truecolor non-interlaced PNG is supported by "
            "this baseline-subset decoder"
        )
    stride = 1 + 3 * w
    expected = h * stride
    # Bound the inflate to the geometry the IHDR declared BEFORE the
    # bytes exist: zlib bombs reach 1000:1 ratios, so an unbounded
    # zlib.decompress() would let a ~200KB crafted IDAT allocate
    # hundreds of MB inside an executor before the size check ran.
    # decompressobj stops at max_length; one 1-byte follow-up probe
    # distinguishes "exactly the declared size" from "inflates past
    # it" without ever materializing the excess.
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(idat, expected)
        extra = dec.decompress(dec.unconsumed_tail, 1)
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT stream: {exc}") from exc
    if extra or not dec.eof or len(raw) != expected:
        got = len(raw) + len(extra)
        detail = (
            f"decompressed size >= {got}"
            if extra or not dec.eof
            else f"decompressed size {got}"
        )
        raise ValueError(
            f"{detail} != expected {expected}"
            + ("" if dec.eof else " (stream did not terminate there)")
        )
    rows = []
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        if line[0] != 0:
            raise NotImplementedError(
                f"PNG filter type {line[0]} not supported by this "
                "baseline-subset decoder"
            )
        rows.append(np.frombuffer(line[1:], dtype=np.uint8))
    return header, np.stack(rows).reshape(h, w, 3)


def synthesize_png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL PNG payload per document: an 8-bit RGB image whose size
    (width 8 + doc_id % 7, height 8 + doc_id % 5) and per-channel pixel
    pattern derive from doc_id — r = (3x + 5y + d) % 256,
    g = (7x + y + 2d) % 256, b = (x + 11y + 3d) % 256. Encoding runs
    through the from-spec stdlib encoder inside ``mapInPandas``."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(d: int) -> bytes:
            w, h = 8 + d % 7, 8 + d % 5
            x = np.arange(w, dtype=np.int64)[None, :]
            y = np.arange(h, dtype=np.int64)[:, None]
            rgb = np.stack(
                [
                    (3 * x + 5 * y + d) % 256,
                    (7 * x + y + 2 * d) % 256,
                    (x + 11 * y + 3 * d) % 256,
                ],
                axis=2,
            ).astype(np.uint8)
            return _encode_png_rgb(rgb)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [one(int(d)) for d in pdf["doc_id"]],
                }
            )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_synth, schema="doc_id long, payload binary")


def png_roundtrip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path, end-to-end: encode a per-document RGB
    pattern as a spec-conformant baseline PNG (stdlib zlib + struct —
    chunk framing, CRC32, zlib-deflated filter-0 scanlines), then
    DECODE the container with the from-spec parser (CRCs verified,
    IDAT inflated, scanlines unfiltered) and recompute every feature
    FROM THE DECODED PIXELS: IHDR fields, pixel count, per-channel
    integer sums, and a position-weighted red sum
    (sum of (y*w + x + 1) * r — catches any scanline-order or
    pixel-permutation bug the plain sums would miss). Nothing is
    echoed from the synthesis parameters, so the differential oracle
    (closed-form integer SQL over an unnested pixel grid) proves the
    full encode -> container -> decode -> featurize loop lossless.

    With the WAV path this closes the image third of the module's
    codec debt without an install: PIL/ffmpeg remain absent, but the
    PNG container format is public spec and its compression layer IS
    stdlib zlib. Video decode stays behind the documented stub seam.
    At 100 TB this is the shape of an image-ingest QA stage: decode
    runs Arrow-batched in Python workers, output is a narrow
    all-integer feature relation, payload bytes never cross an engine
    edge. All columns are integers — nothing can knife-edge."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(payload: bytes) -> tuple[int, ...]:
            (w, h, bit_depth, color_type, _c, _f, _i), rgb = _decode_png_rgb(
                bytes(payload)
            )
            px = rgb.astype(np.int64)
            pos = (
                np.arange(h, dtype=np.int64)[:, None] * w
                + np.arange(w, dtype=np.int64)[None, :]
                + 1
            )
            return (
                w,
                h,
                bit_depth,
                color_type,
                h * w,
                int(px[:, :, 0].sum()),
                int(px[:, :, 1].sum()),
                int(px[:, :, 2].sum()),
                int((pos * px[:, :, 0]).sum()),
            )

        for pdf in batches:
            decoded = [one(p) for p in pdf["payload"]]
            cols = list(zip(*decoded)) if decoded else [[]] * 9
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": cols[0],
                    "height": cols[1],
                    "bit_depth": cols[2],
                    "color_type": cols[3],
                    "n_pixels": cols[4],
                    "sum_r": cols[5],
                    "sum_g": cols[6],
                    "sum_b": cols[7],
                    "pos_weighted_r": cols[8],
                }
            )

    pngs = synthesize_png_payloads(spark, sf_dir)
    return pngs.mapInPandas(
        _decode,
        schema=(
            "doc_id long, width long, height long, bit_depth long, "
            "color_type long, n_pixels long, sum_r long, sum_g long, "
            "sum_b long, pos_weighted_r long"
        ),
    )


AVI_FPS = 10  # microseconds per frame = 100_000, exact


def _avi_chunk(tag: bytes, data: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(data) % 2 else b""  # RIFF chunks are word-aligned
    return tag + struct.pack("<I", len(data)) + data + pad


def _encode_avi_rgb(frames) -> bytes:
    """Spec-conformant uncompressed AVI writer (MSDN 'AVI RIFF File
    Reference') over stdlib struct: RIFF('AVI ') -> LIST('hdrl')
    {avih, LIST('strl'){strh, strf=BITMAPINFOHEADER}} -> LIST('movi')
    {'00db' DIB frames}. Frames are BI_RGB bottom-up DIBs with rows
    padded to 4 bytes and BGR byte order — the real spec warts, kept
    so any AVI player opens the output."""
    import struct

    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) & ~3
    frame_size = stride * h

    def dib(frame) -> bytes:
        rows = []
        for y in range(h - 1, -1, -1):  # bottom-up row order
            bgr = frame[y, :, ::-1].tobytes()  # BGR byte order
            rows.append(bgr + b"\x00" * (stride - len(bgr)))
        return b"".join(rows)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // AVI_FPS,  # dwMicroSecPerFrame
        frame_size * AVI_FPS,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0,  # dwFlags (no idx1 written, so AVIF_HASINDEX stays unset)
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        frame_size,  # dwSuggestedBufferSize
        w,  # dwWidth
        h,  # dwHeight
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0,
        1, AVI_FPS,  # dwScale / dwRate -> fps
        0, n, frame_size, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_size, 0, 0, 0, 0
    )
    strl = _avi_chunk(
        b"LIST",
        b"strl" + _avi_chunk(b"strh", strh) + _avi_chunk(b"strf", strf),
    )
    hdrl = _avi_chunk(b"LIST", b"hdrl" + _avi_chunk(b"avih", avih) + strl)
    movi = _avi_chunk(
        b"LIST",
        b"movi" + b"".join(_avi_chunk(b"00db", dib(f)) for f in frames),
    )
    return _avi_chunk(b"RIFF", b"AVI " + hdrl + movi)


def _decode_avi_rgb(data: bytes):
    """From-spec uncompressed-AVI parser: validates RIFF/'AVI ' magic,
    walks the chunk tree, reads avih (frame count, dimensions) and the
    strf BITMAPINFOHEADER (bit depth, BI_RGB), then decodes every
    '00db' frame — un-padding rows, flipping the bottom-up order, and
    swapping BGR back to RGB. Returns (avih fields, strf fields,
    n x h x w x 3 uint8 array) recomputed entirely from the container.
    Compressed streams ('00dc' with a fourCC codec) raise — THAT decode
    genuinely needs ffmpeg and stays behind the documented stub."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    avih = strf = None
    frames = []

    # Iterative depth-first chunk walk over (pos, end) ranges into the
    # original buffer. Recursing per nested LIST lets a small crafted
    # blob (one LIST header per 12 bytes) blow the Python recursion
    # limit — an undocumented RecursionError escape — and slicing each
    # LIST body copies O(depth * size) bytes. Offset ranges keep the
    # walk O(input) and the only stack a 16-byte tuple per open LIST.
    stack: list[tuple[int, int]] = [(12, len(data))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            tag = data[pos : pos + 4]
            (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_start = pos + 8
            # malformed containers fail with the documented ValueError,
            # never a raw struct.error from a short unpack
            if body_start + length > end:
                raise ValueError(f"truncated AVI chunk {tag!r}")
            pos = body_start + length + (length % 2)
            if tag == b"LIST":
                # resume the parent after the child range drains —
                # exactly the recursive depth-first visit order
                stack.append((pos, end))
                pos, end = body_start + 4, body_start + length
            elif tag == b"avih":
                if length < 56:
                    raise ValueError("avih header too short")
                avih = struct.unpack(
                    "<IIIIIIIIIIIIII", data[body_start : body_start + 56]
                )
            elif tag == b"strf":
                if length < 40:
                    raise ValueError("strf header too short")
                strf = struct.unpack(
                    "<IiiHHIIiiII", data[body_start : body_start + 40]
                )
            elif tag == b"00db":
                frames.append(data[body_start : body_start + length])
            elif tag == b"00dc":
                raise NotImplementedError(
                    "compressed AVI stream: a real codec (ffmpeg) is "
                    "required — uncompressed DIB only here"
                )
    if avih is None or strf is None:
        raise ValueError("missing avih/strf header in AVI container")
    n_frames, w, h = avih[4], avih[8], avih[9]
    bit_count, compression = strf[4], strf[5]
    if bit_count != 24 or compression != 0:
        raise NotImplementedError("only 24-bit BI_RGB DIB frames")
    if w <= 0 or h <= 0:
        raise ValueError("non-positive AVI frame dimensions")
    stride = (w * 3 + 3) & ~3
    # validate every frame size BEFORE allocating the (n, h, w, 3)
    # output — a crafted huge-dimension header must fail with the
    # documented ValueError, not an allocation attempt
    for raw in frames:
        if len(raw) != h * stride:
            raise ValueError(
                f"frame size {len(raw)} != expected {h * stride}"
            )
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, raw in enumerate(frames):
        rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
        bgr = rows[:, : w * 3].reshape(h, w, 3)[::-1]  # un-flip rows
        out[i] = bgr[:, :, ::-1]  # BGR -> RGB
    return (n_frames, w, h), (bit_count, compression), out


def synthesize_avi_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL uncompressed AVI per document: 2 + doc_id % 4 frames of
    a (8 + doc_id % 5) x (6 + doc_id % 3) RGB pattern whose channels
    derive from (frame, x, y, doc_id) — r = (3x + 5y + 7f + d) % 256,
    g = (7x + y + 11f + 2d) % 256, b = (x + 11y + 13f + 3d) % 256.
    The width range crosses 4-byte stride boundaries on purpose so the
    DIB row-padding path is exercised, not just compiled."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(d: int) -> bytes:
            n, w, h = 2 + d % 4, 8 + d % 5, 6 + d % 3
            f = np.arange(n, dtype=np.int64)[:, None, None]
            x = np.arange(w, dtype=np.int64)[None, None, :]
            y = np.arange(h, dtype=np.int64)[None, :, None]
            frames = np.stack(
                [
                    (3 * x + 5 * y + 7 * f + d) % 256,
                    (7 * x + y + 11 * f + 2 * d) % 256,
                    (x + 11 * y + 13 * f + 3 * d) % 256,
                ],
                axis=3,
            ).astype(np.uint8)
            return _encode_avi_rgb(frames)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [one(int(d)) for d in pdf["doc_id"]],
                }
            )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(_synth, schema="doc_id long, payload binary")


def avi_roundtrip_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container path, end-to-end: write a per-document
    uncompressed AVI (MSDN RIFF spec over stdlib struct — header
    lists, BITMAPINFOHEADER, bottom-up padded BGR DIB frames), then
    DECODE the container with the from-spec parser and recompute every
    feature FROM THE DECODED FRAMES: header fields, frame count (both
    as declared by avih and as counted in movi — the parser checks
    they agree), pixel count, total red sum, and a
    (frame, scanline-position)-weighted red sum that breaks parity if
    frame order, row un-flipping, BGR swap, or stride un-padding is
    wrong anywhere. Nothing is echoed from the synthesis parameters,
    so the closed-form integer oracle (pixel grid unnested from
    doc_id) proves the full encode -> container -> decode -> featurize
    loop lossless.

    This closes the VIDEO third of the codec debt at the container
    level: uncompressed 24-bit BI_RGB AVI is a genuine video format
    any player opens. What remains honestly stubbed is compressed
    bitstream decode ('00dc' + fourCC), which really does need
    ffmpeg — the parser raises at exactly that point. At 100 TB this
    is the video-ingest QA shape: Arrow-batched decode in Python
    workers, narrow all-integer feature relation out, payload bytes
    never crossing an engine edge."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def one(payload: bytes) -> tuple[int, ...]:
            (n_declared, w, h), _, frames = _decode_avi_rgb(bytes(payload))
            if n_declared != frames.shape[0]:
                raise ValueError("avih frame count != movi chunk count")
            px = frames.astype(np.int64)
            n = frames.shape[0]
            fw = np.arange(n, dtype=np.int64)[:, None, None] * (h * w)
            pos = (
                np.arange(h, dtype=np.int64)[None, :, None] * w
                + np.arange(w, dtype=np.int64)[None, None, :]
                + 1
            )
            weights = fw + pos
            return (
                n,
                w,
                h,
                n * h * w,
                int(px[:, :, :, 0].sum()),
                int(px[:, :, :, 1].sum()),
                int(px[:, :, :, 2].sum()),
                int((weights * px[:, :, :, 0]).sum()),
            )

        for pdf in batches:
            decoded = [one(p) for p in pdf["payload"]]
            cols = list(zip(*decoded)) if decoded else [[]] * 8
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_frames": cols[0],
                    "width": cols[1],
                    "height": cols[2],
                    "n_pixels": cols[3],
                    "sum_r": cols[4],
                    "sum_g": cols[5],
                    "sum_b": cols[6],
                    "pos_weighted_r": cols[7],
                }
            )

    avis = synthesize_avi_payloads(spark, sf_dir)
    return avis.mapInPandas(
        _decode,
        schema=(
            "doc_id long, n_frames long, width long, height long, "
            "n_pixels long, sum_r long, sum_g long, sum_b long, "
            "pos_weighted_r long"
        ),
    )


def frame_sample_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable surface for :func:`frame_sample`: per-chunk
    length + md5 instead of the raw binary chunk. The explode and the
    substring windows stay JVM-side; the digest is the only change."""
    f = frame_sample(spark, sf_dir)
    return f.select(
        "doc_id",
        "media_type",
        "frame_no",
        F.length(F.col("chunk")).cast("long").alias("chunk_bytes"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    )
