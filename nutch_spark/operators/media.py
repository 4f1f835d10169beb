"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata; decode/resize/frame-sample as mapInPandas kernels.

Decode is REAL for all three media kinds, by stdlib-only codecs:
- images (extract_media_features, resize): binary PPM, uncompressed 24-bit
  BMP and non-interlaced 8-bit PNG via zlib (functions/imaging.py);
  features and resize operate on the actual pixel array;
- audio (extract_audio_features): RIFF/WAVE PCM (functions/audio.py);
- video (extract_video_frames): uncompressed RIFF/AVI (functions/video.py).
Only compressed codecs (mp3/aac, h264/vp9, MJPEG ...) stay undecoded: those
rows surface decoded=False (video: no frames), the contract a production
ffmpeg/torchaudio swap-in would fill. extract_media_features is the
image-pixel kernel, so audio/video rows come out of it decoded=False too.

Crawl-side tie-in: media spans in the documents table carry media_ref; the
media table is keyed by media_ref so span-level joins are equi-joins.
"""

from __future__ import annotations

import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from nutch_spark.functions.imaging import (
    ImageFormatError, box_downsample, decode_image, encode_bmp, encode_png,
    encode_ppm,
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),      # image | audio | video
        T.StructField("payload", T.BinaryType(), True),     # opaque bytes
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
        T.StructField("decoded", T.BooleanType(), False),
    ]
)

# synthetic image geometry: every synth image is 8x8 RGB so the per-row
# feature (8 rows x 24 bytes) and the resize oracle stay plain arithmetic
SYNTH_IMG_SIDE = 8
_SYNTH_ENCODERS = (encode_ppm, encode_bmp, encode_png)  # rotate by ref index


def ref_index(ref: str) -> int:
    """Deterministic integer per media_ref: the first digit run in the ref
    (so an ANSI-SQL oracle can recompute it with regexp_extract), else a
    byte-sum fallback for digit-free refs."""
    m = re.search(r"\d+", ref)
    if m:
        return int(m.group(0))
    return sum(ref.encode("utf-8")) % 100003


def synth_pixels(idx: int, side: int = SYNTH_IMG_SIDE) -> np.ndarray:
    """Deterministic RGB pixels: byte j of the row-major RGB stream is
    (idx + j) % 256 — the arithmetic the SQL oracles restate."""
    j = np.arange(side * side * 3, dtype=np.int64)
    return ((idx + j) % 256).astype(np.uint8).reshape(side, side, 3)


def synth_video_frame(idx: int, f: int, side: int = 4) -> np.ndarray:
    """Deterministic 4x4 RGB frame f: byte j = (idx + 7f + j) % 256."""
    j = np.arange(side * side * 3, dtype=np.int64)
    return ((idx + 7 * f + j) % 256).astype(np.uint8).reshape(side, side, 3)


def synth_media_table(spark, media_refs: list[str], seed: int = 42) -> DataFrame:
    """Deterministic fake media rows for the given refs. Image payloads are
    REAL files — PPM / BMP / PNG rotating on the ref index, all encoding
    the same synth_pixels(idx) array — so the decode path exercises three
    actual formats while the decoded features stay recomputable in plain
    SQL. Audio payloads are REAL 8-bit PCM WAV and video payloads REAL
    uncompressed AVI, whose decoded samples/frames are plain arithmetic
    too."""
    rows = []
    for ref in media_refs:
        idx = ref_index(ref)
        kind = "image" if ref.endswith((".jpg", ".png")) else "video" if ref.endswith(".mp4") else "audio"
        if kind == "image":
            payload = _SYNTH_ENCODERS[idx % 3](synth_pixels(idx))
            width = height = SYNTH_IMG_SIDE
            duration = None
        elif kind == "audio":
            # REAL 8-bit PCM WAV whose 64 data bytes are (idx+j)%256 —
            # the decoded samples stay plain arithmetic for the oracle
            from nutch_spark.functions.audio import encode_wav

            samples = (np.array([(idx + j) % 256 for j in range(64)],
                                dtype=np.float64) - 128.0) / 128.0
            payload = encode_wav(samples, rate=8000, bits=8)
            width = height = None
            duration = 8  # 64 samples @ 8 kHz
        else:
            # REAL uncompressed AVI at 10 fps whose frame count matches
            # the metadata duration; frame f's RGB byte j is
            # (idx + 7f + j) % 256 — decoded-frame checksums stay plain
            # arithmetic for the oracle
            from nutch_spark.functions.video import encode_avi

            duration = 1000 + (idx % 256) * 100
            n_frames = duration // 100
            payload = encode_avi(
                [synth_video_frame(idx, f) for f in range(n_frames)],
                fps=10.0)
            width = height = None
        rows.append(
            {
                "media_ref": ref, "kind": kind, "payload": payload,
                "width": width, "height": height, "duration_ms": duration,
            }
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def image_row_features(pixels: np.ndarray, n: int = 8) -> np.ndarray:
    """n-dim feature from REAL decoded pixels: the RGB byte stream split
    into n equal row-bands, mean/255 per band. For the 8x8 synth images
    band r is exactly pixel row r (24 bytes)."""
    flat = pixels.astype(np.float64).reshape(-1)
    bands = np.array_split(flat, n)
    return np.array([b.mean() / 255.0 for b in bands], dtype=np.float32)


def extract_media_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over REAL decoded pixels (PPM/BMP/PNG
    via functions/imaging.py). Rows whose payload no codec accepts
    (audio/video, corrupt files) surface decoded=False with zero features
    instead of failing the batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, ok = [], []
            for payload in pdf["payload"]:
                try:
                    px = decode_image(payload)
                    feats.append([float(x) for x in image_row_features(px)])
                    ok.append(True)
                except ImageFormatError:
                    feats.append([0.0] * 8)
                    ok.append(False)
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "decoded": ok,
                }
            )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("sample_rate", T.LongType(), True),
    T.StructField("duration_ms", T.LongType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("zero_crossings", T.LongType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("decoded", T.BooleanType(), False),
])


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode (RIFF/WAVE PCM via functions/audio.py) ->
    standard pipeline descriptors (duration, RMS, zero-crossing count,
    peak). Non-WAV payloads (compressed codecs — declared gap) surface
    decoded=False with NULL features."""
    from nutch_spark.functions.audio import (
        AudioFormatError, decode_wav, wav_features)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in AUDIO_FEATURE_SCHEMA}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                rows["media_ref"].append(ref)
                try:
                    rate, mono = decode_wav(bytes(payload) if payload is not None else b"")
                    f = wav_features(rate, mono)
                    rows["n_samples"].append(f["n_samples"])
                    rows["sample_rate"].append(f["sample_rate"])
                    rows["duration_ms"].append(f["duration_ms"])
                    rows["rms"].append(f["rms"])
                    rows["zero_crossings"].append(f["zero_crossings"])
                    rows["peak"].append(f["peak"])
                    rows["decoded"].append(True)
                except AudioFormatError:
                    for k in ("n_samples", "sample_rate", "duration_ms",
                              "rms", "zero_crossings", "peak"):
                        rows[k].append(None)
                    rows["decoded"].append(False)
            yield pd.DataFrame(rows)

    return (media.filter(F.col("kind") == "audio")
            .mapInPandas(kernel, AUDIO_FEATURE_SCHEMA))


VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("frame_ts_ms", T.LongType(), False),
    T.StructField("frame_index", T.LongType(), False),
    T.StructField("width", T.LongType(), False),
    T.StructField("height", T.LongType(), False),
    T.StructField("checksum", T.LongType(), False),
])


def extract_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL frame sampling: decode uncompressed RIFF/AVI payloads
    (functions/video.py), pick the frame under each sampled timestamp,
    emit its dims + pixel checksum. Undecodable payloads (compressed
    codecs — declared gap) contribute no rows, the parse-FAILED shape."""
    from nutch_spark.functions.video import VideoFormatError, decode_avi

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in VIDEO_FRAME_SCHEMA}
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                try:
                    fps, w, h, frames = decode_avi(
                        bytes(payload) if payload is not None else b"")
                except VideoFormatError:
                    continue
                duration_ms = int(len(frames) * 1000 / fps)
                for ts in range(0, duration_ms, every_ms):
                    f = min(int(ts * fps / 1000), len(frames) - 1)
                    rows["media_ref"].append(ref)
                    rows["frame_ts_ms"].append(ts)
                    rows["frame_index"].append(f)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["checksum"].append(int(frames[f].sum()))
            yield pd.DataFrame(rows)

    return (media.filter(F.col("kind") == "video")
            .mapInPandas(kernel, VIDEO_FRAME_SCHEMA))


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling PLUMBING over metadata (kept alongside the real
    decode in extract_video_frames: at crawl time most video is
    compressed, so the metadata-driven sampler is what runs there).
    Native explode on a JVM-computed sequence — the expensive part
    (per-frame decode) stays in Arrow batches downstream."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("duration_ms"), F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def resize_media(media: DataFrame, scale: int = 2) -> DataFrame:
    """REAL image resize: decode (PPM/BMP/PNG) -> integer box filter
    (imaging.box_downsample) -> re-encode as PPM. Output dims come from the
    DECODED pixel array, not the metadata columns. Undecodable payloads
    pass through as NULL (dims NULL too) rather than failing the batch."""

    out_schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for payload in pdf["payload"]:
                try:
                    small = box_downsample(decode_image(payload), scale)
                    payloads.append(encode_ppm(small))
                    hs.append(int(small.shape[0]))
                    ws.append(int(small.shape[1]))
                except (ImageFormatError, ValueError):
                    payloads.append(None)
                    ws.append(None)
                    hs.append(None)
            yield pd.DataFrame({
                "media_ref": pdf["media_ref"], "width": ws, "height": hs,
                "payload": payloads,
            })

    return media.filter(F.col("kind") == "image").mapInPandas(kernel, out_schema)


def media_span_join(documents: DataFrame, media_features: DataFrame) -> DataFrame:
    """documents(doc_id, spans) ⋈ media features on media_ref — the
    interleaved-corpus join pattern (span explode is the only shuffle)."""
    media_refs = (
        documents.select("doc_id", F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"), F.col("s.offset").alias("offset"))
    )
    return media_refs.join(media_features, "media_ref", "left")
