"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Image decode is REAL for PNG/BMP/baseline-JPEG via the pure-python
codecs in ``sources/imagecodec.py`` / ``sources/jpegcodec.py`` (PIL
upgrades to every format when installed), audio decode is REAL for PCM
WAV (stdlib ``wave``), and video decode is REAL for MJPEG-AVI
(``sources/avicodec.py`` RIFF parser + the JPEG codec).  Other
compressed audio/video codecs stay gated (no librosa/av in a pure build)
with the deterministic fake decoder covering their plumbing in tests.
Schemas, Arrow batch shapes, mapInPandas signatures, and partitioning are
production-shaped either way.

Scale notes: binary payloads dominate row size, so operators here
- never shuffle the binary column (feature extraction projects it away
  before any wide transform), and
- run decode inside ``mapInPandas`` so one Python worker handles a whole
  Arrow batch (amortized codec startup, zero pickling per row).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from niamoto_spark.registry import PluginType, register

IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("mime", T.StringType(), True),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("payload_hash", T.StringType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an HxWx3 uint8 array.

    REAL for PNG/BMP/baseline-JPEG (pure-python codecs in
    sources/imagecodec.py and sources/jpegcodec.py) and for anything PIL
    handles when pillow is installed; other formats raise."""
    from niamoto_spark.sources.imagecodec import decode_image as _decode

    return _decode(payload)


def _fake_decode(payload: bytes, side: int = 8) -> np.ndarray:
    """Deterministic fake decoder used by tests: bytes -> pseudo-pixel grid
    (repeatable, content-dependent)."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(side * side * 3 / max(len(arr), 1)))
    return np.tile(arr, reps)[: side * side * 3].reshape(side, side, 3)


@register("media_features", PluginType.TRANSFORMER)
def media_features(df: DataFrame, use_fake_decoder: bool = False,
                   feature_dim: int = 16) -> DataFrame:
    """Extract per-media features: byte count, content hash, and a
    ``feature_dim``-float embedding from the decoded pixels (mean-pooled
    grid).  The binary column is consumed inside the batch and NOT emitted —
    downstream joins carry only ids + features."""
    decoder = _fake_decode if use_fake_decoder else decode_image

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                payload = r["payload"] or b""
                px = decoder(bytes(payload))
                flat = px.astype(np.float32).ravel()
                chunks = np.array_split(flat, feature_dim)
                feat = [float(c.mean()) if len(c) else 0.0 for c in chunks]
                rows.append({
                    "media_id": r["media_id"],
                    "mime": r["mime"],
                    "n_bytes": len(payload),
                    "payload_hash": hashlib.md5(payload).hexdigest(),
                    "feature": feat,
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, schema=FEATURE_SCHEMA)


def bilinear_resize(px: "np.ndarray", th: int, tw: int) -> "np.ndarray":
    """HxWxC uint8 -> th x tw x C via separable bilinear interpolation
    (align-corners-false pixel-center convention, the PIL/torch default) —
    vectorized numpy, no per-pixel python."""
    h, w = px.shape[:2]
    ys = (np.arange(th) + 0.5) * h / th - 0.5
    xs = (np.arange(tw) + 0.5) * w / tw - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :, None]
    p = px.astype(np.float32)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    return np.clip(top * (1 - wy) + bot * wy, 0, 255) \
        .round().astype(np.uint8)


@register("media_resize", PluginType.TRANSFORMER)
def media_resize(df: DataFrame, target: tuple[int, int] = (64, 64),
                 use_fake_decoder: bool = False,
                 method: str = "nearest") -> DataFrame:
    """Resize plumbing: decode -> resample -> re-emit payload bytes.
    ``method='nearest'`` (index pick, exact for downscale-by-integer) or
    ``'bilinear'`` (separable interpolation — the standard choice for
    model-input thumbnails).  Uses the fake decoder in tests; the
    resample itself is real numpy."""
    if method not in ("nearest", "bilinear"):
        raise ValueError(f"unknown resize method {method!r}")
    decoder = _fake_decode if use_fake_decoder else decode_image
    out_schema = df.schema

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        th, tw = target
        for pdf in batches:
            payloads = []
            for p in pdf["payload"]:
                px = decoder(bytes(p or b""))
                if method == "bilinear":
                    payloads.append(bilinear_resize(px, th, tw).tobytes())
                    continue
                h, w = px.shape[:2]
                yi = (np.arange(th) * h // th).clip(0, h - 1)
                xi = (np.arange(tw) * w // tw).clip(0, w - 1)
                payloads.append(px[np.ix_(yi, xi)].tobytes())
            pdf = pdf.copy()
            pdf["payload"] = payloads
            pdf["width"], pdf["height"] = tw, th
            yield pdf

    return df.mapInPandas(resize, schema=out_schema)


AUDIO_FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("duration_s", T.DoubleType(), True),
    T.StructField("rms", T.DoubleType(), True),
    T.StructField("peak", T.DoubleType(), True),
    T.StructField("zero_crossing_rate", T.DoubleType(), True),
])


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV -> (float32 samples in [-1, 1] shaped (n, channels),
    sample_rate).  Stdlib ``wave`` — 8/16/32-bit PCM; no codec deps, so
    audio decode is REAL for the container format training corpora
    actually store raw audio in."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n = w.getnframes()
        width = w.getsampwidth()
        channels = w.getnchannels()
        rate = w.getframerate()
        raw = w.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(width)
    if dtype is None:
        raise ValueError(f"unsupported WAV sample width {width}")
    arr = np.frombuffer(raw, dtype=dtype).reshape(-1, channels)
    if width == 1:                          # unsigned 8-bit
        samples = (arr.astype(np.float32) - 128.0) / 128.0
    else:
        samples = arr.astype(np.float32) / float(2 ** (8 * width - 1))
    return samples, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """float samples in [-1,1] (n, channels) -> 16-bit PCM WAV bytes
    (fixture writer)."""
    import io
    import wave

    pcm = np.clip(samples, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1] if samples.ndim == 2 else 1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


@register("audio_features", PluginType.TRANSFORMER)
def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip audio signals from WAV payloads: duration, RMS energy,
    peak amplitude, zero-crossing rate — the standard cheap filters for
    audio training corpora (silence / clipping / noise screens).  Decode +
    numpy inside mapInPandas; the binary column never leaves the batch."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                samples, rate = decode_wav(bytes(r["payload"]))
                mono = samples.mean(axis=1)
                zc = float(np.mean(np.abs(np.diff(np.signbit(mono))))) \
                    if len(mono) > 1 else 0.0
                rows.append({
                    "media_id": r["media_id"],
                    "sample_rate": rate,
                    "n_channels": samples.shape[1],
                    "duration_s": round(len(mono) / rate, 6),
                    "rms": round(float(np.sqrt(np.mean(mono ** 2))), 6),
                    "peak": round(float(np.abs(mono).max()), 6)
                    if len(mono) else 0.0,
                    "zero_crossing_rate": round(zc, 6),
                })
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, schema=AUDIO_FEATURE_SCHEMA)


SPECTRAL_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("spectral_centroid_hz", T.DoubleType(), True),
    T.StructField("spectral_bandwidth_hz", T.DoubleType(), True),
    T.StructField("spectral_rolloff_hz", T.DoubleType(), True),
    T.StructField("spectral_flatness", T.DoubleType(), True),
])


@register("audio_spectral_features", PluginType.TRANSFORMER)
def audio_spectral_features(df: DataFrame,
                            rolloff_pct: float = 0.85) -> DataFrame:
    """Frequency-domain audio screens (numpy rFFT over the mono mix, no
    librosa): magnitude-weighted spectral centroid and bandwidth, the
    ``rolloff_pct`` energy rolloff frequency, and spectral flatness
    (geometric / arithmetic mean of the power spectrum — near 1 for
    noise, near 0 for tones).  The standard second-tier audio-corpus
    filters after the time-domain rms/zcr pass (``audio_features``).
    Pure-tone and white-noise fixtures pin each metric analytically in
    tests.  Silent or empty audio yields nulls."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                samples, rate = decode_wav(bytes(r["payload"]))
                mono = samples.mean(axis=1)
                row = {"media_id": r["media_id"],
                       "spectral_centroid_hz": None,
                       "spectral_bandwidth_hz": None,
                       "spectral_rolloff_hz": None,
                       "spectral_flatness": None}
                mag = np.abs(np.fft.rfft(mono)) if len(mono) else np.array([])
                if mag.size and mag.sum() > 1e-12:
                    freqs = np.fft.rfftfreq(len(mono), d=1.0 / rate)
                    w = mag / mag.sum()
                    centroid = float((freqs * w).sum())
                    bandwidth = float(np.sqrt(
                        (((freqs - centroid) ** 2) * w).sum()))
                    power = mag ** 2
                    cum = np.cumsum(power)
                    roll_i = int(np.searchsorted(
                        cum, rolloff_pct * cum[-1]))
                    flat = float(np.exp(np.mean(np.log(power + 1e-20)))
                                 / (power.mean() + 1e-20))
                    row.update({
                        "spectral_centroid_hz": round(centroid, 2),
                        "spectral_bandwidth_hz": round(bandwidth, 2),
                        "spectral_rolloff_hz":
                            round(float(freqs[min(roll_i,
                                                  len(freqs) - 1)]), 2),
                        "spectral_flatness": round(flat, 6),
                    })
                rows.append(row)
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        extract, schema=SPECTRAL_SCHEMA)


def dhash_from_pixels(px: np.ndarray) -> int:
    """HxWx3 pixels -> signed 64-bit dHash (grayscale, 9x8 nearest
    resample, horizontal gradient sign bits)."""
    gray = px.astype(np.float32).mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(8) * h // 8).clip(0, h - 1)
    xi = (np.arange(9) * w // 9).clip(0, w - 1)
    small = gray[np.ix_(yi, xi)]
    bits = (small[:, 1:] > small[:, :-1]).ravel()
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    if val >= 2 ** 63:                    # store as signed (Spark LongType)
        val -= 2 ** 64
    return val


VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean_luma", T.DoubleType(), True),
    T.StructField("dhash", T.LongType(), True),
])


@register("video_frame_features", PluginType.TRANSFORMER)
def video_frame_features(df: DataFrame, every_n: int = 1,
                         max_frames: int | None = None) -> DataFrame:
    """REAL video lane: parse MJPEG-AVI payloads (sources/avicodec.py),
    sample every Nth frame, decode with the pure JPEG codec, and emit
    per-frame features (dimensions, mean luminance, dHash).  One Arrow
    batch of videos per Python worker; frames never leave the batch —
    only the fixed-width feature rows shuffle.  Frame dHashes feed the
    same Hamming banding as images, so near-duplicate SCENES across
    videos surface with the existing pair machinery."""
    from niamoto_spark.sources.avicodec import decode_avi_mjpeg

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                for idx, px in decode_avi_mjpeg(bytes(r["payload"]),
                                                every_n=every_n,
                                                max_frames=max_frames):
                    gray = px.astype(np.float32).mean(axis=2)
                    rows.append({
                        "media_id": r["media_id"],
                        "frame_idx": idx,
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "mean_luma": round(float(gray.mean()), 4),
                        "dhash": dhash_from_pixels(px),
                    })
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        extract, schema=VIDEO_FRAME_SCHEMA)


@register("image_channel_stats", PluginType.TRANSFORMER)
def image_channel_stats(df: DataFrame,
                        use_fake_decoder: bool = False) -> DataFrame:
    """Per-channel EXACT pixel statistics (count, integer sum, min,
    max) from the decoded image — the brightness/exposure signal a
    curation pipeline thresholds (all-black thumbnails, blown-out
    scans), and, because the sums are exact integers, the statistic
    that verifies a LOSSLESS decode path analytically (q354: formula
    pixels -> SOF3 encode -> this decode -> sums an external engine
    recomputes from the same formulas).

    Same Arrow-batch shape as media_features: decode happens inside
    mapInPandas, the binary never leaves the executor, output is
    4 tiny longs per (image, channel)."""
    decoder = _fake_decode if use_fake_decoder else decode_image

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                px = decoder(bytes(r["payload"]))
                for ch in range(px.shape[2]):
                    plane = px[:, :, ch].astype(np.int64)
                    rows.append({"media_id": r["media_id"],
                                 "channel": ch,
                                 "n_px": int(plane.size),
                                 "px_sum": int(plane.sum()),
                                 "px_min": int(plane.min()),
                                 "px_max": int(plane.max())})
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        stats, schema="media_id long, channel int, n_px long, "
                      "px_sum long, px_min long, px_max long")


@register("image_dhash", PluginType.TRANSFORMER)
def image_dhash(df: DataFrame, use_fake_decoder: bool = False) -> DataFrame:
    """64-bit perceptual difference hash (dHash) per image: decode ->
    grayscale -> 9x8 nearest resample -> horizontal gradient sign bits.
    Near-identical images (re-encodes, small crops, brightness shifts)
    land within a few Hamming bits — the standard cheap image near-dup
    fingerprint for training corpora.

    Output: (media_id, dhash bigint).  Pair finding reuses the SAME
    pigeonhole banding as SimHash (dedup.hamming_near_pairs) — fingerprints
    shuffle, pixels never do."""
    decoder = _fake_decode if use_fake_decoder else decode_image

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                px = decoder(bytes(r["payload"]))
                rows.append({"media_id": r["media_id"],
                             "dhash": dhash_from_pixels(px)})
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        compute, schema="media_id long, dhash long")


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (the JPEG transform; same constants as
    sources/jpegcodec.py's IDCT, transposed)."""
    k = np.arange(n)
    mat = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    mat *= np.sqrt(2.0 / n)
    mat[0] *= np.sqrt(0.5)
    return mat.astype(np.float64)


_DCT32 = None


def phash_from_pixels(px: np.ndarray) -> int:
    """64-bit perceptual hash (pHash): grayscale -> 32x32 nearest
    resample -> 2D DCT-II -> 8x8 low-frequency block (DC excluded) ->
    median-threshold sign bits.  Versus dHash, thresholding the
    low-frequency SPECTRUM survives blur, resize, and mild recompression
    that flip dHash's pixel-gradient bits — the classic trade: pHash
    for robustness, dHash for speed."""
    global _DCT32
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(32) * h // 32).clip(0, h - 1)
    xi = (np.arange(32) * w // 32).clip(0, w - 1)
    small = gray[np.ix_(yi, xi)]
    spec = _DCT32 @ small @ _DCT32.T
    block = spec[:8, :8].ravel()[1:]           # drop DC (overall brightness)
    med = np.median(block)
    bits = block > med
    val = 0
    for bit in bits:
        val = (val << 1) | int(bit)
    val <<= 1                                  # pad to 64 bits (63 + 1)
    if val >= 2 ** 63:
        val -= 2 ** 64
    return val


@register("image_phash", PluginType.TRANSFORMER)
def image_phash(df: DataFrame, use_fake_decoder: bool = False) -> DataFrame:
    """64-bit DCT perceptual hash per image (see phash_from_pixels).
    Output: (media_id, phash bigint); pairs via the same Hamming
    banding as dHash/SimHash — fingerprints shuffle, pixels never do."""
    decoder = _fake_decode if use_fake_decoder else decode_image

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                px = decoder(bytes(r["payload"]))
                rows.append({"media_id": r["media_id"],
                             "phash": phash_from_pixels(px)})
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        compute, schema="media_id long, phash long")


SHOT_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.LongType()),
    T.StructField("diff", T.DoubleType()),
    T.StructField("is_boundary", T.BooleanType()),
])


@register("shot_boundaries", PluginType.TRANSFORMER)
def shot_boundaries(df: DataFrame, diff_threshold: float = 30.0,
                    every_n: int = 1) -> DataFrame:
    """Shot/scene-cut detection over MJPEG-AVI payloads: decode frames
    (sources/avicodec.py + the pure JPEG codec), compare consecutive
    frames' mean absolute luminance difference, and flag boundaries
    where the jump exceeds ``diff_threshold`` — the frame-sampling
    prep every video-training pipeline runs so clips are cut at scene
    edges, not mid-motion.

    Frames never leave their Arrow batch; only (media_id, frame_idx,
    diff, is_boundary) rows shuffle.  The first frame of each video is
    a boundary by definition (diff = +inf recorded as the threshold).
    """
    from niamoto_spark.sources.avicodec import decode_avi_mjpeg

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                prev = None
                for idx, px in decode_avi_mjpeg(bytes(r["payload"]),
                                                every_n=every_n):
                    gray = px.astype(np.float32).mean(axis=2)
                    if prev is None:
                        d = float(diff_threshold)
                    else:
                        d = float(np.abs(gray - prev).mean())
                    rows.append({"media_id": r["media_id"],
                                 "frame_idx": idx,
                                 "diff": round(d, 4),
                                 "is_boundary": d >= diff_threshold})
                    prev = gray
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        detect, schema=SHOT_SCHEMA)


@register("augment_image", PluginType.TRANSFORMER)
def augment_image(df: DataFrame, op: str = "hflip",
                  crop_frac: float = 0.8,
                  use_fake_decoder: bool = False) -> DataFrame:
    """Deterministic image augmentation plumbing: decode -> transform
    -> re-emit raw RGB payload (same contract as ``media_resize``).
    Ops: ``hflip`` / ``vflip`` (index reversal — exactly invertible,
    the augmentation-correctness test applies it twice) and
    ``center_crop`` (keep the central ``crop_frac`` in each axis).
    All numpy slicing inside the Arrow batch — no per-pixel Python.
    """
    if op not in ("hflip", "vflip", "center_crop"):
        raise ValueError(f"augment_image: unknown op {op!r}")
    decoder = _fake_decode if use_fake_decoder else decode_image
    out_schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ws, hs = [], [], []
            for p in pdf["payload"]:
                px = decoder(bytes(p or b""))
                if op == "hflip":
                    out = px[:, ::-1]
                elif op == "vflip":
                    out = px[::-1]
                else:
                    h, w = px.shape[:2]
                    ch = max(int(h * crop_frac), 1)
                    cw = max(int(w * crop_frac), 1)
                    y0 = (h - ch) // 2
                    x0 = (w - cw) // 2
                    out = px[y0:y0 + ch, x0:x0 + cw]
                payloads.append(np.ascontiguousarray(out).tobytes())
                hs.append(out.shape[0])
                ws.append(out.shape[1])
            pdf = pdf.copy()
            pdf["payload"] = payloads
            if "width" in pdf.columns:
                pdf["width"] = ws
            if "height" in pdf.columns:
                pdf["height"] = hs
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


SILENCE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("segment_idx", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("start_s", T.DoubleType()),
    T.StructField("end_s", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
])


@register("audio_segments", PluginType.TRANSFORMER)
def audio_segments(df: DataFrame, frame_ms: int = 50,
                   rms_threshold: float = 0.02) -> DataFrame:
    """Voiced/silent segmentation of PCM WAV payloads: frame the
    signal (``frame_ms`` windows), classify each frame by RMS against
    ``rms_threshold`` (normalized full-scale), and merge consecutive
    same-kind frames into segments — the trim/split step an audio
    training pipeline runs before feature extraction (drop silence,
    cut clips at pauses).

    Vectorized numpy per Arrow batch (reshape + per-frame RMS in one
    op, run-length merge over the tiny frame-class array); only
    segment rows leave the worker."""
    from niamoto_spark.operators.multimodal import decode_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                samples, rate = decode_wav(bytes(r["payload"]))
                # decode_wav already normalizes to [-1, 1]; fold
                # channels to mono for the energy measure
                x = samples.astype(np.float64).mean(axis=1) \
                    if samples.ndim == 2 else samples.astype(np.float64)
                flen = max(int(rate * frame_ms / 1000), 1)
                n_frames = len(x) // flen
                if n_frames == 0:
                    continue
                frames = x[:n_frames * flen].reshape(n_frames, flen)
                rms = np.sqrt((frames ** 2).mean(axis=1))
                voiced = rms >= rms_threshold
                seg = 0
                start = 0
                for i in range(1, n_frames + 1):
                    if i == n_frames or voiced[i] != voiced[start]:
                        rows.append({
                            "media_id": r["media_id"],
                            "segment_idx": seg,
                            "kind": "voiced" if voiced[start]
                                    else "silence",
                            "start_s": round(start * flen / rate, 4),
                            "end_s": round(i * flen / rate, 4),
                            "rms": round(float(rms[start:i].mean()), 6),
                        })
                        seg += 1
                        start = i
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        run, schema=SILENCE_SCHEMA)


MEL_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("mel_mean", T.ArrayType(T.DoubleType())),
    T.StructField("mel_std", T.ArrayType(T.DoubleType())),
])


def _mel_filterbank(n_mels: int, n_fft: int, rate: int) -> "np.ndarray":
    """Triangular mel filterbank (HTK mel = 2595·log10(1 + f/700)),
    shape (n_mels, n_fft//2 + 1) — the standard front end under
    MFCC/log-mel features, built from scratch (no librosa)."""
    def hz_to_mel(f):
        return 2595.0 * np.log10(1.0 + f / 700.0)

    def mel_to_hz(m):
        return 700.0 * (10.0 ** (m / 2595.0) - 1.0)

    mels = np.linspace(hz_to_mel(0.0), hz_to_mel(rate / 2.0),
                       n_mels + 2)
    hz = mel_to_hz(mels)
    bins = np.floor((n_fft + 1) * hz / rate).astype(int)
    fb = np.zeros((n_mels, n_fft // 2 + 1))
    for m in range(1, n_mels + 1):
        lo, c, hi = bins[m - 1], bins[m], bins[m + 1]
        for k in range(lo, c):
            if c > lo:
                fb[m - 1, k] = (k - lo) / (c - lo)
        for k in range(c, hi):
            if hi > c:
                fb[m - 1, k] = (hi - k) / (hi - c)
    return fb


@register("audio_logmel", PluginType.TRANSFORMER)
def audio_logmel(df: DataFrame, n_mels: int = 16, n_fft: int = 512,
                 hop: int = 256) -> DataFrame:
    """Log-mel spectrogram profile per clip — THE audio-model input
    feature (what a training pipeline materializes before the model
    sees audio): framed Hann STFT → triangular mel filterbank → log
    energies, pooled to per-clip mean/std vectors so the output stays
    fixed-width (the full frame matrix would be the training tensor;
    the pooled profile is the curation/dedup signal).

    All numpy inside the Arrow batch (rFFT over a strided frame
    matrix — one vectorized call per clip, no Python per-frame loop);
    only n_mels-wide rows shuffle.  Deterministic: fixed window, no
    dithering."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        win = np.hanning(n_fft)
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                samples, rate = decode_wav(bytes(r["payload"]))
                mono = samples.mean(axis=1) if samples.ndim == 2 \
                    else samples
                if len(mono) < n_fft:
                    rows.append({"media_id": r["media_id"],
                                 "n_frames": 0, "mel_mean": None,
                                 "mel_std": None})
                    continue
                n_frames = 1 + (len(mono) - n_fft) // hop
                idx = (np.arange(n_fft)[None, :]
                       + hop * np.arange(n_frames)[:, None])
                frames = mono[idx] * win[None, :]
                mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
                fb = _mel_filterbank(n_mels, n_fft, rate)
                mel = np.log10(mag2 @ fb.T + 1e-10)
                rows.append({
                    "media_id": r["media_id"],
                    "n_frames": int(n_frames),
                    "mel_mean": [round(float(x), 4)
                                 for x in mel.mean(axis=0)],
                    "mel_std": [round(float(x), 4)
                                for x in mel.std(axis=0)],
                })
            yield pd.DataFrame(rows)

    return df.select("media_id", "payload").mapInPandas(
        extract, schema=MEL_SCHEMA)
