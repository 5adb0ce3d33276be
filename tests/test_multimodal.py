"""Multimodal plumbing: schemas, Arrow batch shapes, decode stubs."""

import numpy as np
import pandas as pd
import pytest

from niamoto_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"\x01\x02\x03\x04" * 32, "image/png", 8, 8, {"frame_count": "30"}),
        (2, b"\xff\xee\xdd" * 50, "image/jpeg", 8, 8, {"frame_count": "5"}),
    ]
    return spark.createDataFrame(rows, mm.IMAGE_SCHEMA)


def test_media_features_schema_and_determinism(media):
    out = mm.media_features(media, use_fake_decoder=True, feature_dim=16)
    rows = {r["media_id"]: r for r in out.collect()}
    assert out.schema == mm.FEATURE_SCHEMA
    assert len(rows[1]["feature"]) == 16
    assert rows[1]["n_bytes"] == 128
    # deterministic: same payload -> same hash/features
    again = {r["media_id"]: r for r in
             mm.media_features(media, use_fake_decoder=True).collect()}
    assert again[1]["payload_hash"] == rows[1]["payload_hash"]
    assert again[1]["feature"] == rows[1]["feature"]


def test_media_resize_payload_shape(media):
    out = mm.media_resize(media, target=(4, 4), use_fake_decoder=True)
    rows = out.collect()
    for r in rows:
        assert len(r["payload"]) == 4 * 4 * 3
        assert (r["width"], r["height"]) == (4, 4)


def test_real_decoder_is_stubbed():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"not an image")


# ---------------------------------------------------------------------------
# real PNG/BMP decode (sources/imagecodec.py)
# ---------------------------------------------------------------------------

def test_png_roundtrip_random_rgb():
    import numpy as np

    from niamoto_spark.sources.imagecodec import decode_png, encode_png

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(13, 7, 3), dtype=np.uint8)
    out = decode_png(encode_png(arr))
    np.testing.assert_array_equal(out, arr)


def test_png_filtered_scanlines():
    """Exercise Sub/Up/Average/Paeth by re-encoding with zlib level 9 via
    a hand-built filtered stream."""
    import struct
    import zlib

    import numpy as np

    from niamoto_spark.sources.imagecodec import decode_png, encode_png

    arr = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    # hand-filter: row0 Sub, row1 Up, row2 Average, row3 Paeth
    rows = []
    prev = np.zeros(15, dtype=np.int16)
    for y, ftype in enumerate([1, 2, 3, 4]):
        line = arr[y].ravel().astype(np.int16)
        enc = line.copy()
        for i in range(15):
            a = line[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ftype == 1:
                enc[i] = line[i] - a
            elif ftype == 2:
                enc[i] = line[i] - b
            elif ftype == 3:
                enc[i] = line[i] - ((int(a) + int(b)) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = line[i] - pred
        rows.append(bytes([ftype]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = line
    raw = b"".join(rows)

    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload \
            + struct.pack(">I", crc)

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 4, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    np.testing.assert_array_equal(decode_png(png), arr)


def test_bmp_decode_24bit():
    import struct

    import numpy as np

    from niamoto_spark.sources.imagecodec import decode_bmp

    w, h = 3, 2
    px = np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   [[10, 20, 30], [40, 50, 60], [70, 80, 90]]], dtype=np.uint8)
    row_size = (w * 3 + 3) & ~3
    body = b""
    for y in range(h - 1, -1, -1):          # bottom-up
        row = b"".join(bytes([b, g, r]) for r, g, b in px[y])
        body += row.ljust(row_size, b"\x00")
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(body), 0, 0, 0, 0))
    np.testing.assert_array_equal(decode_bmp(header + body), px)


def test_media_features_with_real_png(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import media_features
    from niamoto_spark.sources.imagecodec import encode_png

    arr = np.zeros((8, 8, 3), dtype=np.uint8)
    arr[:, :, 0] = 200                       # red-ish image
    payload = encode_png(arr)
    df = spark.createDataFrame(
        [(1, payload, "image/png", 8, 8, {})],
        "media_id long, payload binary, mime string, width int, "
        "height int, meta map<string,string>")
    (row,) = media_features(df, use_fake_decoder=False,
                            feature_dim=3).collect()
    assert row["n_bytes"] == len(payload)
    # mean over flattened RGB: feature chunks reflect the red channel
    assert max(row["feature"]) > 50


def test_wav_roundtrip_and_audio_features(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import (audio_features,
                                                    decode_wav, encode_wav)

    rate = 8000
    t = np.arange(rate) / rate              # 1 second
    sine = np.sin(2 * np.pi * 440 * t).reshape(-1, 1)     # 440 Hz tone
    silence = np.zeros((rate // 2, 1))                     # 0.5 s silence
    wav_sine = encode_wav(sine, rate)
    wav_sil = encode_wav(silence, rate)

    decoded, r = decode_wav(wav_sine)
    assert r == rate and decoded.shape == (rate, 1)
    assert np.abs(decoded[:, 0] - sine[:, 0]).max() < 1e-3  # 16-bit quantization

    df = spark.createDataFrame(
        [(1, bytearray(wav_sine)), (2, bytearray(wav_sil))],
        "media_id long, payload binary")
    rows = {r["media_id"]: r for r in audio_features(df).collect()}
    tone, sil = rows[1], rows[2]
    assert tone["duration_s"] == pytest.approx(1.0)
    assert tone["rms"] == pytest.approx(1 / 2 ** 0.5, abs=0.01)   # sine RMS
    assert tone["peak"] == pytest.approx(1.0, abs=0.01)
    # 440 Hz -> 880 zero crossings/sec -> zcr ~ 0.11 at 8 kHz
    assert tone["zero_crossing_rate"] == pytest.approx(880 / rate, rel=0.05)
    assert sil["rms"] == 0.0 and sil["peak"] == 0.0
    assert sil["duration_s"] == pytest.approx(0.5)


def test_image_dhash_near_dup(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import image_dhash
    from niamoto_spark.sources.imagecodec import encode_png

    rng = np.random.default_rng(11)
    # smooth gradient image; near-dup = tiny noise; distinct = reshuffled
    base = np.clip(np.add.outer(np.linspace(0, 200, 32),
                                np.linspace(0, 55, 32)), 0, 255)
    img = np.repeat(base[:, :, None], 3, axis=2).astype(np.uint8)
    near = np.clip(img.astype(int) + rng.integers(-2, 3, img.shape), 0,
                   255).astype(np.uint8)
    other = rng.integers(0, 256, img.shape, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, encode_png(img)), (2, encode_png(near)), (3, encode_png(other))],
        "media_id long, payload binary")
    hashes = {r["media_id"]: r["dhash"] for r in image_dhash(df).collect()}
    assert hashes[1] == hashes[2] or bin(
        (hashes[1] ^ hashes[2]) & (2**64 - 1)).count("1") <= 5
    for a in (1, 2):
        assert bin((hashes[a] ^ hashes[3]) & (2**64 - 1)).count("1") > 5


def test_audio_spectral_features_pure_tone_and_noise(spark):
    """Analytic pins: a pure 1 kHz tone centers its spectrum at ~1 kHz
    with near-zero bandwidth and near-zero flatness; white noise is flat
    (flatness -> ~1) with rolloff high in the band; silence yields nulls."""
    from niamoto_spark.operators.multimodal import (audio_spectral_features,
                                                    encode_wav)

    rate = 8000
    t = np.arange(rate) / rate             # 1 s
    tone = (0.8 * np.sin(2 * np.pi * 1000 * t)).astype(np.float32)
    rng = np.random.RandomState(5)
    noise = rng.uniform(-0.8, 0.8, rate).astype(np.float32)
    silence = np.zeros(rate, dtype=np.float32)
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(tone[:, None], rate))),
         (2, bytearray(encode_wav(noise[:, None], rate))),
         (3, bytearray(encode_wav(silence[:, None], rate)))],
        "media_id long, payload binary")
    got = {r["media_id"]: r for r in
           audio_spectral_features(df).collect()}
    assert got[1]["spectral_centroid_hz"] == pytest.approx(1000.0, abs=20.0)
    assert got[1]["spectral_bandwidth_hz"] < 100.0
    assert got[1]["spectral_rolloff_hz"] == pytest.approx(1000.0, abs=20.0)
    assert got[1]["spectral_flatness"] < 0.05
    assert got[2]["spectral_flatness"] > 0.3
    assert got[2]["spectral_rolloff_hz"] > 2500.0
    assert got[3]["spectral_centroid_hz"] is None


def test_bilinear_resize_properties():
    """Bilinear: constant images stay constant (interpolation is affine),
    a linear horizontal ramp stays monotone, and upscale of a 2x2 checker
    produces intermediate values nearest-neighbor cannot."""
    from niamoto_spark.operators.multimodal import bilinear_resize

    const = np.full((10, 14, 3), 77, dtype=np.uint8)
    assert np.array_equal(bilinear_resize(const, 5, 7),
                          np.full((5, 7, 3), 77, dtype=np.uint8))
    ramp = np.tile(np.arange(0, 240, 10, dtype=np.uint8)[None, :, None],
                   (8, 1, 3))
    out = bilinear_resize(ramp, 4, 12)
    row = out[0, :, 0].astype(int)
    assert all(b >= a for a, b in zip(row, row[1:]))
    checker = np.zeros((2, 2, 3), dtype=np.uint8)
    checker[0, 1] = checker[1, 0] = 255
    up = bilinear_resize(checker, 8, 8)
    mids = np.unique(up)
    assert len(mids) > 2 and 0 in mids and 255 in mids


def _hamming64(a, b):
    return bin((a ^ b) & (2 ** 64 - 1)).count("1")


def test_image_phash_robust_to_resize_and_blur(spark):
    """pHash's low-frequency spectrum survives transforms that flip
    dHash's gradient bits: a 2x-downsampled and a box-blurred variant
    stay within a few Hamming bits; unrelated noise does not."""
    import numpy as np

    from niamoto_spark.operators.multimodal import image_phash
    from niamoto_spark.sources.imagecodec import encode_png

    rng = np.random.default_rng(7)
    base = np.clip(
        np.add.outer(np.linspace(0, 220, 64), np.linspace(0, 40, 64))
        + 40 * np.sin(np.linspace(0, 6, 64))[None, :], 0, 255)
    img = np.repeat(base[:, :, None], 3, axis=2).astype(np.uint8)
    small = img[::2, ::2]                        # 2x downsample
    k = np.ones((3, 3)) / 9.0
    g = base.copy()
    blurred = g.copy()
    blurred[1:-1, 1:-1] = sum(
        g[1 + dy:63 + dy, 1 + dx:63 + dx] * k[dy + 1, dx + 1]
        for dy in (-1, 0, 1) for dx in (-1, 0, 1))
    blur_img = np.repeat(np.clip(blurred, 0, 255)[:, :, None], 3,
                         axis=2).astype(np.uint8)
    noise = rng.integers(0, 256, img.shape, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, encode_png(img)), (2, encode_png(small)),
         (3, encode_png(blur_img)), (4, encode_png(noise))],
        "media_id long, payload binary")
    h = {r["media_id"]: r["phash"] for r in image_phash(df).collect()}
    assert _hamming64(h[1], h[2]) <= 6
    assert _hamming64(h[1], h[3]) <= 6
    assert _hamming64(h[1], h[4]) > 16


def test_phash_deterministic_and_distinct(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import phash_from_pixels

    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    b = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    assert phash_from_pixels(a) == phash_from_pixels(a.copy())
    assert phash_from_pixels(a) != phash_from_pixels(b)
    # brightness shift barely moves the hash (DC excluded, median-relative)
    shifted = np.clip(a.astype(int) + 30, 0, 255).astype(np.uint8)
    assert _hamming64(phash_from_pixels(a),
                      phash_from_pixels(shifted)) <= 10


# --- shot_boundaries / augment_image ---------------------------------------

def test_shot_boundaries_detects_scene_cut(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import shot_boundaries
    from niamoto_spark.sources.avicodec import encode_avi_mjpeg

    # scene A: 3 near-identical dark frames; scene B: 3 bright frames
    dark = np.full((24, 32, 3), 30, dtype=np.uint8)
    bright = np.full((24, 32, 3), 200, dtype=np.uint8)
    frames = [dark, dark, dark, bright, bright, bright]
    df = spark.createDataFrame(
        [(1, bytearray(encode_avi_mjpeg(frames)))],
        "media_id long, payload binary")
    out = sorted(shot_boundaries(df, diff_threshold=30.0).collect(),
                 key=lambda r: r["frame_idx"])
    assert len(out) == 6
    assert out[0]["is_boundary"]                     # first frame
    assert out[3]["is_boundary"]                     # the cut
    assert not any(r["is_boundary"] for r in (out[1], out[2],
                                              out[4], out[5]))
    assert out[3]["diff"] > 100                      # big luma jump


def test_augment_image_hflip_invertible(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import augment_image

    df = spark.createDataFrame(
        [(1, bytearray(b"seed-1"), 8, 8)],
        "media_id long, payload binary, width int, height int")
    once = augment_image(df, op="hflip", use_fake_decoder=True)
    # applying hflip twice must reproduce the original decoded pixels
    from niamoto_spark.operators.multimodal import _fake_decode
    orig = _fake_decode(b"seed-1")
    r1 = once.first()
    px1 = np.frombuffer(bytes(r1["payload"]), dtype=np.uint8) \
        .reshape(8, 8, 3)
    np.testing.assert_array_equal(px1, orig[:, ::-1])


def test_augment_image_center_crop_dims(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import augment_image

    df = spark.createDataFrame(
        [(1, bytearray(b"seed-2"), 8, 8)],
        "media_id long, payload binary, width int, height int")
    out = augment_image(df, op="center_crop", crop_frac=0.5,
                        use_fake_decoder=True).first()
    assert (out["width"], out["height"]) == (4, 4)
    px = np.frombuffer(bytes(out["payload"]), dtype=np.uint8)
    assert px.size == 4 * 4 * 3


def test_audio_segments_finds_silence_gap(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import (audio_segments,
                                                    encode_wav)

    rate = 8000
    t = np.arange(rate) / rate                      # 1s tone
    tone = np.sin(2 * np.pi * 440 * t) * 0.4
    silence = np.zeros(rate // 2)                   # 0.5s silence
    signal = np.concatenate([tone, silence, tone])
    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(signal, rate)))],
        "media_id long, payload binary")
    segs = sorted(audio_segments(df).collect(),
                  key=lambda r: r["segment_idx"])
    kinds = [s["kind"] for s in segs]
    assert kinds == ["voiced", "silence", "voiced"]
    mid = segs[1]
    assert abs(mid["start_s"] - 1.0) < 0.06
    assert abs(mid["end_s"] - 1.5) < 0.06
    assert mid["rms"] < 0.01 < segs[0]["rms"]


def test_audio_logmel_tone_peaks_in_right_band(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import (_mel_filterbank,
                                                    audio_logmel,
                                                    encode_wav)

    rate = 8000
    t = np.arange(2 * rate) / rate
    tone = np.sin(2 * np.pi * 440 * t) * 0.5
    noise_free = encode_wav(tone, rate)
    df = spark.createDataFrame([(1, bytearray(noise_free))],
                               "media_id long, payload binary")
    r = audio_logmel(df, n_mels=16, n_fft=512, hop=256).first()
    assert r["n_frames"] == 1 + (2 * rate - 512) // 256
    mel = np.array(r["mel_mean"])
    # which mel band holds 440 Hz?
    fb = _mel_filterbank(16, 512, rate)
    freqs = np.fft.rfftfreq(512, d=1.0 / rate)
    k440 = int(np.argmin(np.abs(freqs - 440)))
    expected_band = int(np.argmax(fb[:, k440]))
    assert int(np.argmax(mel)) == expected_band
    # deterministic across runs
    r2 = audio_logmel(df, n_mels=16, n_fft=512, hop=256).first()
    assert r["mel_mean"] == r2["mel_mean"]


def test_audio_logmel_short_clip_nulls(spark):
    import numpy as np

    from niamoto_spark.operators.multimodal import (audio_logmel,
                                                    encode_wav)

    df = spark.createDataFrame(
        [(1, bytearray(encode_wav(np.zeros(100), 8000)))],
        "media_id long, payload binary")
    r = audio_logmel(df, n_fft=512).first()
    assert r["n_frames"] == 0 and r["mel_mean"] is None


def test_png_adam7_interlace_roundtrip_exact():
    """Interlaced (Adam7) PNGs occur in real web corpora; each pass
    filters its scanlines independently, empty passes contribute no
    scanlines — pinned bit-exact across shapes that empty out most
    passes (1x1, single row/column)."""
    import numpy as np

    from niamoto_spark.sources.imagecodec import decode_png, encode_png

    rng = np.random.default_rng(3)
    for h, w in ((24, 32), (7, 7), (1, 1), (2, 3), (9, 1), (1, 9)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        data = encode_png(img, interlace=True)
        assert data[28] == 1                      # IHDR interlace flag
        assert np.array_equal(decode_png(data), img), (h, w)
        plain = encode_png(img)
        assert np.array_equal(decode_png(plain), img), (h, w)


def test_png_bit_depths_beyond_8():
    """1/2/4-bit palette + gray and 16-bit samples — the spec's other
    legal depths real web PNGs use (tiny palette icons, 16-bit scans).
    Fixtures are hand-built streams (the encoder writes 8-bit only)."""
    import struct
    import zlib

    import numpy as np

    from niamoto_spark.sources.imagecodec import _PNG_MAGIC, decode_png

    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return (struct.pack(">I", len(payload)) + ctype + payload
                + struct.pack(">I", crc))

    def build(w, h, depth, ct, raw, plte=None):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ct, 0, 0, 0)
        out = _PNG_MAGIC + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte.tobytes())
        return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")

    rng = np.random.default_rng(4)
    # 4-bit palette, odd width (padding bits in play)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (3, 5))
    raw = b""
    for r in idx:
        packed = bytearray()
        for i in range(0, 5, 2):
            packed.append((r[i] << 4) | (r[i + 1] if i + 1 < 5 else 0))
        raw += b"\x00" + bytes(packed)
    assert np.array_equal(decode_png(build(5, 3, 4, 3, raw, pal)), pal[idx])

    # 1-bit gray scales to 0/255
    bits = rng.integers(0, 2, (2, 9))
    raw = b"".join(b"\x00" + np.packbits(r.astype(np.uint8)).tobytes()
                   for r in bits)
    expect = np.repeat((bits * 255).astype(np.uint8)[:, :, None], 3, axis=2)
    assert np.array_equal(decode_png(build(9, 2, 1, 0, raw)), expect)

    # 16-bit RGB takes the high byte
    u16 = rng.integers(0, 65536, (3, 4, 3), dtype=np.uint16)
    raw = b"".join(b"\x00" + u16[y].astype(">u2").tobytes()
                   for y in range(3))
    assert np.array_equal(decode_png(build(4, 3, 16, 2, raw)),
                          (u16 >> 8).astype(np.uint8))

    # illegal depth/type combination rejected
    with pytest.raises(ValueError, match="illegal"):
        decode_png(build(4, 3, 4, 2, b"\x00" * 10))


def test_bmp_8bit_palette():
    """8-bit palette BMP (the icon/screenshot legacy format): rows are
    color-table indices padded to 4 bytes, table entries are BGRA."""
    import struct

    import numpy as np

    from niamoto_spark.sources.imagecodec import decode_bmp

    rng = np.random.default_rng(2)
    pal_rgb = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (3, 5), dtype=np.uint8)
    table = b"".join(bytes([b, g, r, 0]) for r, g, b in pal_rgb)
    row_size = (5 + 3) & ~3
    pixel_off = 14 + 40 + len(table)
    rows = b""
    for y in range(2, -1, -1):               # bottom-up storage
        rows += idx[y].tobytes() + b"\x00" * (row_size - 5)
    hdr = (b"BM" + struct.pack("<IHHI", pixel_off + len(rows), 0, 0,
                               pixel_off)
           + struct.pack("<IiiHHIIiiII", 40, 5, 3, 1, 8, 0, len(rows),
                         0, 0, 256, 0))
    out = decode_bmp(hdr + table + rows)
    assert np.array_equal(out, pal_rgb[idx])
