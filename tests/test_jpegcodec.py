"""Baseline JPEG codec (sources/jpegcodec.py): published-constant pins,
and round-trip goldens across sampling/restart variants."""

import numpy as np
import pandas as pd
import pytest

from niamoto_spark.sources import jpegcodec as jc
from niamoto_spark.sources.imagecodec import decode_image


def _gradient(h=40, w=56):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack([np.minimum(255, x * 4), np.minimum(255, y * 5),
                     np.minimum(255, (x + y) * 3)], axis=2).astype(np.uint8)


def test_zigzag_matches_published_sequence():
    """The generated zigzag must equal T.81 figure A.6 exactly — a
    symmetric bug in both codec directions would survive round-trips but
    break real-file compatibility, so the table is pinned to the public
    constant."""
    published = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]
    assert jc.ZIGZAG.tolist() == published


def test_canonical_huffman_assignment():
    """T.81 C.2 canonical codes for the Annex K DC-luminance table:
    category 0 -> '00', 1 -> '010', ..., 5 -> '110' (public constants)."""
    t = jc._build_codes(*jc.HUFF_DC_LUM)
    assert t[(2, 0b00)] == 0
    assert t[(3, 0b010)] == 1
    assert t[(3, 0b110)] == 5
    assert t[(4, 0b1110)] == 6
    # AC luminance: EOB (0x00) is '1010', ZRL (0xF0) is 11 bits
    ta = jc._build_codes(*jc.HUFF_AC_LUM)
    assert ta[(4, 0b1010)] == 0x00
    assert ta[(11, 0b11111111001)] == 0xF0


def test_dct_basis_orthonormal():
    assert np.allclose(jc._C @ jc._C.T, np.eye(8), atol=1e-12)


def test_roundtrip_solid_color_exact():
    img = np.full((8, 8, 3), 130, dtype=np.uint8)
    out = jc.decode_jpeg(jc.encode_jpeg(img, quality=90))
    assert np.array_equal(out, img)


@pytest.mark.parametrize("subsample,dri", [("444", 0), ("444", 2),
                                           ("420", 0), ("420", 2)])
def test_roundtrip_gradient_all_variants(subsample, dri):
    img = _gradient()
    out = jc.decode_jpeg(jc.encode_jpeg(img, quality=90,
                                        subsample=subsample,
                                        restart_interval=dri))
    assert out.shape == img.shape
    err = np.abs(out.astype(int) - img.astype(int)).mean()
    assert err < (2.0 if subsample == "420" else 1.0)


def test_roundtrip_non_multiple_of_mcu():
    img = _gradient()[:37, :51]
    out = jc.decode_jpeg(jc.encode_jpeg(img, quality=85, subsample="420"))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 3.0


def test_quality_monotonic_in_size_and_error():
    img = _gradient()
    d95, d50 = (jc.encode_jpeg(img, quality=q) for q in (95, 50))
    assert len(d95) > len(d50)
    e95 = np.abs(jc.decode_jpeg(d95).astype(int) - img.astype(int)).mean()
    e50 = np.abs(jc.decode_jpeg(d50).astype(int) - img.astype(int)).mean()
    assert e95 < e50


def test_decode_image_dispatches_jpeg():
    img = _gradient(16, 16)
    out = decode_image(jc.encode_jpeg(img, quality=95))
    assert out.shape == (16, 16, 3)
    assert np.abs(out.astype(int) - img.astype(int)).mean() < 2.0


def test_unsupported_process_markers_rejected():
    """Arithmetic / hierarchical SOFs still raise; SOF2 (progressive)
    and SOF3 (lossless) are now supported processes."""
    img = _gradient(8, 8)
    data = bytearray(jc.encode_jpeg(img))
    i = data.find(b"\xFF\xC0")
    for sof in (0xC9, 0xCB):
        bad = bytearray(data)
        bad[i + 1] = sof
        with pytest.raises(ValueError, match="unsupported JPEG process"):
            jc.decode_jpeg(bytes(bad))
    # a DCT stream mislabeled SOF3 is invalid-lossless, not mis-decoded
    bad = bytearray(data)
    bad[i + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor"):
        jc.decode_jpeg(bytes(bad))


@pytest.mark.parametrize("subsample", ["444", "420"])
def test_progressive_decode_bitexact_with_sequential(subsample):
    """The progressive byte stream carries the SAME quantized
    coefficients as the sequential one (DC/AC split + successive
    approximation reassembled across 8 scans), so decoding both must be
    bit-identical — the strongest possible progressive round-trip pin."""
    img = _gradient(37, 51) if subsample == "420" else _gradient(33, 41)
    for q in (90, 60):
        seq = jc.decode_jpeg(jc.encode_jpeg(img, quality=q,
                                            subsample=subsample))
        prog = jc.decode_jpeg(jc.encode_jpeg_progressive(
            img, quality=q, subsample=subsample))
        assert np.array_equal(seq, prog)


def test_progressive_stream_is_sof2_multiscan():
    data = jc.encode_jpeg_progressive(_gradient(16, 16))
    assert b"\xFF\xC2" in data            # progressive SOF
    assert b"\xFF\xC0" not in data
    assert data.count(b"\xFF\xDA") == 8   # DC, 3xAC, 3xAC-refine, DC-refine


def test_progressive_noise_roundtrip_dense_ac():
    """Dense high-frequency content exercises ZRL-in-refinement and long
    correction-bit runs (a gradient alone leaves most AC zero)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(24, 24, 3)).astype(np.uint8)
    seq = jc.decode_jpeg(jc.encode_jpeg(img, quality=95))
    prog = jc.decode_jpeg(jc.encode_jpeg_progressive(img, quality=95))
    assert np.array_equal(seq, prog)


def test_progressive_solid_color_eob_runs():
    """A solid image is ALL end-of-band runs across every AC scan —
    pins the EOB-run length coding (r > 0 extension bits) both ways."""
    img = np.full((32, 40, 3), 77, dtype=np.uint8)
    out = jc.decode_jpeg(jc.encode_jpeg_progressive(img, quality=90))
    assert np.array_equal(out, jc.decode_jpeg(jc.encode_jpeg(img,
                                                             quality=90)))


def test_truncated_stream_raises_valueerror_not_indexerror():
    img = _gradient(16, 16)
    data = jc.encode_jpeg(img, quality=90)
    for cut in (len(data) // 2, len(data) - 3):
        with pytest.raises(ValueError):
            jc.decode_jpeg(data[:cut] + b"\xFF")
    with pytest.raises(ValueError):
        jc.decode_jpeg(b"\xFF\xD8\xFF")


def test_quality_out_of_range_rejected():
    img = _gradient(8, 8)
    for q in (0, -1, 101):
        with pytest.raises(ValueError, match="quality"):
            jc.encode_jpeg(img, quality=q)


# --- lossless process (SOF3, T.81 Annex H) ---------------------------------

def test_lossless_roundtrip_exact_all_predictors():
    """decode(encode(x)) == x BIT-FOR-BIT for every predictor — the
    defining property of the lossless process (no color transform, no
    quantization)."""
    rng = np.random.default_rng(7)
    x = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    for pred in range(1, 8):
        data = jc.encode_jpeg_lossless(x, predictor=pred)
        assert np.array_equal(jc.decode_jpeg_lossless(data), x)
        # components are stored directly, so the RGB contract is exact
        assert np.array_equal(jc.decode_jpeg(data), x)


def test_lossless_grayscale_and_stream_shape():
    rng = np.random.default_rng(8)
    g = rng.integers(0, 256, size=(9, 5), dtype=np.uint8)
    data = jc.encode_jpeg_lossless(g, predictor=4)
    assert b"\xFF\xC3" in data and b"\xFF\xC0" not in data   # SOF3 only
    assert b"\xFF\xDB" not in data                           # no DQT
    assert np.array_equal(jc.decode_jpeg_lossless(data), g)
    out = jc.decode_jpeg(data)
    assert out.shape == (9, 5, 3)
    assert np.array_equal(out[:, :, 0], g)


def test_lossless_16bit_and_category16():
    """16-bit samples exercise difference category 16 (diff = 32768,
    no additional bits): an all-zero plane's first sample against the
    default prediction 2^15 produces exactly that diff."""
    rng = np.random.default_rng(9)
    u = rng.integers(0, 65536, size=(7, 11), dtype=np.uint16)
    data = jc.encode_jpeg_lossless(u, predictor=7)
    got = jc.decode_jpeg_lossless(data)
    assert got.dtype == np.uint16 and np.array_equal(got, u)
    # 8-bit contract folds precision down
    assert np.array_equal(jc.decode_jpeg(data)[:, :, 0],
                          (u >> 8).astype(np.uint8))
    z = np.zeros((3, 3), dtype=np.uint16)
    assert np.array_equal(
        jc.decode_jpeg_lossless(jc.encode_jpeg_lossless(z)), z)


def test_lossless_point_transform():
    rng = np.random.default_rng(10)
    g = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    data = jc.encode_jpeg_lossless(g, predictor=1, point_transform=2)
    assert np.array_equal(jc.decode_jpeg_lossless(data), (g >> 2) << 2)


def test_lossless_restart_intervals():
    rng = np.random.default_rng(11)
    x = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
    for dri in (1, 5, 7, 64):
        data = jc.encode_jpeg_lossless(x, predictor=4,
                                       restart_interval=dri)
        assert np.array_equal(jc.decode_jpeg_lossless(data), x), dri
    assert b"\xFF\xDD" in data


def test_lossless_dispatches_through_image_lane():
    from niamoto_spark.sources.imagecodec import decode_image

    rng = np.random.default_rng(12)
    x = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    data = jc.encode_jpeg_lossless(x, predictor=4)
    assert np.array_equal(decode_image(data), x)
