"""Baseline JPEG codec (functions/jpegcodec) — the r6 upgrade that
makes JPEG 'decoded' an honest claim: full Huffman scan decode +
dequant + batched IDCT, roundtripped against the in-repo encoder
(independent implementations of the bit-level format)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_etl_engine_spark.functions import jpegcodec as J


def test_zigzag_is_the_spec_order():
    # spot-check the canonical T.81 figure 5 order
    assert J.ZIGZAG[:10] == (0, 1, 8, 16, 9, 2, 3, 10, 17, 24)
    assert sorted(J.ZIGZAG) == list(range(64))


def test_gray_constant_roundtrip_exact():
    img = np.full((17, 23), 77, dtype=np.uint8)
    px = J.decode_pixels(J.encode_baseline(img))
    assert px.shape == (17, 23, 1)
    assert (px[..., 0] == img).all()


def test_gray_gradient_roundtrip_quant1_is_near_lossless():
    img = (np.add.outer(np.arange(40) * 3, np.arange(56)) % 256).astype(
        np.uint8
    )
    px = J.decode_pixels(J.encode_baseline(img, quant=1))
    assert np.abs(px[..., 0].astype(int) - img.astype(int)).max() <= 1


def test_gray_random_heavier_quant_still_close():
    rng = np.random.default_rng(11)
    smooth = rng.integers(90, 110, (24, 24), dtype=np.uint8)
    px = J.decode_pixels(J.encode_baseline(smooth, quant=4))
    assert np.abs(px[..., 0].astype(int) - smooth.astype(int)).max() <= 8


def test_rgb_roundtrip_within_color_convert_rounding():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (33, 29, 3), dtype=np.uint8)
    px = J.decode_pixels(J.encode_baseline(img))
    assert px.shape == (33, 29, 3)
    assert np.abs(px.astype(int) - img.astype(int)).max() <= 3


def test_chroma_subsampled_420_constant_color():
    img = np.full((32, 48, 3), (200, 30, 90), dtype=np.uint8)
    px = J.decode_pixels(
        J.encode_baseline(img, sampling=[(2, 2), (1, 1), (1, 1)])
    )
    assert np.abs(px.astype(int) - img.astype(int)).max() <= 1


def test_non_multiple_of_mcu_dimensions_crop_correctly():
    img = (np.add.outer(np.arange(19), np.arange(13) * 5) % 256).astype(
        np.uint8
    )
    px = J.decode_pixels(J.encode_baseline(img))
    assert px.shape == (19, 13, 1)
    assert np.abs(px[..., 0].astype(int) - img.astype(int)).max() <= 1


def test_restart_markers_roundtrip_and_reset_predictors():
    img = (np.add.outer(np.arange(64), np.arange(64)) % 256).astype(np.uint8)
    b = J.encode_baseline(img, restart_interval=3)
    assert b"\xff\xdd" in b  # DRI segment written
    assert b"\xff\xd0" in b  # at least RST0 present
    px = J.decode_pixels(b)
    assert np.abs(px[..., 0].astype(int) - img.astype(int)).max() <= 1


def test_decode_meta_runs_the_full_scan():
    img = np.full((40, 60), 10, dtype=np.uint8)
    b = J.encode_baseline(img)
    meta = J.decode_meta(b)
    assert (meta["width"], meta["height"], meta["bits_per_pixel"]) == (
        60, 40, 8)
    # cutting entropy-coded bytes is detected even though the SOF
    # header (all a lazy parser would read) is intact
    with pytest.raises(ValueError):
        J.decode_meta(b[:-16])


def test_corrupt_scan_quarantines():
    b = bytearray(J.encode_baseline(np.full((16, 16), 200, dtype=np.uint8)))
    b[-6] ^= 0x55  # flip bits inside the scan
    with pytest.raises(ValueError):
        J.decode_meta(bytes(b))


def test_unsupported_frames_and_structural_errors():
    b = J.encode_baseline(np.full((8, 8), 1, dtype=np.uint8))
    # a baseline scan relabeled SOF2 violates the progressive scan
    # rules (full-band DC scan) -> structural corruption
    with pytest.raises(ValueError):
        J.decode_meta(b.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # a baseline scan relabeled SOF3 violates the lossless scan
    # parameter rules (Ss=0) -> structural corruption
    with pytest.raises(ValueError, match="lossless scan parameters"):
        J.decode_meta(b.replace(b"\xff\xc0", b"\xff\xc3", 1))
    # genuinely unsupported frame type: hierarchical SOF5
    with pytest.raises(NotImplementedError, match="not supported"):
        J.decode_meta(b.replace(b"\xff\xc0", b"\xff\xc5", 1))
    with pytest.raises(ValueError, match="SOI"):
        J.decode_meta(b"not a jpeg")
    with pytest.raises(ValueError, match="no SOS"):
        # tables + frame header but the scan never starts
        J.decode_meta(b[: b.index(b"\xff\xda")] + b"\xff\xd9")


def test_progressive_roundtrip_gray_and_color():
    """SOF2 decode is real: spectral-selection bands + successive
    approximation (EOB runs, refinement correction bits) reconstruct
    the SAME pixels as the baseline decode of the same image."""
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (40, 56), dtype=np.uint8)
    for successive in (True, False):
        pp = J.decode_pixels(J.encode_progressive(img, successive=successive))
        pb = J.decode_pixels(J.encode_baseline(img))
        assert (pp == pb).all()
    color = rng.integers(0, 256, (33, 29, 3), dtype=np.uint8)
    for samp in (None, [(2, 2), (1, 1), (1, 1)]):
        pp = J.decode_pixels(J.encode_progressive(color, sampling=samp))
        pb = J.decode_pixels(J.encode_baseline(color, sampling=samp))
        assert (pp == pb).all()


def test_progressive_sparse_image_exercises_eob_runs():
    img = np.full((64, 64), 100, dtype=np.uint8)
    img[10:20, 10:20] = 140
    b = J.encode_progressive(img)
    assert b"\xff\xc2" in b  # really progressive
    px = J.decode_pixels(b)
    assert np.abs(px[..., 0].astype(int) - img.astype(int)).max() <= 2
    meta = J.decode_meta(b)
    assert (meta["width"], meta["height"]) == (64, 64)


def test_progressive_corrupt_scan_quarantines():
    img = np.add.outer(np.arange(24), np.arange(24)).astype(np.uint8)
    b = bytearray(J.encode_progressive(img))
    b[-10] ^= 0x3C
    with pytest.raises(ValueError):
        J.decode_meta(bytes(b))
    with pytest.raises(ValueError):
        J.decode_meta(bytes(b[: len(b) // 2]))


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 25),
    w=st.integers(1, 25),
    seed=st.integers(0, 2**31),
    color=st.booleans(),
    rst=st.sampled_from([0, 2]),
)
# rounding the Y/Cb/Cr planes before the RGB conversion put a channel
# of this image 4 off
@example(h=8, w=20, seed=47, color=True, rst=0)
def test_property_roundtrip_any_shape(h, w, seed, color, rst):
    """Any image shape (including 1-pixel and non-8-multiple edges),
    gray or RGB, with or without restart markers, roundtrips within
    the documented error bound at quant=1."""
    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    px = J.decode_pixels(J.encode_baseline(img, restart_interval=rst))
    assert px.shape == (h, w, 3 if color else 1)
    ref = img if color else img[..., None]
    assert np.abs(px.astype(int) - ref.astype(int)).max() <= (3 if color
                                                              else 2)


def test_undefined_tables_are_structural_errors():
    b = J.encode_baseline(np.full((8, 8), 1, dtype=np.uint8))
    # strip the DQT segment: quant table 0 becomes undefined
    at = b.index(b"\xff\xdb")
    seg_len = int.from_bytes(b[at + 2 : at + 4], "big")
    with pytest.raises(ValueError, match="quant table"):
        J.decode_meta(b[:at] + b[at + 2 + seg_len :])


# ---------------------------------------------------------------------------
# Adobe APP14 color paths: CMYK, YCCK, stored-RGB (print-workflow /
# PDF DCTDecode JPEGs).
# ---------------------------------------------------------------------------

def _naive_cmyk_to_rgb(cmyk: np.ndarray) -> np.ndarray:
    c = cmyk.astype(np.float64)
    return ((255 - c[..., :3]) * (255 - c[..., 3:4]) / 255.0).round()


def test_cmyk_transform0_roundtrip():
    rng = np.random.default_rng(11)
    cmyk = rng.integers(0, 256, (24, 33, 4), dtype=np.uint8)
    out = J.decode_pixels(J.encode_baseline(cmyk, adobe_transform=0))
    assert out.shape == (24, 33, 3)
    assert np.abs(out - _naive_cmyk_to_rgb(cmyk)).max() <= 3


def test_ycck_transform2_roundtrip_including_subsampled_chroma():
    rng = np.random.default_rng(12)
    cmyk = rng.integers(0, 256, (24, 33, 4), dtype=np.uint8)
    for sampling in (None, [(2, 2), (1, 1), (1, 1), (2, 2)]):
        data = J.encode_baseline(
            cmyk, sampling=sampling, adobe_transform=2
        )
        out = J.decode_pixels(data)
        assert out.shape == (24, 33, 3)
        if sampling is None:  # full-res: within color-convert rounding
            assert np.abs(out - _naive_cmyk_to_rgb(cmyk)).max() <= 4
    meta = J.decode_meta(data)
    assert meta["bits_per_pixel"] == 32


def test_adobe_stored_rgb_transform0():
    rng = np.random.default_rng(13)
    rgb = rng.integers(0, 256, (17, 21, 3), dtype=np.uint8)
    out = J.decode_pixels(J.encode_baseline(rgb, adobe_transform=0))
    # no YCbCr round-trip at all: only DCT rounding remains
    assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 1


def test_cmyk_structural_errors():
    rng = np.random.default_rng(14)
    cmyk = rng.integers(0, 256, (8, 8, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="adobe_transform"):
        J.encode_baseline(cmyk, adobe_transform=1)
    # APP14 claiming YCbCr over 4 components is contradictory
    b = bytearray(J.encode_baseline(cmyk, adobe_transform=0))
    at = bytes(b).index(b"Adobe")
    b[at + 11] = 1
    with pytest.raises(ValueError, match="4 components"):
        J.decode_pixels(bytes(b))
    # corrupt scan still quarantines through the CMYK path
    b2 = bytearray(J.encode_baseline(cmyk, adobe_transform=2))
    b2[-8] ^= 0x55
    with pytest.raises(ValueError):
        J.decode_pixels(bytes(b2))


# ---------------------------------------------------------------------------
# Lossless (SOF3) mode — T.81 Annex H predictive coding.
# ---------------------------------------------------------------------------

def test_lossless_every_predictor_is_bit_exact():
    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, (21, 17), dtype=np.uint8)
    for p in range(1, 8):
        fr, planes = J.decode_planes(J.encode_lossless(img, predictor=p))
        assert fr.lossless
        assert np.array_equal(planes[0], img)


def test_lossless_rgb_interleaved_with_restarts():
    rng = np.random.default_rng(32)
    rgb = rng.integers(0, 256, (13, 19, 3), dtype=np.uint8)
    for rst in (0, 5):
        out = J.decode_pixels(
            J.encode_lossless(rgb, predictor=6, restart_interval=rst)
        )
        # lossless 3-component stores RGB untransformed: exact
        assert np.array_equal(out, rgb)


def test_lossless_high_precision_and_point_transform():
    rng = np.random.default_rng(33)
    for prec in (12, 16):
        hi = rng.integers(0, 1 << prec, (9, 11), dtype=np.uint16)
        _fr, planes = J.decode_planes(
            J.encode_lossless(hi, precision=prec)
        )
        assert planes[0].dtype == np.uint16
        assert np.array_equal(planes[0], hi)
        px = J.decode_pixels(J.encode_lossless(hi, precision=prec))
        assert np.array_equal(px[..., 0], (hi >> (prec - 8)).astype(np.uint8))
    img = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    _fr, planes = J.decode_planes(J.encode_lossless(img, point_transform=2))
    assert np.array_equal(planes[0], (img >> 2) << 2)


def test_lossless_corrupt_scan_quarantines():
    img = np.add.outer(np.arange(16), np.arange(16)).astype(np.uint8)
    b = bytearray(J.encode_lossless(img, predictor=4))
    b[-6] ^= 0x7A
    with pytest.raises(ValueError):
        J.decode_meta(bytes(b))
    with pytest.raises(ValueError):
        J.decode_meta(bytes(b[: len(b) - len(b) // 3]))


def test_lossless_structural_gates():
    img = np.zeros((8, 8), dtype=np.uint8)
    b = bytearray(J.encode_lossless(img, predictor=1))
    # SOS: patch predictor (Ss) to 0 -> invalid for lossless
    at = bytes(b).index(b"\xff\xda")
    b2 = bytearray(b)
    b2[at + 2 + 2 + 1 + 2] = 0  # len(2) + ns(1) + comp spec(2) -> Ss byte
    with pytest.raises(ValueError, match="lossless scan parameters"):
        J.decode_planes(bytes(b2))
    # subsampled lossless components are an honest unsupported gate
    at_sof = bytes(b).index(b"\xff\xc3")
    b3 = bytearray(b)
    b3[at_sof + 2 + 2 + 6 + 1] = 0x22  # comp 1 h/v byte
    with pytest.raises(NotImplementedError, match="subsampled"):
        J.decode_planes(bytes(b3))


def test_dct_precision_other_than_8_is_unsupported_not_garbage():
    b = bytearray(J.encode_baseline(np.zeros((8, 8), dtype=np.uint8)))
    at = bytes(b).index(b"\xff\xc0")
    b[at + 4] = 12  # precision byte of SOF0
    with pytest.raises(NotImplementedError, match="12-bit"):
        J.decode_planes(bytes(b))
