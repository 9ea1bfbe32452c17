"""Baseline JPEG codec tests (operators/jpeg.py) — the T.81 pipeline
exercised branch by branch: DC-only closed form (the synth block law),
full-AC exactness vs a direct IDCT, ZRL/EOB runs, FDCT lossy bound, 4:4:4
and 4:2:0 color, DRI/RSTn restarts, and loud failures on
corrupt/unsupported streams."""

from __future__ import annotations

import numpy as np
import pytest

from fusionspark.operators.jpeg import (
    DEFAULT_QTABLE,
    ZIGZAG,
    build_codes,
    idct2,
    jpeg_decode,
    jpeg_encode,
)

W, H, BX, BY = 24, 16, 3, 2


def _dc_only_blocks(seed: int) -> np.ndarray:
    qb = np.zeros((BX * BY, 8, 8), dtype=np.int64)
    for b in range(BX * BY):
        qb[b, 0, 0] = ((seed * 11 + 17 * b) % 255) - 127
    return qb


def test_zigzag_is_a_permutation():
    assert sorted(r * 8 + c for r, c in ZIGZAG) == list(range(64))
    # spec anchor points (T.81 figure 5)
    assert ZIGZAG[0] == (0, 0) and ZIGZAG[1] == (0, 1)
    assert ZIGZAG[2] == (1, 0) and ZIGZAG[63] == (7, 7)


def test_canonical_codes_are_prefix_free():
    codes = build_codes([0, 0, 0, 12] + [0] * 12, list(range(12)))
    assert len(codes) == 12
    as_strings = [format(c, f"0{ln}b") for c, ln in codes.values()]
    for i, a in enumerate(as_strings):
        for j, b in enumerate(as_strings):
            if i != j:
                assert not b.startswith(a)


def test_dc_only_closed_form():
    """The synth law: block b decodes to the constant q(d,b)+128."""
    for d in (0, 5, 254, 9999):
        img = jpeg_decode(jpeg_encode(None, qblocks=_dc_only_blocks(d), size=(W, H)))
        assert img.shape == (H, W) and img.dtype == np.uint8
        for b in range(BX * BY):
            byi, bxi = divmod(b, BX)
            block = img[byi * 8 : byi * 8 + 8, bxi * 8 : bxi * 8 + 8]
            assert (block == ((d * 11 + 17 * b) % 255) - 127 + 128).all()


def test_full_ac_exact_vs_direct_idct():
    """Arbitrary quantized coefficients (incl. a ZRL-forcing block) decode
    bit-exactly to the reference dequant+IDCT+round pipeline."""
    rng = np.random.RandomState(7)
    qb = rng.randint(-40, 40, size=(BX * BY, 8, 8)).astype(np.int64)
    qb[2] = 0
    qb[2, 7, 7] = 5  # 62 zigzag zeros before the last coefficient → 3 ZRLs
    img = jpeg_decode(jpeg_encode(None, qblocks=qb, size=(W, H)))
    spatial = idct2(qb * DEFAULT_QTABLE[np.newaxis]) + 128.0
    ref = np.zeros((H, W))
    for b in range(BX * BY):
        byi, bxi = divmod(b, BX)
        ref[byi * 8 : byi * 8 + 8, bxi * 8 : bxi * 8 + 8] = spatial[b]
    assert (img == np.clip(np.round(ref), 0, 255).astype(np.uint8)).all()


def test_pixel_plane_lossy_bound_and_odd_dims():
    """The FDCT encoder path: non-multiple-of-8 dims crop correctly and
    quantization error stays within the flat-qtable bound."""
    rng = np.random.RandomState(3)
    plane = rng.randint(0, 256, size=(35, 29)).astype(np.uint8)
    img = jpeg_decode(jpeg_encode(plane))
    assert img.shape == (35, 29)
    assert np.abs(img.astype(int) - plane.astype(int)).max() <= 32


def test_color_444_and_420_shapes_and_fidelity():
    rng = np.random.RandomState(11)
    y = rng.randint(64, 192, (16, 24)).astype(np.float64)
    cb = np.full((16, 24), 128.0)
    cr = np.full((16, 24), 128.0)
    img = jpeg_decode(jpeg_encode([y, cb, cr]))
    assert img.shape == (16, 24, 3)
    # neutral chroma → R≈G≈B≈Y
    assert np.abs(img[:, :, 0].astype(int) - np.round(y).astype(int)).max() <= 16
    assert np.abs(img.astype(int).max(axis=2) - img.astype(int).min(axis=2)).max() <= 2

    y2 = rng.randint(0, 256, (21, 19)).astype(np.float64)
    img2 = jpeg_decode(jpeg_encode([y2, cb[:21, :19], cr[:21, :19]], subsample=True))
    assert img2.shape == (21, 19, 3)


def test_restart_markers_do_not_change_pixels():
    rng = np.random.RandomState(5)
    qb = rng.randint(-20, 20, size=(BX * BY, 8, 8)).astype(np.int64)
    base = jpeg_decode(jpeg_encode(None, qblocks=qb, size=(W, H)))
    for ri in (1, 2, 5):
        with_rst = jpeg_decode(
            jpeg_encode(None, qblocks=qb, size=(W, H), restart_interval=ri)
        )
        assert (with_rst == base).all()
    # DRI also survives the color/subsampled path
    y = rng.randint(0, 256, (21, 19)).astype(np.float64)
    c = np.full((21, 19), 128.0)
    a = jpeg_decode(jpeg_encode([y, c, c], subsample=True))
    b = jpeg_decode(jpeg_encode([y, c, c], subsample=True, restart_interval=1))
    assert (a == b).all()


def test_corrupt_and_unsupported_streams_fail_loudly():
    with pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg")
    good = jpeg_encode(None, qblocks=_dc_only_blocks(1), size=(W, H))
    with pytest.raises(ValueError):
        jpeg_decode(good[:40])  # truncated before any scan
    # flip SOF0 to SOF2 (progressive) — must raise NotImplementedError
    sof_at = good.index(b"\xff\xc0")
    prog = good[:sof_at] + b"\xff\xc2" + good[sof_at + 2 :]
    with pytest.raises(NotImplementedError):
        jpeg_decode(prog)
    # truncated entropy stream
    with pytest.raises(ValueError):
        jpeg_decode(good[:-20])
