"""GIF codec unit tests (operators/gif.py): LZW round-trips across the
dictionary's edge cases, sub-block handling, and error paths."""

from __future__ import annotations

import numpy as np
import pytest

from fusionspark.operators.gif import (
    _lzw_decode,
    _lzw_encode,
    gif_decode,
    gif_encode,
)


def test_roundtrip_random_plane():
    rng = np.random.RandomState(11)
    p = rng.randint(0, 256, size=(16, 24), dtype=np.uint8)
    assert np.array_equal(gif_decode(gif_encode(p)), p)


def test_roundtrip_periodic_plane_uses_compound_codes():
    """The synth law's period-256 ramp repeats inside 384 pixels, so the
    greedy encoder must emit compound codes — and the stream must still
    be shorter than 9-bit literals-only would be."""
    ks = np.arange(384, dtype=np.int64)
    p = ((7 * 19 + 11 * ks) % 256).astype(np.uint8).reshape(16, 24)
    stream = _lzw_encode(p.tobytes())
    literals_only_bits = 9 * (384 + 2)  # CLEAR + 384 literals + EOI at 9 bits
    assert len(stream) * 8 < literals_only_bits
    assert np.array_equal(gif_decode(gif_encode(p)), p)


def test_roundtrip_constant_plane_k_case():
    """A constant plane drives the decoder's code==next_code (K) branch
    immediately and repeatedly."""
    p = np.full((32, 32), 7, dtype=np.uint8)
    assert np.array_equal(gif_decode(gif_encode(p)), p)


def test_roundtrip_large_plane_dictionary_reset():
    """>4096 table entries force a mid-stream CLEAR; the decoder must
    resynchronize."""
    p = (np.arange(120 * 120) % 10).astype(np.uint8).reshape(120, 120)
    assert np.array_equal(gif_decode(gif_encode(p)), p)


def test_subblock_chunking_present():
    """Image data longer than 255 bytes must be split into sub-blocks."""
    rng = np.random.RandomState(5)
    p = rng.randint(0, 256, size=(24, 24), dtype=np.uint8)
    payload = gif_encode(p)
    # at least two data sub-blocks: random 576-byte stream ≫ 255
    assert np.array_equal(gif_decode(payload), p)


def test_decode_error_paths():
    with pytest.raises(ValueError):
        gif_decode(b"NOTAGIF" + b"\x00" * 32)
    with pytest.raises(ValueError):
        _lzw_decode(b"\x00", expected=100)  # truncated stream


def test_interlaced_roundtrip_and_row_order():
    """Interlaced encode/decode round-trips exactly, the stored stream
    really is row-permuted (a non-interlaced parse of the same LZW data
    would see pass-order rows), and the 4-pass order covers each row
    exactly once."""
    import numpy as np

    from fusionspark.operators.gif import (
        GIF_H,
        GIF_W,
        _interlace_rows,
        gif_decode,
        gif_encode,
    )

    rows = _interlace_rows(GIF_H)
    assert sorted(rows) == list(range(GIF_H))
    assert rows[: GIF_H // 8 + (GIF_H % 8 > 0)][0] == 0  # pass 1 starts at 0
    rng = np.random.default_rng(7)
    plane = rng.integers(0, 256, size=(GIF_H, GIF_W), dtype=np.uint8)
    inter = gif_encode(plane, interlace=True)
    plain = gif_encode(plane, interlace=False)
    assert np.array_equal(gif_decode(inter), plane)
    assert np.array_equal(gif_decode(plain), plane)
    # the two payloads differ exactly because the row order differs
    assert inter != plain
    # flag bit is set in the image descriptor (fixed offset: 13-byte
    # header + 768-byte global palette; searching for 0x2C would false-hit
    # the palette's gray-44 triplet)
    desc = 13 + 768
    assert inter[desc] == 0x2C and (inter[desc + 9] & 0x40)
    assert plain[desc] == 0x2C and not (plain[desc + 9] & 0x40)


def test_interlaced_flag_required_for_deinterlace():
    """A payload whose rows were stored in pass order but whose flag is
    clear must decode to the PERMUTED image (the decoder keys strictly
    off the flag, never guesses)."""
    import numpy as np

    from fusionspark.operators.gif import (
        GIF_H,
        GIF_W,
        _interlace_rows,
        gif_decode,
        gif_encode,
    )

    plane = (np.arange(GIF_H * GIF_W) % 256).astype(np.uint8).reshape(GIF_H, GIF_W)
    permuted = plane[_interlace_rows(GIF_H)]
    # encode the permuted rows WITHOUT the flag: decoding returns them as-is
    assert np.array_equal(gif_decode(gif_encode(permuted)), permuted)


@pytest.mark.parametrize("interlace, mul, step", [(False, 19, 11), (True, 29, 13)])
def test_spark_features_match_law(spark, sf_dir, interlace, mul, step):
    """End-to-end on Spark: synth → LZW encode → decode (and de-interlace)
    → features equals the closed-form law v = (doc_id·mul + step·k) mod
    256 on natural pixel positions, for every document.  A decoder that
    skips de-interlacing keeps the mean but breaks the checksum Σ v·k."""
    import os

    import pyarrow.parquet as pq

    from fusionspark.operators import gif

    synth = gif.synth_gif_interlaced_media if interlace else gif.synth_gif_media
    got = {r["media_id"]: r
           for r in gif.gif_feature_stats(synth(spark, sf_dir)).collect()}
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id"]).column("doc_id").to_pylist()
    assert sorted(got) == sorted(docs)
    ks = np.arange(gif.GIF_W * gif.GIF_H, dtype=np.int64)
    for doc, row in got.items():
        v = (doc * mul + step * ks) % 256
        assert row["pix_checksum"] == int(np.dot(v, ks))
        assert abs(row["mean_intensity"] - v.mean()) < 1e-9
