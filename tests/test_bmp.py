"""BMP codec unit tests (operators/bmp.py): round-trip, row padding,
bottom-up orientation, BGR ordering, and error paths."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from fusionspark.operators.bmp import BMP_H, BMP_W, bmp_decode, bmp_encode


def test_roundtrip_random():
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(16, 25, 3), dtype=np.uint8)
    assert np.array_equal(bmp_decode(bmp_encode(rgb)), rgb)


def test_row_padding_is_real():
    """25-px rows are 75 data bytes → stride 76; the payload length must
    include one pad byte per row."""
    rgb = np.zeros((4, 25, 3), dtype=np.uint8)
    payload = bmp_encode(rgb)
    offset = struct.unpack_from("<I", payload, 10)[0]
    assert len(payload) - offset == 4 * 76


def test_bottom_up_and_bgr_layout():
    """First data row in the file is the BOTTOM image row, bytes are BGR."""
    rgb = np.zeros((2, 25, 3), dtype=np.uint8)
    rgb[0, 0] = (1, 2, 3)  # top-left pixel, RGB
    rgb[1, 0] = (9, 8, 7)  # bottom-left pixel
    payload = bmp_encode(rgb)
    offset = struct.unpack_from("<I", payload, 10)[0]
    # first stored pixel = bottom row, BGR order
    assert tuple(payload[offset : offset + 3]) == (7, 8, 9)
    assert np.array_equal(bmp_decode(payload), rgb)


def test_top_down_negative_height_decodes():
    rgb = np.arange(2 * 25 * 3, dtype=np.uint8).reshape(2, 25, 3)
    payload = bytearray(bmp_encode(rgb))
    # flip to top-down: negate height, re-order rows manually
    struct.pack_into("<i", payload, 14 + 8, -2)
    offset = struct.unpack_from("<I", payload, 10)[0]
    stride = 76
    rows = [bytes(payload[offset + y * stride : offset + (y + 1) * stride]) for y in range(2)]
    payload[offset:] = rows[1] + rows[0]
    assert np.array_equal(bmp_decode(bytes(payload)), rgb)


def test_decode_rejects_garbage_and_unsupported():
    with pytest.raises(ValueError):
        bmp_decode(b"PNG?definitely-not-a-bmp" + b"\x00" * 64)
    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    payload = bytearray(bmp_encode(rgb))
    struct.pack_into("<H", payload, 14 + 14, 8)  # bpp = 8
    with pytest.raises(NotImplementedError):
        bmp_decode(bytes(payload))


def test_synth_geometry_constants():
    assert (BMP_W * 3) % 4 != 0  # padding must be load-bearing
    assert BMP_W * BMP_H == 400


def test_spark_features_match_law(spark, sf_dir):
    """End-to-end on Spark: synth → encode → decode → features equals the
    closed-form law v = (doc_id·13 + 5k + 7c) mod 256 for every document.
    The checksum Σ v·(3k+c) pins each byte to its (pixel, channel) slot,
    so a row-flip, BGR/RGB or padding slip cannot match."""
    import os

    import pyarrow.parquet as pq

    from fusionspark.operators.bmp import bmp_feature_stats, synth_bmp_media

    got = {r["media_id"]: r
           for r in bmp_feature_stats(synth_bmp_media(spark, sf_dir)).collect()}
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["doc_id"]).column("doc_id").to_pylist()
    assert sorted(got) == sorted(docs)
    ks = np.arange(BMP_W * BMP_H, dtype=np.int64).reshape(-1, 1)
    cs = np.arange(3, dtype=np.int64).reshape(1, 3)
    for doc, row in got.items():
        v = ((doc * 13 + 5 * ks + 7 * cs) % 256).reshape(-1)
        assert row["pix_checksum"] == int(np.dot(v, np.arange(v.size)))
        assert abs(row["mean_intensity"] - v.mean()) < 1e-9
