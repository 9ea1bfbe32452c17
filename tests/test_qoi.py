"""QOI codec tests (operators/qoi.py): golden-fixture drift pins, full
round-trip properties, per-op spec laws, and the all-ops-fire guarantee
of the synthetic law."""

from __future__ import annotations

import hashlib
import json
import pathlib

import numpy as np
import pytest

from fusionspark.operators.qoi import (
    QOI_H,
    QOI_W,
    _law_planes,
    qoi_decode,
    qoi_encode,
)

FIX = pathlib.Path(__file__).parent / "fixtures"


def _op_mix(enc: bytes) -> dict:
    ops = {"run": 0, "index": 0, "diff": 0, "luma": 0, "rgb": 0}
    pos = 14
    while pos < len(enc) - 8:
        b = enc[pos]
        if b == 0xFE:
            ops["rgb"] += 1
            pos += 4
        elif b == 0xFF:
            pos += 5
        else:
            tag = b & 0xC0
            if tag == 0x00:
                ops["index"] += 1
                pos += 1
            elif tag == 0x40:
                ops["diff"] += 1
                pos += 1
            elif tag == 0x80:
                ops["luma"] += 1
                pos += 2
            else:
                ops["run"] += 1
                pos += 1
    return ops


def test_golden_fixture_pins_encoder_and_decoder():
    """Frozen bytes: the encoder must reproduce the committed payload
    byte-for-byte AND the decoder must decode those committed bytes back
    to the law — symmetric drift (a matched encoder+decoder change)
    cannot pass."""
    meta = json.loads((FIX / "golden_qoi42.json").read_text())
    golden = (FIX / "golden_qoi42.qoi").read_bytes()
    assert hashlib.sha256(golden).hexdigest() == meta["sha256"]
    img = _law_planes(meta["doc_id"], QOI_W * QOI_H).reshape(QOI_H, QOI_W, 3)
    assert qoi_encode(img) == golden
    assert np.array_equal(qoi_decode(golden), img)


def test_roundtrip_law_images():
    for doc in range(0, 300, 11):
        img = _law_planes(doc, QOI_W * QOI_H).reshape(QOI_H, QOI_W, 3)
        assert np.array_equal(qoi_decode(qoi_encode(img)), img)


def test_roundtrip_random_images():
    rng = np.random.RandomState(7)
    for _ in range(25):
        h, w = rng.randint(1, 40), rng.randint(1, 40)
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert np.array_equal(qoi_decode(qoi_encode(img)), img)


def test_all_ops_fire_under_the_law():
    """The piecewise law exists so EVERY QOI op appears in the corpus —
    the round-trip cannot pass on a literals-only shortcut."""
    total = {"run": 0, "index": 0, "diff": 0, "luma": 0, "rgb": 0}
    for doc in range(60):
        enc = qoi_encode(_law_planes(doc, QOI_W * QOI_H).reshape(QOI_H, QOI_W, 3))
        for k, v in _op_mix(enc).items():
            total[k] += v
    assert all(v > 0 for v in total.values()), total


def test_run_lengths_capped_at_62():
    """Spec: QOI_OP_RUN stores run-1 in 6 bits with 63/64 reserved for the
    RGB/RGBA tags — a 200-pixel flat image needs ceil(200/62) run ops."""
    img = np.full((10, 20, 3), 77, dtype=np.uint8)
    enc = qoi_encode(img)
    mix = _op_mix(enc)
    # first pixel is an RGB op (differs from the (0,0,0) start), the
    # remaining 199 identical pixels pack into 62+62+62+13
    assert mix["rgb"] == 1
    assert mix["run"] == 4
    assert np.array_equal(qoi_decode(enc), img)


def test_index_hash_law():
    """Spec hash: (3r + 5g + 7b + 11a) % 64 — an alternating pair whose
    hashes differ must produce INDEX ops on every revisit."""
    a, b = (10, 20, 30), (15, 25, 35)
    assert (3 * 10 + 5 * 20 + 7 * 30 + 11 * 255) % 64 != (
        3 * 15 + 5 * 25 + 7 * 35 + 11 * 255
    ) % 64
    img = np.array([[a, b] * 8] * 2, dtype=np.uint8)
    enc = qoi_encode(img)
    assert _op_mix(enc)["index"] > 0
    assert np.array_equal(qoi_decode(enc), img)


def test_end_marker_and_magic_guards():
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    enc = qoi_encode(img)
    assert enc[:4] == b"qoif"
    assert enc[-8:] == b"\x00" * 7 + b"\x01"
    with pytest.raises(ValueError):
        qoi_decode(b"nope" + enc[4:])
    with pytest.raises(ValueError):
        qoi_decode(enc[:-8] + b"\x00" * 8)


def test_rgba_alpha_boundary():
    """channels=4 / alpha != 255 are outside the 3-channel pipeline — the
    honest NotImplementedError boundary (the avc.py convention)."""
    with pytest.raises(NotImplementedError):
        qoi_encode(np.zeros((2, 2, 4), dtype=np.uint8))


def test_spark_query_matches_law(spark, sf_dir):
    """End-to-end on Spark: synth → encode → decode → features equals the
    closed-form per-(pixel, channel) law."""
    from fusionspark.operators.qoi import qoi_feature_stats, synth_qoi_media

    feats = qoi_feature_stats(synth_qoi_media(spark, sf_dir))
    got = {r["media_id"]: r for r in feats.collect()}
    docs = sorted(got)
    for doc in docs[:20]:
        flat = _law_planes(doc, QOI_W * QOI_H).reshape(-1).astype(np.int64)
        mean = float(flat.sum()) / flat.size
        chk = int(np.dot(flat, np.arange(flat.size, dtype=np.int64)))
        assert got[doc]["pix_checksum"] == chk
        assert abs(got[doc]["mean_intensity"] - mean) < 1e-9
