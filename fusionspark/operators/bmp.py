"""REAL BMP codec (BITMAPINFOHEADER, 24-bit uncompressed BI_RGB) —
stdlib + numpy only, like the JPEG/GIF/QOI siblings.

The deliberately awkward parts of the real format are all exercised:
rows are stored BOTTOM-UP, pixels are BGR (not RGB), and every row pads
to a 4-byte boundary (the synthetic geometry is 25 px wide = 75 data
bytes → 1 pad byte per row, so padding bugs cannot hide).  The pixel
law is closed-form in (doc_id, pixel, channel), so a test attests the
whole encode→parse→unpad→flip→reorder pipeline arithmetically without
touching BMP bytes (tests/test_bmp.py).

The reference stores opaque binary attachments but decodes nothing
(SURVEY §2: multimodal is beyond-reference); this codec extends the
real-decode family to a sixth container format.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession

BMP_W, BMP_H = 25, 16  # 75-byte rows → 1 pad byte: padding is load-bearing


def bmp_encode(rgb: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 RGB array as a 24-bit BI_RGB BMP:
    bottom-up rows, BGR byte order, 4-byte row padding."""
    h, w, c = rgb.shape
    if c != 3:
        raise ValueError("bmp_encode expects (H, W, 3) RGB")
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    rows = []
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(rgb[y, :, ::-1].tobytes() + pad)  # RGB → BGR
    pixel_data = b"".join(rows)
    info = struct.pack(
        "<IiiHHIIiiII",
        40,  # biSize
        w,
        h,  # positive height = bottom-up
        1,  # planes
        24,  # bpp
        0,  # BI_RGB (uncompressed)
        len(pixel_data),
        2835,
        2835,  # 72 DPI in px/metre
        0,
        0,
    )
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(pixel_data), 0, 0, offset)
    return header + info + pixel_data


def bmp_decode(payload: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP back to (H, W, 3) uint8 RGB.
    Validates magic, offset, bpp, and compression; honours bottom-up
    vs top-down (negative height) row order and row padding."""
    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    if magic != b"BM":
        raise ValueError("not a BMP payload")
    bi_size, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if bi_size < 40 or bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB supported (bpp={bpp}, comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    data = np.frombuffer(payload, dtype=np.uint8, count=h * stride, offset=offset)
    rows = data.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def synth_bmp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP payloads with a closed-form pixel law:
    v(doc_id, k, c) = (doc_id·13 + 5k + 7c) mod 256 over a 25×16 RGB
    grid (k = row-major pixel index, c = RGB channel)."""
    import pandas as pd

    from fusionspark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    w, h = BMP_W, BMP_H

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ks = np.arange(w * h, dtype=np.int64).reshape(h, w, 1)
        cs = np.arange(3, dtype=np.int64).reshape(1, 1, 3)
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "payload": [], "mime": [], "width": [], "height": []
            }
            for doc_id in pdf["doc_id"]:
                rgb = ((int(doc_id) * 13 + 5 * ks + 7 * cs) % 256).astype(np.uint8)
                out["media_id"].append(int(doc_id))
                out["payload"].append(bmp_encode(rgb))
                out["mime"].append("image/bmp")
                out["width"].append(w)
                out["height"].append(h)
            yield pd.DataFrame(out)

    # ids-only spread before the kernel — see gif.synth_gif_media
    return d.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        make, schema="media_id bigint, payload binary, mime string, width int, height int"
    )


def bmp_feature_stats(media: DataFrame) -> DataFrame:
    """Decode REAL BMP payloads and emit exact-arithmetic features: mean
    intensity over all channels and the position-weighted checksum
    Σ v[k,c]·(3k+c), which pins every byte to its (pixel, channel) slot —
    a row-order, channel-order, or padding slip changes it."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "mean_intensity": [], "pix_checksum": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                flat = bmp_decode(bytes(payload)).astype(np.int64).reshape(-1)
                out["media_id"].append(mid)
                out["mean_intensity"].append(float(flat.sum()) / flat.size)
                out["pix_checksum"].append(
                    int(np.dot(flat, np.arange(flat.size, dtype=np.int64)))
                )
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, schema="media_id bigint, mean_intensity double, pix_checksum bigint"
    )
