"""REAL GIF codec (GIF89a, 8-bit grayscale palette, full LZW) — stdlib +
numpy only; the SEVENTH real container format beside PNG/JPEG/BMP/MP4/
AVI/WAV.

Both directions are real: the encoder is greedy table-building LZW
(emitting compound codes, growing the code width 9→12 exactly as a
decoder's dictionary does, resetting with CLEAR at 4096), and the
decoder implements the full spec path — sub-block reassembly, LSB-first
bit unpacking, dictionary reconstruction including the deferred "K-case"
(code == next_code: w + w[0]).  The synthetic pixel law
v = (doc_id·19 + 11k) mod 256 has period 256, so every 24×16 payload
repeats its first 256 bytes and the encoder provably emits compound
codes — the round-trip cannot pass on a literals-only shortcut.

The reference stores opaque binary attachments but decodes nothing
(SURVEY §2: multimodal is beyond-reference).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession

GIF_W, GIF_H = 24, 16
_MIN_CODE = 8  # 256-color palette
_CLEAR = 1 << _MIN_CODE
_EOI = _CLEAR + 1


class _BitWriter:
    """LSB-first bit packer (GIF LZW bit order)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _lzw_encode(data: bytes) -> bytes:
    """Greedy LZW with GIF width/reset semantics."""
    bw = _BitWriter()
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = _EOI + 1
    width = _MIN_CODE + 1
    bw.write(_CLEAR, width)
    w = b""
    for byte in data:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        bw.write(table[w], width)
        table[wk] = next_code
        next_code += 1
        # width grows when the NEXT code to be assigned no longer fits —
        # mirror of the decoder's post-add check
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code > 4095:
            bw.write(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = _EOI + 1
            width = _MIN_CODE + 1
        w = bytes([byte])
    if w:
        bw.write(table[w], width)
    bw.write(_EOI, width)
    return bw.flush()


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """Full GIF LZW decode: dictionary rebuild incl. the K-case."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = _MIN_CODE + 1
    acc = nbits = pos = 0
    prev: bytes | None = None
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated LZW stream")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == _CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width = _MIN_CODE + 1
            prev = None
            continue
        if code == _EOI:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # K-case: w + w[0]
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW code {code}")
        out += entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
    return bytes(out)


def _interlace_rows(h: int) -> list[int]:
    """GIF 89a §20 four-pass interlace row order: pass 1 every 8th row
    from 0, pass 2 every 8th from 4, pass 3 every 4th from 2, pass 4
    every 2nd from 1 — the stream stores rows in THIS order."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def gif_encode(plane: np.ndarray, interlace: bool = False) -> bytes:
    """Encode an (H, W) uint8 grayscale plane as GIF89a with an identity
    256-gray global palette and real LZW image data.  With
    ``interlace=True`` the image descriptor sets the interlace flag
    (0x40) and rows are stored in the spec's four-pass order."""
    h, w = plane.shape
    hdr = b"GIF89a" + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    palette = bytes(v for i in range(256) for v in (i, i, i))
    iflags = 0x40 if interlace else 0
    img_desc = b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, iflags)
    data = plane[_interlace_rows(h)] if interlace else plane
    lzw = _lzw_encode(data.tobytes())
    blocks = bytearray([_MIN_CODE])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return hdr + palette + img_desc + bytes(blocks) + b"\x3b"


def gif_decode(payload: bytes) -> np.ndarray:
    """Parse a GIF87a/89a single-image grayscale GIF back to (H, W) uint8
    (identity palette assumed: pixel = palette index's red channel)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    palette = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        palette = payload[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(payload):
        b = payload[pos]
        if b == 0x21:  # extension: skip sub-blocks
            pos += 2
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
        elif b == 0x2C:
            _x, _y, w, h, iflags = struct.unpack_from("<HHHHB", payload, pos + 1)
            pos += 10
            if iflags & 0x80:
                n = 2 << (iflags & 0x07)
                palette = payload[pos : pos + 3 * n]
                pos += 3 * n
            min_code = payload[pos]
            if min_code != _MIN_CODE:
                raise NotImplementedError(f"palette depth {min_code} != 8")
            pos += 1
            lzw = bytearray()
            while payload[pos]:
                ln = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            idx = np.frombuffer(
                _lzw_decode(bytes(lzw), w * h), dtype=np.uint8
            ).reshape(h, w)
            if iflags & 0x40:  # de-interlace: stream row i is image row order[i]
                out_rows = np.empty_like(idx)
                out_rows[_interlace_rows(h)] = idx
                idx = out_rows
            if palette is None:
                raise ValueError("no palette")
            reds = np.frombuffer(palette, dtype=np.uint8)[::3]
            return reds[idx].copy()
        elif b == 0x3B:
            break
        else:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
    raise ValueError("no image block found")


def synth_gif_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF payloads with the closed-form law
    v = (doc_id·19 + 11k) mod 256 over a 24×16 grid (period 256 < 384
    pixels ⇒ the LZW stream contains compound codes)."""
    import pandas as pd

    from fusionspark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    w, h = GIF_W, GIF_H

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ks = np.arange(w * h, dtype=np.int64)
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "payload": [], "mime": [], "width": [], "height": []
            }
            for doc_id in pdf["doc_id"]:
                plane = ((int(doc_id) * 19 + 11 * ks) % 256).astype(np.uint8).reshape(h, w)
                out["media_id"].append(int(doc_id))
                out["payload"].append(gif_encode(plane))
                out["mime"].append("image/gif")
                out["width"].append(w)
                out["height"].append(h)
            yield pd.DataFrame(out)

    # ids-only spread before the kernel — the LZW encode loop is pure
    # Python; one scan split would otherwise serialize it in one task
    return d.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        make, schema="media_id bigint, payload binary, mime string, width int, height int"
    )


def synth_gif_interlaced_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL INTERLACED GIF payloads (image-descriptor flag 0x40, rows
    stored in the spec's four-pass order) with the closed-form law
    v = (doc_id·29 + 13k) mod 256 over natural pixel positions k — the
    law is row-dependent, so a decoder that skips de-interlacing keeps
    the mean but breaks the position-weighted checksum."""
    import pandas as pd

    from fusionspark.io import load_table

    d = load_table(spark, sf_dir, "documents")
    w, h = GIF_W, GIF_H

    def make(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ks = np.arange(w * h, dtype=np.int64)
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                plane = ((int(doc_id) * 29 + 13 * ks) % 256).astype(np.uint8).reshape(h, w)
                out["media_id"].append(int(doc_id))
                out["payload"].append(gif_encode(plane, interlace=True))
            yield pd.DataFrame(out)

    # ids-only spread before the kernel — see synth_gif_media
    return d.select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(
        make, schema="media_id bigint, payload binary"
    )


def gif_feature_stats(media: DataFrame) -> DataFrame:
    """Decode REAL GIF payloads; exact mean + position-weighted checksum
    (the bmp feature contract)."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "mean_intensity": [], "pix_checksum": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                flat = gif_decode(bytes(payload)).astype(np.int64).reshape(-1)
                out["media_id"].append(mid)
                out["mean_intensity"].append(float(flat.sum()) / flat.size)
                out["pix_checksum"].append(
                    int(np.dot(flat, np.arange(flat.size, dtype=np.int64)))
                )
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        run, schema="media_id bigint, mean_intensity double, pix_checksum bigint"
    )
