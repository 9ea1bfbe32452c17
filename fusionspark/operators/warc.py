"""WARC (Web ARChive, ISO 28500) source — the Common Crawl ingestion
format every web-scale training pipeline starts from.

Pure stdlib record parsing written from the public WARC 1.0 grammar:
records are `WARC/1.0\\r\\n` + name:value headers + blank line + a
Content-Length byte block + `\\r\\n\\r\\n`.  `response` records carry an
HTTP message whose own headers are split from the body.

Scale shape: WARC members gzip per-record in production, so a FILE is the
natural split unit (Common Crawl ships ~1 GB segments by the thousands).
`warc_documents` reads files with Spark's binaryFile source and parses
each inside an Arrow-batched map — parallelism across files, zero shuffle;
one 1000-executor cluster chews one segment per core.  Extracted columns
(url, date, mime, body) land as ordinary pushdown-friendly columns and
feed straight into the dedup/quality operators.

The writer exists for the same reason the jpeg encoder does: this
container has no crawl data, and round-trip tests + closed-form oracles
need deterministic real byte streams.
"""

from __future__ import annotations

import gzip
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

CRLF = b"\r\n"


def warc_write(records: list[dict], compress: bool = False) -> bytes:
    """Minimal WARC 1.0 writer.  Each record dict: {type, uri (optional),
    date (optional), record_id, payload bytes, http (bool — wrap payload
    in a minimal HTTP/1.1 200 response)}."""
    out = bytearray()
    for r in records:
        payload = r["payload"]
        if r.get("http"):
            http_head = (
                b"HTTP/1.1 200 OK" + CRLF
                + b"Content-Type: " + r.get("mime", "text/plain").encode() + CRLF
                + b"Content-Length: " + str(len(payload)).encode() + CRLF
                + CRLF
            )
            payload = http_head + payload
        headers = [
            (b"WARC-Type", r["type"].encode()),
            (b"WARC-Record-ID", r["record_id"].encode()),
            (b"Content-Length", str(len(payload)).encode()),
        ]
        if r.get("uri"):
            headers.append((b"WARC-Target-URI", r["uri"].encode()))
        if r.get("date"):
            headers.append((b"WARC-Date", r["date"].encode()))
        if r.get("http"):
            headers.append(
                (b"Content-Type", b"application/http; msgtype=response")
            )
        out += b"WARC/1.0" + CRLF
        for k, v in headers:
            out += k + b": " + v + CRLF
        out += CRLF + payload + CRLF + CRLF
    return gzip.compress(bytes(out)) if compress else bytes(out)


def warc_parse(data: bytes) -> list[dict]:
    """Parse a WARC stream into records: {type, uri, date, record_id,
    headers, payload}.  Gzip members are transparently decompressed.
    Raises ValueError on malformed streams (bad version line, missing
    Content-Length, truncated payload)."""
    data = bytes(data)
    if data[:2] == b"\x1f\x8b":
        data = gzip.decompress(data)
    records = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        eol = data.find(CRLF, pos)
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line at offset {pos}: {version[:20]!r}")
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = data.find(CRLF, pos)
            if eol == -1:
                raise ValueError("truncated WARC header block")
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break
            k, _, v = line.partition(b":")
            headers[k.decode("ascii").strip().lower()] = v.decode(
                "utf-8", "replace"
            ).strip()
        try:
            clen = int(headers["content-length"])
        except KeyError:
            raise ValueError("WARC record missing Content-Length") from None
        if pos + clen > n:
            raise ValueError(
                f"truncated WARC payload: declares {clen} bytes, {n - pos} remain"
            )
        payload = data[pos : pos + clen]
        pos += clen
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri"),
                "date": headers.get("warc-date"),
                "record_id": headers.get("warc-record-id", ""),
                "headers": headers,
                "payload": payload,
            }
        )
    return records


def split_http_response(payload: bytes) -> tuple[dict, bytes]:
    """Split an HTTP message into (headers dict incl. 'status', body)."""
    sep = payload.find(CRLF + CRLF)
    if sep == -1:
        return {}, payload
    head = payload[:sep].split(CRLF)
    out = {"status": head[0].decode("ascii", "replace")}
    for line in head[1:]:
        k, _, v = line.partition(b":")
        out[k.decode("ascii").strip().lower()] = v.decode("utf-8", "replace").strip()
    return out, payload[sep + 4 :]


WARC_DOC_SCHEMA = (
    "warc_file string, url string, warc_date string, mime string, "
    "http_status int, n_bytes long, body string"
)


def warc_documents(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of .warc / .warc.gz files into one row per
    `response` record: (warc_file, url, warc_date, mime, http_status,
    n_bytes, body).  binaryFile source → Arrow-batched per-file parse —
    parallelism across files (the Common Crawl layout), zero shuffle."""
    import os

    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {
                k: [] for k in (
                    "warc_file", "url", "warc_date", "mime", "http_status",
                    "n_bytes", "body")
            }
            for fpath, content in zip(pdf["path"], pdf["content"]):
                for rec in warc_parse(content):
                    if rec["type"] != "response":
                        continue
                    http, body = split_http_response(rec["payload"])
                    status = 0
                    parts = http.get("status", "").split()
                    if len(parts) >= 2 and parts[1].isdigit():
                        status = int(parts[1])
                    rows["warc_file"].append(os.path.basename(fpath))
                    rows["url"].append(rec["uri"] or "")
                    rows["warc_date"].append(rec["date"] or "")
                    rows["mime"].append(http.get("content-type", ""))
                    rows["http_status"].append(status)
                    rows["n_bytes"].append(len(body))
                    rows["body"].append(body.decode("utf-8", "replace"))
            yield pd.DataFrame(rows)

    return files.select("path", "content").mapInPandas(run, schema=WARC_DOC_SCHEMA)
