"""WARC source: Common-Crawl archive files → the pages input table.

Crawl data ships as WARC (ISO 28500): a stream of records, each a header
block (CRLF-terminated ``Name: value`` lines, blank-line terminated)
followed by a ``Content-Length``-byte payload. Common Crawl stores one gzip
MEMBER per record, concatenated — so a ``.warc.gz`` is a valid multi-member
gzip stream and a per-record one. Everything here is stdlib (``zlib``) —
no warcio dependency.

Distribution model: one WARC file = one unit of work. ``spark.read.format
("binaryFile")`` lists the files into a DataFrame, and a ``mapInPandas``
stage parses each file's records — file-level parallelism, the standard
first-cut for WARC on Spark (a 100 TB crawl is ~80k files of ~1 GB; with
1000 executors that is ~80 waves, and no intra-file split logic — gzip
members are not seekable without an index; binaryFile materializes the
COMPRESSED bytes per task — that part is inherent to the source). The
parser is a streaming zlib decompressor over a bounded buffer: peak
memory is compressed-input + one record, never the decompressed file.

Only ``response`` records become pages; the HTTP header block inside the
payload is split off so ``html`` is the raw body bytes. ``url`` comes from
``WARC-Target-URI``, ``warc_ts`` from ``WARC-Date`` (ISO-8601 Zulu).
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_FROM_WARC_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                          "record_type string, source_file string")

_CRLF2 = b"\r\n\r\n"


def _parse_header(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # line 0 is "WARC/1.0"
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("ascii", "replace").lower()] = (
                v.strip().decode("utf-8", "replace"))
    return headers


_GZ_STEP = 1 << 20  # 1 MiB compressed feed per decompress call


def _gzip_chunks(raw: bytes, step: int | None = None) -> Iterator[bytes]:
    """Decompressed chunks of a (possibly multi-member) gzip stream,
    feeding ``step`` compressed bytes at a time — the decompressed file is
    NEVER materialized whole. ``step`` resolves from the module var at
    call time (tests shrink it to force boundary splits)."""
    step = step or _GZ_STEP
    d = zlib.decompressobj(16 + zlib.MAX_WBITS)
    pos = 0
    while pos < len(raw):
        data = raw[pos:pos + step]
        pos += step
        while data:
            out = d.decompress(data)
            if out:
                yield out
            data = d.unused_data  # next gzip member starts here
            if data:
                d = zlib.decompressobj(16 + zlib.MAX_WBITS)


def iter_warc_records(raw: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """(headers, payload) per record from WARC bytes — gzipped (single- or
    multi-member) or plain. TRULY streaming: records are parsed off the
    front of a bounded buffer as members decompress, so peak memory is the
    compressed input (materialized by binaryFile upstream) plus one record
    plus one decompression chunk — never the ~4-5× decompressed file (the
    earlier BytesIO form buffered the whole decompressed archive, which is
    executor-OOM territory for a 1 GB Common-Crawl .warc.gz)."""
    chunks = _gzip_chunks(raw) if raw[:2] == b"\x1f\x8b" else iter((raw,))
    buf = bytearray()
    done = False

    def drain(final: bool) -> list[tuple[dict[str, str], bytes]]:
        nonlocal done
        out: list[tuple[dict[str, str], bytes]] = []
        while not done:
            while buf[:2] == b"\r\n":  # inter-record CRLFs
                del buf[:2]
            if len(buf) < 5:
                done = done or final
                break
            if bytes(buf[:5]) != b"WARC/":
                done = True  # trailing junk: stop (same as the old parser)
                break
            hdr_end = buf.find(_CRLF2)
            if hdr_end < 0:
                done = done or final
                break
            headers = _parse_header(bytes(buf[:hdr_end]))
            length = int(headers.get("content-length", "0"))
            total = hdr_end + 4 + length
            if len(buf) < total:
                if final:  # truncated final record: yield what exists
                    out.append((headers, bytes(buf[hdr_end + 4:])))
                    done = True
                break
            out.append((headers, bytes(buf[hdr_end + 4:total])))
            del buf[:total]
        return out

    for chunk in chunks:
        buf += chunk
        yield from drain(False)
        if done:
            return
    yield from drain(True)


def _split_http_payload(payload: bytes) -> bytes:
    """response records carry ``HTTP/1.x ... CRLFCRLF body`` — return the
    body; payloads without an HTTP header block pass through whole."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(_CRLF2)
        if sep >= 0:
            return payload[sep + 4:]
    return payload


def _parse_warc_date(v: str | None):
    if not v:
        return None
    try:
        return datetime.fromisoformat(v.replace("Z", "+00:00")).astimezone(
            timezone.utc).replace(tzinfo=None)
    except ValueError:
        return None


def pages_from_warc_bytes(raw: bytes, source: str = "") -> pd.DataFrame:
    rows = []
    for headers, payload in iter_warc_records(raw):
        rtype = headers.get("warc-type", "")
        if rtype != "response":
            continue
        rows.append({
            "url": headers.get("warc-target-uri"),
            "warc_ts": _parse_warc_date(headers.get("warc-date")),
            "html": _split_http_payload(payload),
            "record_type": rtype,
            "source_file": source,
        })
    return pd.DataFrame(
        rows, columns=["url", "warc_ts", "html", "record_type",
                       "source_file"])


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC read: binaryFile listing → per-file record parse.
    Returns (url, warc_ts, html, record_type, source_file); ``crawl_pages``
    turns it into the pipeline's pages input."""
    files = spark.read.format("binaryFile").load(path) \
        .select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                yield pages_from_warc_bytes(bytes(content), source=str(p))

    return files.mapInPandas(parse, PAGES_FROM_WARC_SCHEMA)


def crawl_pages(spark: SparkSession, path: str) -> DataFrame:
    """The pages input table of a raw crawl: ``read_warc`` records with the
    extracted ``text`` and ``lang`` NULL (a crawl claims no language, so
    the pipeline runs with ``lang_optional=True``)."""
    from pyspark.sql import functions as F

    from dataquality_spark.functions.html_extract import with_extracted_text

    return (with_extracted_text(read_warc(spark, path), out_col="text")
            .withColumn("lang", F.lit(None).cast("string")))


def write_warc(records: list[tuple[str, str, bytes]], path: str,
               gzip_per_record: bool = True) -> None:
    """Test/fixture helper: write (url, iso_date, body) tuples as a
    response-record WARC, one gzip member per record like Common Crawl."""
    import gzip as _gzip

    out = b""
    for url, date, body in records:
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
        hdr = (f"WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
               f"Content-Length: {len(http)}\r\n\r\n").encode()
        rec = hdr + http + b"\r\n\r\n"
        out += _gzip.compress(rec) if gzip_per_record else rec
    with open(path, "wb") as f:
        f.write(out)
