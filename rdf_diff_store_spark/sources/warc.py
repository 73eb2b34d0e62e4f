"""WARC source/sink — the Common-Crawl container format the
north_star's input table is extracted from (ISO 28500 / WARC 1.0).

The input_hint table (url, warc_ts, html, text, lang) is what a crawl
DELIVERS; what a crawl STORES is WARC: a concatenation of records,
each a header block (``WARC/1.0`` + name:value lines, of which
``Content-Length`` frames the payload) followed by a captured HTTP
response. Common Crawl ships these as gzip files with ONE GZIP MEMBER
PER RECORD, which is what makes a 1 GB ``.warc.gz`` streamable
without a split index: a reader inflates member-by-member and never
holds more than one record.

This module is the bridge in both directions:

* ``warc_record_str(url, warc_ts, html)`` — a pure JVM expression
  building a spec-shaped response record (WARC headers + HTTP/1.1
  envelope, CRLF line ends, Content-Length framing), so the encode
  side is map-only whole-stage codegen at any corpus size.
* ``parse_warc_bytes(buf)`` — pure-Python record scanner (plain or
  member-gzip input).
* ``parse_warc_column(df, col)`` — the Arrow-batched parse of a
  binary column of WARC buffers → the input_hint page shape (url,
  warc_ts, html). Over files it runs behind a ``binaryFile`` scan
  (one row per file, parallelism = files, exactly how the 100-TB
  crawl is laid out: ~1 GB per file, tens of thousands of files).

Reference context: rdf-diff-store ingests already-extracted graphs
(src/bin/rdf-diff-writer.rs:45-91); the WARC layer is the north_star
upstream the reference never sees. No third-party WARC library is
used — the record grammar is ~40 lines of the public spec.
"""

from __future__ import annotations

import io
import zlib
from datetime import datetime
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CRLF = "\r\n"
_WARC_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampNTZType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("lang", T.StringType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
    ]
)


# --- encode (JVM-side, map-only) ----------------------------------------


def warc_record_str(
    url: Column, warc_ts: Column, html: Column, lang: Column | None = None
) -> Column:
    """One WARC/1.0 response record as a string column.

    Layout (ISO 28500 §4): version line, named header fields, blank
    line, then exactly Content-Length octets of block, then CRLF CRLF.
    The block is the captured HTTP response (status line + headers +
    body), Common Crawl's ``application/http; msgtype=response``.

    ``warc_ts`` is the parquet TIMESTAMP_NTZ; ``date_format`` renders
    its wall-clock fields directly (no session-TZ dependence — the
    timezone-proofing rule in CLAUDE.md), and WARC-Date is defined as
    UTC which is exactly what the NTZ column stores.

    String (not binary) on purpose: payloads here are UTF-8 html, and
    string concat keeps the expression usable inside concat_ws /
    aggregate for multi-record file assembly; cast the result to
    binary at the parse boundary.
    """
    body = html.cast("string")
    http = F.concat(
        F.lit(
            "HTTP/1.1 200 OK" + CRLF + "Content-Type: text/html" + CRLF + "Content-Length: "
        ),
        F.octet_length(body).cast("string"),
        F.lit(CRLF + CRLF),
        body,
    )
    # Common Crawl stamps its CLD2 result as a WARC named field; the
    # crawl's language call is container metadata, not page content
    lang_hdr = (
        F.lit("")
        if lang is None
        else F.coalesce(
            F.concat(
                F.lit("WARC-Identified-Content-Language: "), lang, F.lit(CRLF)
            ),
            F.lit(""),
        )
    )
    return F.concat(
        F.lit("WARC/1.0" + CRLF),
        F.lit("WARC-Type: response" + CRLF),
        F.lit("WARC-Target-URI: "),
        url,
        F.lit(CRLF),
        F.lit("WARC-Date: "),
        F.date_format(warc_ts, _WARC_DATE_FMT),
        F.lit(CRLF),
        lang_hdr,
        F.lit("Content-Type: application/http; msgtype=response" + CRLF),
        F.lit("Content-Length: "),
        F.octet_length(http).cast("string"),
        F.lit(CRLF + CRLF),
        http,
        F.lit(CRLF + CRLF),
    )


# --- decode (pure python core, Arrow-batched at the boundary) ------------


def _gunzip_members(buf: bytes) -> bytes:
    """Inflate ALL gzip members (Common Crawl: one member per record).

    ``zlib.decompressobj(wbits=31)`` stops at the first member's end;
    the loop re-seeds from ``unused_data`` until the buffer is drained
    — constant memory per member, never whole-file wbits tricks.
    """
    out = io.BytesIO()
    rest = buf
    while rest:
        d = zlib.decompressobj(wbits=31)
        out.write(d.decompress(rest))
        out.write(d.flush())
        if not d.unused_data or d.unused_data == rest:
            break
        rest = d.unused_data
    return out.getvalue()


def parse_warc_bytes(buf: bytes) -> Iterator[dict]:
    """Scan one WARC buffer (plain or member-gzip) into record dicts.

    Content-Length framing only — payload bytes are never searched
    for delimiters, so binary payloads (images, pdfs) are safe. Yields
    ``{url, warc_ts, html, lang, rec_type, content_length}``; the html
    is the HTTP response body (headers stripped) for response records,
    the raw block otherwise.
    """
    if buf[:2] == b"\x1f\x8b":
        buf = _gunzip_members(buf)
    pos, n = 0, len(buf)
    while pos < n:
        # skip inter-record padding
        while pos < n and buf[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            return
        head_end = buf.find(CRLF.encode() * 2, pos)
        if head_end < 0:
            return
        head = buf[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split(CRLF)
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"not a WARC record at offset {pos}: {lines[0][:40]!r}")
        fields = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            fields[k.strip().lower()] = v.strip()
        clen = int(fields["content-length"])
        block = buf[head_end + 4 : head_end + 4 + clen]
        pos = head_end + 4 + clen
        rec_type = fields.get("warc-type", "")
        body = block
        if rec_type == "response":
            http_end = block.find(CRLF.encode() * 2)
            if http_end >= 0:
                body = block[http_end + 4 :]
        ts = None
        if "warc-date" in fields:
            # WARC 1.0 emits whole seconds; WARC 1.1 (and some real
            # crawls) allows fractional seconds — accept both
            raw_ts = fields["warc-date"]
            fmt = "%Y-%m-%dT%H:%M:%S.%fZ" if "." in raw_ts else "%Y-%m-%dT%H:%M:%SZ"
            ts = datetime.strptime(raw_ts, fmt)
        yield {
            "url": fields.get("warc-target-uri"),
            "warc_ts": ts,
            "html": body,
            "lang": fields.get("warc-identified-content-language"),
            "rec_type": rec_type,
            "content_length": clen,
        }


def _parse_batches(it: Iterable[pd.DataFrame], col: str) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = []
        for buf in pdf[col]:
            if buf is None:
                continue
            rows.extend(parse_warc_bytes(bytes(buf)))
        yield pd.DataFrame(
            rows,
            columns=["url", "warc_ts", "html", "lang", "rec_type", "content_length"],
        )


def parse_warc_column(df: DataFrame, col: str = "content") -> DataFrame:
    """Arrow-batched parse of a binary WARC-buffer column into page
    rows — the shared decode path for files and in-flight buffers."""
    return df.select(col).mapInPandas(
        lambda it: _parse_batches(it, col), schema=PAGE_SCHEMA
    )
