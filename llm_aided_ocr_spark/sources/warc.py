"""WARC source — parse Common-Crawl-style WARC segment bytes into the
pipeline's page table ``(url, warc_ts, html)``.

WARC (ISO 28500) is the public container format Common Crawl ships:
records framed by a ``WARC/1.x`` header block (CRLF-terminated headers,
``Content-Length`` framing the payload), response records carrying an
HTTP response whose body is the page HTML. Real dumps are per-record
gzip members concatenated into one ``.warc.gz`` — a layout chosen so a
reader can split work at member boundaries; this parser accepts both
plain and (multi-member) gzip bytes.

Scale shape: one WARC segment (row of binary) → many page rows is a
pure Arrow flatMap (``operators.util.map_arrow``) — document-local, zero
shuffle, composing
with everything downstream of ``extract_text``. Segments are the unit
of parallelism exactly as in a real crawl read (CC publishes ~1 GB
segments; ``spark.read.format("binaryFile")`` or a manifest join feeds
them in). Malformed records are SKIPPED, not raised — a 100 TB crawl
always contains torn records, and a reader that throws on one record
loses the segment.

Timestamps: ``WARC-Date`` is ISO-8601 UTC. The parser emits BOTH the
raw header string and ``warc_ts_unix`` (epoch seconds, computed with
calendar.timegm — timezone-free by construction, so session-timezone
sweeps cannot shift it); :func:`with_warc_ts` derives the
``warc_ts timestamp`` column via ``timestamp_seconds`` for the
input-contract shape ``(url, warc_ts, html, ...)``.

No reference analogue (the reference ingests PDFs one file at a time,
llm_aided_ocr.py:main); the format is public knowledge.
"""

from __future__ import annotations

import calendar
import re
import zlib
from datetime import datetime
from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import map_arrow

_CRLF2 = b"\r\n\r\n"
_DATE_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(?:\.\d+)?Z$"
)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (the .warc.gz layout —
    ``gzip.decompress`` reads only the first member). A corrupt member
    ends decompression and returns the bytes decoded so far — mirroring
    the torn-record early-return in :func:`iter_warc_records` — instead
    of raising out of the Spark task (and, after retries, failing the
    whole job for one bad segment)."""
    out: List[bytes] = []
    pos = 0
    while pos < len(data) and data[pos : pos + 2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data[pos:]))
        except zlib.error:
            break
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return b"".join(out)


def _parse_date_unix(s: str) -> Optional[int]:
    m = _DATE_RE.match(s.strip())
    if not m:
        return None
    y, mo, d, h, mi, sec = (int(g) for g in m.groups())
    try:
        return calendar.timegm(
            datetime(y, mo, d, h, mi, sec).timetuple()
        )
    except ValueError:
        return None


def iter_warc_records(
    data: bytes,
) -> Iterator[Tuple[dict, bytes]]:
    """Yield ``(headers, payload)`` per WARC record; torn/malformed
    records end iteration for the remainder of the blob (framing is
    lost once Content-Length cannot be trusted)."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        ix = data.find(b"WARC/", pos)
        if ix < 0:
            return
        hdr_end = data.find(_CRLF2, ix)
        if hdr_end < 0:
            return
        headers: dict = {}
        for line in data[ix:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower().decode("ascii", "replace")] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return  # unframed record: cannot resync safely
        body_start = hdr_end + len(_CRLF2)
        if body_start + length > n:
            return  # torn tail
        yield headers, data[body_start : body_start + length]
        pos = body_start + length


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope when present (status line +
    headers up to the first CRLFCRLF); raw payloads pass through."""
    if payload[:5] in (b"HTTP/",):
        ix = payload.find(_CRLF2)
        if ix >= 0:
            return payload[ix + len(_CRLF2) :]
    return payload


def _parse_records(
    segments: DataFrame,
    segment_col: str | None,
    warc_type: str,
    body,
    body_field: str,
) -> DataFrame:
    """``(segment, url, warc_date, warc_ts_unix, <body_field>)`` — one row
    per ``warc_type`` record with a target URI across all segment blobs;
    ``body`` maps the record payload to the last column."""

    def _parse(blobs, names=None):
        rows = []
        for name, blob in zip(names or [None] * len(blobs), blobs):
            if blob is None:
                continue
            for headers, payload in iter_warc_records(blob):
                url = headers.get("warc-target-uri")
                if headers.get("warc-type") != warc_type or not url:
                    continue
                date = headers.get("warc-date", "")
                rows.append(
                    (name, url, date, _parse_date_unix(date), body(payload))
                )
        return zip(*rows) if rows else ([],) * 5

    cols = ["content"] + ([segment_col] if segment_col else [])
    return map_arrow(
        segments.select(*cols),
        _parse,
        "segment string, url string, warc_date string, warc_ts_unix bigint, "
        f"{body_field}",
    )


def parse_warc(segments: DataFrame, segment_col: str | None = None) -> DataFrame:
    """``(segment, url, warc_date, warc_ts_unix, html)`` — one row per
    WARC *response* record across all segment blobs (warcinfo/request/
    metadata records are skipped, like every crawl reader). ``segment``
    carries ``segment_col``'s value (or a null string) so lineage
    counters can attribute pages to their source segment."""
    return _parse_records(
        segments, segment_col, "response", _http_body,
        "html binary",
    )


def parse_wet(segments: DataFrame, segment_col: str | None = None) -> DataFrame:
    """``(segment, url, warc_date, warc_ts_unix, text)`` — one row per
    WET *conversion* record. WET is Common Crawl's derived
    extracted-text exchange format: the same WARC (ISO 28500) framing
    as the raw crawl, but each record is ``WARC-Type: conversion`` with
    a ``text/plain`` payload (the extracted page text) and NO HTTP
    envelope. Reading WET instead of raw WARC skips the html-strip
    stage entirely — the cheapest possible ingest when someone else
    already paid for extraction.

    Same scale shape as :func:`parse_warc`: segment blob → rows is a
    document-local Arrow flatMap, zero shuffle; torn records
    end the blob's iteration instead of failing the task. Payload bytes
    are decoded UTF-8 with replacement (WET is specified UTF-8)."""
    return _parse_records(
        segments, segment_col, "conversion",
        lambda payload: payload.decode("utf-8", "replace"), "text string",
    )


def wet_record_col(url, date, text) -> "F.Column":
    """ONE WET conversion record as a native string expression —
    ``Content-Length`` is the OCTET length of the UTF-8 payload (the
    framing contract), so non-ASCII text round-trips byte-exactly."""
    body = F.coalesce(text, F.lit(""))
    return F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: "), date,
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length(body).cast("string"),
        F.lit("\r\n\r\n"), body, F.lit("\r\n\r\n"),
    )


def pages_to_wet(pages: DataFrame) -> DataFrame:
    """``(seg, content binary)`` — serialize extracted pages back into
    WET segment blobs (a warcinfo record followed by one conversion
    record per page), the exchange format for handing a curated corpus
    to a consumer that reads Common Crawl derivatives. The record
    strings are built natively (:func:`wet_record_col`, codegen) and
    each segment is ONE ``collect_list`` aggregation — text crosses a
    single exchange, partitioned by ``seg``; size segments by
    choosing that key (CC uses ~150 MB compressed). Record order within
    a segment follows aggregation arrival order — the format attaches
    no meaning to it; sort upstream if a consumer does. Write the
    ``content`` column with any binary sink (one file per row)."""
    info = (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
    )
    rec = wet_record_col(F.col("url"), F.col("warc_date"), F.col("text"))
    return (
        pages.select(F.col("seg"), rec.alias("_rec"))
        .groupBy("seg")
        .agg(
            F.concat(F.lit(info), F.concat_ws("", F.collect_list("_rec")))
            .cast("binary")
            .alias("content")
        )
    )


def with_warc_ts(pages: DataFrame) -> DataFrame:
    """Derive the input-contract ``warc_ts timestamp`` column from the
    epoch seconds (``timestamp_seconds`` — epoch-based, so the session
    timezone cannot shift the instant)."""
    return pages.withColumn(
        "warc_ts", F.timestamp_seconds(F.col("warc_ts_unix"))
    )
