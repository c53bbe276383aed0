"""MIME sniffing (magic bytes) and declared-vs-sniffed dispatch audit.

A Common-Crawl-style fetch carries both a server-declared Content-Type
header and the raw payload bytes; the two disagree constantly (servers
default to ``text/html`` for PDFs, label gzip as ``text/plain``, omit
the header entirely). The extraction dispatcher must route on the
BYTES, not the header — sending a PDF through the HTML boilerplate
stripper yields garbage that then poisons dedup signatures downstream.
The reference repo (/root/reference/llm_aided_ocr.py) dispatches on
file extension (it only ever reads ``.pdf``); at crawl scale the
payload itself is the only trustworthy signal, so this implements the
relevant subset of WHATWG MIME-sniffing (https://mimesniff.spec.whatwg.org/)
pattern matching as native byte-prefix comparisons.

Signature table (checked in order — first match wins, mirroring the
spec's table ordering; the HTML check scans past leading whitespace as
the spec requires):

* ``%PDF-``                         → ``application/pdf``
* ``\\x1f\\x8b``                    → ``application/gzip``
* ``PK\\x03\\x04``                  → ``application/zip``
* ``\\x89PNG\\r\\n\\x1a\\n``        → ``image/png``
* ``\\xff\\xd8\\xff``               → ``image/jpeg``
* ``GIF87a`` / ``GIF89a``           → ``image/gif``
* ``RIFF....WEBP``                  → ``image/webp``
* leading-WS-tolerant ``<!doctype html`` / ``<html`` / ``<head`` /
  ``<body`` / ``<script`` / ``<iframe`` / ``<!--`` (case-insensitive)
  → ``text/html``
* leading-WS-tolerant ``<?xml``     → ``text/xml``
* ``{`` or ``[`` first non-WS byte  → ``application/json`` (crawl
  pragmatic: API responses; not in the WHATWG table)
* anything else                     → ``application/octet-stream``

Scale shape: pure native column expressions over a bounded prefix of
the binary (``substring`` on binary is zero-copy prefix slicing in
Tungsten) — zero Python, zero shuffle, scan-fused; the audit join-free
(declared type normalized with native string ops on the SAME row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: bytes examined — the WHATWG resource header is the first 1445 bytes,
#: but every pattern above resolves inside this prefix.
_SNIFF_LEN = 64


def _prefix_is(raw: Column, sig: bytes) -> Column:
    return F.substring(raw, 1, len(sig)) == F.lit(sig)


def _sniff_column(raw: Column) -> Column:
    """The sniffed MIME type for a binary column (see module table)."""
    head = F.substring(raw, 1, _SNIFF_LEN)
    # text-shaped checks operate on a lenient Latin-1-safe decode of the
    # prefix: try_to_* is unavailable for decode, and UTF-8 decode can
    # raise under ANSI mode on binary junk — but every byte sequence is
    # valid ISO-8859-1, and the markers we match are pure ASCII. The
    # leading strip covers the WHATWG whitespace set (TAB LF FF CR SP);
    # ltrim would strip 0x20 only.
    text = F.regexp_replace(
        F.decode(head, "ISO-8859-1"), "^[\\t\\n\\f\\r ]+", ""
    )
    low = F.lower(text)
    html_markers = [
        "<!doctype html", "<html", "<head", "<body", "<script",
        "<iframe", "<!--",
    ]
    is_html = None
    for m in html_markers:
        c = F.startswith(low, F.lit(m))
        is_html = c if is_html is None else (is_html | c)
    first = F.substring(text, 1, 1)
    return (
        F.when(_prefix_is(raw, b"%PDF-"), "application/pdf")
        .when(_prefix_is(raw, b"\x1f\x8b"), "application/gzip")
        .when(_prefix_is(raw, b"PK\x03\x04"), "application/zip")
        .when(_prefix_is(raw, b"\x89PNG\r\n\x1a\n"), "image/png")
        .when(_prefix_is(raw, b"\xff\xd8\xff"), "image/jpeg")
        .when(
            _prefix_is(raw, b"GIF87a") | _prefix_is(raw, b"GIF89a"),
            "image/gif",
        )
        .when(
            (F.substring(raw, 1, 4) == F.lit(b"RIFF"))
            & (F.substring(raw, 9, 4) == F.lit(b"WEBP")),
            "image/webp",
        )
        .when(is_html, "text/html")
        .when(F.startswith(low, F.lit("<?xml")), "text/xml")
        .when(first.isin("{", "["), "application/json")
        .otherwise("application/octet-stream")
    )


def sniff_mime(fetch_df: DataFrame) -> DataFrame:
    """``(id, sniffed_type)`` — the magic-byte MIME type per payload.
    NULL/empty payloads sniff as ``application/octet-stream`` (nothing
    to dispatch on, but the row survives for diagnostics)."""
    raw = F.coalesce(F.col("payload").cast("binary"), F.lit(b""))
    return fetch_df.select(
        F.col("url").alias("id"), _sniff_column(raw).alias("sniffed_type")
    )


def normalize_content_type(declared: Column) -> Column:
    """A declared Content-Type header value → its bare lowercase
    ``type/subtype`` essence: parameters (``; charset=...``) dropped,
    OWS trimmed. NULL in → NULL out (header absent)."""
    essence = F.substring_index(declared, ";", 1)
    return F.lower(F.regexp_replace(essence, r"^[ \t]+|[ \t]+$", ""))


def mime_dispatch_audit(fetch_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, declared_type, sniffed_type, agree)`` — the dispatch
    audit relation: ``declared_type`` is the normalized header essence
    (NULL when the header is absent), ``agree`` is true only when both
    sides are present and equal. Filter ``NOT agree`` for the
    route-on-bytes override set; aggregate by the pair for the crawl
    health report. Join-free — both signals are same-row projections,
    so the audit fuses into the scan."""
    raw = F.coalesce(F.col("payload").cast("binary"), F.lit(b""))
    declared = normalize_content_type(F.col("content_type"))
    declared = F.when(declared != "", declared)  # absent/blank → NULL
    sniffed = _sniff_column(raw)
    return fetch_df.select(
        F.col(id_col).alias("id"),
        declared.alias("declared_type"),
        sniffed.alias("sniffed_type"),
        F.coalesce(declared == sniffed, F.lit(False)).alias("agree"),
    )
