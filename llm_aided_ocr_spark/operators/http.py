"""HTTP response-envelope parsing (status line + headers, long form).

A Common-Crawl-style ``response`` record carries the raw HTTP envelope
ahead of the body; the crawl-side curation layers need it structured —
status code for redirect/error routing (:mod:`.chains`), Content-Type
for payload dispatch, Last-Modified/ETag for re-fetch scheduling
against :func:`~llm_aided_ocr_spark.operators.snapshots.snapshot_diff`.
The reference repo has no HTTP layer; this is part of the
brief-mandated web-curation suite.

Contract (RFC 9112 field syntax, tolerantly):

* the envelope is the text up to the first blank line (CRLF or bare LF
  accepted — real crawls contain both);
* line 1 is the status line → ``http_version``, ``status`` (NULL if
  unparseable);
* each subsequent ``name: value`` line becomes one row — name
  LOWERCASED (header names are case-insensitive; lowercasing makes
  the relation joinable), value trimmed of optional whitespace;
  obs-fold continuation lines (leading SP/HTAB) are appended to the
  previous row's value with a single space, per the RFC's
  interpretation rule;
* malformed lines (no colon) are skipped — a torn envelope still
  yields its parseable rows.

Scale shape: one native ``split`` + ``aggregate``-based fold +
``posexplode`` — scan-fused, zero Python, zero shuffle. The fold (for
obs-fold continuations) runs over the per-document line array only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_STATUS_RE = r"(?s)^HTTP/([0-9][.0-9]*)[ \t]+([0-9]{3})"


def _ows_trim(col: Column) -> Column:
    """RFC 9110 OWS trim — SP and HTAB. (``F.trim`` strips spaces
    only, so an obs-fold continuation's leading tab would survive.)"""
    return F.regexp_replace(col, r"^[ \t]+|[ \t]+$", "")


def _envelope(raw: Column) -> Column:
    """Text up to the first blank line; the whole input if none."""
    norm = F.replace(raw, F.lit("\r\n"), F.lit("\n"))
    sep = F.instr(norm, "\n\n")
    return F.when(sep > 0, F.substring(norm, F.lit(1), sep - 1)).otherwise(norm)


def http_status(fetch_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, http_version, status)`` — the status line alone (both
    NULL when the payload does not start with an HTTP status line)."""
    raw = F.decode(F.coalesce(F.col("payload").cast("binary"), F.lit(b"")), "UTF-8")
    ver = F.regexp_extract(raw, _STATUS_RE, 1)
    code = F.regexp_extract(raw, _STATUS_RE, 2)
    return fetch_df.select(
        F.col(id_col).alias("id"),
        F.when(ver != "", ver).alias("http_version"),
        F.when(code != "", code.cast("int")).alias("status"),
    )


def http_headers(fetch_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, header_ix, name, value)`` — one row per header field of
    the response envelope, 0-based in wire order after obs-fold
    merging. See the module docstring for the full contract."""
    raw = F.decode(F.coalesce(F.col("payload").cast("binary"), F.lit(b"")), "UTF-8")
    lines = F.split(_envelope(raw), F.lit("\n"))
    # drop the status line; fold obs-fold continuations into their
    # predecessor (array-local aggregate — no shuffle)
    tail = F.slice(lines, 2, F.greatest(F.size(lines) - 1, F.lit(0)))
    folded = F.aggregate(
        tail,
        F.array().cast("array<string>"),
        lambda acc, ln: F.when(
            (F.size(acc) > 0)
            & (F.startswith(ln, F.lit(" ")) | F.startswith(ln, F.lit("\t"))),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.concat(
                        F.element_at(acc, -1), F.lit(" "), _ows_trim(ln)
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(ln))),
    )
    colon = lambda ln: F.instr(ln, ":")  # noqa: E731
    fields = F.filter(folded, lambda ln: F.instr(ln, ":") > 0)
    pairs = F.transform(
        fields,
        lambda ln: F.struct(
            F.lower(_ows_trim(F.substring(ln, F.lit(1), colon(ln) - 1))).alias(
                "name"
            ),
            _ows_trim(
                F.substring(ln, colon(ln) + 1, F.length(ln) - colon(ln))
            ).alias("value"),
        ),
    )
    pairs = F.filter(pairs, lambda p: p["name"] != "")
    return fetch_df.select(
        F.col(id_col).alias("id"), F.posexplode(pairs).alias("header_ix", "h")
    ).select(
        "id", "header_ix",
        F.col("h.name").alias("name"),
        F.col("h.value").alias("value"),
    )
