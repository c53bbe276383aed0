"""Publication-date extraction with a source-precedence ladder.

Training-data pipelines weight, filter and decontaminate by document
AGE (freshness mixing, cutoff-date filtering, time-sliced eval splits),
but crawled pages declare their date in several competing places. This
operator extracts the three channel families trafilatura-class
extractors rely on and resolves them by trust:

1. ``<meta>`` declarations, by key priority (``article:published_time``
   — the OpenGraph channel publishers actually fill — then
   ``datepublished``, ``date``, ``dc.date``, ``dc.date.issued``,
   ``parsely-pub-date``); the PRIORITY list order decides between
   multiple declared keys, not document order;
2. the first ``<time datetime="...">`` element;
3. a date embedded in the URL path (``/YYYY/MM/DD/`` or
   ``/YYYY-MM-DD/`` — month/day may be 1-digit in the slashed form).

Each candidate normalizes to its leading ``YYYY-MM-DD`` via
``try_to_date`` (NULL on impossible dates like Feb 30 — and ANSI-safe:
no throw under ``spark.sql.ansi.enabled``) and must land inside
``[min_year, max_year]``; ``pub_date`` is the first valid candidate in
ladder order and ``source`` names the winning channel.

Scale shape: pure native regexp projections over the decoded html —
zero Python, zero joins/shuffle, scan-fused. Document-local; no
reference analogue (the reference ingests PDFs,
``llm_aided_ocr.py:411-426``); part of the web-curation suite.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_META_KEYS: List[str] = [
    "article:published_time",
    "datepublished",
    "date",
    "dc.date",
    "dc.date.issued",
    "parsely-pub-date",
]

_ISO_RE = r"(\d{4}-\d{2}-\d{2})"
_TIME_TAG_RE = r'(?is)<time\b[^>]*\bdatetime\s*=\s*["\']([^"\']*)["\']'
_URL_SLASHED_RE = r"/((?:19|20)\d{2})/(\d{1,2})/(\d{1,2})(?:/|$|\?)"
_URL_DASHED_RE = r"/((?:19|20)\d{2}-\d{2}-\d{2})(?:/|$|\?)"


def publication_dates(
    pages_df: DataFrame,
    id_col: str = "url",
    meta_keys: Optional[List[str]] = None,
    min_year: int = 1995,
) -> DataFrame:
    """``(id, date_meta, date_time_tag, date_url, pub_date, source)`` —
    one row per page; the three channel columns are each normalized and
    range-gated independently (NULL when absent or invalid), then the
    ladder picks ``pub_date``."""
    if meta_keys is None:
        meta_keys = DEFAULT_META_KEYS
    if not meta_keys:
        raise ValueError("meta_keys must be non-empty (or None for defaults)")
    from llm_aided_ocr_spark.operators.extract import (
        _META_CONTENT_RE,
        _META_KEY_RE,
        _META_TAG_RE,
    )

    # Every stage below hoists its expensive expressions into NAMED
    # columns of a narrowing select: the ladder references each channel
    # up to three times (own output column, the pub_date coalesce, the
    # source CASE) and the meta channel references the tag array once
    # per priority key — left inline, the single-Project form evaluated
    # the full-html regexp_extract_all 54 times per row and fell out of
    # whole-stage codegen (plans/r06/publication_dates_before.txt).
    # CollapseProject keeps non-cheap aliases, so each survives as one
    # evaluation (guide §1.2; same fix as capture_novelty/dup_spans).
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    tags = F.regexp_extract_all(h, F.lit(_META_TAG_RE), F.lit(1))
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.lower(F.regexp_extract(t, _META_KEY_RE, 1)).alias("key"),
            F.regexp_extract(t, _META_CONTENT_RE, 1).alias("content"),
        ),
    )
    url = F.coalesce(F.col("url"), F.lit(""))
    s1 = pages_df.select(
        F.col(id_col).alias("_pd_id"),
        pairs.alias("_pairs"),
        F.regexp_extract(h, _TIME_TAG_RE, 1).alias("_raw_time"),
        F.regexp_extract(url, _URL_SLASHED_RE, 1).alias("_u_y"),
        F.regexp_extract(url, _URL_SLASHED_RE, 2).alias("_u_m"),
        F.regexp_extract(url, _URL_SLASHED_RE, 3).alias("_u_d"),
        F.regexp_extract(url, _URL_DASHED_RE, 1).alias("_u_dash"),
    )

    # meta: first PRIORITY key with any declaration (its first tag in
    # document order breaks ties within one key)
    def _first_for_key(key_l: str):
        return F.get(
            F.filter(F.col("_pairs"), lambda p: p["key"] == F.lit(key_l)),
            0,
        )["content"]

    meta_raw = None
    for k in meta_keys:
        hit = _first_for_key(k.lower())
        meta_raw = hit if meta_raw is None else F.coalesce(meta_raw, hit)
    slashed = F.when(
        F.col("_u_y") != "",
        F.concat_ws(
            "-",
            F.col("_u_y"),
            F.lpad(F.col("_u_m"), 2, "0"),
            F.lpad(F.col("_u_d"), 2, "0"),
        ),
    )

    def _to_date(raw):  # leading ISO date (validity via try_to_date)
        return F.try_to_date(F.regexp_extract(raw, _ISO_RE, 1), "yyyy-MM-dd")

    s2 = s1.select(
        "_pd_id",
        _to_date(F.coalesce(meta_raw, F.lit(""))).alias("_d_meta"),
        _to_date(F.col("_raw_time")).alias("_d_time"),
        _to_date(F.coalesce(slashed, F.col("_u_dash"))).alias("_d_url"),
    )

    def _gate(d):  # range gate (NULL outside [min_year, max_year])
        return F.when((F.year(d) >= min_year) & (F.year(d) <= 2035), d)

    s3 = s2.select(
        "_pd_id",
        _gate(F.col("_d_meta")).alias("_date_meta"),
        _gate(F.col("_d_time")).alias("_date_time_tag"),
        _gate(F.col("_d_url")).alias("_date_url"),
    )

    date_meta = F.col("_date_meta")
    date_time_tag = F.col("_date_time_tag")
    date_url = F.col("_date_url")
    pub = F.coalesce(date_meta, date_time_tag, date_url)
    source = (
        F.when(date_meta.isNotNull(), F.lit("meta"))
        .when(date_time_tag.isNotNull(), F.lit("time"))
        .when(date_url.isNotNull(), F.lit("url"))
    )
    return s3.select(
        F.col("_pd_id").alias("id"),
        date_meta.alias("date_meta"),
        date_time_tag.alias("date_time_tag"),
        date_url.alias("date_url"),
        pub.alias("pub_date"),
        source.alias("source"),
    )
