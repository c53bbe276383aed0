"""Soft-404 detection: 200-status pages whose CONTENT says "not found".

Misconfigured servers answer missing urls with status 200 and an error
page body; at crawl scale those pages (a) poison dedup — thousands of
urls on one host share one "Page Not Found" body, inflating near-dup
clusters — and (b) feed garbage into the training corpus. Detection
follows the classic Bar-Yossef et al. (WWW'04, "Sic transit gloria
telae") observation that soft-404 bodies are short, template-like and
marker-bearing; the full method (fetch a random sibling url, compare)
needs live fetches, so this operator implements the content-side
heuristic used as its first-stage filter. The reference repo has no
fetch layer; this is part of the brief-mandated web-curation suite.

A page is flagged iff ALL of:

* declared ``status`` is 200 (real 4xx/5xx are already routed by
  status — NULL status is treated as unknown, not flagged);
* its lowercased text matches one of the marker phrases
  (``DEFAULT_MARKERS`` below) — matching is substring, so "404"
  is deliberately NOT in the set (false-positives on prose);
* its word count is below 200 (error templates are short;
  a long article that merely quotes "page not found" survives).

Output keeps the matched marker (first in ``DEFAULT_MARKERS``, a
deterministic tie-break) and the word count for threshold tuning.

Scale shape: pure native projections (zero Python, zero shuffle,
scan-fused); the marker scan is one lowercase pass plus k substring
probes over the already-extracted text column.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_MARKERS: List[str] = [
    "page not found",
    "file not found",
    "404 not found",
    "error 404",
    "does not exist",
    "no longer available",
    "has been removed",
    "cannot be found",
]


def soft404_flags(df: DataFrame) -> DataFrame:
    """``(id, status, n_words, marker, is_soft404)`` — one row per
    input row; ``marker`` is the first matching phrase of
    :data:`DEFAULT_MARKERS` (NULL if none), ``is_soft404`` applies the
    full rule from the module docstring."""
    text = F.coalesce(F.col("text"), F.lit(""))
    low = F.lower(text)
    marker = None
    for m in DEFAULT_MARKERS:
        hit = F.when(low.contains(m.lower()), F.lit(m))
        marker = hit if marker is None else F.coalesce(marker, hit)
    n_words = F.size(F.split(F.trim(text), r"\s+")) - F.when(
        F.trim(text) == "", 1
    ).otherwise(0)
    status = F.col("status")
    return df.select(
        F.col("url").alias("id"),
        status.alias("status"),
        n_words.alias("n_words"),
        marker.alias("marker"),
        F.coalesce(
            (status == 200)
            & marker.isNotNull()
            & (n_words < F.lit(200)),
            F.lit(False),  # NULL status = unknown, never flagged
        ).alias("is_soft404"),
    )
