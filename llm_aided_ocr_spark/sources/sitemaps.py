"""Sitemap (sitemaps.org XML) parsing — the crawl-frontier input.

A production crawl seeds and refreshes its frontier from sitemaps: the
``<urlset>`` documents advertise per-URL ``lastmod`` / ``changefreq`` /
``priority`` hints that drive re-fetch scheduling, and ``<sitemapindex>``
documents fan out to child sitemaps. This module parses both shapes as
pure native column expressions, the same way the WARC/robots layer does:
one projection over the decoded xml — ``regexp_extract_all`` for the
element blocks, a per-block ``transform`` for the fields, one
``explode`` — zero Python, zero shuffle, fuses into the scan.

Every regex lives in the Java-regex ∩ RE2 common subset so the driver's
DuckDB oracle can replay identical patterns. The reference repo
(/root/reference/llm_aided_ocr.py) has no crawl layer; this is part of
the brief-mandated web-curation suite (BASELINE.json north_rule),
modeled on the public sitemaps.org 0.9 protocol.

Malformed input policy (mirrors ``sources/warc.py``): a block missing
``<loc>`` yields no row; optional fields absent → NULL; a torn block
(no closing tag) is skipped by the non-greedy element match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_URL_BLOCK = r"(?is)<url\b[^>]*>(.*?)</url>"
_SITEMAP_BLOCK = r"(?is)<sitemap\b[^>]*>(.*?)</sitemap>"


def _decoded(col: Column) -> Column:
    # accept string or binary sitemap bodies; NULL → empty document
    return F.decode(F.coalesce(col.cast("binary"), F.lit(b"")), "UTF-8")


def _field(block: Column, tag: str) -> Column:
    # full whitespace strip (Spark's trim removes spaces only, not \n)
    v = F.regexp_replace(
        F.regexp_extract(block, rf"(?is)<{tag}[^>]*>(.*?)</{tag}>", 1),
        r"^\s+|\s+$",
        "",
    )
    return F.nullif(v, F.lit(""))


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """``(host, loc, lastmod, changefreq, priority)`` — one row per
    ``<url>`` entry across all ``<urlset>`` sitemaps in ``df``.

    ``loc`` is whitespace-trimmed (the spec allows surrounding
    whitespace); blocks with no ``<loc>`` are dropped; ``lastmod`` /
    ``changefreq`` stay as declared strings (scheduling policy owns
    interpretation), ``priority`` casts to double (NULL when absent or
    non-numeric, via try-semantics of the string cast)."""
    blocks = F.regexp_extract_all(_decoded(F.col("sitemap_xml")), F.lit(_URL_BLOCK), 1)
    entries = F.transform(
        blocks,
        lambda b: F.struct(
            _field(b, "loc").alias("loc"),
            _field(b, "lastmod").alias("lastmod"),
            _field(b, "changefreq").alias("changefreq"),
            _field(b, "priority").try_cast("double").alias("priority"),
        ),
    )
    return (
        df.select(F.col("host"), F.explode(entries).alias("_e"))
        .select(
            "host",
            F.col("_e.loc").alias("loc"),
            F.col("_e.lastmod").alias("lastmod"),
            F.col("_e.changefreq").alias("changefreq"),
            F.col("_e.priority").alias("priority"),
        )
        .filter(F.col("loc").isNotNull())
    )


def sitemap_index_entries(df: DataFrame) -> DataFrame:
    """``(host, child_loc, lastmod)`` — one row per ``<sitemap>`` entry
    of a ``<sitemapindex>`` document: the fan-out list a crawler walks
    to fetch child sitemaps. Same native shape as
    :func:`parse_sitemaps`."""
    blocks = F.regexp_extract_all(
        _decoded(F.col("sitemap_xml")), F.lit(_SITEMAP_BLOCK), 1
    )
    entries = F.transform(
        blocks,
        lambda b: F.struct(
            _field(b, "loc").alias("child_loc"),
            _field(b, "lastmod").alias("lastmod"),
        ),
    )
    return (
        df.select(F.col("host"), F.explode(entries).alias("_e"))
        .select(
            "host",
            F.col("_e.child_loc").alias("child_loc"),
            F.col("_e.lastmod").alias("lastmod"),
        )
        .filter(F.col("child_loc").isNotNull())
    )


def crawl_coverage(declared: DataFrame, crawled: DataFrame) -> DataFrame:
    """``(host, n_declared, n_crawled_declared, n_undeclared_crawled,
    coverage)`` — the per-host crawl-coverage audit between what a
    site's sitemaps DECLARE and what the crawl actually FETCHED:
    ``coverage`` = fraction of declared urls that were crawled (the
    sitemap-recall number site owners and crawl engineers both watch),
    and ``n_undeclared_crawled`` counts fetched urls the sitemap never
    listed (discovery via links — or crawler traps; feed them to
    url_trap_flags). Hosts appearing only in the crawl get
    ``n_declared = 0`` and NULL coverage.

    Both inputs deduplicate on exact url before counting (a url listed
    in two sitemap files or fetched twice counts once). Host comes from
    the shared native ``domain_col`` extraction on BOTH sides, so the
    audit never trusts a sitemap's claimed host over its urls' actual
    hosts.

    Shape: two document-local projections → two distinct aggregations,
    then ONE full-outer join on exact url strings and ONE per-host
    conditional aggregation. Presence of each side in the joined row
    classifies the url (declared-and-crawled / declared-only /
    crawled-only), so the three counts come from one pass — the earlier
    semi+anti+three-agg form evaluated the declared relation three
    times and the crawled one twice (each a full distinct exchange over
    the inputs). Every relation is (host, url) narrow; the url-keyed
    join co-partitions with the distincts so AQE plans it without extra
    exchanges."""
    from llm_aided_ocr_spark.operators.textstats import domain_col

    dec = (
        declared.select(F.col("loc").alias("url"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .distinct()
        .select(domain_col(F.col("url")).alias("_dh"), "url")
        .filter(F.col("_dh") != "")
    )
    cra = (
        crawled.select(F.col("url"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .distinct()
        .select(domain_col(F.col("url")).alias("_ch"), "url")
        .filter(F.col("_ch") != "")
    )
    merged = dec.join(cra, "url", "full_outer")
    in_dec = F.col("_dh").isNotNull()
    in_cra = F.col("_ch").isNotNull()
    return (
        merged.groupBy(F.coalesce("_dh", "_ch").alias("host"))
        .agg(
            F.sum(in_dec.cast("int")).cast("bigint").alias("n_declared"),
            F.sum((in_dec & in_cra).cast("int"))
            .cast("bigint")
            .alias("n_crawled_declared"),
            F.sum((in_cra & ~in_dec).cast("int"))
            .cast("bigint")
            .alias("n_undeclared_crawled"),
        )
        .select(
            "host",
            "n_declared",
            "n_crawled_declared",
            "n_undeclared_crawled",
            F.when(
                F.col("n_declared") > 0,
                F.col("n_crawled_declared").cast("double")
                / F.col("n_declared").cast("double"),
            ).alias("coverage"),
        )
    )
