"""hreflang alternate extraction and multilingual cluster keys.

Publishers declare translated variants with ``<link rel="alternate"
hreflang="xx" href="...">``; for an LLM training corpus those variants
are the multilingual alignment signal (parallel-text mining) AND a
dedup hazard (the ``x-default`` twin often duplicates one language
variant byte-for-byte). The reference repo has no multilingual layer;
this is part of the brief-mandated web-curation suite.

Two relations:

* :func:`hreflang_map` — ``(id, hreflang, href)``, one row per
  declared variant (BCP-47 tag lowercased, ``x-default`` kept as its
  own tag, as Google's implementation does). Both ``rel=alternate``
  and the hreflang attribute must be present; attribute order is free.
* :func:`hreflang_clusters` — ``(id, cluster_key, n_variants)``, one
  row per page that declares at least one variant. ``cluster_key`` is
  the lexicographic MIN over {own url} ∪ {declared variant urls} —
  pages of one properly-declared reciprocal group agree on the key
  without any graph traversal, so grouping by it is ONE hash
  aggregation away. (A page with broken/partial annotations can land
  in a different cluster than its siblings; resolving those needs the
  connected-components machinery in ``operators.dedup`` — this
  operator is the cheap 99% path, and its key doubles as the CC seed.)

Scale shape: the same scan-fused native chain as ``link_rels`` — one
``regexp_extract_all`` lists the link tags, per-tag attributes are
projected with ``transform`` before any explode, and the cluster key
is an ``array_min`` over the per-row array. :func:`hreflang_map` has
zero exchanges; :func:`hreflang_clusters` is also zero-exchange (the
aggregation is per-row, not cross-row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LINK_TAG_RE = r"(?is)<link\b([^>]*)>"
_REL_ATTR_RE = r"""(?is)\brel\s*=\s*["']?([^"'>\s]+(?:\s+[^"'>\s]+)*)"""
_HREFLANG_ATTR_RE = r"""(?is)\bhreflang\s*=\s*["']?([^"'>\s]+)"""
_HREF_ATTR_RE = r"""(?is)\bhref\s*=\s*["']([^"']+)["']"""


def _variants():
    """array<struct<hreflang,href>> of declared alternates per page."""
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    tags = F.regexp_extract_all(h, F.lit(_LINK_TAG_RE), F.lit(1))
    triples = F.transform(
        tags,
        lambda t: F.struct(
            F.lower(F.regexp_extract(t, _REL_ATTR_RE, 1)).alias("rel"),
            F.lower(F.regexp_extract(t, _HREFLANG_ATTR_RE, 1)).alias(
                "hreflang"
            ),
            F.regexp_extract(t, _HREF_ATTR_RE, 1).alias("href"),
        ),
    )
    wanted = F.filter(
        triples,
        lambda t: F.array_contains(F.split(t["rel"], r"\s+"), "alternate")
        & (t["hreflang"] != "")
        & (t["href"] != ""),
    )
    return F.transform(
        wanted,
        lambda t: F.struct(
            t["hreflang"].alias("hreflang"), t["href"].alias("href")
        ),
    )


def hreflang_map(pages_df: DataFrame) -> DataFrame:
    """``(id, hreflang, href)`` — one row per declared language
    variant, in document order. Pages without hreflang annotations
    yield no rows."""
    return pages_df.select(
        F.col("url").alias("id"), F.explode(_variants()).alias("v")
    ).select(
        "id",
        F.col("v.hreflang").alias("hreflang"),
        F.col("v.href").alias("href"),
    )


def hreflang_clusters(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, cluster_key, n_variants)`` — see the module docstring.
    ``n_variants`` counts DISTINCT declared hrefs (self-references,
    which proper annotations include, are part of the count)."""
    vs = _variants()
    hrefs = F.array_distinct(F.transform(vs, lambda v: v["href"]))
    return (
        pages_df.select(
            F.col(id_col).alias("id"),
            hrefs.alias("hrefs"),
        )
        .where(F.size("hrefs") > 0)
        .select(
            "id",
            F.array_min(
                F.concat(F.array(F.col("id")), F.col("hrefs"))
            ).alias("cluster_key"),
            F.size("hrefs").alias("n_variants"),
        )
    )


URL_LANG_SEG_RE = r"(?i)/([a-z]{2}(?:-[a-z]{2})?)/"


def url_bitext_candidates(df: DataFrame) -> DataFrame:
    """``(key, lang_a, url_a, lang_b, url_b)`` — cross-language page
    pairs mined from URL STRUCTURE alone (the CCAligned stage-1 recipe,
    El-Kishky et al. 2020): two urls on the same host whose paths are
    identical after every language-looking path segment (``/en/``,
    ``/fr-ca/`` …, slash-delimited — a FINAL ``/en`` with nothing after
    it is deliberately not a marker) is wildcarded are, overwhelmingly
    often, translations of each other — the zero-content candidate
    generator whose output :func:`~llm_aided_ocr_spark.operators.
    similarity.mine_bitext` then margin-scores. Complements
    :func:`hreflang_clusters` (which needs the site to DECLARE
    alternates; most don't). The pattern stays in the Java-regex ∩ RE2
    subset (no lookaround, no replacement backrefs) so the oracle
    replays it verbatim.

    Rules: the FIRST marker (in path order) is the page's language
    label (lowercased); urls with no marker produce no candidates;
    pairs are emitted per normalized key for every DISTINCT lang pair
    ``lang_a < lang_b``, one url per (key, lang) side — the
    lexicographically smallest, so a crawl that fetched ``/en/p`` twice
    (or via two mirrors) cannot duplicate pairs.

    Scale shape: one scan-fused regex projection, ONE
    ``(key, lang) → min(url)`` aggregation (map-side-combinable ``min``
    makes a url-level ``distinct`` redundant — the min over a multiset
    equals the min over its set), then the pair generation is ARRAY-
    LOCAL: one ``key → sorted (lang, url) list`` aggregation (bounded by
    the page's language count, ~dozens at worst) and a per-row ordered-
    pair expansion. No self-join — the former join re-ran the whole
    regex+aggregate subtree on BOTH sides and re-exchanged each by key
    (guide §2.4); this form moves the same rows through two keyed
    exchanges total, and ``lang_a < lang_b`` falls out of the sorted
    order."""
    u = F.col("url")
    host = F.lower(
        F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    )
    path = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    lang = F.lower(F.regexp_extract(path, URL_LANG_SEG_RE, 1))
    key = F.concat(
        host,
        F.regexp_replace(path, URL_LANG_SEG_RE, "/*/"),
    )
    base = (
        df.select(u.alias("url"))
        .filter(u.isNotNull() & (u != ""))
        .select(key.alias("key"), lang.alias("lang"), F.col("url"))
        .filter((F.col("lang") != "") & (F.col("key") != ""))
        .groupBy("key", "lang")
        .agg(F.min("url").alias("url"))
    )
    ls = base.groupBy("key").agg(
        F.sort_array(F.collect_list(F.struct("lang", "url"))).alias("_ls")
    )
    lsc = F.col("_ls")
    pair_t = (
        "array<struct<lang_a:string,url_a:string,"
        "lang_b:string,url_b:string>>"
    )
    return ls.select(
        "key",
        F.explode(
            F.flatten(
                F.transform(
                    lsc,
                    # one row per (key, lang), sorted by lang: pairing
                    # element i with every later element enumerates
                    # exactly the lang_a < lang_b pairs
                    lambda x, i: F.transform(
                        F.slice(lsc, i + F.lit(2), F.size(lsc)),
                        lambda y: F.struct(
                            x["lang"].alias("lang_a"),
                            x["url"].alias("url_a"),
                            y["lang"].alias("lang_b"),
                            y["url"].alias("url_b"),
                        ),
                    ),
                )
            ).cast(pair_t)
        ).alias("_p"),
    ).select(
        "key", "_p.lang_a", "_p.url_a", "_p.lang_b", "_p.url_b"
    )
