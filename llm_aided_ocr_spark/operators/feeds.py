"""RSS/Atom feed-item extraction (crawl discovery channel).

Feeds are how a crawler discovers fresh urls without re-crawling hub
pages: the `link_rels` operator surfaces the feed URL (``rel=
"alternate"`` + RSS/Atom type), this operator parses the fetched feed
document into one row per item — url, title, publication date — the
relation a frontier scheduler joins against its seen-set (e.g.
``bloom_urls``) to enqueue only new articles. The reference repo
(/root/reference/llm_aided_ocr.py) has no feed layer; this is part of
the brief-mandated web-curation suite.

Both mainstream dialects are handled in ONE pass:

* **RSS 2.0** — ``<item>`` elements with ``<title>``, ``<link>`` (text
  content), ``<pubDate>``, ``<guid>``.
* **Atom (RFC 4287)** — ``<entry>`` elements with ``<title>``,
  ``<link href="...">`` (attribute), ``<published>`` falling back to
  ``<updated>``, ``<id>``.

Dialect detection is per PAGE (an ``<entry`` outside a ``<feed``
document is not Atom): ``<rss``/``<channel`` ⇒ rss, else ``<feed`` ⇒
atom, else no rows. CDATA wrappers on text fields are stripped; fields
are whitespace-trimmed; absent fields are empty strings (the
diagnostics-friendly contract — a malformed item still yields its row).

Scale shape: the same scan-fused native chain as ``meta_properties`` /
``link_rels`` — one ``regexp_extract_all`` lists the item blocks, a
``transform`` projects the per-item fields BEFORE the ``posexplode``,
zero Python, zero shuffle, whole-stage codegen end to end. Every regex
is in the Java ∩ RE2 ∩ DuckDB common subset (no lookaround, no
backreferences) so DuckDB oracles replay them verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RSS_ITEM_RE = r"(?is)<item[\s>].*?</item\s*>"
_ATOM_ENTRY_RE = r"(?is)<entry[\s>].*?</entry\s*>"
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title\s*>"
_RSS_LINK_RE = r"(?is)<link[^>]*>([^<]*)</link\s*>"
_ATOM_LINK_RE = r"""(?is)<link\b[^>]*\bhref\s*=\s*["']([^"']+)"""
_RSS_DATE_RE = r"(?is)<pubdate[^>]*>(.*?)</pubdate\s*>"
_ATOM_PUBLISHED_RE = r"(?is)<published[^>]*>(.*?)</published\s*>"
_ATOM_UPDATED_RE = r"(?is)<updated[^>]*>(.*?)</updated\s*>"
_RSS_GUID_RE = r"(?is)<guid[^>]*>(.*?)</guid\s*>"
_ATOM_ID_RE = r"(?is)<id[^>]*>(.*?)</id\s*>"
_CDATA_OPEN = "<![CDATA["
_CDATA_CLOSE = "]]>"


def _clean(field: Column) -> Column:
    """Strip one CDATA wrapper and trim — applied to every text field."""
    no_open = F.replace(field, F.lit(_CDATA_OPEN), F.lit(""))
    return F.trim(F.replace(no_open, F.lit(_CDATA_CLOSE), F.lit("")))


def _field(item: Column, pattern: str) -> Column:
    return _clean(F.regexp_extract(item, pattern, 1))


def feed_items(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, item_ix, kind, title, link, published, guid)`` — one row
    per feed item/entry, ``item_ix`` 0-based in document order,
    ``kind`` ∈ {'rss', 'atom'}. Pages that are not feeds yield no
    rows. See the module docstring for dialect rules and scale shape."""
    doc = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    low = F.lower(doc)
    is_rss = low.contains("<rss") | low.contains("<channel")
    is_atom = low.contains("<feed")
    rss_items = F.regexp_extract_all(doc, F.lit(_RSS_ITEM_RE), F.lit(0))
    atom_items = F.regexp_extract_all(doc, F.lit(_ATOM_ENTRY_RE), F.lit(0))

    def _rss_struct(it: Column) -> Column:
        return F.struct(
            F.lit("rss").alias("kind"),
            _field(it, _TITLE_RE).alias("title"),
            _field(it, _RSS_LINK_RE).alias("link"),
            _field(it, _RSS_DATE_RE).alias("published"),
            _field(it, _RSS_GUID_RE).alias("guid"),
        )

    def _atom_struct(it: Column) -> Column:
        pub = F.regexp_extract(it, _ATOM_PUBLISHED_RE, 1)
        upd = F.regexp_extract(it, _ATOM_UPDATED_RE, 1)
        return F.struct(
            F.lit("atom").alias("kind"),
            _field(it, _TITLE_RE).alias("title"),
            _clean(F.regexp_extract(it, _ATOM_LINK_RE, 1)).alias("link"),
            _clean(F.when(pub != "", pub).otherwise(upd)).alias("published"),
            _field(it, _ATOM_ID_RE).alias("guid"),
        )

    items = (
        F.when(is_rss, F.transform(rss_items, _rss_struct))
        .when(is_atom, F.transform(atom_items, _atom_struct))
        .otherwise(
            F.array().cast(
                "array<struct<kind:string,title:string,link:string,"
                "published:string,guid:string>>"
            )
        )
    )
    return pages_df.select(
        F.col(id_col).alias("id"), F.posexplode(items).alias("item_ix", "it")
    ).select(
        "id", "item_ix",
        F.col("it.kind").alias("kind"),
        F.col("it.title").alias("title"),
        F.col("it.link").alias("link"),
        F.col("it.published").alias("published"),
        F.col("it.guid").alias("guid"),
    )
