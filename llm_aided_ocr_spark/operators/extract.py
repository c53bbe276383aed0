"""Stage 1 — extraction: ``html: binary`` → ``text: string``.

The reference's analogue is PDF→image→Tesseract (llm_aided_ocr.py:411-426);
the north rule widens the input to Common-Crawl-style pages and mandates a
batched DOM boilerplate strip. Implemented as one Arrow pass
(``operators.util.map_arrow``) — document-local, narrow (zero shuffle),
column-pruned to ``(url, html)`` plus zero-copy passthroughs.

PDF extraction is STUBBED: poppler/tesseract are not in this container. The
plumbing (schema, batching, page-range slice) is real; the render call
raises ``NotImplementedError`` unless a deterministic fake is injected.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from llm_aided_ocr_spark.kernels import extract_main_text
from llm_aided_ocr_spark.operators.util import map_arrow

EXTRACTED_SCHEMA = "url string, warc_ts timestamp, lang string, extracted_text string"


def extract_text(
    pages_df: DataFrame,
    use_html: bool = True,
    sniff_charset: bool = False,
) -> DataFrame:
    """``(url, warc_ts, html, text, lang)`` → ``(url, warc_ts, lang,
    extracted_text)``.

    With ``use_html=True`` the DOM strip runs over the binary html column;
    otherwise the pre-extracted ``text`` column passes through (the
    reference's Tesseract output stand-in, per SURVEY.md M6).

    ``sniff_charset=True`` routes each page's bytes through
    :func:`sniff_decode` (BOM → declared charset → utf-8) before the
    strip — same Arrow pass, no extra stage — so latin-1/cp1252 fetch
    bytes extract clean text instead of U+FFFD runs. Default off: the
    sniff is a per-row prescan-regex cost and utf-8 corpora don't need
    it.
    """
    if not use_html:
        return pages_df.select(
            "url", "warc_ts", "lang", F.col("text").alias("extracted_text")
        )

    cols = pages_df.select("url", "warc_ts", "lang", "html")

    if sniff_charset:
        from llm_aided_ocr_spark.kernels import extract_main_text_str

        def _one(b) -> str:
            return extract_main_text_str(sniff_decode(b)[1])

        kernel = _one
    else:
        kernel = extract_main_text

    def _extract(htmls):
        return ([kernel(h) for h in htmls],)

    return map_arrow(cols, _extract, EXTRACTED_SCHEMA, keep=("url", "warc_ts", "lang"))


# ---------------------------------------------------------------------------
# P1 — image preprocessing (reference llm_aided_ocr.py:404-409), pure numpy
# ---------------------------------------------------------------------------

def otsu_threshold(gray) -> int:
    """Otsu's method over a uint8 grayscale array — the threshold that
    maximizes between-class variance (what cv2.THRESH_OTSU computes)."""
    import numpy as np

    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = gray.size
    weights = np.cumsum(hist)            # W_b(t): background pixel count
    sums = np.cumsum(hist * np.arange(256))  # S_b(t): background intensity sum
    total_sum = sums[-1]
    # between-class variance ∝ (S_total·W_b − S_b·total)² / (W_b·(total−W_b))
    with np.errstate(divide="ignore", invalid="ignore"):
        between = (total_sum * weights - sums * total) ** 2 / (
            weights * (total - weights)
        )
    between[~np.isfinite(between)] = -1
    return int(np.argmax(between))


def preprocess_page_image(rgb):
    """Reference P1 (llm_aided_ocr.py:404-409) without cv2:

    1. RGB → grayscale (ITU-R BT.601 weights, matching cv2.COLOR_RGB2GRAY);
    2. binary threshold at the Otsu level (>thresh → 255 else 0);
    3. dilate with a 1×1 kernel, 1 iteration — a structural no-op the
       reference performs; reproduced as the identity it is (:407-408).

    Accepts/returns uint8 numpy arrays so it runs vectorized inside the
    page-render UDF once a real renderer is injected.
    """
    import numpy as np

    arr = np.asarray(rgb)
    if arr.ndim == 3:
        gray = (
            0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
        ).round().astype(np.uint8)
    else:
        gray = arr.astype(np.uint8)
    thresh = otsu_threshold(gray)
    binary = np.where(gray > thresh, np.uint8(255), np.uint8(0))
    return binary  # 1×1 dilation == identity


# ---------------------------------------------------------------------------
# PDF path (reference S1/P2) — real plumbing, stubbed native render
# ---------------------------------------------------------------------------

PageRenderer = Callable[[bytes, int, Optional[int]], List[str]]
"""(pdf_bytes, first_page_1based, last_page_or_None) -> page texts."""


def _default_renderer(pdf_bytes: bytes, first_page: int, last_page: Optional[int]) -> List[str]:
    raise NotImplementedError(
        "PDF render requires poppler+tesseract (reference llm_aided_ocr.py:411-426); "
        "not available in this container — inject a renderer for testing."
    )


def extract_pdf_pages(
    pdf_df: DataFrame,
    max_pages: int = 0,
    skip_first_n_pages: int = 0,
    renderer: PageRenderer = _default_renderer,
) -> DataFrame:
    """``(url, pdf: binary)`` → exploded ``(url, page_no int, page_text)``.

    Page-range semantics mirror the reference (llm_aided_ocr.py:413-419):
    1-based, ``max_pages=0`` = all, first page = skip+1.
    """
    first_page = skip_first_n_pages + 1
    last_page = None if max_pages == 0 else skip_first_n_pages + max_pages

    def _render(urls, blobs):
        rows = [
            (url, first_page + i, page_text)
            for url, blob in zip(urls, blobs)
            for i, page_text in enumerate(renderer(blob, first_page, last_page))
        ]
        return zip(*rows) if rows else ([],) * 3

    return map_arrow(
        pdf_df.select("url", "pdf"), _render,
        "url string, page_no int, page_text string",
    )


# ---------------------------------------------------------------------------
# HTML page signals — pre-extraction metadata gates
# ---------------------------------------------------------------------------

def noindex_col(html_col: str = "html") -> F.Column:
    """Boolean column: the page declares ``<meta ... robots ...
    noindex ...>`` in either attribute order. NULL html → false. A pure
    codegen predicate (no join/shuffle/Python), shared by
    :func:`html_page_signals` and the ``drop_noindex`` curation gate."""
    h = F.decode(F.coalesce(F.col(html_col), F.lit(b"")), "UTF-8")
    return h.rlike(
        r"(?is)<meta\b[^>]*(robots[^>]*noindex|noindex[^>]*robots)[^>]*>"
    )


def html_page_signals(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, lang_attr, title, noindex, n_links, html_bytes,
    links_per_kb)`` — the cheap page-level signals an extraction
    pipeline reads BEFORE committing to a full DOM strip:

    * ``lang_attr`` — the ``<html lang=...>`` declaration (lowercased;
      NULL when absent), the zero-cost prior a language-ID stage seeds
      from;
    * ``title`` — the first ``<title>`` element, whitespace-collapsed
      (entities left as-is; the DOM strip owns unescaping);
    * ``noindex`` — true when a ``<meta ... robots ... noindex ...>``
      tag is present in either attribute order: pages the crawler was
      asked not to index are dropped by most curation pipelines;
    * ``n_links`` / ``links_per_kb`` — anchor-tag count and density
      (links per KB of raw html), the classic boilerplate/navigation-
      page signal (link farms and nav hubs score high);
    * ``canonical_href`` — the ``<link rel="canonical" href=...>``
      target in either attribute order (NULL when absent): the
      publisher-declared canonical URL, a stronger key for
      ``canonical_url_dedup`` than URL normalization alone.

    One native projection over the decoded html — zero shuffle, zero
    Python, fuses into the scan; every regex is RE2-compatible (inline
    ``(?i)``/``(?is)`` flags, lazy quantifiers) so the driver's DuckDB
    oracle evaluates the IDENTICAL patterns. No reference analogue (the
    reference ingests PDFs, llm_aided_ocr.py:411-426); the gate set
    follows public curation practice (C4/RefinedWeb drop noindex and
    high-link-density pages)."""
    from llm_aided_ocr_spark.operators.util import let_

    raw = F.coalesce(F.col("html"), F.lit(b""))  # NULL html = empty page
    h = F.decode(raw, "UTF-8")
    lang = F.regexp_extract(
        h, r'(?is)<html\b[^>]*\blang\s*=\s*["\']?([A-Za-z-]+)', 1
    )
    title = F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1)
    noindex = noindex_col("html")
    n_links = F.regexp_count(h, F.lit(r"(?is)<a[\s>]"))
    canon_fwd = F.regexp_extract(
        h,
        r'(?is)<link\b[^>]*\brel\s*=\s*["\']?canonical["\']?[^>]*'
        r'\bhref\s*=\s*["\']?([^"\'\s>]+)',
        1,
    )
    canon_rev = F.regexp_extract(
        h,
        r'(?is)<link\b[^>]*\bhref\s*=\s*["\']?([^"\'\s>]+)["\']?[^>]*'
        r'\brel\s*=\s*["\']?canonical',
        1,
    )
    canonical = F.when(canon_fwd != "", canon_fwd).when(
        canon_rev != "", canon_rev
    )
    return pages_df.select(
        F.col(id_col).alias("id"),
        F.when(lang != "", F.lower(lang)).alias("lang_attr"),
        F.when(
            title != "",
            F.trim(F.regexp_replace(title, r"\s+", " ")),
        ).alias("title"),
        noindex.alias("noindex"),
        n_links.cast("int").alias("n_links"),
        let_(
            F.octet_length(raw).cast("bigint"),
            lambda b: F.struct(
                b.alias("html_bytes"),
                F.round(
                    n_links.cast("double") * 1000.0
                    / F.greatest(b, F.lit(1)).cast("double"),
                    6,
                ).alias("links_per_kb"),
            ),
        ).alias("_s"),
        canonical.alias("canonical_href"),
    ).select(
        "id", "lang_attr", "title", "noindex", "n_links",
        F.col("_s.html_bytes").alias("html_bytes"),
        F.col("_s.links_per_kb").alias("links_per_kb"),
        "canonical_href",
    )


def charset_signals(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, has_bom, charset)`` — encoding declaration sniff, the step
    a Common-Crawl extraction pipeline runs BEFORE committing to a
    decode: raw fetch bytes arrive with no reliable charset, and
    decoding windows-1252 as utf-8 silently mangles every non-ASCII
    page. Precedence follows the WHATWG encoding sniff order for the
    in-document signals: byte-order mark (authoritative → ``utf-8``),
    else the first ``charset=`` declaration — which one regex covers in
    BOTH html5 ``<meta charset=...>`` and html4
    ``<meta http-equiv=Content-Type content="...; charset=...">`` forms
    — else NULL (caller falls back to transport headers / detection).

    One native projection, zero shuffle, fuses into the scan; the
    pattern is Java∩RE2 so the DuckDB oracle replays it verbatim. The
    BOM check runs on the decoded string's first char (U+FEFF) — the
    raw EF BB BF bytes decode to exactly that — so both engines see the
    identical value. No reference analogue (the reference ingests PDFs,
    llm_aided_ocr.py:411-426); part of the web-curation suite.

    CAVEAT: the native ``decode(bin, 'UTF-8')`` RAISES under
    ``spark.sql.ansi.enabled`` when the bytes are not valid UTF-8 — the
    exact pages a charset sniff matters for. For raw fetch bytes use
    :func:`decode_pages`, which sniffs AND transcodes in one Arrow pass
    and never fails on malformed input.
    """
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    bom = F.startswith(h, F.lit("\ufeff"))
    declared = F.lower(
        F.nullif(
            F.regexp_extract(
                h, r"""(?is)<meta\b[^>]*\bcharset\s*=\s*["']?([A-Za-z0-9_.:-]+)""", 1
            ),
            F.lit(""),
        )
    )
    return pages_df.select(
        F.col(id_col).alias("id"),
        bom.alias("has_bom"),
        F.when(bom, F.lit("utf-8")).otherwise(declared).alias("charset"),
    )


_BLOCK_SEG_RE = (
    r"(?is)<(p|div|nav|section|article|footer|aside|li|h[1-6]|"
    r"blockquote|pre|td)\b[^>]*>(.*?)</\1\s*>"
)
_ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a\s*>"
# script/style/noscript payload is CODE, not prose — dropped (content
# included) before block segmentation so it can never count as words
_SCRIPTISH_RE = r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>"


def _word_count(c: F.Column) -> F.Column:
    """Words of a tag-bearing fragment: strip tags to spaces, count
    non-whitespace runs. Escaping (& < >) never creates or removes
    whitespace, so counts agree between escaped and raw text."""
    stripped = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    return F.size(F.regexp_extract_all(stripped, F.lit(r"(\S+)"), F.lit(1)))


def content_blocks(
    pages_df: DataFrame,
    html_col: str = "html",
    id_col: str = "url",
    min_words: int = 4,
    max_link_density: float = 0.5,
) -> DataFrame:
    """``(id, block_idx, tag, n_words, link_words, link_density,
    is_content, block_html)`` — block-level main-content classification
    by text/link density, the JusText / Boilerpipe family of DOM
    heuristics the north rule names: navigation, footers and link
    farms are short and anchor-dominated, body prose is long and
    anchor-sparse. Per block element (``p div nav section article
    footer aside li h1-h6 blockquote pre td``):

    * ``n_words`` — whitespace-delimited words after tag strip;
    * ``link_words`` — words inside ``<a>`` elements of the block;
    * ``link_density`` — ``link_words / n_words`` (0 when empty);
    * ``is_content`` — ``n_words >= min_words AND link_density <=
      max_link_density`` (JusText's short/near-good boundary collapsed
      to one threshold pair; both are knobs).

    Entirely native — segmentation is one Java-regex pass evaluated
    twice (tag group, body group; identical pattern, so the match lists
    align index-for-index and ``arrays_zip`` pairs them), then
    ``posexplode`` emits one row per block and the counts/density are
    codegen expressions. Zero Python, zero join; the only exchange is
    whatever the caller does downstream. Document-local by
    construction, so it scales with input partitions.

    Honest limits (documented, not hidden): the non-greedy
    backreference match ends a block at the FIRST matching close tag,
    so a nested same-tag child truncates its parent (the child's tail
    is attributed to no block) — the flat-block approximation JusText
    also makes after DOM flattening. A full HTML5-parser segmentation
    is an injectable upgrade via :func:`extract_text`'s seam. No
    reference analogue (the reference ingests PDFs,
    llm_aided_ocr.py:411-426); part of the web-curation suite.
    Script/style/noscript elements are dropped (payload included)
    before segmentation — their JS/CSS must never count as words."""
    h = F.decode(F.coalesce(F.col(html_col), F.lit(b"")), "UTF-8")
    h = F.regexp_replace(h, _SCRIPTISH_RE, " ")
    base = pages_df.select(
        F.col(id_col).alias("id"),
        F.regexp_extract_all(h, F.lit(_BLOCK_SEG_RE), F.lit(1)).alias("t"),
        F.regexp_extract_all(h, F.lit(_BLOCK_SEG_RE), F.lit(2)).alias("b"),
    )
    ex = base.select(
        "id", F.posexplode(F.arrays_zip("t", "b")).alias("block_idx", "z")
    )
    body = F.col("z.b")
    n_words = _word_count(body).cast("bigint")
    anchors = F.regexp_extract_all(body, F.lit(_ANCHOR_RE), F.lit(1))
    link_words = F.aggregate(
        anchors,
        F.lit(0).cast("bigint"),
        lambda acc, a: acc + _word_count(a).cast("bigint"),
    )
    out = ex.select(
        "id",
        "block_idx",
        F.lower(F.col("z.t")).alias("tag"),
        n_words.alias("n_words"),
        link_words.alias("link_words"),
        body.alias("block_html"),
    )
    density = F.when(
        F.col("n_words") > 0,
        F.col("link_words").cast("double") / F.col("n_words").cast("double"),
    ).otherwise(F.lit(0.0))
    return out.select(
        "id",
        "block_idx",
        "tag",
        "n_words",
        "link_words",
        density.alias("link_density"),
        (
            (F.col("n_words") >= F.lit(int(min_words)))
            & (density <= F.lit(float(max_link_density)))
        ).alias("is_content"),
        "block_html",
    )


def extract_by_density(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, text)`` — the density-based alternative extractor: keep
    :func:`content_blocks`' content blocks in document order, strip
    tags/entities per block through the SAME kernel the main extractor
    uses (:func:`~llm_aided_ocr_spark.kernels.canonicalize_text`'s
    whitespace contract via ``extract_main_text`` on the block html),
    and join with blank lines. One groupBy(id) exchange over block-
    sized rows (the page html itself never shuffles — blocks carry only
    their own bytes); ``array_sort`` on (block_idx) restores order
    without a window."""
    blocks = content_blocks(pages_df, "html", id_col, 4, 0.5)
    kept = blocks.filter(F.col("is_content")).select(
        "id",
        F.struct("block_idx", "block_html").alias("s"),
    )
    agg = kept.groupBy("id").agg(
        F.array_sort(F.collect_list("s")).alias("blocks")
    )

    def _strip(docs):
        return ([
            "\n\n".join(
                t
                for blk in doc_blocks
                if (t := extract_main_text(blk["block_html"].encode("utf-8")))
            )
            for doc_blocks in docs
        ],)

    id_type = dict(agg.dtypes)["id"]
    return map_arrow(agg, _strip, f"id {id_type}, text string", keep=("id",))


_META_TAG_RE = r"(?is)(<meta\b[^>]*>)"
_META_KEY_RE = r"""(?i)\b(?:property|name)\s*=\s*["']([^"']+)"""
_META_CONTENT_RE = r"""(?i)\bcontent\s*=\s*["']([^"']*)"""
_HEADING_RE = r"(?is)<h([1-6])\b[^>]*>(.*?)</h\1\s*>"


def meta_properties(
    pages_df: DataFrame,
    id_col: str = "url",
    keys: Optional[List[str]] = None,
) -> DataFrame:
    """``(id, key, content)`` — one row per ``<meta>`` declaration whose
    ``property=`` (OpenGraph/RDFa form) or ``name=`` (classic form)
    matches ``keys``: the page-metadata sidecar a web corpus carries
    next to extracted text (og:title / og:description /
    article:published_time feed document metadata; description feeds
    snippeting). Key matching is case-insensitive (lowercased in the
    output); ``keys=None`` keeps every declared key. ``content`` is the
    raw attribute value (entities left as-is — the DOM strip owns
    unescaping); a meta tag with no content attribute yields an empty
    string. Attribute order is free: key and content are extracted
    independently from each tag.

    Fully native: one ``regexp_extract_all`` pass lists the meta tags,
    a ``transform`` lambda projects (key, content) per tag, and the key
    filter evaluates before ``explode`` — so non-matching tags never
    become rows. Zero Python, zero shuffle, fuses into the scan.
    Document-local; no reference analogue (the reference ingests PDFs,
    llm_aided_ocr.py:411-426); part of the web-curation suite."""
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    tags = F.regexp_extract_all(h, F.lit(_META_TAG_RE), F.lit(1))
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.lower(F.regexp_extract(t, _META_KEY_RE, 1)).alias("key"),
            F.regexp_extract(t, _META_CONTENT_RE, 1).alias("content"),
        ),
    )
    keep = F.filter(pairs, lambda p: p["key"] != "")
    if keys is not None:
        wanted = F.array(*[F.lit(k.lower()) for k in keys])
        keep = F.filter(keep, lambda p: F.array_contains(wanted, p["key"]))
    return pages_df.select(
        F.col(id_col).alias("id"), F.explode(keep).alias("p")
    ).select("id", F.col("p.key").alias("key"), F.col("p.content").alias("content"))


def heading_outline(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, heading_ix, level, text)`` — the document's ``<h1>–<h6>``
    outline in order: section structure for markdown reconstruction
    (the reference's correction pass promotes detected headings to
    markdown ``#`` levels — this is the HTML-side source of the same
    signal) and a layout/quality feature (pages with no headings and a
    thousand links are listings, not articles). ``text`` is
    tag-stripped and whitespace-collapsed; empty headings are kept
    (level structure matters even when the text is an image).

    Same native shape as :func:`content_blocks`: the heading regex
    evaluated twice (level group, body group — identical pattern, so
    the match lists align), ``arrays_zip`` + ``posexplode``, stripping
    as codegen expressions. Zero Python, zero shuffle."""
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    base = pages_df.select(
        F.col(id_col).alias("id"),
        F.regexp_extract_all(h, F.lit(_HEADING_RE), F.lit(1)).alias("lv"),
        F.regexp_extract_all(h, F.lit(_HEADING_RE), F.lit(2)).alias("bd"),
    )
    ex = base.select(
        "id", F.posexplode(F.arrays_zip("lv", "bd")).alias("heading_ix", "z")
    )
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("z.bd"), r"(?s)<[^>]*>", " "),
            r"\s+",
            " ",
        )
    )
    return ex.select(
        "id",
        "heading_ix",
        F.col("z.lv").cast("int").alias("level"),
        text.alias("text"),
    )


def density_extract_stage():
    """A ``run_pipeline(extract_fn=...)``-compatible extraction stage
    that swaps the default DOM strip for :func:`extract_by_density`
    (block-level link-density selection): takes the pages relation,
    returns ``EXTRACTED_SCHEMA`` (url, warc_ts, lang, extracted_text).
    Pages with no surviving content block yield empty text (left join +
    coalesce), matching the default extractor's contract for empty
    html. The metadata side of the join is three narrow columns; the
    text side is block-reassembled per url — AQE picks the join
    strategy."""

    def _stage(pages_df: DataFrame) -> DataFrame:
        txt = extract_by_density(
            pages_df,
            id_col="url",
        ).withColumnsRenamed({"id": "url", "text": "extracted_text"})
        meta = pages_df.select("url", "warc_ts", "lang")
        return meta.join(txt, "url", "left").select(
            "url",
            "warc_ts",
            "lang",
            F.coalesce("extracted_text", F.lit("")).alias("extracted_text"),
        )

    return _stage


#: charsets the transcode step decodes itself; anything else falls back
#: to the caller's default (a production pipeline would grow this table,
#: not guess). Keys are lowercase as emitted by :func:`charset_signals`.
SUPPORTED_CHARSETS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "ascii": "ascii",
    "us-ascii": "ascii",
    "iso-8859-1": "iso-8859-1",
    "latin-1": "iso-8859-1",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
}


_DECL_RE = None  # compiled lazily on the executor


def sniff_decode(b):
    """``(charset_used, text)`` for one page's raw bytes — the WHATWG-
    subset precedence shared by :func:`decode_pages` and
    ``extract_text(sniff_charset=True)``: BOM (authoritative, stripped)
    → declared charset within the 1024-byte prescan window if in
    :data:`SUPPORTED_CHARSETS` → utf-8; always
    ``errors="replace"``."""
    global _DECL_RE
    if _DECL_RE is None:
        import re

        _DECL_RE = re.compile(
            r"""(?is)<meta\b[^>]*\bcharset\s*=\s*["']?([A-Za-z0-9_.:-]+)"""
        )
    b = bytes(b) if b is not None else b""
    if b[:3] == b"\xef\xbb\xbf":
        return "utf-8", b[3:].decode("utf-8", errors="replace")
    m = _DECL_RE.search(b[:1024].decode("latin-1"))
    decl = m.group(1).lower() if m else None
    name = SUPPORTED_CHARSETS.get(decl, "utf-8")
    return name, b.decode(name, errors="replace")


def decode_pages(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, charset_used, html_text)`` — charset-aware transcode of
    raw fetch bytes to text, the step :func:`charset_signals` only
    SNIFFS for: decode windows-1252 as utf-8 and every non-ASCII page
    silently mangles. Precedence mirrors the sniff (WHATWG subset): a
    UTF-8 BOM is authoritative (and stripped from the output), else the
    first declared ``charset=`` IF it is in :data:`SUPPORTED_CHARSETS`
    (aliases folded — ``latin-1`` → iso-8859-1, ``windows-1252`` →
    cp1252, which differ in the 0x80–0x9F block), else utf-8.
    Decoding uses ``errors="replace"`` so malformed bytes yield U+FFFD
    instead of failing the task — the torn-record discipline.

    Sniff AND transcode both run in ONE Arrow pass (``map_arrow``) —
    deliberately NOT the native ``decode()`` sniff
    :func:`charset_signals` uses: under ``spark.sql.ansi.enabled``,
    ``decode(bin, 'UTF-8')`` RAISES ``MALFORMED_CHARACTER_CODING`` on
    the very bytes this operator exists to handle (measured), so the
    charset declaration is read from a latin-1 view of the prefix
    (byte-transparent, never fails) with the same regex. Use
    :func:`charset_signals` for cheap native sniffing of known-utf-8
    corpora; use this for raw fetch bytes. Document-local, zero
    shuffle."""
    base = pages_df.select(F.col(id_col).alias("id"), F.col("html").alias("_raw"))
    id_type = dict(base.dtypes)["id"]

    def _decode(raws):
        return zip(*(sniff_decode(b) for b in raws))

    return map_arrow(
        base, _decode, f"id {id_type}, charset_used string, html_text string",
        keep=("id",),
    )


_TABLE_RE = r"(?is)<table\b[^>]*>(.*?)</table\s*>"
_TR_RE = r"(?is)<tr\b[^>]*>(.*?)</tr\s*>"
_CELL_RE = r"(?is)<(td|th)\b[^>]*>(.*?)</\1\s*>"


def table_extract(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, table_ix, row_ix, col_ix, is_header, cell_text)`` — every
    ``<table>`` flattened to a long-form cell relation in document
    order: the structured data a text-only DOM strip destroys
    (linearized tables read as word soup and poison n-gram/quality
    stats; a curation pipeline either re-serializes them row-wise or
    drops them — both need this relation first). ``is_header`` marks
    ``<th>`` cells; ``cell_text`` is tag-stripped and
    whitespace-collapsed (entities left as-is — the DOM strip owns
    unescaping).

    Fully native: three nested ``regexp_extract_all`` levels (table →
    tr → td/th, the cell level as the content_blocks tag/body
    two-evaluation + ``arrays_zip`` pairing) with a ``posexplode`` per
    level. Zero Python, zero shuffle, document-local. Same flat-match
    caveat as :func:`content_blocks`: a table nested inside a table
    cell truncates its parent at the inner close tag — acceptable for
    the dominant data-table shapes; a DOM parse is the injectable
    upgrade path."""
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    tables = pages_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.regexp_extract_all(h, F.lit(_TABLE_RE), F.lit(1))).alias(
            "table_ix", "tbody"
        ),
    )
    rows = tables.select(
        "id",
        "table_ix",
        F.posexplode(
            F.regexp_extract_all(F.col("tbody"), F.lit(_TR_RE), F.lit(1))
        ).alias("row_ix", "rbody"),
    )
    cells = rows.select(
        "id",
        "table_ix",
        "row_ix",
        F.posexplode(
            F.arrays_zip(
                F.regexp_extract_all(
                    F.col("rbody"), F.lit(_CELL_RE), F.lit(1)
                ).alias("t"),
                F.regexp_extract_all(
                    F.col("rbody"), F.lit(_CELL_RE), F.lit(2)
                ).alias("c"),
            )
        ).alias("col_ix", "z"),
    )
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("z.c"), r"(?s)<[^>]*>", " "), r"\s+", " "
        )
    )
    return cells.select(
        "id",
        "table_ix",
        "row_ix",
        "col_ix",
        (F.lower(F.col("z.t")) == "th").alias("is_header"),
        text.alias("cell_text"),
    )


_LINK_TAG_RE = r"(?is)(<link\b[^>]*>)"
_REL_ATTR_RE = r"""(?i)\brel\s*=\s*["']?([A-Za-z0-9_ -]+)"""
_HREF_ATTR_RE = r"""(?i)\bhref\s*=\s*["']?([^"'\s>]+)"""


def link_rels(
    pages_df: DataFrame,
    id_col: str = "url",
    rels: Optional[List[str]] = None,
) -> DataFrame:
    """``(id, rel, href)`` — one row per ``<link>`` relationship the
    crawl layer reads: ``canonical`` (dedup key), ``next``/``prev``
    (multi-page article stitching — pagination chains otherwise surface
    as near-dups), ``alternate`` (RSS/Atom feed + translated-variant
    discovery), ``amphtml`` (the AMP twin, a canonical-dedup edge).
    ``rels=None`` keeps every declared rel. A multi-valued rel
    attribute (``rel="alternate nofollow"``) matches on its
    space-separated tokens and is emitted once per MATCHED token, rel
    lowercased; tags with no href are dropped (nothing to follow).
    Attribute order is free — rel and href are extracted independently
    per tag (the html_page_signals discipline).

    Same native shape as :func:`meta_properties`: one
    ``regexp_extract_all`` lists the link tags, a ``transform``
    projects (rel-token array, href), the rel filter evaluates BEFORE
    the explode. Zero Python, zero shuffle, fuses into the scan."""
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    tags = F.regexp_extract_all(h, F.lit(_LINK_TAG_RE), F.lit(1))
    pairs = F.transform(
        tags,
        lambda t: F.struct(
            F.split(
                F.lower(F.regexp_extract(t, _REL_ATTR_RE, 1)), r"\s+"
            ).alias("rels"),
            F.regexp_extract(t, _HREF_ATTR_RE, 1).alias("href"),
        ),
    )
    tokens = F.flatten(
        F.transform(
            F.filter(pairs, lambda p: p["href"] != ""),
            lambda p: F.transform(
                F.filter(p["rels"], lambda r: r != ""),
                lambda r: F.struct(r.alias("rel"), p["href"].alias("href")),
            ),
        )
    )
    if rels is not None:
        wanted = F.array(*[F.lit(r.lower()) for r in rels])
        tokens = F.filter(tokens, lambda p: F.array_contains(wanted, p["rel"]))
    return pages_df.select(
        F.col(id_col).alias("id"), F.explode(tokens).alias("p")
    ).select("id", F.col("p.rel").alias("rel"), F.col("p.href").alias("href"))


_JSONLD_RE = (
    r"""(?is)<script\b[^>]*\btype\s*=\s*["']application/ld\+json["']"""
    r"[^>]*>(.*?)</script\s*>"
)


JSONLD_FIELDS = {
    "ld_type": "$['@type']",
    "headline": "$.headline",
    "date_published": "$.datePublished",
}


def jsonld_objects(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, jsonld_ix, raw_json, <field columns>)`` — the page's
    JSON-LD structured-data blocks (``<script
    type="application/ld+json">``), the schema.org channel publishers
    actually fill (NewsArticle headline / datePublished / author feed
    document metadata far more reliably than visible DOM heuristics).
    :data:`JSONLD_FIELDS` maps output column → JSONPath (``ld_type`` →
    ``$['@type']``, ``headline``, ``date_published`` →
    ``$.datePublished``); extraction is Spark's native
    ``get_json_object`` (NULL for absent paths or malformed JSON — a
    broken block still yields its raw_json row for diagnostics).

    Same scan-fused shape as :func:`meta_properties`: one regexp pass
    lists the blocks, posexplode, then native JSON path projection.
    Zero Python, zero shuffle."""
    h = F.decode(F.coalesce(F.col("html"), F.lit(b"")), "UTF-8")
    blocks = pages_df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.regexp_extract_all(h, F.lit(_JSONLD_RE), F.lit(1))).alias(
            "jsonld_ix", "raw"
        ),
    )
    raw = F.trim(F.col("raw"))
    return blocks.select(
        "id",
        "jsonld_ix",
        raw.alias("raw_json"),
        *[
            F.get_json_object(raw, path).alias(name)
            for name, path in JSONLD_FIELDS.items()
        ],
    )


def content_blocks_contextual(pages_df: DataFrame, id_col: str = "url") -> DataFrame:
    """:func:`content_blocks` plus JusText's context pass, simplified
    to one rule: a block that failed only on LENGTH (link density
    within the threshold, ``0 < n_words < 4``) is PROMOTED when
    an adjacent block in document order is content — short connective
    paragraphs, single-line quotes and sub-headings between body
    paragraphs are prose, while the same short block inside a
    navigation run stays boilerplate. Output adds ``promoted`` and
    ``final_is_content`` (= ``is_content OR promoted``); base columns
    are unchanged, so the non-contextual classification stays
    available.

    Scale shape: the base classifier is zero-exchange; the context
    pass needs neighbor visibility, so blocks shuffle ONCE on ``id``
    (``lag``/``lead`` over a per-document window — partitions are
    document-sized, bounded by the block regex's per-page match count).
    ``block_html`` rides through that exchange; callers who only need
    verdicts can drop it first."""
    base = content_blocks(pages_df, "html", id_col, 4, 0.5)
    w = Window.partitionBy("id").orderBy("block_idx")
    neighbor_good = (
        F.coalesce(F.lag("is_content").over(w), F.lit(False))
        | F.coalesce(F.lead("is_content").over(w), F.lit(False))
    )
    promoted = (
        (~F.col("is_content"))
        & (F.col("n_words") > 0)
        & (F.col("n_words") < F.lit(4))
        & (F.col("link_density") <= F.lit(0.5))
        & neighbor_good
    )
    return base.select(
        "*",
        promoted.alias("promoted"),
        (F.col("is_content") | promoted).alias("final_is_content"),
    )
