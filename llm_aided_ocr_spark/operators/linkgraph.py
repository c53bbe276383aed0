"""Outlink extraction + host-level link graph (web-crawl curation).

A Common-Crawl-style corpus is a graph, not a bag of pages: host-level
link structure drives crawl prioritization, spam/SEO-farm detection
(link-ring hosts have pathological in/out-degree shapes) and the
centrality features quality classifiers train on (the CC "host-level
web graph" releases compute exactly these edges). The reference repo
(/root/reference/llm_aided_ocr.py) is a single-document OCR CLI with no
notion of links; this module is part of the brief-mandated web-curation
suite, sized for the 10^12-page tier.

Scale shape, stage by stage:

* **extraction** — one native projection over the decoded html
  (``regexp_extract_all`` + ``slice`` + ``explode``): fuses into the
  scan, zero Python. The per-page link list is CAPPED (default 1000)
  *before* the explode, so a hub/spam page with 10^6 anchors cannot
  fan a single input row into a partition-swamping output — the same
  hot-key discipline as the dedup family's bucket caps.
* **resolution** — a pure ``CASE`` chain over the base url's parsed
  parts (scheme / origin / directory), then fragment strip and a
  bounded dot-segment collapse. Per-row codegen, no shuffle.
* **graph** — ``groupBy(src_host, dst_host).count()``: the only
  exchange in the module, and it carries two lowercased hostnames and
  a count — never html, never text. Map-side partial aggregation means
  each task emits at most its distinct host-pair set.
* **degrees** — two aggregations over the already-narrow edge relation
  plus one full-outer join on ``host``; at web scale the edge relation
  is ~10^9 rows of ~50 bytes, trivially shuffle-able, and the join key
  is the aggregation key so AQE plans it without a third exchange.

Every regex is written in the Java-regex ∩ RE2 common subset (no
lookaround, no backreferences — including in *replacements*, where Java
``$1`` and RE2 ``\\1`` would diverge) so the driver's DuckDB oracle
replays the exact same patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.textstats import domain_col
from llm_aided_ocr_spark.operators.util import (
    let_,
    local_checkpoint,
    persist,
    release_local_checkpoint,
)

# href attribute anywhere inside an <a ...> open tag, either quote style
# or bare; value = longest run without quote/space/>.
HREF_PATTERN = r"""(?is)<a\b[^>]*\bhref\s*=\s*["']?([^"'\s>]+)"""

# A full well-formed anchor element (open tag through the matching
# close); used only by :func:`anchor_texts`, which needs the inner text.
ANCHOR_ELEMENT_PATTERN = r"(?is)<a\b[^>]*>.*?</a>"


def _decoded(html_col: Column) -> Column:
    return F.decode(F.coalesce(html_col, F.lit(b"")), "UTF-8")


def resolve_href_col(base_col: Column, href_col: Column) -> Column:
    """RFC 3986 reference resolution, simplified to the cases a crawl
    actually meets, as ONE native expression (no Python, no shuffle):

    * absolute (``scheme:...``) → kept as-is (filter non-http schemes
      downstream if wanted);
    * protocol-relative ``//host/p`` → base scheme prepended;
    * root-relative ``/p`` → base origin prepended;
    * query-only ``?q`` → base origin + base path + query;
    * fragment-only ``#x`` or empty → NULL (self-reference, not a link);
    * relative ``p`` → base origin + base directory + p.

    Post-steps: the one HTML entity that actually appears inside href
    values in the wild (``&amp;``) is decoded, the fragment is stripped,
    and dot-segments are collapsed by a BOUNDED rewrite (two ``/./``
    passes, three ``/seg/../`` passes, then a root-clamp for anything
    left — chains deeper than 3 collapse toward the root, the same
    forgiving behavior browsers apply to above-root ``..``). Bounded
    instead of looped so the expression stays a fixed-size codegen tree
    and the DuckDB oracle can replay it verbatim.

    A base url with no parseable ``scheme://host`` origin yields NULL
    for every relative form (nothing to resolve against).
    """
    scheme, origin, basepath, basedir = _base_parts(base_col)
    return _resolve_from_parts(scheme, origin, basepath, basedir, href_col)


def _base_parts(base_col: Column) -> tuple:
    """``(scheme, origin, basepath, basedir)`` parsed from the base url —
    split out so callers that resolve MANY hrefs against one base (the
    pre-explode transform in :func:`outlinks` / :func:`anchor_texts`)
    can hoist these four per-ROW expressions into named columns instead
    of re-deriving them per href."""
    base = F.coalesce(base_col, F.lit(""))
    scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    origin = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    basepath = F.regexp_extract(
        base, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    basedir = F.regexp_replace(basepath, r"[^/]*$", "")
    return scheme, origin, basepath, basedir


def _resolve_from_parts(
    scheme: Column,
    origin: Column,
    basepath: Column,
    basedir: Column,
    href_col: Column,
) -> Column:
    """:func:`resolve_href_col` body over pre-parsed base parts."""
    raw = F.trim(F.coalesce(href_col, F.lit("")))
    raw = F.replace(raw, F.lit("&amp;"), F.lit("&"))

    def _joined(r: Column) -> Column:
        no_origin = origin == ""
        return (
            F.when((r == "") | r.startswith("#"), F.lit(None).cast("string"))
            .when(r.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*:"), r)
            .when(no_origin, F.lit(None).cast("string"))
            .when(r.startswith("//"), F.concat(scheme, F.lit(":"), r))
            .when(r.startswith("/"), F.concat(origin, r))
            .when(
                r.startswith("?"),
                F.concat(
                    origin,
                    F.when(basepath == "", F.lit("/")).otherwise(basepath),
                    r,
                ),
            )
            .otherwise(
                F.concat(
                    origin,
                    F.when(basedir == "", F.lit("/")).otherwise(basedir),
                    r,
                )
            )
        )

    res = let_(raw, _joined)
    res = F.regexp_replace(res, r"#.*$", "")
    # Dot-segment collapse runs on the PATH TAIL only — splitting off the
    # origin first, so `//host/../` can never be mistaken for a
    # `/seg/../` dot-segment and eat into the authority. Resolved urls
    # without a parseable origin (non-http absolute hrefs like mailto:)
    # are passed through untouched.
    r_origin = F.regexp_extract(res, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    tail = F.regexp_extract(res, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*((?s).*)$", 1)
    for _ in range(2):  # /./ collapse (nested runs need a 2nd pass)
        tail = F.regexp_replace(tail, r"/\./", "/")
    tail = F.regexp_replace(tail, r"/\.$", "/")
    for _ in range(3):  # /seg/../ collapse, depth ≤ 3 exact
        tail = F.regexp_replace(tail, r"/[^/]+/\.\./", "/")
    tail = F.regexp_replace(tail, r"/[^/]+/\.\.$", "/")
    for _ in range(2):  # root clamp: any ../ left has escaped the root
        tail = F.regexp_replace(tail, r"/\.\./", "/")
    tail = F.regexp_replace(tail, r"/\.\.$", "/")
    return F.when(r_origin == "", res).otherwise(F.concat(r_origin, tail))


def outlinks(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
    max_links: int = 1000,
    http_only: bool = True,
) -> DataFrame:
    """``(id, url, href, dst_url)`` — one exploded row per extracted
    ``<a href>`` value, with ``dst_url`` resolved against the page url
    (:func:`resolve_href_col`). Pages with no links produce no rows.

    ``max_links`` slices the per-page href array BEFORE the explode —
    the hot-key cap that keeps a single spam hub from dominating a
    partition (set 0/None to disable, not recommended at scale).
    ``http_only`` drops resolved targets outside ``http(s)://`` —
    ``mailto:``, ``javascript:``, ``tel:`` and friends are anchors, not
    crawl edges. Unresolvable hrefs (fragment-only, or a base url with
    no origin) are dropped.

    The whole operator is scan → project → explode → filter: zero
    shuffle, zero Python, whole-stage codegen end to end. Resolution
    runs INSIDE the pre-explode transform (one ``(href, dst_url)``
    struct per element, base-url parts hoisted to named per-row
    columns): computing ``dst_url`` after the explode let the
    null/scheme filters be pushed below the projection, duplicating
    the whole multi-regex resolve tree into each Filter — the plan
    held three copies per row (verified; the same §4.4-style
    filter-duplication, just with native expressions). Filters cannot
    cross the Generate, so the tree now evaluates once per href.
    """
    hrefs = F.regexp_extract_all(_decoded(F.col(html_col)), F.lit(HREF_PATTERN), 1)
    if max_links:
        hrefs = F.slice(hrefs, 1, max_links)
    scheme, origin, basepath, basedir = _base_parts(F.col(url_col))
    parsed = df.select(
        F.col(id_col).alias("id"),
        F.col(url_col).alias("url"),
        scheme.alias("_bscheme"),
        origin.alias("_borigin"),
        basepath.alias("_bpath"),
        basedir.alias("_bdir"),
        hrefs.alias("_hrefs"),
    )
    pairs = F.transform(
        F.col("_hrefs"),
        lambda h: F.struct(
            h.alias("href"),
            _resolve_from_parts(
                F.col("_bscheme"), F.col("_borigin"),
                F.col("_bpath"), F.col("_bdir"), h,
            ).alias("dst_url"),
        ),
    )
    out = (
        parsed.select("id", "url", F.explode(pairs).alias("_l"))
        .select(
            "id", "url",
            F.col("_l.href").alias("href"),
            F.col("_l.dst_url").alias("dst_url"),
        )
    )
    out = out.filter(F.col("dst_url").isNotNull())
    if http_only:
        out = out.filter(F.col("dst_url").rlike(r"^https?://"))
    return out


def anchor_texts(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
    max_links: int = 1000,
    _resolve_base: bool = False,
) -> DataFrame:
    """``(id, url, href, anchor)`` — href plus the anchor's inner text
    (tags stripped, whitespace collapsed), from WELL-FORMED ``<a ...>
    ... </a>`` elements only (a torn element yields nothing — use
    :func:`outlinks` for recall; this op exists for anchor-text corpora,
    where the text is the point). Same pre-explode cap, same native
    element-walk shape: ``regexp_extract_all`` over the element, then a
    per-element ``transform`` extracting href and text — no Python.

    ``_resolve_base=True`` (internal, for :func:`anchor_corpus`) adds a
    ``dst_url`` column resolved per element INSIDE the transform — the
    same filter-duplication guard as :func:`outlinks`: resolving after
    the explode lets downstream filters clone the multi-regex resolve
    tree below the projection."""
    elems = F.regexp_extract_all(
        _decoded(F.col(html_col)), F.lit(ANCHOR_ELEMENT_PATTERN), 0
    )
    if max_links:
        elems = F.slice(elems, 1, max_links)

    def _pair(e: Column) -> Column:
        anchor = F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_extract(e, r"(?is)^<a\b[^>]*>(.*)</a>$", 1),
                    r"<[^>]*>",
                    " ",
                ),
                r"\s+",
                " ",
            )
        )
        if not _resolve_base:
            return F.struct(
                F.regexp_extract(e, HREF_PATTERN, 1).alias("href"),
                anchor.alias("anchor"),
            )
        # let_-bind the href so the resolve does not re-run the
        # element-level extract
        return let_(
            F.regexp_extract(e, HREF_PATTERN, 1),
            lambda h: F.struct(
                h.alias("href"),
                anchor.alias("anchor"),
                _resolve_from_parts(
                    F.col("_bscheme"), F.col("_borigin"),
                    F.col("_bpath"), F.col("_bdir"), h,
                ).alias("dst_url"),
            ),
        )

    base_cols = []
    if _resolve_base:
        scheme, origin, basepath, basedir = _base_parts(F.col(url_col))
        base_cols = [
            scheme.alias("_bscheme"), origin.alias("_borigin"),
            basepath.alias("_bpath"), basedir.alias("_bdir"),
        ]
    src = df.select(
        F.col(id_col).alias("id"),
        F.col(url_col).alias("url"),
        *base_cols,
        elems.alias("_elems"),
    )
    out_cols = ["id", "url",
                F.col("_a.href").alias("href"),
                F.col("_a.anchor").alias("anchor")]
    if _resolve_base:
        out_cols.append(F.col("_a.dst_url").alias("dst_url"))
    return (
        src.select(
            "id", "url",
            F.explode(F.transform(F.col("_elems"), _pair)).alias("_a"),
        )
        .select(*out_cols)
        .filter(F.col("href") != "")
    )


def host_graph(
    links: DataFrame,
    src_col: str = "url",
    dst_col: str = "dst_url",
    drop_self: bool = True,
) -> DataFrame:
    """``(src_host, dst_host, n_links)`` — the host-level edge relation
    (CC web-graph shape). Hosts come from the shared native
    :func:`~llm_aided_ocr_spark.operators.textstats.domain_col`
    extraction; rows whose src or dst host fails to parse are dropped,
    and ``drop_self`` (default) removes intra-host edges (navigation
    chrome dominates them; the curation signals live in cross-host
    links). ONE exchange, carrying only (host, host) pairs — map-side
    partial aggregation has already collapsed duplicates per task."""
    e = links.select(
        domain_col(F.col(src_col)).alias("src_host"),
        domain_col(F.col(dst_col)).alias("dst_host"),
    ).filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    if drop_self:
        e = e.filter(F.col("src_host") != F.col("dst_host"))
    return e.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("n_links")
    )


def pagerank(
    graph: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str = "n_links",
) -> DataFrame:
    """``(host, rank)`` — weighted PageRank over a :func:`host_graph`
    edge relation (Page et al. 1999; the host-level centrality Common
    Crawl publishes alongside its web graph, and the classic
    spam-vs-organic feature for crawl prioritization and quality
    classifiers).

    Power iteration, one round = one join + one aggregation over NARROW
    relations (edges carry two hostnames + a double; ranks carry one
    hostname + a double) — the documents never appear. The normalized
    edge relation is ``localCheckpoint``-ed once (every round joins it);
    each round's ranks checkpoint eagerly and the superseded round's
    blocks are released immediately — the same lineage discipline as
    ``dedup_clusters``. Dangling mass (rank sitting on hosts with no
    outlinks) is redistributed uniformly each round via one bounded
    1-row collect (the ``bpe_learn`` argmax precedent); ranks therefore
    sum to 1 every round.

    Float summation order varies with partitioning, so ranks are
    reproducible only to ~1e-12 — this operator is deliberately
    NOT DuckDB-oracled (the driver records a rows-only check); the unit
    tests pin it against an independent dense NumPy power iteration
    instead."""
    edges = graph.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    edges_n = local_checkpoint(
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
    )
    nodes = local_checkpoint(
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # hosts with no outlinks (pure sinks): their rank is the dangling mass
    sinks = local_checkpoint(
        nodes.join(out_w, nodes["host"] == out_w["src"], "left_anti")
    )
    ranks = local_checkpoint(nodes.withColumn("rank", F.lit(1.0 / n)))
    for _ in range(iters):
        dangling = (
            ranks.join(sinks, "host", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .first()[0]
        )
        contribs = (
            edges_n.join(ranks, edges_n["src"] == ranks["host"])
            .groupBy("dst")
            .agg(F.sum(F.col("share") * F.col("rank")).alias("c"))
        )
        new_ranks = local_checkpoint(
            nodes.join(contribs, nodes["host"] == contribs["dst"], "left")
            .select(
                "host",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
        )
        release_local_checkpoint(ranks)
        ranks = new_ranks
    release_local_checkpoint(edges_n)
    release_local_checkpoint(sinks)
    release_local_checkpoint(nodes)
    return ranks.select("host", "rank")


def host_degrees(graph: DataFrame) -> DataFrame:
    """``(host, out_hosts, out_links, in_hosts, in_links)`` — per-host
    degree profile over a :func:`host_graph` edge relation. ``*_hosts``
    are distinct-neighbor counts (graph degree), ``*_links`` raw link
    sums (edge weight mass); spam rings show as out_hosts ≈ in_hosts ≫
    organic, parked domains as in-only. Two narrow aggregations + one
    full-outer join on the agg key; integer-exact, oracle-reproducible."""
    # Both direction aggs consume the edge relation; persist it so a
    # graph handed in as an unmaterialized plan (e.g. host_graph over an
    # outlink extraction) is not extracted twice (guide §2.4). The edge
    # relation is host-cardinality — narrow by construction.
    from pyspark import StorageLevel

    graph = persist(graph, StorageLevel.MEMORY_AND_DISK)
    out_d = graph.groupBy(F.col("src_host").alias("host")).agg(
        F.count(F.lit(1)).alias("out_hosts"),
        F.sum("n_links").alias("out_links"),
    )
    in_d = graph.groupBy(F.col("dst_host").alias("host")).agg(
        F.count(F.lit(1)).alias("in_hosts"),
        F.sum("n_links").alias("in_links"),
    )
    return out_d.join(in_d, "host", "full_outer").select(
        "host",
        F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
        F.coalesce("out_links", F.lit(0)).alias("out_links"),
        F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
        F.coalesce("in_links", F.lit(0)).alias("in_links"),
    )


def anchor_corpus(
    df: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    id_col: str = "doc_id",
    max_links: int = 1000,
    max_anchors: int = 100,
    cross_host_only: bool = True,
) -> DataFrame:
    """``(dst_host, n_anchors, n_src_hosts, anchors_cat)`` — the inbound
    anchor-text corpus per destination host: how the rest of the web
    *describes* a host. Inlink anchor text is the classic external
    relevance/quality signal (it trains search rankers and labels hosts
    no crawled page describes), and aggregating it is a first-class
    step in web-curation pipelines.

    Composition: :func:`anchor_texts` (well-formed elements only, capped
    per page BEFORE the explode) → :func:`resolve_href_col` →
    ``domain_col`` on both ends → ``cross_host_only`` (default) drops
    self-referential navigation chrome, exactly like :func:`host_graph`
    → two aggregations on ``dst_host``.

    Scale shape: the anchor relation is pre-shrunk to
    ``(dst_host, src_host, anchor)`` — html never crosses an exchange.
    ``n_anchors``/``n_src_hosts`` come from one narrow agg;
    the text list comes from a ``distinct`` (map-side partial dedup)
    then ``collect_list`` whose result is sorted and CAPPED at
    ``max_anchors`` — so output row width is bounded. A mega-host with
    ~10^7 *distinct* inbound anchors still collects them in one reducer
    before the cap; if that host exists in your crawl, pre-filter the
    anchor relation (e.g. on a per-(host, anchor) min count) before
    calling. Anchors are emitted pipe-joined (``anchors_cat``) so the
    result hashes identically across engines.
    """
    a = anchor_texts(
        df, html_col, url_col, id_col, max_links, _resolve_base=True
    )
    a = (
        a.filter(
            F.col("dst_url").isNotNull()
            & F.col("dst_url").rlike(r"^https?://")
            & (F.col("anchor") != "")
        )
        .select(
            domain_col(F.col("url")).alias("src_host"),
            domain_col(F.col("dst_url")).alias("dst_host"),
            "anchor",
        )
        .filter((F.col("src_host") != "") & (F.col("dst_host") != ""))
    )
    if cross_host_only:
        a = a.filter(F.col("src_host") != F.col("dst_host"))
    # The anchor relation feeds BOTH aggregations below; without a
    # persist each one re-runs the regex element walk over every page's
    # html (verified: two identical Generate subtrees in the physical
    # plan). ``a`` is the pre-shrunk (dst_host, src_host, anchor)
    # relation — narrow by construction — so caching it keeps the
    # html-never-recomputed property at the cost of one spill-friendly
    # cache (guide §2.4).
    from pyspark import StorageLevel

    a = persist(a, StorageLevel.MEMORY_AND_DISK)
    stats = a.groupBy("dst_host").agg(
        F.count(F.lit(1)).alias("n_anchors"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    texts = (
        a.select("dst_host", "anchor")
        .distinct()
        .groupBy("dst_host")
        .agg(
            F.array_join(
                F.slice(
                    F.array_sort(F.collect_list("anchor")), 1, max_anchors
                ),
                "|",
            ).alias("anchors_cat")
        )
    )
    return stats.join(texts, "dst_host")


def trustrank(
    graph: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 5,
    scale: int = 10**12,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str = "n_links",
    seed_col: str = "host",
) -> DataFrame:
    """``(host, itrust)`` — TrustRank (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004): personalized PageRank whose teleport vector is uniform
    over a curated TRUSTED seed set instead of all pages, so trust flows
    out of the seeds along links and link-spam farms — unreachable from
    trusted hosts — starve. The classic host-level spam-demotion signal
    next to :func:`pagerank`'s query-independent centrality.

    Unlike :func:`pagerank` (float ranks, summation-order reproducible
    only to ~1e-12, deliberately rows-only-oracled), this iteration is
    FIXED-POINT: scores are ``scale``-denominated BIGINTs, every
    per-edge contribution is ``floor(share * itrust)`` (one IEEE
    multiply on exact inputs, then floor), and all sums are integer
    sums — so the result is bit-identical across partitionings, engines,
    and cluster layouts, and the DuckDB oracle replays the recursion
    exactly. The pinned recursion (T = scale, S = seed set, d = damping):

        itrust_0(h)  = T // |S|                          if h ∈ S else 0
        C_k(h)       = Σ_{e: src→h} floor(share_e · itrust_k(src))
        D_k          = Σ_{sinks} itrust_k
        itrust_{k+1}(h) = floor(d · (C_k(h) + [h∈S] · D_k // |S|))
                          + [h∈S] · floor((1−d) · T) // |S|

    (dangling mass returns to the seeds — the personalized analogue of
    pagerank's uniform redistribution). The floor quantization loses at
    most 1/scale per edge per round — noise ~1e-12, far below any
    ranking decision — and buys exact reproducibility, the same trade
    the portable-hash family makes.

    Scale shape: identical to :func:`pagerank` — narrow edge/rank
    relations, normalized edges localCheckpoint-ed once, per-round
    eager checkpoint with immediate predecessor release, dangling mass
    as a bounded 1-row collect. ``|S|`` is a driver count: a trust seed
    list is curated and bounded by construction."""
    edges = graph.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("double").alias("w"),
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    edges_n = local_checkpoint(
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("share"))
    )
    seed_nodes = seeds.select(F.col(seed_col).alias("host")).distinct()
    nodes = local_checkpoint(
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .union(seed_nodes)
        .distinct()
    )
    flagged = local_checkpoint(nodes.join(
        seed_nodes.withColumn("_is_seed", F.lit(True)), "host", "left"
    ).select(
        "host", F.coalesce("_is_seed", F.lit(False)).alias("_is_seed")
    ))
    release_local_checkpoint(nodes)
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("trustrank requires a non-empty seed set")
    sinks = local_checkpoint(flagged.select("host").join(
        out_w, flagged["host"] == out_w["src"], "left_anti"
    ))
    tele = int((1.0 - damping) * scale) // n_seeds
    ranks = local_checkpoint(flagged.withColumn(
        "itrust",
        F.when(F.col("_is_seed"), F.lit(scale // n_seeds)).otherwise(
            F.lit(0)
        ).cast("bigint"),
    ))
    for _ in range(iters):
        dangling = int(
            ranks.join(sinks, "host", "left_semi")
            .agg(F.coalesce(F.sum("itrust"), F.lit(0)))
            .first()[0]
        )
        contribs = (
            edges_n.join(ranks, edges_n["src"] == ranks["host"])
            .groupBy("dst")
            .agg(
                F.sum(
                    F.floor(F.col("share") * F.col("itrust")).cast("bigint")
                ).alias("c")
            )
        )
        new_ranks = local_checkpoint(
            ranks.join(contribs, ranks["host"] == contribs["dst"], "left")
            .select(
                "host", "_is_seed",
                (
                    F.floor(
                        F.lit(damping)
                        * (
                            F.coalesce(F.col("c"), F.lit(0))
                            + F.when(
                                F.col("_is_seed"),
                                F.lit(dangling // n_seeds),
                            ).otherwise(F.lit(0))
                        )
                    ).cast("bigint")
                    + F.when(F.col("_is_seed"), F.lit(tele)).otherwise(
                        F.lit(0)
                    )
                ).alias("itrust"),
            )
        )
        release_local_checkpoint(ranks)
        ranks = new_ranks
    return ranks.select("host", "itrust")


def hits(
    graph: DataFrame,
    iters: int = 4,
    scale: int = 10**9,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    weight_col: str = "n_links",
) -> DataFrame:
    """``(host, hub, auth)`` — HITS hubs & authorities (Kleinberg,
    JACM 1999) over a :func:`host_graph` edge relation: hubs are hosts
    that link to good authorities, authorities are hosts linked to by
    good hubs — the mutual-reinforcement pair that separates directory/
    portal hosts from content hosts, the classic complement to
    :func:`pagerank`'s single centrality (and, like :func:`trustrank`,
    a standard link-spam feature: spam farms show high hub scores with
    near-zero authority).

    Like :func:`trustrank` (and unlike the deliberately float
    :func:`pagerank`), the iteration is FIXED-POINT so the DuckDB
    oracle replays it bit-identically. The pinned recursion, with
    integer weights w and scale T:

        hub_0(h)      = T                        for every node
        auth'_k(d)    = Sum_{e: s->d} w_e * hub_{k-1}(s)
        Da_k          = max(1, ceil(Sum auth'_k / T))   [driver int]
        auth_k(d)     = auth'_k(d) // Da_k
        hub'_k(s)     = Sum_{e: s->d} w_e * auth_k(d)
        Dh_k          = max(1, ceil(Sum hub'_k / T))
        hub_k(s)      = hub'_k(s) // Dh_k

    Normalization divides by a DRIVER-computed exact integer (one
    bounded 1-row collect per half-round — the ``pagerank`` dangling
    precedent), never multiplies by T, so the largest intermediate is
    ``T * total_weight``: with the default T=10**9 the recursion is
    overflow-safe up to ~9.2e9 total link weight per connected
    component; at the 10^12-page tier pass a smaller ``scale`` (T=10**6
    holds to ~9.2e12 links) — precision is ~1/T, far below any ranking
    decision. The sum-normalization (values sum to ~T each half-round)
    is the L1 variant of Kleinberg's L2 step: same fixed-direction
    convergence, integer-exact.

    Scale shape: per round two joins + two aggregations over NARROW
    relations (host string + one bigint); the edge relation is
    ``localCheckpoint``-ed once, each half-round's scores checkpoint
    eagerly with immediate predecessor release — the ``pagerank`` /
    ``dedup_clusters`` lineage discipline. No windows, no skew pivot:
    a mega in-degree host is one groupBy key with map-side partial
    aggregation."""
    edges = local_checkpoint(graph.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.col(weight_col).cast("bigint").alias("w"),
    ))
    nodes = local_checkpoint(
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    hub = local_checkpoint(
        nodes.withColumn("hub", F.lit(int(scale)).cast("bigint"))
    )
    auth = None
    for _ in range(iters):
        a_raw = (
            edges.join(hub, edges["src"] == hub["host"])
            .groupBy("dst")
            .agg(F.sum(F.col("w") * F.col("hub")).alias("a_raw"))
        )
        new_auth = local_checkpoint(nodes.join(
            a_raw, nodes["host"] == a_raw["dst"], "left"
        ).select(
            "host",
            F.coalesce("a_raw", F.lit(0)).cast("bigint").alias("auth"),
        ))
        total_a = int(
            new_auth.agg(F.coalesce(F.sum("auth"), F.lit(0))).first()[0]
        )
        da = max(1, -(-total_a // int(scale)))
        new_auth2 = local_checkpoint(new_auth.select(
            "host",
            F.expr(f"auth div {da}").cast("bigint").alias("auth"),
        ))
        release_local_checkpoint(new_auth)
        if auth is not None:
            release_local_checkpoint(auth)
        auth = new_auth2
        h_raw = (
            edges.join(auth, edges["dst"] == auth["host"])
            .groupBy("src")
            .agg(F.sum(F.col("w") * F.col("auth")).alias("h_raw"))
        )
        new_hub = local_checkpoint(nodes.join(
            h_raw, nodes["host"] == h_raw["src"], "left"
        ).select(
            "host",
            F.coalesce("h_raw", F.lit(0)).cast("bigint").alias("hub"),
        ))
        total_h = int(
            new_hub.agg(F.coalesce(F.sum("hub"), F.lit(0))).first()[0]
        )
        dh = max(1, -(-total_h // int(scale)))
        new_hub2 = local_checkpoint(new_hub.select(
            "host",
            F.expr(f"hub div {dh}").cast("bigint").alias("hub"),
        ))
        release_local_checkpoint(new_hub)
        release_local_checkpoint(hub)
        hub = new_hub2
    if auth is None:
        auth = nodes.withColumn("auth", F.lit(0).cast("bigint"))
    return hub.join(auth, "host").select("host", "hub", "auth")


def host_triangles(
    graph: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
) -> DataFrame:
    """``(host, n_triangles, degree, clustering)`` — per-host triangle
    count and local clustering coefficient over the UNDIRECTED host
    graph (direction dropped, self-loops and multi-edges collapsed).
    Link farms and SEO rings are locally DENSE — their hosts sit on many
    triangles relative to degree (clustering → 1), while organic hub
    hosts have star-shaped neighborhoods (clustering → 0); the classic
    Becchetti et al. (KDD 2008) spam feature, and the shape
    :func:`hits`/:func:`trustrank` scores cannot see (a farm can starve
    under trustrank yet still needs this to be *identified*).

    Exact counting via the DEGREE-ORDERED node-iterator (Schank &
    Wagner 2005): every undirected edge is directed from its
    lower-(degree, host) endpoint to the higher one, making the
    directed graph acyclic with out-degree bounded by O(sqrt(m)) on any
    graph — the wedge join ``fwd(a→b) ⋈ fwd(a→c)`` then enumerates each
    triangle exactly once as its minimum-endpoint wedge, and the
    closing-edge semi-join confirms it. This is the standard bound that
    keeps a power-law web graph's wedge count near m^1.5 instead of the
    naive Σ deg² (a 10^7-degree hub host contributes ZERO wedges as a
    non-minimum endpoint). Three narrow shuffles total (degree agg,
    wedge groupBy-join, closing-edge join); host strings only, no text.

    ``clustering = 2*T / (deg*(deg-1))`` (NULL for degree < 2) — left
    as an exact ratio of integers."""
    e = local_checkpoint(
        graph.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("host"))
        .union(e.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    # direct each edge low→high by (degree, host)
    du = deg.select(F.col("host").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("host").alias("v"), F.col("degree").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    fwd = ed.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
        )
        .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
        .alias("x")
    ).select(F.col("x.s").alias("s"), F.col("x.t").alias("t"))
    fwd = local_checkpoint(fwd)
    wedges = (
        fwd.alias("p")
        .join(fwd.alias("q"), F.col("p.s") == F.col("q.s"))
        .filter(F.col("p.t") < F.col("q.t"))
        .select(
            F.col("p.s").alias("a"),
            F.col("p.t").alias("b"),
            F.col("q.t").alias("c"),
        )
    )
    tris = wedges.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    # one streaming pass: each confirmed triangle fans its three
    # member hosts through ONE explode straight into the count — the
    # triangle relation is never cached (on a dense core it can be
    # orders of magnitude larger than the graph; caching it is the OOM)
    per_host = (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias(
                "host"
            )
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    out = (
        deg.join(per_host, "host", "left")
        .select(
            "host",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            "degree",
            F.when(
                F.col("degree") >= 2,
                (2.0 * F.coalesce("n_triangles", F.lit(0)))
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - 1).cast("double")
                ),
            ).alias("clustering"),
        )
    )
    return out
