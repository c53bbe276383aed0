"""End-to-end corpus curation: the whole suite composed into one plan.

``curate(pages_df)`` is the capstone API a training-data team actually
calls: extraction/correction (the reference pipeline, byte-identical),
quality gating, exact dedup, transitive near-dedup, deterministic
train/val/test splitting — each stage an operator this repo ships and
oracle-checks individually, composed here with the 100 TB plan shapes
(narrow gates, keeper-list anti-joins, layout-independent splits).

Stage order matters and is deliberate:

1. extract+correct FIRST (dedup must see canonical text, not raw mess);
2. quality gate BEFORE dedup (a narrow filter is cheaper than pair
   generation over junk that will be dropped anyway);
3. exact dedup BEFORE near-dedup (byte-identical copies are the common
   case — removing them first shrinks the LSH candidate space and keeps
   empty/short docs out of the near-dup problem entirely);
4. split LAST (so sampling rates apply to the CURATED population).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.config import PipelineConfig


@dataclass(frozen=True)
class CurationConfig:
    pipeline: PipelineConfig = field(default_factory=lambda: PipelineConfig(provider="heuristic"))
    use_html: bool = False                # correct the DOM-stripped html, not `text`
    redact_pii: bool = False              # email/IPv4/phone → placeholder tokens
    c4_gate: bool = False                 # C4 line cleaning + page gate
    line_dedup_min_df: Optional[int] = None  # strip corpus-frequent lines
    paragraph_dedup: bool = False         # keep-first exact paragraph dedup
    min_quality_score: int = 0            # 0 = no quality gate
    use_gopher_gate: bool = False         # AND of the Gopher rules
    host_quality_gate: bool = False       # drop ALL docs of hosts whose
                                          # rollup falls below the bars
    host_min_mean_score: float = 40.0
    host_min_pass_frac: float = 0.5
    repetition_gate: bool = False         # full 13-threshold Gopher repetition gate
    url_blocked_domains: tuple = ()       # RefinedWeb stage-1 URL gate
    url_blocked_keywords: tuple = ()      # (both empty = off)
    url_keyword_threshold: int = 2
    url_trap_gate: bool = False           # shed crawler-trap urls (depth/
                                          # params/digits/repeated segments)
    robots_rules: Optional[DataFrame] = None  # parse_robots output; pages
                                          # whose url fails the longest-
                                          # match evaluation are shed
    canonical_url_dedup: bool = False     # same-page-refetched collapse
    drop_noindex: bool = False            # drop meta-robots-noindex pages
    exact_dedup: bool = True
    normalized_dedup: bool = False        # dedup on the CCNet-normalized key
    near_dedup: bool = True
    near_dup_threshold: float = 0.8
    max_per_domain: Optional[int] = None  # cap docs per registrable host
    domain_cap_seed: int = 1
    domain_cap_registered: bool = False   # cap on PSL eTLD+1, not raw host
    mojibake_gate: bool = False           # shed encoding-damaged pages
    mojibake_max_per_kchar: float = 2.0
    min_flesch: Optional[int] = None      # Flesch floor (points, e.g. 10)
    blocklist: tuple = ()                 # C4 bad-words gate (empty = off)
    split_weights: Dict[str, float] = field(
        default_factory=lambda: {"train": 0.9, "val": 0.05, "test": 0.05}
    )
    split_seed: int = 1


def curate(
    pages_df: DataFrame,
    cfg: CurationConfig = CurationConfig(),
    store=None,
) -> DataFrame:
    """Pages table in → curated, split training corpus out:
    ``(url, corrected_text, n_chunks, quality_score, split)``.

    With a ``store`` (CheckpointStore) and ``cfg.pipeline.checkpointing``,
    the correction stage resumes from its checkpoint like ``run_pipeline``
    always does; the curation stages are deterministic recomputations over
    the corrected table (cheap relative to correction) and need no state.
    """
    from pyspark import StorageLevel

    from llm_aided_ocr_spark.operators.dedup import exact_dedup, near_dedup
    from llm_aided_ocr_spark.operators.sampling import hash_split
    from llm_aided_ocr_spark.operators.textstats import quality_score_col
    from llm_aided_ocr_spark.operators.util import persist
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    if cfg.url_blocked_domains or cfg.url_blocked_keywords:
        # stage-1 URL gate runs BEFORE correction — its whole point is
        # shedding documents without ever touching their text, and it is
        # a pure per-row codegen predicate (no join, pushdown survives)
        from llm_aided_ocr_spark.operators.textstats import url_keep_col

        pages_df = pages_df.filter(
            url_keep_col(
                F.col("url"),
                cfg.url_blocked_domains,
                cfg.url_blocked_keywords,
                cfg.url_keyword_threshold,
            )
        )

    if cfg.url_trap_gate:
        # crawler-trap urls (calendar loops, session-id paths, facet
        # explosions) are shed pre-correction at scan cost — a pure
        # per-row predicate, same class as the stage-1 URL gate
        from llm_aided_ocr_spark.operators.textstats import url_trap_keep_col

        pages_df = pages_df.filter(url_trap_keep_col(F.col("url")))

    if cfg.robots_rules is not None:
        # retroactive robots audit: drop pages whose url fails the
        # longest-match evaluation against the provided rules relation.
        # robots_allowed aggregates on the url key; the left-semi join
        # back carries only urls — both exchanges are narrow, and both
        # run BEFORE the expensive correction stage.
        from llm_aided_ocr_spark.operators.robots import robots_allowed

        ok = robots_allowed(
            pages_df, cfg.robots_rules, url_col="url", id_col="url"
        ).filter("allowed")
        pages_df = pages_df.join(
            ok.select(F.col("id").alias("url")), "url", "left_semi"
        )

    if cfg.drop_noindex and "html" in pages_df.columns:
        # meta-robots noindex pages are excluded by most public curation
        # recipes; the predicate is pure codegen over the raw html, so
        # like the URL gate it sheds documents BEFORE correction ever
        # touches them (pages with NULL html pass — nothing to declare)
        from llm_aided_ocr_spark.operators.extract import noindex_col

        pages_df = pages_df.filter(~noindex_col("html"))

    if cfg.canonical_url_dedup:
        # collapse same-page refetches (http/https, ports, params,
        # fragments) BEFORE correction — the second-cheapest shed after
        # the URL gate: the keeper pick reads only (id, canon, byte
        # length), and every dropped refetch is a correction the
        # pipeline never runs. Keeps the LONGEST raw fetch per
        # canonical url (canonical_url_keepers' contract).
        from llm_aided_ocr_spark.operators.dedup import canonical_url_keepers
        from llm_aided_ocr_spark.operators.util import corpus_scaled

        ck = canonical_url_keepers(pages_df, id_col="url")
        keep = ck.filter(F.col("keep")).select(F.col("id").alias("url"))
        pages_df = pages_df.join(corpus_scaled(keep), "url", "left_semi")

    corrected = run_pipeline(
        pages_df, cfg.pipeline, store=store,
        use_html=cfg.use_html, strategy="auto",
    )
    docs = corrected.select("url", "corrected_text", "n_chunks")
    # correction is the expensive stage (potentially real LLM calls) and
    # the curation graph consumes it from several branches (quality join,
    # minhash signatures, the final anti-join, rewrite-stage count+rebuild
    # branches) — persist it so it runs ONCE. Like every cache the
    # stages below register, callers free it with release_pinned after
    # materializing (with a checkpointing store the stage is already
    # parquet-backed and this cache is just locality).
    docs = persist(docs, StorageLevel.MEMORY_AND_DISK)

    # Text-REWRITING stages run between correction and the gates, so
    # every downstream gate and every dedup key sees the FINAL bytes.
    # Their internal order follows structure dependence:
    #   pii (narrow regex, structure-preserving)
    #   → corpus line dedup (keeps blank lines = keeps paragraph layout)
    #   → keep-first paragraph dedup (NEEDS the \n\n structure)
    #   → c4 line rules+gate LAST (it drops blank lines and rejoins with
    #     a single \n — running it earlier would erase the paragraph
    #     boundaries paragraph_dedup splits on).
    # Corpus-level chrome removal precedes the document-level dedup
    # stages below: shared nav/footer chrome otherwise inflates near-dup
    # similarity between unrelated pages of one site.
    if cfg.redact_pii:
        from llm_aided_ocr_spark.operators.pii import redact_pii

        docs = redact_pii(docs, text_col="corrected_text", count_cols=False)
    if cfg.line_dedup_min_df is not None:
        from llm_aided_ocr_spark.operators.boilerplate import line_dedup

        docs = line_dedup(
            docs, text_col="corrected_text", id_col="url",
            min_doc_freq=cfg.line_dedup_min_df,
        )
    if cfg.paragraph_dedup:
        from llm_aided_ocr_spark.operators.dedup import paragraph_dedup

        docs = paragraph_dedup(docs, text_col="corrected_text", id_col="url")
    if cfg.c4_gate:
        from llm_aided_ocr_spark.operators.boilerplate import c4_clean

        docs = (
            c4_clean(docs, text_col="corrected_text", keep_col="_c4_keep")
            .filter(F.col("_c4_keep"))
            .drop("_c4_keep")
        )
    if cfg.line_dedup_min_df is not None or cfg.paragraph_dedup:
        # the corpus-level rewrites carry join/aggregation subtrees; the
        # dedup stages below consume the rewritten relation from several
        # branches — persist the post-rewrite corpus too (the narrow
        # pii/c4 projections alone are cheap to recompute and don't
        # warrant a second materialization)
        docs = persist(docs, StorageLevel.MEMORY_AND_DISK)

    # quality_score is computed AFTER the rewrites — the gate and the
    # output column must describe the bytes that ship, not the pre-clean
    # text
    docs = docs.withColumn(
        "quality_score", quality_score_col(F.col("corrected_text"))
    )

    if cfg.use_gopher_gate:
        # join-free: the gate is a pure per-row expression of the text,
        # so it filters inline (no Exchange) instead of deriving a flags
        # table and joining it back on url.
        from llm_aided_ocr_spark.operators.textstats import gopher_pass_col

        docs = docs.filter(gopher_pass_col(F.col("corrected_text")))
    if cfg.repetition_gate:
        # the 13-threshold repetition gate needs the Arrow metric passes,
        # so unlike the word/line flags it is relation-shaped: keep ids
        # via a left-semi whose build side is pinned shuffle-hash (the
        # keep list is O(corpus) — never a broadcast build)
        from llm_aided_ocr_spark.operators.textstats import (
            gopher_repetition_gate,
        )
        from llm_aided_ocr_spark.operators.util import corpus_scaled

        keep = (
            gopher_repetition_gate(
                docs, text_col="corrected_text", id_col="url"
            )
            .filter(F.col("repetition_pass"))
            .select(F.col("doc_id").alias("url"))
        )
        docs = docs.join(corpus_scaled(keep), "url", "left_semi")
    if cfg.min_quality_score > 0:
        docs = docs.filter(F.col("quality_score") >= cfg.min_quality_score)
    if cfg.mojibake_gate:
        # encoding damage the charset sniff could not prevent (upstream
        # double-encoding, torn transfers) — per-row codegen predicate,
        # NULL rate (empty text) passes: emptiness is page_filter's job
        from llm_aided_ocr_spark.operators.mojibake import mojibake_rate_col

        rate = mojibake_rate_col(F.col("corrected_text"))
        docs = docs.filter(
            rate.isNull() | (rate <= F.lit(cfg.mojibake_max_per_kchar))
        )
    if cfg.min_flesch is not None:
        # readability floor (points; the column is x1e4) — sheds token
        # soup that survives the word-level Gopher bars. NULL (wordless
        # text) passes for the same reason as above.
        from llm_aided_ocr_spark.operators.readability import flesch_x1e4_col

        fl = flesch_x1e4_col(F.col("corrected_text"))
        docs = docs.filter(
            fl.isNull() | (fl >= F.lit(int(cfg.min_flesch) * 10000))
        )
    if cfg.host_quality_gate:
        # domain-level shed (RefinedWeb/FineWeb): hosts whose MEAN
        # quality or Gopher pass-rate is below the bars lose all their
        # documents, including individually-passing ones. The rollup's
        # exchange carries (host, ints); the verdict relation is
        # host-cardinality (tiny), so the anti-join broadcasts.
        from llm_aided_ocr_spark.operators.textstats import (
            host_quality_rollup,
        )

        low = (
            host_quality_rollup(
                docs,
                url_col="url",
                text_col="corrected_text",
                min_mean_score=cfg.host_min_mean_score,
                min_pass_frac=cfg.host_min_pass_frac,
            )
            .filter(F.col("low_quality_host"))
            .select("host")
        )
        from llm_aided_ocr_spark.operators.textstats import domain_col

        docs = docs.join(
            F.broadcast(low),
            domain_col(F.col("url")) == F.col("host"),
            "left_anti",
        )
    if cfg.blocklist:
        from llm_aided_ocr_spark.operators.boilerplate import blocklist_filter

        docs = blocklist_filter(
            docs, list(cfg.blocklist), text_col="corrected_text", id_col="url"
        )

    if cfg.max_per_domain is not None:
        # cap BEFORE the dedup stages: a dominant host is exactly where
        # boilerplate-driven near-dup clusters concentrate, so shedding
        # its excess first shrinks the candidate space the LSH stages
        # must chew through (C4/Gopher cap early for the same reason)
        from llm_aided_ocr_spark.operators.sampling import domain_cap

        dom_expr = None
        if cfg.domain_cap_registered:
            # cap on the PSL eTLD+1 so subdomain farms (a.blog.example /
            # b.blog.example / ...) share ONE budget; hosts with no
            # registrable domain (bare suffixes, malformed) fall back to
            # the raw host key
            from llm_aided_ocr_spark.operators.domains import (
                registered_domain_col,
            )
            from llm_aided_ocr_spark.operators.textstats import domain_col

            host = domain_col(F.col("url"))
            dom_expr = F.coalesce(registered_domain_col(host), host)
        docs = domain_cap(
            docs, cfg.max_per_domain, url_col="url",
            seed=cfg.domain_cap_seed, domain_expr=dom_expr,
        )
    if cfg.exact_dedup:
        docs = exact_dedup(docs, text_col="corrected_text", id_col="url")
    if cfg.normalized_dedup:
        # CCNet-normalized exact dedup sits BETWEEN byte-exact and near:
        # it collapses case/accent/digit/punct/whitespace variants byte
        # dedup misses, shrinking the LSH candidate space like exact
        # dedup does, at exact-dedup cost (one hash-keyed min agg — the
        # production 8-byte key, text never enters the exchange)
        from llm_aided_ocr_spark.operators.normalize import (
            normalized_dedup as _normalized_dedup,
        )

        docs = _normalized_dedup(
            docs, text_col="corrected_text", id_col="url", key="xxhash64"
        )
    if cfg.near_dedup:
        docs = near_dedup(
            docs,
            threshold=cfg.near_dup_threshold,
            text_col="corrected_text",
            id_col="url",
        )

    return hash_split(
        docs, dict(cfg.split_weights), id_col="url", seed=cfg.split_seed
    )


def annotate(
    df: DataFrame,
    text_col: str = "text",
    url_col: str = "url",
    id_col: str = "url",
    blocked_domains: tuple = (),
    blocked_keywords: tuple = (),
) -> DataFrame:
    """``(id, domain, registered_domain, detected_lang, doc_bytes,
    approx_tokens, quality_score, gopher_pass, url_keep, flesch_x1e4,
    mojibake_per_kchar_r)`` — the Dolma-style per-doc
    attribute table: every cheap tagger this repo ships that is a PURE
    per-row expression, emitted as ONE wide native projection. Zero
    joins, zero Python, zero shuffle — tagging a 100 TB corpus costs
    exactly one read. Cost note: the pass is regex-bound (~10 full-text
    regex passes across the signals; 320k docs / 1.12 GB in ~116 s on
    local[32] full-width), and Catalyst prunes unselected signals away
    entirely — a mixer rule reading three attributes pays only their
    passes. The round-5 audit replaced the array-materializing
    higher-order-function forms (lang-id 123 s -> 6.5 s, gopher stops
    re-lowering the words array per stopword) with single-pass regex
    counts; approx_tokens keeps the one remaining aggregate() lambda
    (its per-token branchy cost has no closed regex form). Deployment
    note: full-width tagging is DRAM-bandwidth-bound on one node
    (measured 8->32-core efficiency 0.36) — at 100 TB, scale it ACROSS
    executors, where every node brings its own memory bandwidth, rather
    than fattening per-node core counts. Downstream "mixer" rules are plain filters over the
    attribute columns (each signal is individually driver-oracled via
    its own contract query; this compose adds no arithmetic of its own).

    Relation-shaped signals (lm_score, word_commonness, the repetition
    gate, near-dup flags) deliberately stay OUT of this projection —
    they carry aggregations/joins and belong in :func:`curate`'s staged
    composition, not a per-row tagger."""
    from llm_aided_ocr_spark.functions.tokens import approx_tokens_col
    from llm_aided_ocr_spark.operators.textstats import (
        domain_col,
        gopher_pass_col,
        lang_id_col,
        quality_score_col,
        url_keep_col,
    )

    from llm_aided_ocr_spark.operators.domains import registered_domain_col
    from llm_aided_ocr_spark.operators.mojibake import mojibake_rate_col
    from llm_aided_ocr_spark.operators.readability import flesch_x1e4_col

    text = F.coalesce(F.col(text_col), F.lit(""))
    cols = [
        F.col(id_col).alias("id"),
        domain_col(F.coalesce(F.col(url_col), F.lit(""))).alias("domain"),
        registered_domain_col(
            domain_col(F.coalesce(F.col(url_col), F.lit("")))
        ).alias("registered_domain"),
        lang_id_col(F.col(text_col)).alias("detected_lang"),
        F.octet_length(text).cast("bigint").alias("doc_bytes"),
        approx_tokens_col(text).alias("approx_tokens"),
        quality_score_col(F.col(text_col)).alias("quality_score"),
        gopher_pass_col(F.col(text_col)).alias("gopher_pass"),
        url_keep_col(
            F.col(url_col), blocked_domains, blocked_keywords
        ).alias("url_keep"),
        flesch_x1e4_col(F.col(text_col)).alias("flesch_x1e4"),
        mojibake_rate_col(F.col(text_col)).alias("mojibake_per_kchar_r"),
    ]
    if "html" in df.columns:
        # raw html present → the meta-robots signal is free in the same
        # projection (still pure codegen; absent-column inputs skip it)
        from llm_aided_ocr_spark.operators.extract import noindex_col

        cols.append(noindex_col("html").alias("noindex"))
    return df.select(*cols)


def curation_report(curated: DataFrame) -> DataFrame:
    """Per-split corpus profile of a :func:`curate` result — the release
    readout (doc counts, char totals, quality distribution)."""
    return curated.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("corrected_text")).alias("total_chars"),
        F.round(F.avg("quality_score"), 2).alias("avg_quality"),
        F.min("quality_score").alias("min_quality"),
    )
