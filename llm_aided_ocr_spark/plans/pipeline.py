"""End-to-end pipeline assembly (SURVEY.md §3.4).

    read pages → [lang gate] → [page filter] → salted repartition
      → extract → chunk → correct → assemble (+header strip)
      → [hallucination filter] → [quality assess]

Two physical strategies, byte-identical outputs:

* **fused** — chunk+correct+reassemble inside ONE Arrow pass per
  document: zero shuffles, embarrassingly parallel over documents. The
  right plan when the provider is cheap (heuristic) and documents are
  bounded — the common 100 TB case.
* **staged** — explicit chunk table → correction → ``groupBy(url)``
  reassembly (one shuffle): chunk-level load balancing for expensive
  providers and mega-documents, plus per-stage checkpoints.

``run_pipeline`` routes by document size: docs above
``cfg.mega_doc_chars`` take the staged path so one url cannot pin a task
(the north rule's mega-page skew handling); everything else is fused.
Each branch filters the source on that size. One existence probe runs
when ``run_pipeline`` is called, and the staged branch is planned only
when the probe finds a mega document.

Every Python pass on this path — extraction, the fused pass, the chunker,
correction and the hallucination filter — crosses the JVM boundary through
``operators.util.map_arrow``.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.kernels import (
    assemble_chunks,
    chunk_full_text,
    filter_document,
    strip_correction_header,
)
from llm_aided_ocr_spark.operators.assemble import assemble_documents
from llm_aided_ocr_spark.operators.chunker import chunk_documents
from llm_aided_ocr_spark.operators.correct import correct_chunks, get_provider
from llm_aided_ocr_spark.operators.extract import extract_text
from llm_aided_ocr_spark.operators.filters import apply_page_filter, language_gate
from llm_aided_ocr_spark.operators.util import map_arrow
from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore

RESULT_SCHEMA = "url string, raw_text string, corrected_text string, n_chunks int"

SALT = 0x5ABE  # partition salt for url hashing


def salted_repartition(df: DataFrame, cfg: PipelineConfig, *extra_cols) -> DataFrame:
    """Salted-hash repartition on url (north rule). ``xxhash64(url, salt)``
    decorrelates placement from any upstream layout; extra columns (e.g.
    chunk_ix) spread a single mega-document across tasks. The partition
    count is the session's ``spark.sql.shuffle.partitions``; ``cfg`` is
    not read."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col("url"), F.lit(SALT), *[F.col(c) for c in extra_cols]]
    return df.repartition(n, F.xxhash64(*cols))


def _spread_documents(df: DataFrame) -> DataFrame:
    """Scale-adaptive document spread: the per-document correction
    stage is embarrassingly parallel, so the salted repartition buys
    exactly one thing — parallelism when the input is under-split (a toy
    table's single row-group would serialize the Python kernel on one
    core). A splittable corpus scan is already size-uniform at
    ``maxPartitionBytes`` and mega-documents route to the staged path,
    so the full-corpus shuffle is skipped there (guide §2.4: remove
    shuffles outright; measured ~27% of pipeline wall at the 1.1 GB
    bench tier, byte-identical output) and the salted spread applies
    only below the :func:`scan_partitions_below` threshold — the same
    gate ensure_min_parallelism uses. The STAGED chunk path always
    salts on (url, chunk_ix): spreading a mega-document's chunks is the
    whole point there. A streaming frame is left as it is."""
    from llm_aided_ocr_spark.operators.util import scan_partitions_below

    target = df.sparkSession.sparkContext.defaultParallelism
    if not scan_partitions_below(df, max(1, target // 2)):
        return df
    return salted_repartition(df, None)  # its cfg is unread


def _fused_correct(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Document rows → result rows in one narrow pass (no shuffle): chunk,
    correct, reassemble and strip the header per document, url passed
    through zero-copy. The Arrow form measured at parity with the pandas
    form it replaced (best-of-7 3.404 s vs 3.401 s at the bench tier; the
    pass is kernel-bound) with byte-identical output (count / corrected
    bytes / chunks / crc32 of corrected and raw text over 320k docs)."""

    def _process(texts):
        fn = get_provider(cfg.provider)
        md = cfg.reformat_as_markdown
        sup = cfg.suppress_headers_and_page_numbers
        raws, outs, ns = [], [], []
        for text in texts:
            text = text if text is not None else ""
            chunks = chunk_full_text(
                text, chunk_size=cfg.chunk_size_chars, overlap_words=cfg.overlap_words
            )
            corrected = assemble_chunks([fn(c, md, sup) for c in chunks])
            raws.append(text)
            outs.append(strip_correction_header(corrected))
            ns.append(len(chunks))
        return raws, outs, ns

    return map_arrow(
        df.select("url", "extracted_text"), _process, RESULT_SCHEMA, keep=("url",)
    )


def _staged_correct(
    df: DataFrame, cfg: PipelineConfig, store: Optional[CheckpointStore] = None
) -> DataFrame:
    """Explicit chunk-table path with optional per-stage checkpoints."""
    chunks = chunk_documents(
        df, chunk_size=cfg.chunk_size_chars, overlap_words=cfg.overlap_words
    )
    # Spread chunks of one document across tasks (mega-doc skew handling).
    chunks = salted_repartition(chunks, cfg, "chunk_ix")
    if store is not None and cfg.checkpointing:
        # return_committed=False: continue from THIS increment only — the
        # committed table holds prior runs' chunks, which must not be
        # re-corrected and re-appended on resume.
        chunks = store.write(chunks, "chunks", counted_col="chunk", return_committed=False)
    corrected = correct_chunks(
        chunks,
        provider=cfg.provider,
        reformat_as_markdown=cfg.reformat_as_markdown,
        suppress_headers_and_page_numbers=cfg.suppress_headers_and_page_numbers,
    )
    if store is not None and cfg.checkpointing:
        corrected = store.write(
            corrected, "corrected_chunks", counted_col="corrected", return_committed=False
        )
    docs = assemble_documents(corrected, strip_header=True)
    raw = df.select("url", F.col("extracted_text").alias("raw_text"))
    # Equi-join on url; both sides already url-partitioned → AQE plans it.
    return docs.join(raw, on="url", how="inner").select(
        "url", "raw_text", "corrected_text", "n_chunks"
    )


FILTERED_SCHEMA = (
    "url string, raw_text string, corrected_text string, n_chunks int, "
    "n_sentences int, n_kept int, min_score double, threshold_used double"
)


def run_pipeline(
    pages_df: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
    store: Optional[CheckpointStore] = None,
    use_html: bool = False,
    strategy: str = "auto",
    validate_unique_urls: bool = False,
    extract_fn: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """Full pipeline: pages table in, corrected documents out.

    ``extract_fn`` swaps the extraction stage (default: the regex DOM
    strip via ``extract_text``) for an injected one — e.g.
    ``operators.extract.density_extract_stage()`` for block-level
    link-density selection. Contract: pages relation in,
    ``EXTRACTED_SCHEMA`` (url, warc_ts, lang, extracted_text) out.
    When given, it owns html handling and ``use_html`` is ignored for
    the stage itself (the auto strategy still routes on the source
    column's size).

    ``strategy``: ``"fused"`` | ``"staged"`` | ``"auto"`` (size-routed).
    ``"auto"`` runs one Spark job when called: a probe for any document
    above ``cfg.mega_doc_chars``; the staged branch is planned (and
    unioned with the fused one) only when the probe finds one.
    With a ``store`` and ``cfg.checkpointing``, already-completed documents
    (present in the ``corrected_docs`` stage) are skipped via anti-join and
    the increment is appended — the resume path.

    PRECONDITION: ``url`` is the document identity and must be unique —
    the staged path's ``groupBy(url)`` reassembly would merge chunk
    sequences of distinct rows sharing a url into one garbled document.
    ``validate_unique_urls=True`` enforces this with a count-vs-distinct
    check (one extra aggregation job) and raises on violation.
    """
    if validate_unique_urls:
        counts = pages_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col("url")).alias("d"),
        ).first()
        if counts["n"] != counts["d"]:
            raise ValueError(
                f"input has {counts['n']} rows but {counts['d']} distinct urls; "
                "url must uniquely identify a document"
            )

    df = pages_df
    if cfg.check_if_valid_english:
        df = language_gate(df)

    if store is not None and cfg.checkpointing:
        df = store.remaining(df, "corrected_docs", key="url")

    source_col = "html" if use_html else "text"

    def _prepare(branch: DataFrame) -> DataFrame:
        if extract_fn is not None:
            out = extract_fn(branch)
        else:
            out = extract_text(branch, use_html=use_html)
        if cfg.apply_page_filter:
            out = apply_page_filter(out)
        return _spread_documents(out)

    if strategy == "fused":
        result = _fused_correct(_prepare(df), cfg)
    elif strategy == "staged":
        result = _staged_correct(_prepare(df), cfg, store)
    else:
        # auto: each branch filters the pruned source on the document
        # size, so a corpus with mega documents reads its payload column
        # once per branch. A mega-free corpus — the common case — plans
        # the fused branch alone: the staged branch's empty chunk,
        # correction, reassembly and join stages would each still cost a
        # Spark job. The existence probe (``isEmpty``: a ``limit(1)`` over
        # the size filter) is one job whatever the scan's width.
        from pyspark import StorageLevel

        from llm_aided_ocr_spark.operators.util import persist

        src = df.select("url", "warc_ts", "lang", source_col)
        size = F.length(
            F.coalesce(
                F.col(source_col),
                F.lit("").cast("binary") if use_html else F.lit(""),
            )
        )
        is_mega = size > cfg.mega_doc_chars
        result = _fused_correct(_prepare(src.where(~is_mega)), cfg)
        if not src.where(is_mega).isEmpty():
            # the staged path reads its input twice (chunk side and
            # raw_text join side): cache the extracted mega documents so
            # each is extracted once
            staged_in = persist(
                _prepare(src.where(is_mega)), StorageLevel.MEMORY_AND_DISK
            )
            result = result.unionByName(_staged_correct(staged_in, cfg, store))

    if cfg.apply_hallucination_filter:
        # F3 in ONE narrow passthrough pass (a self-join with a filter of
        # the result would execute the whole upstream pipeline twice).
        # test_filtering_hallucinations (reference CLI --test-filtering)
        # reports verdicts without applying them to the text.
        threshold = cfg.hallucination_similarity_threshold
        adaptive = cfg.adaptive_hallucination_threshold
        test_only = cfg.test_filtering_hallucinations

        def _filter(origs, procs):
            texts, *stats = zip(*(
                filter_document(o, p, threshold, adaptive)
                for o, p in zip(origs, procs)
            ))
            return [origs, [p or "" for p in procs] if test_only else texts, *stats]

        result = map_arrow(
            result.select("url", "raw_text", "corrected_text", "n_chunks"),
            _filter, FILTERED_SCHEMA, keep=("url", "n_chunks"),
        )

    if store is not None and cfg.checkpointing:
        result = store.write(result, "corrected_docs", counted_col="corrected_text")
    return result


def release_pipeline_cache(result: DataFrame, blocking: bool = True) -> int:
    """Free the caches :func:`run_pipeline` registered (the auto
    strategy's extracted mega documents, an Iceberg store's staged
    increments) — together with every other unreleased cache of the
    session: this is ``operators.util.release_pinned``, under the name
    pipeline callers know. Call AFTER the terminal action (write/collect)
    on ``result`` — the mega-document cache exists precisely so the
    staged branch's two readers share one extraction during that action.
    A mega-free auto run registers nothing. Returns the number of caches
    released; idempotent."""
    from llm_aided_ocr_spark.operators.util import release_pinned

    return release_pinned(result, blocking=blocking)
