"""Job configuration.

The parameter surface mirrors the reference CLI's intended flags
(the reference's ``llm-aided-ocr-cli.py:6-16``) — markdown toggle, header
suppression, language gate, hallucination-filter threshold, filter-test
mode — plus the scale knobs the north rule requires (mega-document
routing, checkpointing). The reference's page range applies only to the
PDF render path (``operators.extract.extract_pdf_pages``'s own arguments;
the CLI has no page-range flags); the partition count of every salted
repartition is the session's ``spark.sql.shuffle.partitions`` and the
Arrow batch size is a session setting too (``session.get_spark``); a
checkpoint run's id belongs to its ``CheckpointStore``, which always
appends. Constants no caller varies live where they are used:
the url-hash partition salt is ``plans.pipeline.SALT`` and the page-filter
thresholds are ``apply_page_filter``'s defaults; with checkpointing on,
every stage is checkpointed.
Unlike the reference (ambient ``.env`` read at import, llm_aided_ocr.py:31),
config here is constructed, never ambient.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # --- reference-parity knobs (llm-aided-ocr-cli.py:6-16) ---
    reformat_as_markdown: bool = True
    suppress_headers_and_page_numbers: bool = True
    check_if_valid_english: bool = False          # F2 language gate
    hallucination_similarity_threshold: float = 0.40  # F3
    adaptive_hallucination_threshold: bool = False    # v1 adaptive search
    test_filtering_hallucinations: bool = False       # report, don't apply
    # --- chunker constants (llm_aided_ocr.py:538) ---
    chunk_size_chars: int = 8000
    overlap_words: int = 10
    # --- correction provider ---
    provider: str = "heuristic"          # heuristic | identity (LLM providers pluggable)
    # --- v1 page filter (CHANGELOG.md:160; thresholds are
    # apply_page_filter's relaxed defaults, 10 chars / 5 words) ---
    apply_page_filter: bool = False
    apply_hallucination_filter: bool = False
    # --- scale knob (north rule) ---
    mega_doc_chars: int = 4_000_000      # docs above this processed page-granular
    # --- checkpointing ---
    warehouse_dir: str = "/tmp/ocr_spark_warehouse"
    checkpointing: bool = False
