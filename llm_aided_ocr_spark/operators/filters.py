"""F1/F2/F3 filters (SURVEY.md §2.7).

F1/F2 are NATIVE predicates — they push down to the parquet/Iceberg scan
(visible as PushedFilters in the plan), which at 100 TB is the difference
between reading a column chunk and skipping it. F3 is document-local difflib
similarity (:func:`~llm_aided_ocr_spark.kernels.filter_document`) in one
Arrow pass (deterministic per the north star's "difflib-style
fuzzy-similarity" instruction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.functions.text import word_count_col
from llm_aided_ocr_spark.kernels import filter_document
from llm_aided_ocr_spark.operators.util import map_arrow


def page_filter_predicate(
    text_col: Column, min_chars: int = 10, min_words: int = 5
) -> Column:
    """F1 — v1 page-length filter (CHANGELOG.md:160, relaxed thresholds)."""
    return (F.length(text_col) >= min_chars) & (word_count_col(text_col) >= min_words)


def apply_page_filter(df: DataFrame) -> DataFrame:
    """F1 over ``extracted_text`` at the relaxed thresholds: 10 chars, 5 words."""
    return df.filter(page_filter_predicate(F.col("extracted_text"), 10, 5))


def language_gate(df: DataFrame) -> DataFrame:
    """F2 — English-language gate (v1 semantics; the input_hint's ``lang``
    column makes this a pushed-down scan predicate)."""
    return df.filter(F.col("lang") == "en")


SIMILARITY_SCHEMA = (
    "url string, filtered_text string, n_sentences int, n_kept int, "
    "min_score double, threshold_used double"
)


def hallucination_filter(
    docs_df: DataFrame,
    threshold: float = 0.40,
    adaptive: bool = False,
) -> DataFrame:
    """F3 — per-document sentence-level difflib similarity filter
    (v1 semantics per CHANGELOG.md:171-173; deterministic difflib variant).

    Document-local O(n*m) nested loop stays INSIDE one Arrow batch row —
    never a Spark cross-join — so cost is bounded by single-document size.

    ``adaptive=True`` enables the v1 adaptive search per document
    (CHANGELOG.md:171-173): raise the threshold from ``threshold`` until
    the filtered text is shorter than the original, then roll back one
    step — still document-local, no driver loop needed.
    """
    cols = docs_df.select(
        "url",
        F.col("raw_text").alias("_orig"),
        F.col("corrected_text").alias("_proc"),
    )

    def _filter(origs, procs):
        return zip(*(
            filter_document(o, p, threshold, adaptive) for o, p in zip(origs, procs)
        ))

    return map_arrow(cols, _filter, SIMILARITY_SCHEMA, keep=("url",))
