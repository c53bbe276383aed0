"""Stage 4 — ordered reassembly + header strip.

Chunk rows → one document row per url. This is the pipeline's ONLY shuffle:
``groupBy(url)`` with the order-preserving aggregation discipline
(SURVEY.md §4.2.3) — ``collect_list(struct(chunk_ix, payload))`` then
``array_sort`` then ``array_join`` — because ``collect_list`` alone is not
order-stable across shuffles. Join separator semantics:

* chunk reassembly: empty separator (reference llm_aided_ocr.py:576);
* raw page sink:   ``"\\n"``  (reference :665);
* processing join: ``"\\n\\n"`` (reference :536).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.functions.text import strip_correction_header_col


def _ordered_concat(ix_col: str, payload_col: str, sep: str) -> Column:
    structs = F.collect_list(F.struct(F.col(ix_col), F.col(payload_col)))
    ordered = F.array_sort(structs)
    payloads = F.transform(ordered, lambda s: s[payload_col])
    return F.array_join(payloads, sep)


def assemble_documents(corrected_df: DataFrame, strip_header: bool = True) -> DataFrame:
    """``(url, chunk_ix, corrected)`` → ``(url, corrected_text, n_chunks)``
    with the P3 header strip applied natively after the empty-separator
    join (reference :576 then :672)."""
    joined = _ordered_concat("chunk_ix", "corrected", "")
    agg = corrected_df.groupBy("url").agg(
        joined.alias("_joined"), F.max("n_chunks").alias("n_chunks")
    )
    text = strip_correction_header_col(F.col("_joined")) if strip_header else F.col("_joined")
    return agg.select("url", text.alias("corrected_text"), "n_chunks")


def assemble_pages(pages_df: DataFrame, separator: str = "\n") -> DataFrame:
    """A1/A2 — page rows → ``(url, doc_text)`` with the chosen separator
    (``"\\n"`` for the raw sink, ``"\\n\\n"`` for the processing path)."""
    return pages_df.groupBy("url").agg(
        _ordered_concat("page_no", "page_text", separator).alias("doc_text")
    )
