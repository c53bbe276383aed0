"""Stage 2 — chunking: document rows → chunk rows.

The reference chunker (llm_aided_ocr.py:534-573) is document-local and
order-dependent (separator-blind counter + compounding overlap), so it runs
as one flatMap in one Arrow pass — NO ``groupBy``, NO shuffle; Spark's task
parallelism over document partitions is the fan-out (the analogue of the
reference's asyncio gather at :525-530).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from llm_aided_ocr_spark.kernels import (
    CHUNK_SIZE_CHARS,
    OVERLAP_WORDS,
    chunk_full_text,
)
from llm_aided_ocr_spark.operators.util import map_arrow

CHUNKS_SCHEMA = "url string, chunk_ix int, n_chunks int, chunk string"


def chunk_documents(
    extracted_df: DataFrame,
    chunk_size: int = CHUNK_SIZE_CHARS,
    overlap_words: int = OVERLAP_WORDS,
    text_col: str = "extracted_text",
) -> DataFrame:
    """``(url, <text_col>)`` → ``(url, chunk_ix, n_chunks, chunk)``.

    One input row yields N output rows; empty documents still yield their
    single empty chunk, matching the reference (an empty paragraph list
    still produces one chunk).
    """
    cols = extracted_df.selectExpr("url", f"{text_col} as _text")

    def _chunk(doc_urls, texts):
        # rows expand, so nothing is kept: url is emitted once per chunk
        urls, ixs, totals, chunks = [], [], [], []
        for url, text in zip(doc_urls, texts):
            doc_chunks = chunk_full_text(
                text if text is not None else "",
                chunk_size=chunk_size,
                overlap_words=overlap_words,
            )
            n = len(doc_chunks)
            for ix, ch in enumerate(doc_chunks):
                urls.append(url)
                ixs.append(ix)
                totals.append(n)
                chunks.append(ch)
        return urls, ixs, totals, chunks

    return map_arrow(cols, _chunk, CHUNKS_SCHEMA)
