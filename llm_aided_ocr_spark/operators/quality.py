"""A4 — quality assessment (reference llm_aided_ocr.py:584-632).

Per-document: truncate both texts to 7500 chars natively (``substring``),
call the assessor provider inside one Arrow pass, parse the
``SCORE:``/``EXPLANATION:`` wire format with native ``regexp_extract`` —
the parse stays JVM-side even when the assessor is an LLM.

Corpus roll-up (avg score, doc count) is new surface the reference only had
implicitly in logs; exposed as :func:`quality_rollup`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.kernels import ASSESS_SAMPLE_CHARS, assess_quality_response
from llm_aided_ocr_spark.operators.util import map_arrow


def assess_quality(
    docs_df: DataFrame,
    original_col: str = "raw_text",
    processed_col: str = "corrected_text",
) -> DataFrame:
    """``(url, raw_text, corrected_text)`` → ``(url, score int,
    explanation string)``."""
    sampled = docs_df.select(
        "url",
        F.substring(F.col(original_col), 1, ASSESS_SAMPLE_CHARS).alias("_orig"),
        F.substring(F.col(processed_col), 1, ASSESS_SAMPLE_CHARS).alias("_proc"),
    )

    def _assess(origs, procs):
        return ([
            assess_quality_response(o or "", p or "") for o, p in zip(origs, procs)
        ],)

    responses = map_arrow(
        sampled, _assess, "url string, response string", keep=("url",)
    )
    return responses.select(
        "url",
        F.regexp_extract("response", r"SCORE:\s*(\d+)", 1).cast("int").alias("score"),
        F.regexp_extract("response", r"EXPLANATION:\s*(.*)", 1).alias("explanation"),
    )


def quality_rollup(scores_df: DataFrame) -> DataFrame:
    return scores_df.agg(
        F.count("*").alias("n_docs"),
        F.avg("score").alias("avg_score"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )
