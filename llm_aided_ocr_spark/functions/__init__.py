from llm_aided_ocr_spark.functions.tokens import approx_tokens_col
from llm_aided_ocr_spark.functions.text import (
    strip_correction_header_col,
    word_count_col,
)

__all__ = [
    "approx_tokens_col",
    "strip_correction_header_col",
    "word_count_col",
]
