"""T3 token approximation as a NATIVE Column expression.

The reference's ``approximate_tokens`` (llm_aided_ocr.py:185-203) is pure
regex + arithmetic, so it stays entirely JVM-side (whole-stage codegen, no
Python exchange); tests check it against the Python kernel
``kernels.approx_token_count``.

Caveat: the native expression uses Java regex (ASCII ``\\w``/``\\b``) while
the Python kernel uses unicode-aware ``re`` — identical on ASCII text,
may differ on non-ASCII word characters.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType


def _token_cost(t: Column) -> Column:
    return (
        F.when(t.rlike(r"^[0-9]+$"), F.greatest(F.lit(1), F.floor(F.length(t) / 2)))
        .when(t.rlike(r"^[A-Z]{2,}$"), F.length(t).cast("long"))
        .when(t.rlike(r"[^\w\s]"), F.lit(1).cast("long"))
        .when(F.length(t) > 10, F.floor(F.length(t) / 4) + 1)
        .otherwise(F.lit(1).cast("long"))
    )


def approx_tokens_col(col: Column) -> Column:
    """Native re-expression of reference ``approximate_tokens``:
    whitespace-normalize, tokenize ``\\b\\w+\\b|\\S``, per-token cost by
    branch order (digits → acronyms → punctuation → long words → 1),
    ×1.1 buffer, truncate to int."""
    normalized = F.regexp_replace(
        F.regexp_replace(col, r"^\s+|\s+$", ""), r"\s+", " "
    )
    toks = F.regexp_extract_all(normalized, F.lit(r"\b\w+\b|\S"), 0)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + _token_cost(t)
    )
    return (total.cast("double") * 1.1).cast(IntegerType())
