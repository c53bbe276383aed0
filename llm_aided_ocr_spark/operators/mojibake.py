"""Mojibake / encoding-damage scoring for crawled text.

Two symptoms dominate real crawl corpora: U+FFFD REPLACEMENT CHARACTER
(a decoder met bytes it could not map — torn transfers, wrong declared
charset) and UTF-8-read-as-Latin-1 double-encoding artifacts ("Ã©" for
"é", "â€™" for a right single quote). CCNet and C4 both drop or
down-weight such pages; the signal composes with ``decode_pages`` (which
PREVENTS the damage when the true charset is declared) by catching the
pages where the damage already happened upstream.

Counting contract (pinned for the DuckDB oracle): non-overlapping
left-to-right occurrences of U+FFFD plus each artifact literal, over the
UNICODE text (both engines count codepoints, not bytes);
``damage_per_kchar_r`` = ``round(1000 * hits / n_chars, 6)`` (NULL for
empty text); ``is_damaged`` = rate strictly above 2.0, false
for empty text.

Scale shape: one ``regexp_extract_all`` over a literal alternation plus
native length arithmetic — zero Python, zero shuffle, scan-fused.
"""

from __future__ import annotations

import re
from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Common UTF-8-as-Latin-1/cp1252 artifacts (the high-frequency subset;
# extend via the `artifacts` parameter in production).
DEFAULT_ARTIFACTS: List[str] = [
    "�",          # replacement character
    "Ã©", "Ã¨", "Ã¡", "Ã³", "Ã±", "Ã§", "Ã¼", "Ã¶", "Ã¤",
    "â€™", "â€˜", "â€œ", "â€¦", "Â·", "Â»", "Â«",
]


def mojibake_rate_col(text_col) -> F.Column:
    """``damage_per_kchar_r`` alone as one native column (NULL for
    empty text) over :data:`DEFAULT_ARTIFACTS` — the per-row form
    :func:`annotate` and the curation gate compose into their
    projections."""
    pattern = "|".join(re.escape(a) for a in DEFAULT_ARTIFACTS)
    text = F.coalesce(
        text_col if not isinstance(text_col, str) else F.col(text_col),
        F.lit(""),
    )
    n_chars = F.length(text)
    n_damage = F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))
    return F.when(
        n_chars > 0, F.round(F.lit(1000.0) * n_damage / n_chars, 6)
    )


def mojibake_scores(
    df: DataFrame,
    id_col: str = "id",
    artifacts: Optional[List[str]] = None,
) -> DataFrame:
    """``(id, n_chars, n_damage, damage_per_kchar_r, is_damaged)`` —
    one row per input row."""
    if artifacts is None:
        artifacts = DEFAULT_ARTIFACTS
    if not artifacts:
        raise ValueError("artifacts must be non-empty (or None for defaults)")
    pattern = "|".join(re.escape(a) for a in artifacts)
    text = F.coalesce(F.col("text"), F.lit(""))
    n_chars = F.length(text)
    n_damage = F.size(F.regexp_extract_all(text, F.lit(pattern), F.lit(0)))
    rate = F.round(F.lit(1000.0) * n_damage / n_chars, 6)
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("bigint").alias("n_chars"),
        n_damage.cast("bigint").alias("n_damage"),
        F.when(n_chars > 0, rate).alias("damage_per_kchar_r"),
        F.coalesce(
            F.when(n_chars > 0, rate > F.lit(2.0)), F.lit(False)
        ).alias("is_damaged"),
    )
