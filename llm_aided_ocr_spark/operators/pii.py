"""PII redaction — the pre-training privacy pass (emails / IPv4 / phones).

Training-data pipelines scrub personally identifiable information before
any text reaches a model (the BigScience ROOTS/BigCode StarCoder recipe:
regex classes replaced by typed placeholder tokens, so downstream
tokenizers see a stable vocabulary item instead of the raw identifier).
The reference repo processes single local PDFs and has no PII stage;
this module supplies the corpus-scale pass its outputs would flow
through before training.

Every pattern is deliberately written in the common subset of Java
regex (Spark's engine) and RE2 (DuckDB's): no lookaround, no backrefs,
plain character classes and bounded repetition — so the driver oracle
replays the EXACT same patterns and verifies the redacted bytes, and so
the patterns stay portable to any other engine a user pastes them into.

Scale shape: redaction is a chain of native ``regexp_replace`` /
``regexp_count`` expressions — per-row, zero shuffle, whole-stage
codegen, no Python. At 100 TB it is scan-bound; nothing here changes
the plan of whatever it is composed with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Ordered: emails first (their local/domain parts may contain digit runs
# the later patterns could nibble), then dotted quads, then +-prefixed
# phones. Each replacement pass runs on the output of the previous one;
# counts are always measured on the ORIGINAL text.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9() -]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    count_cols: bool = True,
) -> DataFrame:
    """Replace every email / dotted-quad IPv4 / ``+``-prefixed phone
    number with its placeholder token, in :data:`PII_PATTERNS` order.
    With ``count_cols`` (default) also append ``n_email`` / ``n_ip`` /
    ``n_phone`` — match counts measured on the ORIGINAL text, the audit
    trail a redaction pass must leave behind.

    The IPv4 pattern accepts out-of-range quads (``999.9.9.9``) — the
    standard recall-over-precision trade for redaction; the phone
    pattern requires the international ``+`` prefix so ordinary numbers
    in prose (years, quantities) are never eaten."""
    out_col = out_col or text_col
    text = F.coalesce(F.col(text_col), F.lit(""))
    if count_cols:
        for name, pat, _ in PII_PATTERNS:
            df = df.withColumn(
                f"n_{name}",
                F.regexp_count(text, F.lit(pat)).cast("int"),
            )
    red = text
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return df.withColumn(out_col, red)


def pii_stats(df: DataFrame) -> DataFrame:
    """``(id, n_email, n_ip, n_phone, red_len, red_md5)`` — the audit
    view of :func:`redact_pii`: per-category counts plus the length and
    engine-portable md5 of the redacted text, so the driver oracle
    verifies the redacted BYTES (the contract shared by
    line_dedup_stats / c4_clean_stats / paragraph_dedup_stats)."""
    red = redact_pii(df, out_col="_pii_red")
    return red.select(
        F.col("doc_id").alias("id"),
        "n_email",
        "n_ip",
        "n_phone",
        F.length("_pii_red").alias("red_len"),
        F.md5(F.col("_pii_red")).alias("red_md5"),
    )
