"""CCNet-style text normalization — the canonical pre-hash transform of
web-corpus dedup recipes (CCNet "normalization for deduplication":
lowercase, unicode-punctuation mapping, accent folding, digit zeroing;
C4 adds control-character stripping). The reference repo has no corpus
dedup at all (it is a single-document CLI, llm_aided_ocr.py:1-50); this
operator exists for the training-data-pipeline surface mandated by the
brief, next to the exact/near dedup family in
:mod:`llm_aided_ocr_spark.operators.dedup`.

Everything here is a PURE native column expression — a chain of
``replace``/``translate``/``regexp_replace``/``lower`` that fuses into
whole-stage codegen with the scan. No Python row path, no join, no
shuffle: normalizing a 100 TB corpus costs exactly one read. The fixed
mapping tables are module constants so the DuckDB oracle replays the
byte-identical recipe (``translate``/``replace``/``regexp_replace`` have
exact cross-engine equivalents; regex character classes are written
explicitly so Java and RE2 agree).

Deliberate bounds (documented, not bugs):

* single-codepoint mappings live in ONE ``translate`` each; the handful
  of expansions (``…``→``...``, ``æ``→``ae``, ``œ``→``oe``, ``ß``→``ss``
  and their uppercase forms) are explicit ``replace`` steps;
* digit zeroing is ASCII ``[0-9]`` only (CCNet's DIGIT_RE); full
  Unicode-digit folding would need ICU, which is neither in Spark's
  native function set nor byte-stable across engines;
* accent folding is the fixed Latin table below, not NFD+strip-Mn —
  table-driven folding is deterministic and engine-portable, NFD is not
  available as a native expression in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# single-codepoint unicode punctuation -> ASCII (CCNet UNICODE_PUNCT,
# 1:1 entries only; expansions are in MULTI_CHAR below)
UNICODE_PUNCT = {
    "，": ",", "。": ".", "、": ",", "″": '"', "～": "~", "：": ":",
    "；": ";", "？": "?", "！": "!", "（": "(", "）": ")", "【": "[",
    "】": "]", "「": '"', "」": '"', "『": '"', "』": '"', "〈": "<",
    "〉": ">", "·": ".", "・": ".", "｡": ".", "｢": '"', "｣": '"',
    "､": ",", "∶": ":", "—": "-", "―": "-", "–": "-", "‐": "-",
    "‘": "'", "’": "'", "‚": "'", "“": '"', "”": '"', "„": '"',
    "％": "%", "＃": "#", "＆": "&", "＊": "*", "＋": "+", "－": "-",
    "／": "/", "＜": "<", "＞": ">", "＝": "=", "＠": "@", "｜": "|",
    "￥": "$", "«": '"', "»": '"', "´": "'", "`": "'",
}

# fixed Latin accent fold (both cases; case preserved so the fold is
# meaningful standalone, before or without lowercasing)
_ACCENT_GROUPS = [
    ("àáâãäåāăą", "a"), ("èéêëēĕėęě", "e"), ("ìíîïĩīĭįı", "i"),
    ("òóôõöøōŏő", "o"), ("ùúûüũūŭůűų", "u"), ("ýÿŷ", "y"),
    ("ñńņň", "n"), ("çćĉċč", "c"), ("śŝşš", "s"), ("źżž", "z"),
    ("đď", "d"), ("ĝğġģ", "g"), ("ĥħ", "h"), ("ĵ", "j"), ("ķ", "k"),
    ("ĺļľł", "l"), ("ŕŗř", "r"), ("ţťŧ", "t"), ("ŵ", "w"),
]
ACCENT_FOLD = {
    ch: base
    for chars, base in _ACCENT_GROUPS
    for ch in chars
}
ACCENT_FOLD.update(
    {ch.upper(): base.upper() for ch, base in list(ACCENT_FOLD.items())}
)

# expansions translate() cannot express (1 codepoint -> 2+ chars)
MULTI_CHAR = {
    "…": "...", "æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE", "ß": "ss",
}

# explicit class so Java (Spark) and RE2 (DuckDB) agree byte-for-byte:
# Java \s includes \x0B, RE2 \s does not
_CONTROL_CLASS = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
_WS_CLASS = "[ \\t\\n\\r\\x0B\\f]+"


def _table(mapping: dict) -> tuple:
    items = sorted(mapping.items())
    return "".join(k for k, _ in items), "".join(v for _, v in items)


def normalize_text_col(
    col: Column,
    *,
    strip_controls: bool = True,
    unicode_punct: bool = True,
    lowercase: bool = True,
    strip_accents: bool = True,
    zero_digits: bool = True,
    collapse_whitespace: bool = True,
) -> Column:
    """The normalized form of ``col`` (NULL → ``''``), applied in the
    fixed order: control strip → expansions + punctuation translate →
    lower → accent translate → digit zeroing → whitespace collapse +
    trim. Every stage is native; the whole chain is one codegen'd
    projection."""
    c = F.coalesce(col, F.lit(""))
    if strip_controls:
        c = F.regexp_replace(c, _CONTROL_CLASS, "")
    if unicode_punct or strip_accents:
        for k, v in sorted(MULTI_CHAR.items()):
            c = F.replace(c, F.lit(k), F.lit(v))
    if unicode_punct:
        frm, to = _table(UNICODE_PUNCT)
        c = F.translate(c, frm, to)
    if lowercase:
        c = F.lower(c)
    if strip_accents:
        frm, to = _table(ACCENT_FOLD)
        c = F.translate(c, frm, to)
    if zero_digits:
        c = F.regexp_replace(c, "[0-9]", "0")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, _WS_CLASS, " "))
    return c


def normalize_text(df: DataFrame, **flags) -> DataFrame:
    """``df`` plus the normalized column — the tag-as-you-scan shape
    (works unchanged on a stream, like ``annotate``)."""
    return df.withColumn("norm_text", normalize_text_col(F.col("text"), **flags))


def _norm_key_col(text_col: str, key: str) -> Column:
    if key not in ("text", "xxhash64"):
        raise ValueError(f"key must be 'text' or 'xxhash64', got {key!r}")
    norm = normalize_text_col(F.col(text_col))
    return F.xxhash64(norm) if key == "xxhash64" else norm


def normalized_keeper_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: str = "xxhash64",
) -> DataFrame:
    """``(keeper_id)`` — the min-id representative of every
    normalized-text group (the :func:`exact_keeper_ids` shape, on the
    CCNet-normalized key): documents identical up to case / accents /
    digits / unicode punctuation / whitespace layout collapse to one
    group and the smallest id survives (keeper is a pure function of
    the group — order- and partitioning-independent).

    The 100 TB path: ONE corpus scan, the normalize chain runs ONCE
    (fused into that scan), and under the default ``key='xxhash64'``
    the one exchange carries 16-byte ``(id, hash)`` rows with a
    map-side-combinable min (~2^-64 false-merge per pair).
    ``key='text'`` groups on the normalized string itself — the
    engine-portable form the driver oracle replays."""
    base = df.select(
        F.col(id_col).alias("_id"), _norm_key_col(text_col, key).alias("_nk")
    )
    return (
        base.groupBy("_nk")
        .agg(F.min("_id").alias("keeper_id"))
        .select("keeper_id")
    )


def normalized_keepers(
    df: DataFrame,
    id_col: str = "doc_id",
    key: str = "text",
) -> DataFrame:
    """``(id, keep)`` — the per-document verdict table (every id, with
    its keep flag), for audits and the driver oracle.

    Unlike :func:`normalized_keeper_ids`, producing a flag for EVERY
    row inherently consumes the ``(id, key)`` relation twice (group
    mins AND row verdicts), so this form scans + normalizes the corpus
    twice — both passes narrow, the join keyed on the same key the
    aggregation shuffled on, text never in an exchange under
    ``key='xxhash64'``. For bulk dedup prefer keeper_ids + an id-keyed
    semi-join (:func:`normalized_dedup` does exactly that)."""
    from llm_aided_ocr_spark.operators.util import corpus_scaled

    base = df.select(F.col(id_col).alias("id"), _norm_key_col("text", key).alias("_nk"))
    keepers = base.groupBy("_nk").agg(F.min("id").alias("_keeper_id"))
    return base.join(corpus_scaled(keepers), "_nk").select(
        "id", (F.col("id") == F.col("_keeper_id")).alias("keep")
    )


def normalized_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: str = "xxhash64",
) -> DataFrame:
    """The surviving rows of ``df`` under normalized exact dedup: ONE
    keeper-id pass (single scan, single normalize, 16-byte exchange)
    plus a left-semi join of the input on the id — document text never
    enters an exchange, and against an id-bucketed table the semi-join
    needs no exchange at all."""
    kept = normalized_keeper_ids(
        df, text_col=text_col, id_col=id_col, key=key
    ).withColumnRenamed("keeper_id", id_col)
    return df.join(kept, id_col, "left_semi")
