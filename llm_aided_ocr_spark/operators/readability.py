"""Flesch reading-ease scoring over the extracted-text relation.

A classic text-quality signal (Flesch 1948; used alongside the Gopher
and C4 heuristics when tuning corpus filters): readable prose scores
60-80, dense technical text 0-30, degenerate token soup goes negative.
The reference repo scores quality with an LLM prompt; this is the
closed-form statistical counterpart for filtering at crawl scale where
an LLM call per page is not affordable.

Definitions (pinned so the DuckDB oracle can replay them exactly):

* WORDS — maximal ``[a-z]+`` runs of the lowercased text (digits and
  punctuation never join a word);
* SYLLABLES per word — the number of ``[aeiouy]+`` vowel groups, with a
  floor of 1 for vowel-less words (the standard heuristic; corpus-level
  error is small and unbiased);
* SENTENCES — maximal ``[.!?]+`` runs, floored at 1 (a fragment with no
  terminator is one sentence);
* score — ``206.835 - 1.015*(W/S) - 84.6*(SYL/W)``, NULL when W = 0.

The score is emitted as ``flesch_x1e4`` = ``floor(score*10000 + 0.5)``
(a BIGINT): both engines do identical IEEE-double math on identical
expression trees, and the integer form sidesteps the HALF_UP-vs-banker's
rounding divergence between Spark's ``round`` and DuckDB's.

Scale shape: pure native projections (four ``regexp_extract_all``
passes per row, no array materialization), zero Python, zero shuffle,
scan-fused with whatever filter ladder surrounds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def flesch_x1e4_col(text_col) -> F.Column:
    """The score alone as one native column (NULL for wordless text) —
    the per-row form :func:`annotate` composes into its projection.

    ``low`` and the word count are let_-bound (round 6): codegen does
    not CSE repeated ``regexp_extract_all`` trees through the score's
    CASE WHEN, so the unbound form lowered the text per count and ran
    the word-array extraction three times per row (once per ``w``
    reference) — measured 11.1 s → 4.5 s for the column over the 1.1 GB
    bench corpus, values identical."""
    text = F.coalesce(text_col if not isinstance(text_col, str) else F.col(text_col), F.lit(""))

    def _score(text, low, w) -> F.Column:
        # vowel-less maximal [a-z]+ runs counted via lookarounds instead
        # of a filter() lambda over the words array: the array
        # materialization + per-element lambda eval costs real
        # allocation at corpus scale; the lookaround form keeps the
        # identical word definition ((?<![a-z])..(?![a-z]) = maximal
        # run) in one regex pass
        syl = F.size(
            F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), F.lit(0))
        ) + F.size(
            F.regexp_extract_all(
                low, F.lit(r"(?<![a-z])[b-df-hj-np-tv-xz]+(?![a-z])"), F.lit(0)
            )
        )
        s = F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), F.lit(0))),
        )
        score = (
            F.lit(206.835)
            - F.lit(1.015) * (w.cast("double") / s.cast("double"))
            - F.lit(84.6) * (syl.cast("double") / w.cast("double"))
        )
        return F.when(w > 0, F.floor(score * 10000 + F.lit(0.5))).cast("bigint")

    from llm_aided_ocr_spark.operators.util import let_

    return let_(
        text,
        lambda t: let_(
            F.lower(t),
            lambda low: let_(
                F.size(F.regexp_extract_all(low, F.lit(r"[a-z]+"), F.lit(0))),
                lambda w: _score(t, low, w),
            ),
        ),
    )


def flesch_scores(df: DataFrame, id_col: str = "id") -> DataFrame:
    """``(id, n_words, n_sentences, n_syllables, flesch_x1e4)`` — one
    row per input row; ``flesch_x1e4`` is NULL for wordless text."""
    text = F.coalesce(F.col("text"), F.lit(""))
    low = F.lower(text)
    w = F.size(F.regexp_extract_all(low, F.lit(r"[a-z]+"), F.lit(0)))
    vowel_groups = F.size(F.regexp_extract_all(low, F.lit(r"[aeiouy]+"), F.lit(0)))
    vowelless = F.size(  # lookaround form — see flesch_x1e4_col's note
        F.regexp_extract_all(
            low, F.lit(r"(?<![a-z])[b-df-hj-np-tv-xz]+(?![a-z])"), F.lit(0)
        )
    )
    syl = vowel_groups + vowelless
    s = F.greatest(F.lit(1), F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), F.lit(0))))
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s.cast("double"))
        - F.lit(84.6) * (syl.cast("double") / w.cast("double"))
    )
    return df.select(
        F.col(id_col).alias("id"),
        w.cast("bigint").alias("n_words"),
        s.cast("bigint").alias("n_sentences"),
        syl.cast("bigint").alias("n_syllables"),
        F.when(w > 0, F.floor(score * 10000 + F.lit(0.5)))
        .cast("bigint")
        .alias("flesch_x1e4"),
    )
