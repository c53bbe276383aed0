"""Text-analysis operators for training-data curation: language ID,
quality scoring, token counting, document fingerprinting.

All are NATIVE column expressions (JVM/codegen, no Python exchange) so they
run at scan speed over 100 TB; each returns aliased columns ready for the
driver's oracle comparison.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.functions.text import word_count_col
from llm_aided_ocr_spark.operators.util import map_arrow, md5_52, persist

# ---------------------------------------------------------------------------
# Language ID — stopword-hit heuristic
# ---------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "una", "por", "con", "para", "del"),
}


def _marker_token_pattern(markers, cls: str) -> str:
    """Alternation matching any marker as a COMPLETE maximal ``[cls]+``
    run (lookarounds pin both edges, so a match is exactly a token of
    the split-on-class-complement tokenization; matches are disjoint
    complete runs, so counts equal the per-token form's, duplicates
    included). Longest-first ordering is cosmetic — the edge lookahead
    backtracks through shorter alternatives anyway."""
    vocab = sorted(set(markers), key=lambda w: (-len(w), w))
    return f"(?<![{cls}])(?:" + "|".join(vocab) + f")(?![{cls}])"


def _marker_count_re(low_text: Column, markers, cls: str) -> Column:
    pat = _marker_token_pattern(markers, cls)
    return F.size(F.regexp_extract_all(low_text, F.lit(pat), F.lit(0)))


_LANG_CLS = "a-z\u00e0-\u00ff\u00e4\u00f6\u00fc\u00df\u00f1"  # lang-id token alphabet


def lang_id_col(text_col: Column) -> Column:
    """Best-scoring language by stopword hits; ``und`` (undetermined) when
    nothing matches. Deterministic tie-break by language-key order.

    Scale note: ONE combined-vocabulary regexp pass extracts every
    marker token of every language from ``lower(text)`` directly
    (lookaround-bounded, no normalize/split materialization), then the
    per-language counts filter the resulting TINY token array. The
    original normalize-replace + per-word ``filter(words,
    array_contains)`` form computed identical counts but paid a
    regexp_replace that rebuilt the whole string around ~1 match per
    word — measured 123-147 s for 1.12 GB on local[32] vs ~5-7 s for
    this form (~25x), and it made lang-id 10x the cost of every other
    per-row signal in the fused annotate() pass."""
    from llm_aided_ocr_spark.operators.util import let_

    pat = _marker_token_pattern(
        tuple(w for ms in _LANG_MARKERS.values() for w in ms), _LANG_CLS
    )
    tokens_expr = F.regexp_extract_all(
        F.lower(text_col), F.lit(pat), F.lit(0)
    )

    def _result(tokens: Column) -> Column:
        # per-language counts run over the JOINED token string (tiny —
        # marker tokens only), so no filter() lambda is needed beyond
        # the single let_ binding of the extraction
        joined = F.concat(F.lit(" "), F.array_join(tokens, " "), F.lit(" "))
        scores = [
            F.struct(
                F.size(F.regexp_extract_all(
                    joined,
                    F.lit(" (?:" + "|".join(sorted(set(markers),
                                                   key=lambda w: (-len(w), w)))
                          + ")(?= )"),
                    F.lit(0),
                )).alias("hits"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, markers) in enumerate(_LANG_MARKERS.items())
        ]
        best_expr = F.array_max(F.array(*scores))
        # best is referenced twice below — bind it too, or the 4-language
        # scoring subtree would evaluate twice per row
        return let_(
            best_expr,
            lambda best: F.when(best["hits"] > 0, best["lang"]).otherwise(
                F.lit("und")
            ),
        )

    return let_(tokens_expr, _result)


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("detected_lang", lang_id_col(F.coalesce(text_col, F.lit(""))))


# ---------------------------------------------------------------------------
# Quality scoring — length / punctuation / stopword / repetition ratios
# ---------------------------------------------------------------------------

def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features, all native:
    n_chars, n_words, mean_word_len, punct_ratio, upper_ratio,
    stopword_ratio, line_count, blank_line_ratio."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_words = word_count_col(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    stop_hits = _marker_count_re(F.lower(t), _LANG_MARKERS["en"], "a-z")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_blank = F.size(F.filter(lines, lambda ln: F.trim(ln) == ""))
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_calc"),
        n_words.alias("n_words"),
        safe(n_chars, n_words).alias("mean_word_len"),
        safe(n_punct, n_chars).alias("punct_ratio"),
        safe(n_upper, n_chars).alias("upper_ratio"),
        safe(stop_hits, n_words).alias("stopword_ratio"),
        n_lines.alias("n_lines"),
        safe(n_blank, n_lines).alias("blank_line_ratio"),
    )


def quality_score_col(text_col: Column) -> Column:
    """Composite 0-100 heuristic quality score: rewards sane word lengths
    and stopword presence, penalizes punctuation/uppercase excess and
    blank-heavy layouts. Deterministic, monotone in the features.

    ``n_words`` feeds four terms; codegen's subexpression elimination
    does NOT hoist it through the surrounding CASE WHEN branches, so the
    unbound form re-ran the trim+split word count ~7x per row (measured
    13.2 s → 6.3 s for the score column alone over the 1.1 GB bench
    corpus once let_-bound; values bit-identical on all 320k docs —
    guide §1.2 per-task work)."""
    from llm_aided_ocr_spark.operators.util import let_

    def _score(t: Column, n_words: Column) -> Column:
        n_chars = F.length(t)
        stop_ratio = F.when(
            n_words > 0,
            _marker_count_re(
                F.lower(t), _LANG_MARKERS["en"], "a-z"
            ).cast("double") / n_words,
        ).otherwise(F.lit(0.0))
        punct_ratio = F.when(
            n_chars > 0,
            (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))).cast("double") / n_chars,
        ).otherwise(F.lit(0.0))
        mean_wl = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(F.lit(0.0))
        length_term = F.least(n_words.cast("double") / 100.0, F.lit(1.0)) * 30
        stop_term = F.least(stop_ratio * 4, F.lit(1.0)) * 30
        wl_term = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(20.0)).otherwise(F.lit(5.0))
        punct_term = F.greatest(F.lit(0.0), (F.lit(0.25) - punct_ratio) * 80)
        return F.round(length_term + stop_term + wl_term + punct_term).cast("int")

    return let_(
        F.coalesce(text_col, F.lit("")),
        lambda t: let_(word_count_col(t), lambda nw: _score(t, nw)),
    )


_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_words_expr(t: Column) -> Column:
    return F.filter(F.split(t, r"\s+"), lambda w: w != "")


def _gopher_lines_expr(t: Column) -> Column:
    return F.filter(F.split(t, "\n"), lambda ln: F.trim(ln) != "")


def _gopher_word_flag_pairs(words: Column) -> list:
    """The per-word-array Gopher rules as ``(name, boolean Column)`` pairs
    over an already-bound words array (bind with ``let_`` so the split
    runs once per row however many flags are consumed)."""
    n_words = F.size(words)
    mean_wl = F.when(
        n_words > 0,
        F.aggregate(
            words, F.lit(0).cast("bigint"), lambda a, w: a + F.length(w)
        ).cast("double")
        / n_words,
    ).otherwise(F.lit(0.0))
    n_symbols = F.size(
        F.filter(words, lambda w: w.contains("#") | w.contains("..."))
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    n_stops = F.size(
        F.filter(
            stop_arr,
            lambda s: F.array_contains(F.transform(words, F.lower), s),
        )
    )
    return [
        ("ok_word_count", (n_words >= 50) & (n_words <= 100_000)),
        ("ok_mean_word_len", (mean_wl >= 3.0) & (mean_wl <= 10.0)),
        (
            "ok_symbol_ratio",
            F.when(n_words > 0, n_symbols.cast("double") / n_words <= 0.1)
            .otherwise(F.lit(False)),
        ),
        (
            "ok_alpha_words",
            F.when(n_words > 0, n_alpha.cast("double") / n_words >= 0.8)
            .otherwise(F.lit(False)),
        ),
        ("ok_stop_words", n_stops >= 2),
    ]


def _gopher_line_flag_pairs(lines: Column) -> list:
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda ln: F.trim(ln).startswith("-")
            | F.trim(ln).startswith("*")
            | F.trim(ln).startswith("•"),
        )
    )
    ellipsis = F.size(F.filter(lines, lambda ln: F.trim(ln).endswith("...")))
    safe = lambda n: F.when(  # noqa: E731
        n_lines > 0, n.cast("double") / n_lines
    ).otherwise(F.lit(0.0))
    return [
        ("ok_bullet_lines", safe(bullet) <= 0.9),
        ("ok_ellipsis_lines", safe(ellipsis) <= 0.3),
    ]


_JAVA_WS = " \t\n\x0b\x0c\r"  # exactly Java regex \\s — for translate()


def _re_count(t: Column, pat: str) -> Column:
    return F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))


def gopher_pass_col(text: Column) -> Column:
    """The combined Gopher gate as ONE native boolean expression — the
    join-free form for inline filtering (``curate()`` uses this: the flags
    are pure per-row functions of the text, so deriving them through
    :func:`gopher_quality_flags` and joining back on the id would buy an
    Exchange for zero information). Equivalence with the flags table is
    pinned by test.

    Round-6 form: the word-level counts run over ONE let_-bound ``\\S+``
    token array (``n_words`` its size, symbol/alpha counts as array
    filters), and the stop check is ONE combined-alternation
    ``regexp_extract_all`` + ``array_distinct`` instead of a pass per
    stopword. The round-5 all-regex form paid a separate text scan per
    quantity, and its complete-run lookaround for ``n_alpha``
    (``(?<!\\S)[^A-Za-z\\s]*[A-Za-z]\\S*``) backtracks quadratically on
    non-alpha runs — measured 22.7 s for that ONE count over the 1.1 GB
    bench corpus vs 1.9 s as an array filter; the whole gate went
    31.9 s → 6.5 s with zero value changes across 320k docs (guide §1.2:
    make the per-task work cheap first). Semantics unchanged: word =
    maximal ``\\S+`` run; a word counts for ``n_symbols`` iff its run
    contains ``#`` or ``...`` and for ``n_alpha`` iff it contains
    ``[A-Za-z]`` — exactly what the complete-run lookaround matches
    counted; ``n_stops`` counts DISTINCT stop tokens present (the
    lookahead alternation matches only complete runs, so the distinct
    matched strings ARE the present stopwords — identical to the old
    per-stopword presence sum); ``translate`` strips exactly Java's
    ``\\s`` six, blank-line/trim rules replicate ``trim``'s space-only
    stripping."""
    from llm_aided_ocr_spark.operators.util import let_

    def _gate(t: Column, arr: Column) -> Column:
        n_words = F.size(arr)
        sum_wl = F.length(F.translate(t, _JAVA_WS, ""))
        mean_wl = F.when(
            n_words > 0, sum_wl.cast("double") / n_words
        ).otherwise(F.lit(0.0))
        n_symbols = F.size(
            F.filter(arr, lambda w: w.contains("#") | w.contains("..."))
        )
        n_alpha = F.size(F.filter(arr, lambda w: w.rlike("[A-Za-z]")))
        n_stops = F.size(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(t),
                    F.lit(
                        r"(?<!\S)(?:" + "|".join(_GOPHER_STOPS) + r")(?!\S)"
                    ),
                    F.lit(0),
                )
            )
        )
        w_ok = (
            (n_words >= 50) & (n_words <= 100_000)
            & (mean_wl >= 3.0) & (mean_wl <= 10.0)
            & F.when(
                n_words > 0, n_symbols.cast("double") / n_words <= 0.1
            ).otherwise(F.lit(False))
            & F.when(
                n_words > 0, n_alpha.cast("double") / n_words >= 0.8
            ).otherwise(F.lit(False))
            & (n_stops >= 2)
        )
        # line rules: a line is blank iff all-spaces (trim strips ONLY
        # spaces); bullet/ellipsis test the first/last non-space char
        # runs. Patterns run over sentinel-wrapped text so no (?m)
        # anchors are needed (Java (?m)$ also matches before a lone CR --
        # a mismatch).
        wrapped = F.concat(F.lit("\n"), t, F.lit("\n"))
        bullet = _re_count(wrapped, "\n *[-*\u2022]")
        ellipsis = _re_count(wrapped, r"\.\.\. *\n")

        def _l_ok(n_lines: Column) -> Column:
            safe = lambda n: F.when(  # noqa: E731
                n_lines > 0, n.cast("double") / n_lines
            ).otherwise(F.lit(0.0))
            return (safe(bullet) <= 0.9) & (safe(ellipsis) <= 0.3)

        return w_ok & let_(_re_count(t, r"[^\n]*[^ \n][^\n]*"), _l_ok)

    return let_(
        F.coalesce(text, F.lit("")),
        lambda t: let_(
            F.regexp_extract_all(t, F.lit(r"\S+"), F.lit(0)),
            lambda arr: _gate(t, arr),
        ),
    )


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    public heuristics), each as a boolean column plus the combined
    ``gopher_pass``, all native:

    * 50 <= word count <= 100,000
    * 3 <= mean word length <= 10
    * symbol-to-word ratio (# or ellipsis) <= 0.1
    * <= 90% of lines start with a bullet, <= 30% end with an ellipsis
    * >= 80% of words contain at least one alphabetic character
    * >= 2 distinct common-English stop words present
    """
    from llm_aided_ocr_spark.operators.util import let_

    t = F.coalesce(F.col(text_col), F.lit(""))
    words_expr = _gopher_words_expr(t)
    lines_expr = _gopher_lines_expr(t)

    def _flags(words: Column) -> Column:
        return F.struct(
            *[c.alias(n) for n, c in _gopher_word_flag_pairs(words)]
        )

    def _line_flags(lines: Column) -> Column:
        return F.struct(
            *[c.alias(n) for n, c in _gopher_line_flag_pairs(lines)]
        )

    flag_cols = [
        "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_alpha_words", "ok_stop_words",
    ]
    line_cols = ["ok_bullet_lines", "ok_ellipsis_lines"]
    # two-step projection: bind each flag struct to ONE attribute first —
    # selecting N fields straight off the let_ expression would inline
    # (and re-evaluate) the whole words/lines pass N times
    bound = df.select(
        F.col(id_col),
        let_(words_expr, _flags).alias("_w"),
        let_(lines_expr, _line_flags).alias("_l"),
    )
    out = bound.select(
        F.col(id_col),
        *[F.col("_w")[c].alias(c) for c in flag_cols],
        *[F.col("_l")[c].alias(c) for c in line_cols],
    )
    all_ok = F.lit(True)
    for c in flag_cols + line_cols:
        all_ok = all_ok & F.col(c)
    return out.withColumn("gopher_pass", all_ok)


# ---------------------------------------------------------------------------
# Token counting — whitespace + BPE-ish regex
# ---------------------------------------------------------------------------

_BPE_ISH = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``(id, ws_tokens, bpe_ish_tokens, approx_tokens)`` — whitespace
    count, a BPE-flavored regex segmentation count (letters runs / up to
    3-digit number groups / single symbols), and the reference T3
    approximation, all native."""
    from llm_aided_ocr_spark.functions.tokens import approx_tokens_col

    t = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(id_col),
        word_count_col(t).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(_BPE_ISH), 0)).alias("bpe_ish_tokens"),
        approx_tokens_col(t).alias("approx_tokens"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting — winnowed gram hashes (MOSS-style)
# ---------------------------------------------------------------------------
#
# Portable 52-bit hash domain: word_hash = first 13 hex digits of md5(word)
# parsed as an integer. 52 bits keeps every intermediate (<< window) inside
# a non-negative signed 64-bit value, so the identical arithmetic runs in
# Spark (JVM longs), numpy int64, and DuckDB BIGINT (which overflow-checks
# rather than wrapping) — that is what makes the driver's DuckDB oracle
# able to reproduce the fingerprints bit-for-bit.

_FP_BITS = 52
_FP_MASK = (1 << _FP_BITS) - 1


def fingerprints(
    df: DataFrame,
    window: int = 8,
    winnow: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, content_hash, n_grams, fps: array<bigint>)`` — per-document
    winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS scheme):

    1. word-``window``-gram rolling hashes: gram_i = XOR of the j-rotated
       word hashes (rotation makes the combiner position-sensitive while
       staying O(1) per step and XOR-composable),
    2. true winnowing: the minimum gram hash in every ``winnow``-wide
       sliding window; the distinct minima are the document's fingerprint
       set (expected density 2/(winnow+1), guaranteed to share a
       fingerprint with any document that has a matching run of
       window+winnow-1 words).

    Word hashes and the content hash are computed natively (so the values
    stay portable); the rolling-gram + winnowing pass is one Arrow/numpy
    pass over the word-hash arrays — ~50x the throughput of the same
    arithmetic as a single JVM projection with statically-unrolled
    rotations, because higher-order functions run interpreted. The
    fingerprint SET is pinned by a pure-Python reference and the driver's
    DuckDB oracle; the array order is unspecified. Documents shorter than
    ``window`` words yield an empty set. No shuffle."""
    import numpy as np

    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    t = F.regexp_replace(
        F.trim(F.lower(F.coalesce(F.col(text_col), F.lit("")))), r"\s+", " "
    )
    prepared = df.select(
        F.col(id_col),
        F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
        .cast("bigint")
        .alias("content_hash"),
        F.transform(F.split(t, " "), md5_52).alias("whs"),
    )

    def _winnow(whss):
        n_grams_out, fps_out = [], []
        for w in whss:
            n_gr = max(len(w) - window + 1, 0)
            n_grams_out.append(n_gr)
            if n_gr == 0:
                fps_out.append(w[:0])
                continue
            grams = np.zeros(n_gr, dtype=np.int64)
            for j in range(window):
                x = w[j : j + n_gr]
                grams ^= ((x << j) | (x >> (_FP_BITS - j))) & _FP_MASK if j else x
            if n_gr >= winnow:
                wins = np.lib.stride_tricks.sliding_window_view(
                    grams, winnow
                ).min(axis=1)
            else:
                wins = grams.min(keepdims=True)
            fps_out.append(np.unique(wins))
        return n_grams_out, fps_out

    id_type = dict(df.dtypes)[id_col]
    return map_arrow(
        prepared,
        _winnow,
        f"{id_col} {id_type}, content_hash bigint, n_grams int, fps array<bigint>",
        keep=(id_col, "content_hash"),
    )


def fingerprint_summary(
    df: DataFrame,
    window: int = 8,
    winnow: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Order-insensitive per-document digest of the fingerprint set —
    ``(id, content_hash, n_grams, n_fp, fp_min, fp_xor)`` — every column
    reproducible in portable SQL (the driver's DuckDB oracle)."""
    fp = fingerprints(df, window=window, winnow=winnow, text_col=text_col, id_col=id_col)
    return fp.select(
        F.col(id_col),
        "content_hash",
        "n_grams",
        F.size("fps").alias("n_fp"),
        F.coalesce(F.array_min("fps"), F.lit(0)).alias("fp_min"),
        F.coalesce(
            F.aggregate("fps", F.lit(0).cast("bigint"), lambda a, x: a.bitwiseXOR(x)),
            F.lit(0),
        ).alias("fp_xor"),
    )


def fingerprint_matches(
    df: DataFrame,
    window: int = 8,
    winnow: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = 1000,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowing fingerprints —
    the MOSS-style overlap detector, as an inverted-index join on the
    fingerprint (same shape as the shingle join in dedup: bucket first,
    never all-pairs; ``max_fp_df`` drops corpus-hot fingerprints before
    the self-join)."""
    fp = fingerprints(df, window=window, winnow=winnow, text_col=text_col, id_col=id_col)
    # cache: the exploded index is consumed by the DF-cap aggregation AND
    # both sides of the pair join — without it the winnowing expression
    # recomputes per consumer
    e = persist(fp.select(F.col(id_col).alias("id"), F.explode("fps").alias("fp")))
    if max_fp_df is not None:
        rare = (
            e.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_fp_df)
            .select("fp")
        )
        e = e.join(rare, on="fp", how="left_semi")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, on="fp")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Domain-level corpus stats (Common-Crawl-style curation)
# ---------------------------------------------------------------------------

def domain_col(url_col: Column) -> Column:
    """Registrable-host extraction from a url column, fully native:
    scheme://HOST[:port]/... → lowercased HOST. CC-style curation scores
    and filters at domain granularity (spam/boilerplate domains dominate
    raw crawls); this is the grouping key. Bare-path or malformed urls
    yield '' (grouped together, easy to drop)."""
    host = F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1)
    return F.lower(host)


def _url_gate_cols(
    url_col: Column,
    blocked_domains: tuple,
    blocked_keywords: tuple,
) -> tuple:
    """``(domain_blocked, keyword_hits)`` expressions — shared by the
    relation-shaped :func:`url_filter` and the inline
    :func:`url_keep_col` predicate."""
    # literal OR-chain / sum instead of exists/filter over literal
    # arrays: plain boolean chains stay in the cheap expression path and
    # need no lambda-variable machinery (codegen CSE dedups the
    # repeated domain extraction)
    u = F.lower(F.coalesce(url_col, F.lit("")))
    h = domain_col(F.coalesce(url_col, F.lit("")))
    dom_blocked = F.lit(False)
    for d in blocked_domains:
        d = d.lower()
        dom_blocked = dom_blocked | (h == d) | h.endswith("." + d)
    hits = F.lit(0)
    for k in blocked_keywords:
        hits = hits + u.contains(k.lower()).cast("int")
    return dom_blocked, hits


def url_keep_col(
    url_col: Column,
    blocked_domains: tuple = (),
    blocked_keywords: tuple = (),
    keyword_threshold: int = 2,
) -> Column:
    """Inline boolean form of :func:`url_filter`'s ``keep`` — a pure
    per-row expression, so pipelines filter with it directly
    (``df.filter(url_keep_col(...))``) and pay no join, no Python, and
    keep predicate pushdown above it intact."""
    dom_blocked, hits = _url_gate_cols(
        url_col, blocked_domains, blocked_keywords
    )
    return ~dom_blocked & (hits < F.lit(keyword_threshold))


def url_filter(
    df: DataFrame,
    blocked_domains: tuple = (),
    blocked_keywords: tuple = (),
    keyword_threshold: int = 2,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, domain_blocked, keyword_hits, keep)`` — RefinedWeb-style
    stage-1 URL filtering (Penedo et al. 2023 §3.1), the cheapest gate
    in a crawl pipeline because it never touches document text:

    * ``domain_blocked`` — the url's registrable host matches a blocked
      domain exactly or as a subdomain (``ads.x.com`` matches blocked
      ``x.com``; ``notx.com`` does not — the suffix match requires the
      dot boundary);
    * ``keyword_hits`` — how many blocked keywords occur as substrings
      of the lowercased url (RefinedWeb's soft URL-keyword score,
      simplified to unit weights);
    * ``keep`` — not domain-blocked AND hits < ``keyword_threshold``.

    Zero shuffle, zero Python: both checks are literal-array ``exists``/
    ``filter`` expressions over the native ``domain_col`` extraction, so
    the gate fuses into the scan's codegen stage and composes with
    predicate pushdown on anything upstream. The literal-array form fits
    the tens-to-thousands-entry curated lists this filter uses in
    practice (UT1-style category lists); for a corpus-scale blocklist
    RELATION, broadcast-join it on ``domain_col`` instead and reuse the
    same boolean algebra."""
    dom_blocked, hits = _url_gate_cols(
        F.col(url_col), blocked_domains, blocked_keywords
    )
    return df.select(
        F.col(id_col).alias("id"),
        dom_blocked.alias("domain_blocked"),
        hits.cast("int").alias("keyword_hits"),
        (
            ~dom_blocked & (hits < F.lit(keyword_threshold))
        ).alias("keep"),
    )


def url_trap_flags(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_depth: int = 8,
    max_params: int = 5,
    max_path_len: int = 256,
    seg_repeat: int = 3,
    digit_frac_max: float = 0.5,
) -> DataFrame:
    """``(id, depth, n_params, path_len, digit_frac_r, repeated_seg,
    is_trap)`` — crawler-trap heuristics over the URL alone (IRLbot /
    Heritrix frontier rules: calendar pages, session-id echoes and
    faceted-search explosions produce unbounded URL spaces whose pages
    are worthless; a frontier must shed them BEFORE fetching). Signals:

    * ``depth`` — non-empty path segments (calendar/facet traps nest);
    * ``n_params`` — query parameters (facet explosions multiply them);
    * ``path_len`` — raw path length;
    * ``digit_frac_r`` — digit share of the path, rounded 6 (session
      ids and timestamps are digit-heavy);
    * ``repeated_seg`` — some path segment occurs ≥ ``seg_repeat``
      times (the classic ``/cal/2024/01/2024/01/...`` self-link loop);
    * ``is_trap`` — any threshold tripped.

    Pure per-row native expressions (split + nested array lambdas in
    the Java-regex ∩ RE2 subset) — zero shuffle, zero Python, fuses
    into the scan like :func:`url_filter`, and the whole derivation is
    replayed verbatim by the DuckDB oracle."""
    from llm_aided_ocr_spark.operators.util import let_

    u = F.coalesce(F.col(url_col), F.lit(""))
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)

    def _cols(p: Column) -> Column:
        segs = F.filter(F.split(p, "/"), lambda s: s != "")
        depth = F.size(segs)
        repeated = F.exists(
            segs,
            lambda s: F.size(F.filter(segs, lambda t: t == s))
            >= F.lit(seg_repeat),
        )
        path_len = F.length(p)
        digits = F.length(F.regexp_replace(p, r"[^0-9]", ""))
        digit_frac = F.round(
            digits.cast("double") / F.greatest(path_len, F.lit(1)).cast("double"),
            6,
        )
        return F.struct(
            depth.alias("depth"),
            path_len.alias("path_len"),
            digit_frac.alias("digit_frac_r"),
            repeated.alias("repeated_seg"),
        )

    n_params = F.size(F.regexp_extract_all(u, F.lit(r"[?&][^&#=]+="), 0))
    base = df.select(
        F.col(id_col).alias("id"),
        n_params.alias("n_params"),
        let_(path, _cols).alias("_s"),
    )
    return base.select(
        "id",
        F.col("_s.depth").alias("depth"),
        "n_params",
        F.col("_s.path_len").alias("path_len"),
        F.col("_s.digit_frac_r").alias("digit_frac_r"),
        F.col("_s.repeated_seg").alias("repeated_seg"),
        (
            (F.col("_s.depth") > F.lit(max_depth))
            | (F.col("n_params") > F.lit(max_params))
            | (F.col("_s.path_len") > F.lit(max_path_len))
            | F.col("_s.repeated_seg")
            | (F.col("_s.digit_frac_r") > F.lit(digit_frac_max))
        ).alias("is_trap"),
    )


def url_trap_keep_col(
    url_col: Column,
    max_depth: int = 8,
    max_params: int = 5,
    max_path_len: int = 256,
    seg_repeat: int = 3,
    digit_frac_max: float = 0.5,
) -> Column:
    """Inline boolean form of :func:`url_trap_flags`'s ``NOT is_trap`` —
    a pure per-row expression (same thresholds, same derivation), so
    pipelines shed trap urls with ``df.filter(url_trap_keep_col(...))``
    at scan cost, before anything touches the page bytes. Kept
    semantically in lockstep with the relation form by test."""
    from llm_aided_ocr_spark.operators.util import let_

    u = F.coalesce(url_col, F.lit(""))
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    n_params = F.size(F.regexp_extract_all(u, F.lit(r"[?&][^&#=]+="), 0))

    def _keep(p: Column) -> Column:
        segs = F.filter(F.split(p, "/"), lambda s: s != "")
        repeated = F.exists(
            segs,
            lambda s: F.size(F.filter(segs, lambda t: t == s))
            >= F.lit(seg_repeat),
        )
        path_len = F.length(p)
        digits = F.length(F.regexp_replace(p, r"[^0-9]", ""))
        digit_frac = F.round(
            digits.cast("double") / F.greatest(path_len, F.lit(1)).cast("double"),
            6,
        )
        return ~(
            (F.size(segs) > F.lit(max_depth))
            | (n_params > F.lit(max_params))
            | (path_len > F.lit(max_path_len))
            | repeated
            | (digit_frac > F.lit(digit_frac_max))
        )

    return let_(path, _keep)


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """``(id, raw_bytes, deflate_bytes, compression_ratio_r)`` — the
    zlib-compressibility quality signal: machine-generated/spam pages
    (keyword stuffing, template farms, scraped listings) compress far
    better than organic prose, so a high raw/deflate ratio is a cheap
    corpus-wide repetitiveness detector that complements the Gopher
    n-gram table (it catches LONG-range repetition the fixed-n grams
    miss). Empty text reports ratio 0.

    Arrow pass (``map_arrow``) — zlib is per-document CPU with no
    DataFrame expression equivalent; document-local, zero shuffle, and
    the batch size is bounded by the session's Arrow batch cap. The
    ratio depends on the DEFLATE encoder's choices, so this operator is
    deliberately not DuckDB-oracled (the driver records the rows-only
    check); tests pin exact values against Python zlib directly."""
    import zlib

    def _ratios(texts):
        raws = [(t or "").encode("utf-8") for t in texts]
        return [len(b) for b in raws], [len(zlib.compress(b, level)) for b in raws]

    id_type = dict(df.dtypes)[id_col]
    out = map_arrow(
        df.select(F.col(id_col).alias("id"), text_col),
        _ratios,
        f"id {id_type}, raw_bytes bigint, deflate_bytes bigint",
        keep=("id",),
    )
    return out.select(
        "id",
        "raw_bytes",
        "deflate_bytes",
        F.when(F.col("raw_bytes") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("raw_bytes").cast("double") / F.col("deflate_bytes"), 6
            )
        )
        .alias("compression_ratio_r"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 3,
    k: int = 20,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """``(gram, n_occurrences, n_docs)`` — the corpus's ``k`` most
    frequent word n-grams, the profiling query that surfaces shared
    boilerplate ("all rights reserved …"), template chrome, and
    benchmark contamination candidates before any dedup runs.

    Scale shape: per-document pre-aggregation first (``(doc, gram) →
    c`` combines map-side where the text lives), then one gram-keyed
    exchange carrying distinct-grams-per-doc rows, then
    ``TakeOrdered(k)`` — never a global sort. Ties break on the
    lexicographically smallest gram (deterministic, engine-portable).
    ``min_count`` drops the hapax tail before the final aggregation's
    shuffle read. The gram key shuffles as a STRING here because the
    output must be human-readable; at 10^12 docs swap the key for
    xxhash64 and join the display strings back for the k winners only
    (the word_commonness hashed-path precedent)."""
    from llm_aided_ocr_spark.operators.dedup import _words_col
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism, let_

    if n < 1 or k < 1:
        raise ValueError("n and k must be >= 1")
    ws = F.filter(_words_col(text_col), lambda w: w != "")
    # let_-bind the token array: HOF lambdas have no common-subexpression
    # elimination, so an unbound ``ws`` inside the per-gram lambda would
    # re-split and re-filter the WHOLE document once per gram —
    # O(words × doc_bytes) per document (the line_dedup rebuild trap;
    # guide §1.2 per-task work)
    grams = let_(
        ws,
        lambda w: F.when(
            F.size(w) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)),
                lambda i: F.array_join(F.slice(w, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    per_doc = (
        ensure_min_parallelism(df)
        .select(F.monotonically_increasing_id().alias("_d"), grams.alias("gs"))
        .select("_d", F.explode("gs").alias("gram"))
        .groupBy("_d", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    counts = (
        per_doc.groupBy("gram")
        .agg(
            F.sum("c").cast("bigint").alias("n_occurrences"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    # TakeOrderedAndProject: k rows to the driver, no full sort
    return counts.orderBy(
        F.desc("n_occurrences"), F.asc("gram")
    ).limit(k)


def domain_stats(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-domain corpus profile: document count, total/mean extracted
    chars, english share — the readout a crawl-curation pass ranks and
    thresholds on. One hash aggregation; domains are a low-cardinality
    key relative to pages, so the shuffle carries pre-combined partial
    aggregates (map-side combine is automatic for these aggregates)."""
    d = domain_col(F.col(url_col)).alias("domain")
    chars = F.length(F.coalesce(F.col(text_col), F.lit("")))
    return (
        df.select(
            d,
            chars.alias("_chars"),
            # when/otherwise (not a bare cast): NULL lang must count as 0,
            # matching SQL's CASE WHEN — a null would silently drop out of
            # the average otherwise
            F.when(F.col(lang_col) == "en", 1).otherwise(0).alias("_en"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_chars").alias("total_chars"),
            F.round(F.avg("_chars"), 6).alias("mean_chars_r"),
            F.round(F.avg("_en"), 6).alias("en_share_r"),
        )
    )


def length_percentiles(
    df: DataFrame,
    by_col: str = "lang",
    value_col: str = "n_chars",
    percentiles: tuple = (0.25, 0.5, 0.75, 0.95),
) -> DataFrame:
    """Exact interpolated percentiles of a numeric column per group
    (Spark's ``percentile`` — NOT percentile_approx — so the result is
    deterministic and cross-engine checkable against quantile_cont).
    Exact percentiles shuffle the value column per group; for a 100 TB
    profile pass prefer sampled input or percentile_approx — this
    operator is the calibration tool that validates those sketches."""
    aggs = [
        F.round(
            F.percentile(F.col(value_col), F.lit(float(p))), 6
        ).alias(f"p{int(p * 100)}")
        for p in percentiles
    ]
    return df.groupBy(by_col).agg(F.count(F.lit(1)).alias("n"), *aggs)


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher §A1.1 repetition rules)
# ---------------------------------------------------------------------------

def repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Rae et al. 2021 §A1.1 family):

    * ``dup_line_frac``       — 1 − distinct/total over non-blank lines
    * ``dup_line_char_frac``  — chars on lines whose content repeats /
                                chars on all lines (every occurrence)
    * ``top_bigram_char_frac``— chars covered by the most frequent word
                                bigram / chars of all words (ties broken
                                by lexicographically smallest bigram —
                                deterministic and engine-independent)

    One Arrow-batched pass with O(doc) hash counting per document — NOT
    the quadratic HOF formulation (per-distinct-element `filter` scans are
    O(n²) per doc and melt on long documents). The driver's oracle states
    the same metrics relationally (GROUP BY line / bigram), so the Python
    counting is value-checked against an independent set-based derivation.
    Raw doubles out — rounding happens in the caller's projection with
    F.round (HALF_UP, matching SQL round); Python's round() is banker's
    and would diverge on exact .5 ties at 6dp.
    """

    def _metrics(texts):
        return zip(*(
            _dup_fracs(t.split("\n")) + _ngram_fracs(t, (2,), ())
            for t in texts
        ))

    return _per_doc_doubles(
        df, text_col, id_col, _metrics,
        ["dup_line_frac", "dup_line_char_frac", "top_bigram_char_frac"],
    )


# Published removal thresholds, Rae et al. 2021 Table A1 ("remove the
# document if metric > threshold").
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def paragraph_repetition_metrics(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, dup_para_frac, dup_para_char_frac)`` — the paragraph
    rows of Gopher's repetition table (same Counter pass as the line
    metrics in :func:`repetition_metrics`, over ``\\n\\n``-separated
    blocks with blank/whitespace-only blocks dropped). The separator's
    inner whitespace class is the explicit ASCII set — Python's ``\\s``
    also eats unicode whitespace, which RE2 (the oracle's engine) does
    not, so the class is spelled out on both sides. Raw doubles out;
    callers round."""

    def _metrics(texts):
        return zip(*(_dup_fracs(_PARA_RE.split(t)) for t in texts))

    return _per_doc_doubles(
        df, text_col, id_col, _metrics, ["dup_para_frac", "dup_para_char_frac"]
    )


_WORD_RE = re.compile(r"[^a-z0-9]+")
_PARA_RE = re.compile(r"\n[ \t\r\f\v]*\n")


def _per_doc_doubles(
    df: DataFrame, text_col: str, id_col: str, metrics, names
) -> DataFrame:
    """``(doc_id, <names> double)`` — ``metrics(texts)`` (one column per
    name, NULL text read as ``""``) in one Arrow pass; ``doc_id`` keeps the
    input's id type."""
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    prepped = ensure_min_parallelism(df).select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("t"),
    )
    id_type = dict(prepped.dtypes)["doc_id"]
    fields = ", ".join(f"{c} double" for c in names)
    return map_arrow(
        prepped, metrics, f"doc_id {id_type}, {fields}", keep=("doc_id",)
    )


def _dup_fracs(parts) -> list:
    """``[dup_frac, dup_char_frac]`` over the non-blank parts (lines or
    paragraphs), each stripped of the explicit ASCII whitespace class —
    Python's bare ``strip()`` also eats unicode whitespace, which SQL
    ``trim(...)`` does not: 1 − distinct/total, and the chars of parts
    whose content repeats (every occurrence) over the chars of all parts."""
    parts = [p for p in (p.strip(" \t\r\n\f\v") for p in parts) if p]
    if not parts:
        return [0.0, 0.0]
    counts = Counter(parts)
    total = sum(len(p) * c for p, c in counts.items())
    dup = sum(len(p) * c for p, c in counts.items() if c > 1)
    return [1.0 - len(counts) / len(parts), dup / total if total else 0.0]


def _ngram_fracs(text: str, top_ns, dup_ns) -> list:
    """``top_{n}gram_char_frac`` for each n in ``top_ns``, then
    ``dup_{n}gram_char_frac`` for each n in ``dup_ns`` — the
    :func:`gopher_ngram_metrics` definitions; 0.0 for a document with
    fewer than n words."""
    import numpy as np

    words = [w for w in _WORD_RE.split(text.lower()) if w]
    lens = np.fromiter((len(w) for w in words), dtype=np.int64, count=len(words))
    total = int(lens.sum())
    out = []
    for n in top_ns:
        if len(words) < n or not total:
            out.append(0.0)
            continue
        grams = Counter(
            " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
        )
        top_c = max(grams.values())
        top = min(g for g, c in grams.items() if c == top_c)
        out.append(top_c * (len(top) - (n - 1)) / total)
    for n in dup_ns:
        if len(words) < n or not total:
            out.append(0.0)
            continue
        grams = [tuple(words[i : i + n]) for i in range(len(words) - n + 1)]
        cnt = Counter(grams)
        covered = np.zeros(len(words), dtype=bool)
        for i, g in enumerate(grams):
            if cnt[g] > 1:
                covered[i : i + n] = True
        out.append(float(lens[covered].sum()) / total)
    return out


_GATE_COLS = (
    "dup_line_frac", "dup_line_char_frac", "top_2gram_char_frac",
    "dup_para_frac", "dup_para_char_frac",
    "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
    "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac",
)


def _fused_gate_metrics(text: str) -> list:
    """All 13 repetition fractions for one document, in ``_GATE_COLS``
    order — the single-pass kernel behind :func:`gopher_repetition_gate`,
    built from the same helpers as the three standalone operators
    (``test_gate_fused_matches_composed`` pins them equal); the oracle
    validates it end-to-end independently."""
    line = _dup_fracs(text.split("\n"))
    para = _dup_fracs(_PARA_RE.split(text))
    grams = _ngram_fracs(text, (2, 3, 4), (5, 6, 7, 8, 9, 10))
    return line + grams[:1] + para + grams[1:]


def gopher_repetition_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    thresholds: dict | None = None,
) -> DataFrame:
    """``(doc_id, <13 fraction columns>, repetition_pass)`` — the FULL
    Gopher repetition rule set (Rae et al. 2021 Table A1) as one gate:
    line/paragraph duplicate fractions (count and char mass), top-
    {2,3,4}-gram char fractions, duplicate-{5..10}-gram char coverage,
    and a document passes iff EVERY metric sits at or under its
    published threshold (:data:`GOPHER_REPETITION_THRESHOLDS`; override
    per-key with ``thresholds``).

    Scale shape: all 13 metrics come from ONE Arrow pass per document —
    the corpus text is read once and no join exists at all (composing
    :func:`repetition_metrics`, :func:`paragraph_repetition_metrics` and
    :func:`gopher_ngram_metrics` pays three text passes plus two
    id-joins; that composition is the parity test's oracle). The pass
    column is a native comparison chain, so downstream filters on
    ``repetition_pass`` stay in codegen. Fractions come through ROUNDED
    to 6 dp (HALF_UP, the repo's cross-engine contract) and thresholds
    compare the rounded values — deterministic on every engine."""
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown threshold keys: {sorted(unknown)}")
        th.update(thresholds)

    def _metrics(texts):
        return zip(*map(_fused_gate_metrics, texts))

    raw = _per_doc_doubles(df, text_col, id_col, _metrics, _GATE_COLS)
    metrics = raw.select(
        "doc_id", *[F.round(c, 6).alias(c) for c in _GATE_COLS]
    )
    passes = None
    for col in _GATE_COLS:
        cond = F.col(col) <= F.lit(th[col])
        passes = cond if passes is None else (passes & cond)
    return metrics.withColumn("repetition_pass", passes)


def gopher_ngram_metrics(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The rest of Gopher's repetition table (Rae et al. 2021 §A1.1):
    per document, ``top_{n}gram_char_frac`` for n in ``top_ns`` (chars
    covered by the single most frequent word n-gram / chars of all
    words) and ``dup_{n}gram_char_frac`` for n in ``dup_ns`` (chars at
    word positions covered by ANY n-gram that occurs more than once —
    positions counted once even under overlapping duplicate grams,
    Gopher's stated no-double-count rule). ``repetition_metrics`` covers
    the line-level signals and the 2-gram; this completes the published
    filter family.

    Conventions (shared with ``top_bigram_char_frac``): words are the
    repo tokenizer's ``[a-z0-9]+`` runs; char mass counts word chars
    only (no separators); top-gram ties break on the lexicographically
    smallest space-joined gram — the join separator sorts below every
    token byte, so string order equals word-tuple order and the DuckDB
    oracle's ``ORDER BY gram`` reproduces the pick exactly. Documents
    with fewer than n words (or no words) score 0.0 for that n.

    One Arrow pass, O(words × |ns|) per document with Counter hashing
    and a position-coverage bitmap — never the O(n²) per-distinct-gram
    rescan. Raw doubles out; callers round (HALF_UP ``F.round``) for
    cross-engine comparison."""

    def _metrics(texts):
        return zip(*(_ngram_fracs(t, top_ns, dup_ns) for t in texts))

    return _per_doc_doubles(
        df, text_col, id_col, _metrics,
        [f"top_{n}gram_char_frac" for n in top_ns]
        + [f"dup_{n}gram_char_frac" for n in dup_ns],
    )


def canonical_url_col(url_col: Column) -> Column:
    """URL canonicalization for crawl dedup keys, fully native:

    * lowercase scheme and host
    * strip the fragment (``#...``)
    * drop default ports (``:80`` for http, ``:443`` for https)
    * sort query parameters bytewise (``?b=2&a=1`` → ``?a=1&b=2``) and
      drop an empty ``?``
    * collapse a bare trailing slash on a pathless url

    Two crawls of the same page routinely disagree on all five; grouping
    on the canonical form is the standard first pass before content
    dedup. Non-url strings pass through unchanged (no scheme → no-op).
    """
    from llm_aided_ocr_spark.operators.util import let_

    def _canon(u: Column) -> Column:
        scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
        hostport = F.lower(F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
        host = F.when(
            (scheme == "http") & hostport.endswith(":80"),
            F.substring(hostport, 1, F.length(hostport) - 3),
        ).when(
            (scheme == "https") & hostport.endswith(":443"),
            F.substring(hostport, 1, F.length(hostport) - 4),
        ).otherwise(hostport)
        path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
        # the query must be found BEFORE the fragment: a bare `\?` would
        # match a '?' inside '#/route?tab=1' (SPA hash routing) and
        # resurrect fragment content as a query string
        query = F.regexp_extract(u, r"^[^#]*?\?([^#]*)", 1)
        sorted_q = F.array_join(
            F.array_sort(F.filter(F.split(query, "&"), lambda p: p != "")), "&"
        )
        norm_path = F.when(path == "/", F.lit("")).otherwise(path)
        return F.when(
            scheme == "",
            u,  # not a url; leave untouched
        ).otherwise(
            F.concat(
                scheme,
                F.lit("://"),
                host,
                norm_path,
                F.when(sorted_q != "", F.concat(F.lit("?"), sorted_q)).otherwise(
                    F.lit("")
                ),
            )
        )

    return let_(url_col, _canon)


# ---------------------------------------------------------------------------
# Corpus-level word commonness (CCNet-style LM-filter proxy)
# ---------------------------------------------------------------------------

def word_commonness(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
) -> DataFrame:
    """``(id, n_words, commonness_r)`` — the mean CORPUS frequency of a
    document's word occurrences: the cheap, model-free stand-in for
    CCNet-style LM-perplexity filtering (documents made of corpus-rare
    words score low ≈ high perplexity; boilerplate made of ubiquitous
    words scores high). The suite's first two-pass GLOBAL operator: pass
    1 aggregates corpus word counts, pass 2 joins them back per DISTINCT
    word per document: occurrences are pre-aggregated to ``(id, w, n)``
    before any exchange (the map-side combine of ``groupBy(id, w)`` runs
    where the document's words already sit), so the frequency join — the
    operator's widest move — carries distinct-words-per-doc rows
    (typically 3-10x fewer than occurrences on natural text) instead of
    one row per word occurrence. The score is identical by linearity:
    ``sum_over_occurrences(c) == sum_over_distinct_words(c*n)`` and
    ``n_words == sum(n)``.

    Exactness discipline: per-document aggregation sums INTEGER corpus
    counts (order-independent), then applies exactly two IEEE divisions
    in a fixed order — no transcendentals (ln differs between libms and
    would make a cross-engine oracle flaky), no float summation order
    sensitivity. Empty documents get commonness 0 with n_words 0.
    """
    from llm_aided_ocr_spark.operators.dedup import _words_col
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), _words_col(text_col).alias("ws")
    )
    words = base.select(
        "id", F.explode("ws").alias("w")
    ).filter(F.col("w") != "")
    if hashed:
        # 100 TB form: shuffle 8-byte xxhash64 keys instead of word
        # strings — identical counts barring 64-bit collisions. The
        # driver oracle uses the string form (exact by construction).
        words = words.select("id", F.xxhash64("w").alias("w"))
    # Pre-aggregate occurrences → (id, w, n): the only relation that ever
    # crosses an exchange. cache: it feeds the frequency aggregation AND
    # the join side — uncached, the normalize+explode+combine pass would
    # run twice per action (registered; see release_pinned).
    occ = persist(words.groupBy("id", "w").agg(F.count(F.lit(1)).alias("n")))
    freq = occ.groupBy("w").agg(F.sum("n").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    per_doc = (
        occ.join(freq, "w")
        .groupBy("id")
        .agg(
            F.sum(F.col("c") * F.col("n")).alias("sum_c"),
            F.sum("n").alias("n_words"),
        )
    )
    scored = per_doc.crossJoin(F.broadcast(total)).select(
        "id",
        "n_words",
        F.round(
            F.col("sum_c").cast("double")
            / F.col("t").cast("double")
            / F.col("n_words").cast("double"),
            6,
        ).alias("commonness_r"),
    )
    from llm_aided_ocr_spark.operators.util import corpus_scaled

    all_ids = df.select(F.col(id_col).alias("id"))
    return all_ids.join(corpus_scaled(scored), "id", "left").select(
        "id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("commonness_r", F.lit(0.0)).alias("commonness_r"),
    )


# ---------------------------------------------------------------------------
# Hashed-bag-of-words linear quality classifier (fastText-shaped)
# ---------------------------------------------------------------------------

CLASSIFIER_DIM = 1 << 20


def _bucket_weight_col(bucket: Column, seed: int) -> Column:
    """Deterministic demo weight for a feature bucket, derived from the
    engine-portable md5-52 hash of ``'w:<seed>:<bucket>'`` and mapped
    affinely onto ``[-1, 1)`` — so BOTH engines can materialize the same
    "model" from nothing but the hash, and the driver oracle checks the
    whole scoring path end-to-end. A real deployment swaps this for
    trained weights via the ``weights_df`` argument of
    :func:`quality_classifier_score`."""
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col
    from llm_aided_ocr_spark.operators.sampling import HASH_SPACE

    h = _word_hash_col(
        F.concat(F.lit(f"w:{seed}:"), bucket.cast("string")), "md5_52"
    )
    return (h.cast("double") / F.lit(float(HASH_SPACE))) * 2.0 - 1.0


def quality_classifier_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = CLASSIFIER_DIM,
    seed: int = 1,
    weights_df: DataFrame | None = None,
    bias: float = 0.0,
) -> DataFrame:
    """``(id, n_words, logit_r, prob_r)`` — a hashed bag-of-words LINEAR
    text classifier, the relational skeleton of the fastText quality
    filters used to curate GPT-3/LLaMA-class corpora (Joulin et al. 2016,
    arXiv:1607.01759: mean of word-bucket weights → linear layer →
    sigmoid; the "hashing trick" buckets the vocabulary into ``dim``
    slots):

        ``logit = bias + mean_over_words(weight[bucket(word)])``
        ``prob  = sigmoid(logit)``

    Two execution shapes, chosen by whether trained weights are given:

    * ``weights_df=None`` (default) — the weight of each bucket is a pure
      hash function (:func:`_bucket_weight_col`), so scoring is ONE
      narrow per-row native expression: tokenize, bucket, weight, mean —
      zero shuffle, zero Python, whole-stage codegen. This is the shape
      the driver oracle verifies.
    * ``weights_df`` = ``(bucket:bigint, weight:double)`` — trained
      weights join in by bucket. The model table is at most ``dim`` rows
      (fastText models are exactly this: dim x 1 after the mean), so it
      BROADCASTS and the corpus still never shuffles; only the
      per-document distinct-bucket relation ``groupBy(id)`` reduces,
      map-side combined.

    Outputs are rounded to 6dp (the repo's cross-engine float contract);
    empty documents score ``sigmoid(bias)`` with ``n_words = 0``.
    """
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col, _words_col
    from llm_aided_ocr_spark.operators.util import let_

    words = F.filter(_words_col(text_col), lambda w: w != "")
    bucket_of = lambda w: F.pmod(_word_hash_col(w, "md5_52"), F.lit(dim))  # noqa: E731
    if weights_df is None:
        logit = let_(
            words,
            lambda ws: F.lit(float(bias))
            + F.when(F.size(ws) == 0, F.lit(0.0)).otherwise(
                F.aggregate(
                    ws,
                    F.lit(0.0),
                    lambda acc, w: acc + _bucket_weight_col(bucket_of(w), seed),
                )
                / F.size(ws).cast("double")
            ),
        )
        return df.select(
            F.col(id_col).alias("id"),
            F.size(words).alias("n_words"),
            F.round(logit, 6).alias("logit_r"),
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("prob_r"),
        )
    # trained-weights shape: per-doc bucket counts x broadcast model
    base = persist(df.select(F.col(id_col).alias("id"), words.alias("ws")))
    buckets = base.select(
        "id", F.explode(F.transform("ws", bucket_of)).alias("bucket")
    )
    counts = buckets.groupBy("id", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    scored = (
        counts.join(F.broadcast(weights_df), on="bucket", how="left")
        .groupBy("id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.coalesce("weight", F.lit(0.0))).alias("s"),
        )
    )
    logit = F.lit(float(bias)) + F.when(
        F.col("n_words") == 0, F.lit(0.0)
    ).otherwise(F.col("s") / F.col("n_words").cast("double"))
    empty = base.select("id").where(F.size("ws") == 0).withColumn(
        "n_words", F.lit(0).cast("bigint")
    ).withColumn("s", F.lit(0.0))
    return scored.unionByName(empty).select(
        "id",
        "n_words",
        F.round(logit, 6).alias("logit_r"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("prob_r"),
    )


def script_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, n_chars, latin_frac, cyrillic_frac, han_frac, greek_frac,
    digit_frac, main_script)`` — per-document Unicode-script histogram,
    the writing-system counterpart to :func:`lang_id_col`: language-ID
    heuristics assume one script, so a page whose declared lang says
    ``en`` but whose bytes are 40% Han is either mislabeled, spam, or a
    template page — all of which curation pipelines drop (CCNet buckets
    per language only after a script gate).

    Counting is one native projection — ``length(regexp_replace(text,
    '[^\\p{Script}]', ''))`` per script — zero shuffle, zero Python,
    fuses into the scan. Fractions are IEEE ratios of exact integer
    counts, rounded to 6 (cross-engine bit-stable); ``main_script`` is
    the argmax on the RAW counts with a fixed precedence
    (latin > cyrillic > han > greek, ``none`` when all are zero) so ties
    are deterministic. Spark spells the classes ``\\p{IsLatin}``
    (Java regex), the DuckDB oracle ``\\p{Latin}`` (RE2) — the class
    CONTENTS agree; the cross-engine query is exactly the test that
    they keep agreeing."""
    from llm_aided_ocr_spark.operators.util import let_

    t = F.coalesce(F.col(text_col), F.lit(""))

    def _n(cls: str) -> Column:
        return F.length(F.regexp_replace(t, rf"[^\p{{Is{cls}}}]", ""))

    def _build(n: Column) -> Column:
        lat, cyr, han, grk = _n("Latin"), _n("Cyrillic"), _n("Han"), _n("Greek")
        dig = F.length(F.regexp_replace(t, r"[^0-9]", ""))
        denom = F.greatest(n, F.lit(1)).cast("double")
        main = (
            F.when(lat + cyr + han + grk == 0, F.lit("none"))
            .when((lat >= cyr) & (lat >= han) & (lat >= grk), F.lit("latin"))
            .when((cyr >= han) & (cyr >= grk), F.lit("cyrillic"))
            .when(han >= grk, F.lit("han"))
            .otherwise(F.lit("greek"))
        )
        return F.struct(
            n.alias("n_chars"),
            F.round(lat / denom, 6).alias("latin_frac"),
            F.round(cyr / denom, 6).alias("cyrillic_frac"),
            F.round(han / denom, 6).alias("han_frac"),
            F.round(grk / denom, 6).alias("greek_frac"),
            F.round(dig / denom, 6).alias("digit_frac"),
            main.alias("main_script"),
        )

    return df.select(
        F.col(id_col).alias("id"), let_(F.length(t), _build).alias("_s")
    ).select("id", "_s.*")


def host_quality_rollup(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_mean_score: float = 40.0,
    min_pass_frac: float = 0.5,
) -> DataFrame:
    """``(host, n_docs, mean_qscore_r, gopher_pass_frac_r,
    low_quality_host)`` — the per-host curation rollup that drives
    domain-level filtering (the RefinedWeb/FineWeb move: a host whose
    pages are consistently junk is cheaper to drop wholesale than to
    re-judge per page). Per host: document count, mean composite
    quality score, fraction passing the Gopher document gate, and the
    ``low_quality_host`` verdict (mean score below ``min_mean_score``
    OR pass fraction below ``min_pass_frac``).

    Scale shape: the per-document signals (:func:`quality_score_col`,
    the Gopher flag conjunction) are native expressions computed BEFORE
    the one narrow exchange — what shuffles is ``(host, int, int)``
    partial aggregates, never text; map-side combine collapses each
    host to one row per task. Averages are exact-integer sums divided
    once, rounded to 6dp (the repo's cross-engine float contract)."""
    host = domain_col(F.col(url_col))
    flagged = df.select(
        host.alias("host"),
        quality_score_col(F.col(text_col)).alias("qscore"),
        gopher_pass_col(F.col(text_col)).cast("int").alias("p"),
    )
    agg = flagged.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("qscore").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_qscore_r"
        ),
        F.round(F.sum("p").cast("double") / F.count(F.lit(1)), 6).alias(
            "gopher_pass_frac_r"
        ),
    )
    return agg.select(
        "host", "n_docs", "mean_qscore_r", "gopher_pass_frac_r",
        (
            (F.col("mean_qscore_r") < F.lit(float(min_mean_score)))
            | (F.col("gopher_pass_frac_r") < F.lit(float(min_pass_frac)))
        ).alias("low_quality_host"),
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    log_scale: int = 10_000,
) -> DataFrame:
    """One-row least-squares fit of the corpus term-frequency
    distribution to Zipf's law: ``log10(freq) = intercept + slope *
    log10(rank)`` over every vocabulary term ranked by descending
    frequency (ties broken by term — a deterministic total order, so
    ranks are engine-portable). A healthy natural-language corpus fits
    with slope ≈ −1; a template-flooded or synthetic crawl slice shows
    up as a flatter slope / lower r² — a cheap corpus-level QA gate
    next to the per-document Gopher signals.

    Output: ``(n_terms, slope_r, intercept_r, r2_r)`` (6dp).

    Cross-engine exactness: each point's logs are quantized to
    ``floor(log10(x) * log_scale)`` BIGINTs before summing, so the five
    regression sums are INTEGER sums — exact and order-free — and the
    closed-form slope/intercept/r² is one deterministic double
    expression over identical integers in both engines (a raw
    ``sum(double)`` would be summation-order-dependent and flake the
    value hash). At the default scale the quantization perturbs each
    log by <1e-4, far below the fit's statistical noise. The 1e4 scale
    also bounds ``sum(ix*iy)`` under int64 to a 10^8-term vocabulary.

    Scale shape: explode → per-term count (map-side combinable), rank
    via the two-phase distributed rank
    (:func:`~llm_aided_ocr_spark.operators.util.global_row_number` — no
    SinglePartition exchange; the ranked relation is vocabulary-sized),
    then a single scalar aggregation."""
    from llm_aided_ocr_spark.operators.dedup import _words_col
    from llm_aided_ocr_spark.operators.util import global_row_number

    words = F.filter(_words_col(text_col), lambda w: w != "")
    tf = (
        df.select(F.explode(words).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked, _ = global_row_number(
        tf.withColumn("_negf", -F.col("freq")), ["_negf", "term"],
        rn_col="_rank0",
    )
    pts = ranked.select(
        F.floor(F.log10(F.col("_rank0") + 1) * log_scale)
        .cast("bigint").alias("ix"),
        F.floor(F.log10("freq") * log_scale).cast("bigint").alias("iy"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("ix").alias("sx"),
        F.sum("iy").alias("sy"),
        F.sum(F.col("ix") * F.col("iy")).alias("sxy"),
        F.sum(F.col("ix") * F.col("ix")).alias("sxx"),
        F.sum(F.col("iy") * F.col("iy")).alias("syy"),
    )
    n = F.col("n_terms").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = (F.col(c).cast("double") for c in ("sxy", "sxx", "syy"))
    cov_n = n * sxy - sx * sy          # n² · covariance, in quantized units
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = F.when(varx_n != 0, cov_n / varx_n)
    # intercept is in log10 units: undo the quantization scale once
    intercept = F.when(
        varx_n != 0, (sy - cov_n / varx_n * sx) / n / F.lit(float(log_scale))
    )
    r2 = F.when(
        (varx_n != 0) & (vary_n != 0), cov_n * cov_n / (varx_n * vary_n)
    )
    return s.select(
        "n_terms",
        F.round(slope, 6).alias("slope_r"),
        F.round(intercept, 6).alias("intercept_r"),
        F.round(r2, 6).alias("r2_r"),
    )


def corpus_divergence(
    df_p: DataFrame,
    df_q: DataFrame,
    text_col: str = "text",
    alpha: float = 1.0,
    quant: int = 10**12,
) -> DataFrame:
    """One-row unigram-distribution divergence between two corpora:
    ``KL(P‖Q)``, ``KL(Q‖P)`` and the Jensen–Shannon divergence (bits)
    over add-``alpha``-smoothed term distributions on the JOINT
    vocabulary — the standard domain-shift / mixture-drift report when
    deciding whether a new crawl slice matches the training mix (cf.
    DSIR's importance weights, which this summarizes corpus-level).

    Output: ``(n_vocab, n_tokens_p, n_tokens_q, kl_pq_r, kl_qp_r,
    jsd_r)`` (divergences in bits, 6dp).

    Cross-engine exactness: the same discipline as :func:`zipf_fit` —
    each term's contribution ``p·log2(p/q)`` is quantized to
    ``floor(x · quant)`` BIGINT before summing, so the sums are exact
    and order-free; every double step (smoothed p, the ratio, the log,
    the product) is a pinned single-IEEE-op sequence identical in both
    engines. An engine-ulp difference in ``log2`` can flip one floor
    unit with ~1e-6 probability per term, which moves the final sum by
    1e-12 — invisible at the 6dp output rounding.

    Scale shape: two per-term count aggregations (map-side combinable),
    a full-outer join co-partitioned on term, corpus totals as ONE
    broadcast row (the repo's scalar pattern — no collect), then a
    single scalar aggregation. Text never crosses an exchange."""
    from llm_aided_ocr_spark.operators.dedup import _words_col

    def _counts(df: DataFrame, out: str) -> DataFrame:
        words = F.filter(_words_col(text_col), lambda w: w != "")
        return (
            df.select(F.explode(words).alias("term"))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias(out))
        )
    joint = (
        _counts(df_p, "cp")
        .join(_counts(df_q, "cq"), "term", "full_outer")
        .select(
            "term",
            F.coalesce("cp", F.lit(0)).alias("cp"),
            F.coalesce("cq", F.lit(0)).alias("cq"),
        )
    )
    totals = joint.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
    )
    a = F.lit(float(alpha))
    with_t = joint.crossJoin(F.broadcast(totals))
    p = (F.col("cp").cast("double") + a) / (
        F.col("np").cast("double") + a * F.col("v").cast("double")
    )
    q = (F.col("cq").cast("double") + a) / (
        F.col("nq").cast("double") + a * F.col("v").cast("double")
    )
    m = (p + q) / F.lit(2.0)
    def _k(x) -> F.Column:
        return F.floor(x * F.lit(float(quant))).cast("bigint")
    pts = with_t.select(
        "v", "np", "nq",
        _k(p * F.log2(p / q)).alias("kpq"),
        _k(q * F.log2(q / p)).alias("kqp"),
        _k(p * F.log2(p / m)).alias("jp"),
        _k(q * F.log2(q / m)).alias("jq"),
    )
    s = pts.groupBy("v", "np", "nq").agg(
        F.sum("kpq").alias("skpq"),
        F.sum("kqp").alias("skqp"),
        F.sum("jp").alias("sjp"),
        F.sum("jq").alias("sjq"),
    )
    qd = F.lit(float(quant))
    return s.select(
        F.col("v").alias("n_vocab"),
        F.col("np").alias("n_tokens_p"),
        F.col("nq").alias("n_tokens_q"),
        F.round(F.col("skpq").cast("double") / qd, 6).alias("kl_pq_r"),
        F.round(F.col("skqp").cast("double") / qd, 6).alias("kl_qp_r"),
        F.round(
            (F.col("sjp").cast("double") + F.col("sjq").cast("double"))
            / F.lit(2.0) / qd, 6,
        ).alias("jsd_r"),
    )


def quality_yield(
    df: DataFrame,
    score_col: str = "qscore",
    mass_col: str = "mass",
    step: int = 5,
    max_score: int = 100,
) -> DataFrame:
    """``(threshold, n_docs_kept, mass_kept, doc_frac, mass_frac)`` —
    the YIELD CURVE of a quality filter: for every candidate cutoff on
    the integer score grid (0..max_score by ``step``), how many
    documents and how much mass (tokens / bytes / chars — any
    nonnegative bigint column) survive ``score >= threshold``. This is
    the table a curation run reads BEFORE picking a cutoff — the
    retention/quality trade is a curve, not a number, and re-scanning
    the corpus once per candidate threshold (the naive sweep) is 21
    corpus passes where this is ONE.

    Shape: a single ``groupBy(score)`` corpus aggregation collapses the
    input to at most ``max_score+1`` bucket rows (map-side combinable);
    the threshold grid then theta-joins the bucket relation
    (21 x 101 rows — driver-trivial, broadcast NL join) and the totals
    come from the same bucket relation. Fractions are single IEEE
    divisions of exact integer sums. Scores outside [0, max_score] are
    clamped into the end buckets (a <0 score can never survive any
    threshold; a >max score survives all)."""
    if step <= 0 or max_score < 0:
        raise ValueError("need step > 0 and max_score >= 0")
    from pyspark import StorageLevel

    spark = df.sparkSession
    # b feeds BOTH the grid theta-join and the totals aggregate; without
    # a persist each consumer re-runs the full corpus aggregation
    # (including whatever score projection the caller feeds in). b is at
    # most ``max_score + 1`` rows — the cheapest cache in the repo
    # (guide §2.4).
    b = persist(
        df.select(
            F.greatest(
                F.lit(0),
                F.least(F.lit(int(max_score)), F.col(score_col)),
            ).cast("int").alias("s"),
            F.col(mass_col).cast("bigint").alias("m"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(F.sum("m"), F.lit(0)).cast("bigint").alias("mm"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    grid = spark.range(0, int(max_score) + 1, int(step)).select(
        F.col("id").cast("bigint").alias("threshold")
    )
    tot = b.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("tn"),
        F.coalesce(F.sum("mm"), F.lit(0)).alias("tm"),
    )
    kept = (
        grid.join(b, b["s"] >= grid["threshold"], "left")
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias(
                "n_docs_kept"
            ),
            F.coalesce(F.sum("mm"), F.lit(0)).cast("bigint").alias(
                "mass_kept"
            ),
        )
    )
    return kept.crossJoin(F.broadcast(tot)).select(
        "threshold",
        "n_docs_kept",
        "mass_kept",
        F.when(
            F.col("tn") > 0,
            F.col("n_docs_kept").cast("double") / F.col("tn").cast("double"),
        ).alias("doc_frac"),
        F.when(
            F.col("tm") > 0,
            F.col("mass_kept").cast("double") / F.col("tm").cast("double"),
        ).alias("mass_frac"),
    )


def url_path_templates(
    df: DataFrame,
    url_col: str = "url",
    k: int = 5,
) -> DataFrame:
    """``(host, template, n_urls, rank)`` — the ``k`` most common URL
    PATH TEMPLATES per host, where a template is the path+query with
    every digit run collapsed to ``N`` and every long (>=8) lowercase
    hex run to ``H``: ``/article/8437291?page=3`` and
    ``/article/8437290?page=12`` both become ``/article/N?page=N``.
    The URL-space complement to host_templates' content templates:
    a healthy CMS host concentrates into a few templates with sane
    counts, a crawler trap (calendar pages, session ids, faceted
    search) shows one template with a pathological count — the
    IRLbot-style budget signal at the structure level rather than
    url_trap_flags' per-url heuristics.

    Scale shape: ONE native projection (regexp chain, fuses into the
    scan) → ONE (host, template) count aggregation (map-side
    combinable) → per-host top-k window ordered (n DESC, template) —
    partitioned BY HOST, parallel across hosts; a host's distinct
    template set is small by construction (that is the point of
    templating). Exact-url dedup first so refetches don't inflate
    counts."""
    from pyspark.sql import Window

    u = F.col("url")
    path = F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")
    path = F.regexp_replace(path, r"#.*$", "")
    tmpl = F.regexp_replace(path, r"[0-9a-f]{8,}", "H")
    tmpl = F.regexp_replace(tmpl, r"[0-9]+", "N")
    tmpl = F.when(tmpl == "", F.lit("/")).otherwise(tmpl)
    base = (
        df.select(F.col(url_col).alias("url"))
        .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        .distinct()
        .select(domain_col(u).alias("host"), tmpl.alias("template"))
        .filter(F.col("host") != "")
    )
    counts = base.groupBy("host", "template").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_urls")
    )
    w = Window.partitionBy("host").orderBy(
        F.desc("n_urls"), F.col("template")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("host", "template", "n_urls", F.col("rank").cast("int"))
    )
