"""Corpus-level boilerplate line removal (the CCNet/RefinedWeb line-dedup
stage).

Web chrome — nav bars, cookie banners, copyright footers — repeats the
same LINE across thousands of pages of a site while the article body is
unique. The standard curation move (CCNet §3.1 "paragraph-level
deduplication"; RefinedWeb's line-wise filter) removes every line whose
corpus document-frequency exceeds a threshold and keeps the rest of the
document intact. The reference has no corpus stage (it is a
single-document CLI, llm_aided_ocr.py); this module supplies the
corpus-scale analogue of its document-local duplicate-paragraph rule
(llm_aided_ocr.py:486-493).

Scale shape, in order of data moved:

* counting: per-document DISTINCT trimmed-line hashes are built
  document-locally (``array_distinct`` over a native ``transform``) and
  explode as 8-byte longs into one map-side-combined ``groupBy`` — the
  count exchange carries hash+partial-count, never line text.
* rebuild: per-line ``(id, pos, hash)`` 24-byte rows anti-join the
  frequent relation through a REAL hash table (AQE broadcasts the set
  when small) and regroup to kept-position arrays; document text still
  moves at most once (the final id join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.dedup import _word_hash_col
from llm_aided_ocr_spark.operators.util import corpus_scaled, let_, persist


def _lines_col(text_col: str) -> F.Column:
    return F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")


def _line_hash(line: F.Column, hash_family: str) -> F.Column:
    return _word_hash_col(F.trim(line), hash_family)


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 5,
    hash_family: str = "xxhash64",
    out_col: str | None = None,
) -> DataFrame:
    """Strip corpus-frequent lines from every document, preserving the
    order (and blank-line structure) of everything that survives. Blank
    lines are never candidates — they carry layout, not boilerplate. A
    document whose every line is boilerplate comes back as ``''``, not
    dropped: line dedup edits documents, document-level filters decide
    their fate.

    Line hashes explode into an anti-join against the frequent set — a
    REAL hash-table probe: AQE broadcasts the set when it is small (O(1)
    codegen probes, no corpus exchange for the join) and falls back to a
    shuffle join when it is not; kept positions regroup per document and
    the rebuild join is pinned off broadcast (``corpus_scaled``). (A
    zero-exchange form that shipped the frequent set as one array column
    and probed it per line with ``array_contains`` is a LINEAR
    interpreted scan, O(lines x |dup set|): at 37k frequent lines over a
    28M-line corpus that is ~10^12 ops — measured: did not finish in 9
    minutes where the join form takes seconds.)"""
    from pyspark import StorageLevel

    out_col = out_col or text_col
    lines = _lines_col(text_col)
    blank_hash = _line_hash(F.lit(""), hash_family)
    # ONE tokenize+hash pass feeds BOTH the frequency count and the
    # per-position explode: persist the per-doc hash ARRAYS (8 bytes/line
    # — ~an order narrower than the text) instead of re-splitting and
    # re-hashing every document for each consumer (guide §2.4/§1.2). A
    # line's hash is of its TRIMMED form, so `hash != hash('')` selects
    # exactly the trimmed-non-blank lines, counted once per document
    # (`array_distinct` before the explode makes the count the document
    # frequency).
    hrel = persist(df.select(
        F.col(id_col).alias("_ld_id"),
        F.transform(lines, lambda l: _line_hash(l, hash_family)).alias("_lh"),
    ), StorageLevel.MEMORY_AND_DISK)
    dup = (
        hrel.select(
            F.explode(
                F.array_distinct(F.filter("_lh", lambda h: h != blank_hash))
            ).alias("line_hash")
        )
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= F.lit(min_doc_freq))
        .select("line_hash")
    )
    ex = hrel.select("_ld_id", F.posexplode("_lh").alias("pos", "line_hash"))
    kept_pos = (
        ex.join(dup.withColumn("_dup", F.lit(True)), on="line_hash", how="left")
        # blank lines hash to hash('') which can never enter `dup`
        # (non-blank-only counting), but keep the guard explicit
        .filter(F.col("_dup").isNull() | (F.col("line_hash") == blank_hash))
        .groupBy("_ld_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_kept_pos"))
    )
    kept_arr = F.coalesce(F.col("_kept_pos"), F.array().cast("array<int>"))
    # let-bind the line array: HOF lambdas are interpreted with NO
    # subexpression elimination, so an unbound `lines` inside the
    # per-position lambda would re-split the WHOLE document once per kept
    # line — O(lines x doc_bytes), hours on a 31k-line mega-doc
    # (measured: the unbound form did not finish 320k docs in 9 min;
    # bound, the full operator runs in seconds)
    rebuilt = let_(
        lines,
        lambda ls: F.array_join(
            F.transform(kept_arr, lambda i: F.element_at(ls, i + 1)), "\n"
        ),
    )
    return (
        df.join(corpus_scaled(kept_pos), df[id_col] == kept_pos["_ld_id"], "left")
        .withColumn(out_col, rebuilt)
        .drop("_ld_id", "_kept_pos")
    )


def line_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 5,
) -> DataFrame:
    """``(id, n_lines, n_kept, clean_len, clean_md5)`` — the audit view of
    :func:`line_dedup`: per-document line counts before/after plus the
    length and md5 of the cleaned text (md5 is engine-portable, so the
    driver oracle verifies the rebuilt BYTES, not just counts)."""
    cleaned = line_dedup(
        df, text_col=text_col, id_col=id_col, min_doc_freq=min_doc_freq,
        out_col="_clean",
    )
    return cleaned.select(
        F.col(id_col).alias("id"),
        F.size(_lines_col(text_col)).alias("n_lines"),
        F.size(F.split(F.col("_clean"), "\n")).alias("n_kept_raw"),
        F.length("_clean").alias("clean_len"),
        F.md5(F.col("_clean")).alias("clean_md5"),
    ).withColumn(
        # split('') yields [''] — an all-boilerplate doc has 0 kept lines
        "n_kept",
        F.when(F.col("clean_len") == 0, F.lit(0)).otherwise(F.col("n_kept_raw")),
    ).drop("n_kept_raw")


# ---------------------------------------------------------------------------
# C4-style line cleaning + page gate (Raffel et al. 2020, arXiv:1910.10683 §2.2)
# ---------------------------------------------------------------------------

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
_C4_TERMINALS = (".", "!", "?", '"')


def _c4_line_keep(line: F.Column, min_words: int) -> F.Column:
    """C4's per-line rule on the TRIMMED line: ends in a terminal
    punctuation mark, has at least ``min_words`` whitespace words, and
    does not mention javascript (case-insensitive)."""
    t = F.trim(line)
    return (
        F.substring(t, -1, 1).isin(*_C4_TERMINALS)
        & (F.size(F.split(t, " ")) >= F.lit(min_words))
        & ~F.contains(F.lower(t), F.lit("javascript"))
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    keep_col: str = "c4_keep",
) -> DataFrame:
    """The C4 cleaning recipe as ONE narrow per-row native expression —
    no shuffle, no Python, survives any scale the scan survives:

    * line level — keep only TRIMMED lines that end in a terminal
      punctuation mark (``. ! ? "``), contain >= ``C4_MIN_LINE_WORDS``
      words, and don't mention "javascript"; kept lines are re-joined
      with ``"\\n"`` (C4 operates on stripped lines, so the rebuild emits
      the trimmed text);
    * page level — ``keep_col`` is false when the ORIGINAL page mentions
      "lorem ipsum" (case-insensitive), contains a curly bracket, or the
      cleaned text has fewer than ``C4_MIN_SENTENCES`` sentences. Sentences
      are counted as terminal-punctuation marks (``[.!?]``) in the
      cleaned text — a deterministic relational stand-in for the paper's
      nltk sentence splitter, documented as a deviation.

    The cleaned text is written to ``out_col`` (default: in place);
    pages are FLAGGED, never dropped — the caller's filter decides, so
    audits can count both sides (same contract as gopher_quality_flags).
    """
    out_col = out_col or text_col
    text = F.coalesce(F.col(text_col), F.lit(""))
    kept = F.filter(F.split(text, "\n"), lambda l: _c4_line_keep(l, C4_MIN_LINE_WORDS))
    # NB: an explicit 1-arg lambda — transform() passes (element, index)
    # to any 2-arity callable, and F.trim's optional second parameter
    # would silently become the index (trim-by-charset, wrong bytes)
    clean = F.array_join(F.transform(kept, lambda l: F.trim(l)), "\n")
    low = F.lower(text)
    return (
        df.withColumn(out_col, clean)
        .withColumn(
            keep_col,
            ~F.contains(low, F.lit("lorem ipsum"))
            & ~F.contains(text, F.lit("{"))
            & (
                F.regexp_count(F.col(out_col), F.lit(r"[.!?]"))
                >= F.lit(C4_MIN_SENTENCES)
            ),
        )
    )


def c4_clean_stats(df: DataFrame) -> DataFrame:
    """``(id, n_lines, n_kept, n_sent, keep, clean_len, clean_md5)`` —
    the audit view of :func:`c4_clean` with the rebuilt BYTES pinned by
    an engine-portable md5 (the driver-oracle contract shared by
    line_dedup_stats / paragraph_dedup_stats)."""
    cleaned = c4_clean(df, out_col="_c4_clean", keep_col="_c4_keep")
    lines = _lines_col("text")
    return cleaned.select(
        F.col("doc_id").alias("id"),
        F.size(lines).alias("n_lines"),
        F.when(F.length("_c4_clean") == 0, F.lit(0))
        .otherwise(F.size(F.split(F.col("_c4_clean"), "\n")))
        .alias("n_kept"),
        F.regexp_count(F.col("_c4_clean"), F.lit(r"[.!?]")).cast("int").alias("n_sent"),
        F.col("_c4_keep").alias("keep"),
        F.length("_c4_clean").alias("clean_len"),
        F.md5(F.col("_c4_clean")).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# Blocklist gate (C4's "bad words" document filter)
# ---------------------------------------------------------------------------

def _normalize_blocklist(blocklist: list) -> tuple:
    """Split a raw blocklist into (single tokens, multi-token phrases),
    each entry normalized through the corpus tokenizer (lowercase
    ``[a-z0-9]+`` runs, joined by single spaces for phrases). The real
    C4 "bad words" list contains multi-word and punctuated entries —
    passing those into a single-token matcher silently no-ops, so an
    entry that normalizes to nothing raises instead."""
    import re

    tokens, phrases, seen = [], [], set()
    for raw in blocklist:
        toks = re.findall(r"[a-z0-9]+", str(raw).lower())
        if not toks:
            raise ValueError(
                f"blocklist entry {raw!r} normalizes to no tokens under "
                "the corpus tokenizer (lowercase [a-z0-9]+ runs)"
            )
        key = " ".join(toks)
        if key in seen:
            continue
        seen.add(key)
        (tokens if len(toks) == 1 else phrases).append(key)
    return tokens, phrases


def _phrase_stream_col(text_col: str):
    """The document's normalized token stream, space-joined and
    space-padded, so a phrase match is ``contains(' a b ')`` — token
    boundaries preserved, still one native projection."""
    from llm_aided_ocr_spark.operators.dedup import _words_col

    return F.concat(
        F.lit(" "),
        F.array_join(F.filter(_words_col(text_col), lambda w: w != ""), " "),
        F.lit(" "),
    )


def blocklist_flags(
    df: DataFrame,
    blocklist: list,
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, n_blocked, blocked)`` — C4's remaining document gate: drop
    any page containing a word from a blocklist (Raffel et al. 2020
    §2.2 use the public "List of Dirty, Naughty, Obscene..." — ship your
    own list; none is bundled). Matching is on the shared normalized
    token space (lowercased ``[a-z0-9]+`` runs), so ``bad-word!`` and
    ``Bad Word`` match their tokens but substrings never do (``class``
    does not match ``ass`` — token-boundary semantics, the documented
    C4 behavior). Multi-token entries (the real list has them) match as
    PHRASES on the normalized token stream; an entry that normalizes to
    nothing raises rather than silently never matching.

    Fully native and shuffle-free: the document's distinct token set
    intersects a LITERAL array (blocklists are hundreds of words — they
    ride the serialized plan; a corpus-side join would shuffle tokens
    for nothing), and each phrase is one ``contains`` probe of the
    space-joined token stream. ``n_blocked`` counts distinct blocked
    ENTRIES matched (token types + phrases), the audit signal for
    threshold tuning."""
    tokens, phrases = _normalize_blocklist(blocklist)
    if not tokens and not phrases:
        raise ValueError("blocklist must be a non-empty list of words")
    from llm_aided_ocr_spark.operators.dedup import _words_col

    n_hits = F.lit(0)
    if tokens:
        bl = F.array(*[F.lit(w) for w in tokens])
        toks = F.array_distinct(_words_col("text"))
        n_hits = n_hits + F.size(F.array_intersect(toks, bl))
    if phrases:
        stream = _phrase_stream_col("text")
        from llm_aided_ocr_spark.operators.util import let_

        n_hits = n_hits + let_(
            stream,
            lambda s: F.aggregate(
                F.array(*[F.lit(f" {p} ") for p in phrases]),
                F.lit(0),
                lambda acc, p: acc + F.contains(s, p).cast("int"),
            ),
        )
    return df.select(
        F.col(id_col).alias("id"),
        n_hits.cast("int").alias("n_blocked"),
        (n_hits > 0).alias("blocked"),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rows of ``df`` whose text contains NO blocklisted token or phrase
    — the enforcement form of :func:`blocklist_flags`, inlined as a
    narrow native filter (no join, no shuffle; survives any scale the
    scan does)."""
    from llm_aided_ocr_spark.operators.dedup import _words_col

    tokens, phrases = _normalize_blocklist(blocklist)
    if not tokens and not phrases:
        raise ValueError("blocklist must be a non-empty list of words")
    cond = F.lit(False)
    if tokens:
        bl = F.array(*[F.lit(w) for w in tokens])
        cond = cond | F.arrays_overlap(
            F.array_distinct(_words_col(text_col)), bl
        )
    if phrases:
        from llm_aided_ocr_spark.operators.util import let_

        cond = cond | let_(
            _phrase_stream_col(text_col),
            lambda s: F.exists(
                F.array(*[F.lit(f" {p} ") for p in phrases]),
                lambda p: F.contains(s, p),
            ),
        )
    return df.filter(~cond)
