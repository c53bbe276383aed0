"""Distributed BPE vocabulary learning — byte-pair-encoding merge
induction over a corpus, the tokenizer-training step of a pretraining
pipeline (Sennrich et al. 2016, arXiv:1508.07909 — learn merges from the
WORD-FREQUENCY table, not the raw corpus).

Scale shape (the reason BPE fits Spark at 10^12 documents): the corpus
is touched exactly once, by the word-count aggregation (map-side-combined
``(word, n)`` — the same exchange `word_commonness` bounds); every merge
round after that runs on the VOCAB-sized relation (distinct words —
10^6..10^9 rows at web scale, independent of corpus row count). Per
round: one pair-frequency aggregation (pairs explode document-locally
from each word's current symbol array, weighted by the word's count) and
one bounded argmax (``orderBy(...).limit(1)`` — TakeOrdered, one row to
the driver; the SAME bounded-collect discipline as dedup_clusters'
convergence checks — the merge choice is inherently a global sequential
decision, which is why no engine trains BPE without a driver loop). The
merge application is a vocab-sized Arrow pass; each round ends in an
eager ``localCheckpoint`` so round k+1's lineage doesn't replay rounds
1..k (the dedup_clusters pattern, including releasing superseded
checkpoints).

Simplifications vs a production tokenizer (documented, deliberate):
symbols start as the word's characters with NO end-of-word marker, and
words come from the repo's shared token family (lowercased ``[a-z0-9]+``
runs), so merges never cross word boundaries. No reference analogue
(the reference estimates token COUNTS, llm_aided_ocr.py:185-203; it
never trains a vocabulary).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import (
    local_checkpoint,
    map_arrow,
    persist,
    release_local_checkpoint,
)


def _merge_word(syms: List[str], a: str, b: str) -> List[str]:
    """Left-to-right non-overlapping application of merge (a, b) -> ab —
    the exact semantics the DuckDB oracle replays as a per-word
    recursive-CTE walk (``'a a a'`` under merge (a, a) becomes
    ``['aa', 'a']``, not ``['aa', 'aa']``)."""
    out: List[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_pairs(merges) -> List[Tuple[str, str]]:
    """The ``(left, right)`` pairs of a merge table given either as
    ``(merge_ix, left, right, freq)`` rows or as bare pairs."""
    return [(m[1], m[2]) if len(m) >= 3 else (m[0], m[1]) for m in merges]


def _encode_word(w: str, pairs) -> List[str]:
    """``w``'s subword symbols: its characters with every merge of
    ``pairs`` applied in learned order."""
    syms = list(w)
    for a, b in pairs:
        if len(syms) < 2:
            break
        syms = _merge_word(syms, a, b)
    return syms


def _vocab_symbol_counts(vocab: DataFrame, pairs) -> DataFrame:
    """``(w, n_syms)`` — the encoded length of every word of the
    vocab-sized relation ``vocab(w)``, in one Arrow pass."""

    def _tokenize(words):
        return words, [len(_encode_word(w, pairs)) for w in words]

    return map_arrow(vocab, _tokenize, "w string, n_syms int")


def _pair_positions(syms: List[str]) -> dict:
    """Pair -> count of adjacent positions in one word (every position
    counts: 'aaa' has (a, a) twice)."""
    counts: dict = {}
    for i in range(len(syms) - 1):
        p = (syms[i], syms[i + 1])
        counts[p] = counts.get(p, 0) + 1
    return counts


def _bpe_learn_local(
    word_counts: List[Tuple[str, int]], num_merges: int
) -> List[Tuple[int, str, str, int]]:
    """Exact driver-local BPE trainer over a collected word-frequency
    table — the classic heap-with-lazy-invalidation loop (the shape of
    every single-node tokenizer trainer). Byte-identical to the
    distributed round loop: same every-adjacent-position pair counting,
    same left-to-right non-overlapping merge application, same
    (freq DESC, left ASC, right ASC) tie break — a heap of
    ``(-freq, left, right)`` tuples pops in exactly that order.

    O(total pair updates + heap ops): each merge touches only the words
    that contain its pair (tracked by an inverted pair->word-ids index),
    so a 32k-merge vocabulary is seconds of driver CPU instead of 32k
    serial Spark jobs."""
    import heapq

    words: List[List[str]] = [list(w) for w, _ in word_counts]
    freqs: List[int] = [int(n) for _, n in word_counts]

    pair_freq: dict = {}
    pair_words: dict = {}
    for wi, syms in enumerate(words):
        n = freqs[wi]
        for p, k in _pair_positions(syms).items():
            pair_freq[p] = pair_freq.get(p, 0) + k * n
            pair_words.setdefault(p, set()).add(wi)

    heap = [(-f, a, b) for (a, b), f in pair_freq.items()]
    heapq.heapify(heap)

    merges: List[Tuple[int, str, str, int]] = []
    for t in range(num_merges):
        # pop until a live entry (freq matches the current table)
        best = None
        while heap:
            negf, a, b = heapq.heappop(heap)
            if pair_freq.get((a, b), 0) == -negf and negf != 0:
                best = (a, b, -negf)
                break
        if best is None:
            break
        a, b, freq = best
        merges.append((t, a, b, freq))
        touched: dict = {}
        for wi in list(pair_words.get((a, b), ())):
            syms = words[wi]
            old = _pair_positions(syms)
            new_syms = _merge_word(syms, a, b)
            new = _pair_positions(new_syms)
            n = freqs[wi]
            for p in old.keys() | new.keys():
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    pair_freq[p] = pair_freq.get(p, 0) + d * n
                    touched[p] = True
                if new.get(p, 0):
                    pair_words.setdefault(p, set()).add(wi)
                elif p in pair_words:
                    pair_words[p].discard(wi)
            words[wi] = new_syms
        for p in touched:
            f = pair_freq.get(p, 0)
            if f <= 0:
                pair_freq.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-f, p[0], p[1]))
    return merges


def bpe_learn(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_word_freq: int = 1,
    strategy: str = "auto",
    local_vocab_cap: int = 2_000_000,
) -> List[Tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges from a document corpus; returns
    ``[(merge_ix, left, right, freq)]`` in learned order (may be shorter
    than ``num_merges`` if the vocabulary exhausts — every word collapsed
    to one symbol).

    Pair counting counts EVERY adjacent position (``'aaa'`` contributes
    (a, a) twice); merge application is left-to-right non-overlapping;
    ties break deterministically by (freq DESC, left ASC, right ASC) so
    the learned table is reproducible across cluster layouts and in the
    driver's DuckDB oracle. ``min_word_freq`` drops the long singleton
    tail of the word table before iterating (hapaxes shift BPE counts
    negligibly at corpus scale but dominate the vocab relation's row
    count — the standard practical cut).

    ``strategy``: after the one corpus-wide word-count aggregation (the
    only stage whose cost scales with corpus rows), the merge loop runs
    on the vocab-sized table. ``"local"`` collects that table to the
    driver and runs the exact heap-based trainer
    (:func:`_bpe_learn_local` — identical output, parity-tested); at a
    production 32k-merge vocabulary that is seconds of driver CPU
    instead of 32k strictly-sequential Spark jobs (the r4 verdict's BPE
    caveat). ``"distributed"`` keeps the per-round Spark loop — the
    path for a vocab that genuinely cannot sit on the driver.
    ``"auto"`` (default) counts the vocab first (one cheap action on the
    already-checkpointed table) and goes local iff it has at most
    ``local_vocab_cap`` rows — a BOUNDED collect by construction
    (2M words ≈ tens of MB), never an O(corpus) one."""
    from llm_aided_ocr_spark.operators.dedup import _words_col
    if strategy not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown strategy: {strategy!r}")

    words = (
        df.select(F.explode(_words_col(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_word_freq > 1:
        words = words.filter(F.col("n") >= min_word_freq)

    if strategy != "distributed":
        word_table = local_checkpoint(words)
        try:
            if (
                strategy == "local"
                or word_table.count() <= local_vocab_cap
            ):
                rows = word_table.collect()
                return _bpe_learn_local(
                    [(r["w"], r["n"]) for r in rows], num_merges
                )
        finally:
            release_local_checkpoint(word_table)

    vocab = local_checkpoint(
        words.select("n", F.split(F.col("w"), "").alias("syms"))
    )

    merges: List[Tuple[int, str, str, int]] = []
    for t in range(num_merges):
        sz = F.size("syms")
        pairs = (
            vocab.filter(sz >= 2)
            .select(
                "n",
                F.explode(
                    F.arrays_zip(
                        F.slice("syms", 1, sz - 1).alias("a"),
                        F.slice("syms", 2, sz - 1).alias("b"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("freq"))
        )
        top = pairs.orderBy(
            F.desc("freq"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top:
            break
        a, b, freq = top[0]["a"], top[0]["b"], int(top[0]["freq"])
        merges.append((t, a, b, freq))

        def _apply(syms_col, a=a, b=b):
            return ([_merge_word(syms, a, b) for syms in syms_col],)

        new_vocab = local_checkpoint(
            map_arrow(vocab, _apply, "n bigint, syms array<string>", keep=("n",))
        )
        release_local_checkpoint(vocab)
        vocab = new_vocab
    release_local_checkpoint(vocab)
    return merges


def bpe_merges_df(
    df: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_word_freq: int = 1,
) -> DataFrame:
    """:func:`bpe_learn` as a DataFrame ``(merge_ix, lhs, rhs, freq)`` —
    the driver-contract surface (``lhs``/``rhs`` because left/right are
    SQL keywords on both engines)."""
    merges = bpe_learn(
        df, num_merges, text_col=text_col, min_word_freq=min_word_freq
    )
    spark = df.sparkSession
    return spark.createDataFrame(
        merges or [], "merge_ix int, lhs string, rhs string, freq bigint"
    )


def bpe_token_counts(
    df: DataFrame,
    merges: List[Tuple[int, str, str, int]] | List[Tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, n_words, n_bpe_tokens)`` — every document's token count
    under a learned merge table: the sizing pass a pretraining pipeline
    runs corpus-wide before packing (sequence budgets are counted in
    TOKENIZER tokens, not the whitespace estimate).

    Scale shape (why this is not ``bpe_encode`` + ``size``): merges are
    word-local, so the corpus never needs to be re-encoded per
    occurrence — the merge walk runs once per DISTINCT word (a
    vocab-sized Arrow pass, independent of corpus row count) and the
    per-document count is the pre-aggregated ``(id, w, n)`` relation
    joined to ``(w, n_syms)`` and summed: ``sum(n * n_syms)`` — the
    identical-by-linearity trick and shuffle diet of
    ``textstats.word_commonness`` (the join carries
    distinct-words-per-doc rows, never per-occurrence rows). Empty
    documents count 0; the all-ids rejoin is pinned shuffle-hash
    (``corpus_scaled`` — per-doc counts are O(corpus), never a
    broadcast build side).

    Composes into the shard story: join the counts back by id and pass
    ``token_col=F.col("n_bpe_tokens")`` to
    :func:`~llm_aided_ocr_spark.operators.packing.pack_sequences` so
    training bins fill against the TOKENIZER budget instead of the
    whitespace estimate (tested in tests/test_bpe.py)."""
    from llm_aided_ocr_spark.operators.dedup import _words_col
    from llm_aided_ocr_spark.operators.util import (
        corpus_scaled,
        ensure_min_parallelism,
    )

    pairs = _merge_pairs(merges)
    base = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"), _words_col(text_col).alias("ws")
    )
    # feeds the vocab distinct AND the join side
    occ = persist(
        base.select("id", F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = occ.select("w").distinct()

    vocab_tok = _vocab_symbol_counts(vocab, pairs)
    per_doc = (
        occ.join(vocab_tok, "w")
        .groupBy("id")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.col("n_syms")).cast("bigint").alias(
                "n_bpe_tokens"
            ),
        )
    )
    all_ids = df.select(F.col(id_col).alias("id"))
    return all_ids.join(corpus_scaled(per_doc), "id", "left").select(
        "id",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
    )


def bpe_vocabulary(
    df: DataFrame,
    merges: List[Tuple[int, str, str, int]] | List[Tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """``(symbol, n_tokens)`` — the corpus's subword vocabulary under a
    learned merge table: every symbol the tokenizer will emit with its
    total corpus occurrence count. This is the artifact a tokenizer
    EXPORT ships (symbol table + merge list = the tokenizer), and the
    frequency column is what vocabulary-truncation decisions read.

    Same scale shape as :func:`bpe_token_counts`: one corpus word-count
    aggregation, then everything runs on the vocab-sized relation (the
    merge walk per DISTINCT word, symbol explode weighted by word
    count, a symbol-keyed combine-heavy aggregation)."""
    from llm_aided_ocr_spark.operators.dedup import _words_col
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    pairs = _merge_pairs(merges)
    words = (
        ensure_min_parallelism(df)
        .select(F.explode(_words_col(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def _tok(words):
        return ([_encode_word(w, pairs) for w in words],)

    return (
        map_arrow(words, _tok, "n bigint, syms array<string>", keep=("n",))
        .select(F.explode("syms").alias("symbol"), "n")
        .groupBy("symbol")
        .agg(F.sum("n").cast("bigint").alias("n_tokens"))
    )


def bpe_encode(
    df: DataFrame,
    merges: List[Tuple[int, str, str, int]] | List[Tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned merge list to tokenize documents:
    ``out_col array<string>`` of subword symbols (word-local, merges in
    learned order — the standard BPE encoder loop). One Arrow pass over
    the corpus; the merge table rides in the task closure (vocab-sized
    merge lists belong in a broadcast, same mechanics)."""
    from llm_aided_ocr_spark.operators.dedup import _words_col

    pairs = _merge_pairs(merges)
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def _enc(words_col):
        # merges are word-local: encode each distinct word of the batch once
        enc = {w: _encode_word(w, pairs) for w in set().union(*words_col)}
        return ([[sym for w in ws for sym in enc[w]] for ws in words_col],)

    return map_arrow(
        df.withColumn("_bpe_words", _words_col(text_col)),
        _enc,
        f"{out_fields}, {out_col} array<string>",
        keep=df.columns,
    )


def bpe_fertility(
    df: DataFrame,
    merges: List[Tuple[int, str, str, int]] | List[Tuple[str, str]],
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """``(lang, n_words, n_chars, n_bpe_tokens, fertility, chars_per_token)``
    — per-language tokenizer FERTILITY (subword tokens per word) and
    compression (normalized chars per token) under a learned merge
    table: the standard multilingual-equity report (a tokenizer trained
    on English-heavy data fragments other scripts into many more tokens
    per word, silently taxing those languages' effective context and
    training budget — fertility is the number reviewers ask for first).

    NULL ``lang`` rows aggregate under ``''`` (the ccnet_buckets
    sentinel precedent) rather than vanishing.

    Scale shape: the corpus pass is ONE ``(lang, w) → n`` aggregation
    (map-side combinable; distinct-word-per-language rows, never
    per-occurrence); the merge walk runs once per DISTINCT word
    (vocab-sized Arrow pass, the :func:`bpe_token_counts` trick) and
    joins back on ``w``. Ratios are single IEEE divisions of exact
    integer sums — engine-exact."""
    from llm_aided_ocr_spark.operators.dedup import _words_col
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    pairs = _merge_pairs(merges)
    base = ensure_min_parallelism(df).select(
        F.coalesce(F.col(lang_col), F.lit("")).alias("lang"),
        _words_col(text_col).alias("ws"),
    )
    occ = persist(
        base.select("lang", F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = occ.select("w").distinct()

    vocab_tok = _vocab_symbol_counts(vocab, pairs)
    return (
        occ.join(vocab_tok, "w")
        .groupBy("lang")
        .agg(
            F.sum("n").cast("bigint").alias("n_words"),
            F.sum(F.col("n") * F.length("w")).cast("bigint").alias("n_chars"),
            F.sum(F.col("n") * F.col("n_syms")).cast("bigint").alias(
                "n_bpe_tokens"
            ),
        )
        .select(
            "lang", "n_words", "n_chars", "n_bpe_tokens",
            F.when(
                F.col("n_words") > 0,
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_words").cast("double"),
            ).alias("fertility"),
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
            ).alias("chars_per_token"),
        )
    )
