"""Line-level boilerplate dedup + benchmark decontamination.

Both are corpus-curation stages with no reference analogue (the reference
is a single-document CLI); semantics follow the public recipes they name
(CCNet line dedup, GPT-3 13-gram decontamination)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.boilerplate import line_dedup, line_dedup_stats
from llm_aided_ocr_spark.operators.dedup import (
    decontaminate,
    eval_ngram_set,
    remove_contaminated,
)


@pytest.fixture(scope="module")
def chrome_corpus(spark):
    """Six pages of one 'site' sharing header+footer chrome, one
    chrome-only page, one empty page, one page whose header has extra
    surrounding whitespace (must still count as the same line)."""
    rows = [
        (
            i,
            "HOME | ABOUT | CONTACT\n"
            f"unique body {i} alpha\n\nunique body {i} beta\n"
            "(c) 2024 example.com",
        )
        for i in range(6)
    ]
    rows.append((90, "  HOME | ABOUT | CONTACT  \n(c) 2024 example.com"))
    rows.append((91, ""))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dup_line_hashes_counts_distinct_docs(spark, chrome_corpus):
    # header and footer each appear in 7 docs: with min_doc_freq=7 both
    # are stripped; at 8 neither is
    out7 = {r.doc_id: r.text for r in line_dedup(chrome_corpus, min_doc_freq=7).collect()}
    assert out7[0] == "unique body 0 alpha\n\nunique body 0 beta"
    assert out7[90] == ""
    out8 = {r.doc_id: r.text for r in line_dedup(chrome_corpus, min_doc_freq=8).collect()}
    assert out8 == {r.doc_id: r.text for r in chrome_corpus.collect()}


def test_dup_line_counting_is_per_document_distinct(spark):
    # one doc repeating a line 10 times contributes doc-frequency 1
    text = "\n".join(["same line"] * 10)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    assert [r.text for r in line_dedup(df, min_doc_freq=2).collect()] == [text]


def test_line_dedup_strips_chrome_keeps_body_and_blanks(spark, chrome_corpus):
    out = {r.doc_id: r.text for r in line_dedup(chrome_corpus, min_doc_freq=5).collect()}
    assert out[0] == "unique body 0 alpha\n\nunique body 0 beta"
    assert out[90] == ""  # chrome-only page -> empty, not dropped
    assert out[91] == ""
    assert len(out) == 8


def test_line_dedup_trim_insensitive_but_preserves_original_bytes(spark):
    # the padded variant of a frequent line is ALSO removed (trim-keyed),
    # while surviving lines keep their original (untrimmed) bytes
    rows = [(i, "CHROME\nbody %d" % i) for i in range(5)]
    rows.append((9, "  CHROME  \n  body nine  "))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r.text for r in line_dedup(df, min_doc_freq=5).collect()}
    assert out[9] == "  body nine  "


def test_line_dedup_no_frequent_lines_is_identity(spark, chrome_corpus):
    out = line_dedup(chrome_corpus, min_doc_freq=100)
    orig = {r.doc_id: r.text for r in chrome_corpus.collect()}
    assert {r.doc_id: r.text for r in out.collect()} == orig


def test_line_dedup_stats_md5_of_rebuilt_bytes(spark, chrome_corpus):
    import hashlib

    stats = {r.id: r for r in line_dedup_stats(chrome_corpus, min_doc_freq=5).collect()}
    r0 = stats[0]
    want = "unique body 0 alpha\n\nunique body 0 beta"
    assert (r0.n_lines, r0.n_kept, r0.clean_len) == (5, 3, len(want))
    assert r0.clean_md5 == hashlib.md5(want.encode()).hexdigest()
    assert stats[91].n_kept == 0 and stats[91].clean_len == 0


def test_line_dedup_portable_hash_family(spark, chrome_corpus):
    a = line_dedup(chrome_corpus, min_doc_freq=5, hash_family="md5_52")
    b = line_dedup(chrome_corpus, min_doc_freq=5, hash_family="xxhash64")
    assert sorted((r.doc_id, r.text) for r in a.collect()) == sorted(
        (r.doc_id, r.text) for r in b.collect()
    )


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def contam(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "totally clean words nothing shared here at all folks"),
            (3, "THE QUICK, BROWN FOX jumps over something else"),
        ],
        "doc_id bigint, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over a fence")],
        "doc_id bigint, text string",
    )
    return train, ev


def test_decontaminate_counts_distinct_shared_grams(spark, contam):
    train, ev = contam
    hits = {r.id: r.n_hits for r in decontaminate(train, ev, n=5).collect()}
    # doc1 shares 'the quick brown fox jumps' + 'quick brown fox jumps over'
    # doc3 shares the same two (normalization strips case + punctuation)
    assert hits == {1: 2, 3: 2}


def test_decontaminate_repeated_gram_counts_once(spark, contam):
    _, ev = contam
    train = spark.createDataFrame(
        [(7, "the quick brown fox jumps x the quick brown fox jumps")],
        "doc_id bigint, text string",
    )
    hits = decontaminate(train, ev, n=5).collect()
    assert [(r.id, r.n_hits) for r in hits] == [(7, 1)]


def test_remove_contaminated_keeps_clean_docs(spark, contam):
    train, ev = contam
    kept = sorted(r.doc_id for r in remove_contaminated(train, ev, n=5).collect())
    assert kept == [2]
    # higher n: no 9-gram collisions -> nothing removed
    assert remove_contaminated(train, ev, n=9).count() == 3


def test_eval_ngram_set_is_distinct(spark, contam):
    _, ev = contam
    ng = eval_ngram_set(ev.union(ev), n=5)
    assert ng.count() == ng.distinct().count() == 4


def test_decontaminate_train_side_shuffles_only_the_group_by(spark, contam):
    """The train shingle relation must reach the broadcast join with no
    exchange of its own: the only hash exchange in the whole plan is the
    final groupBy(id) partial-count combine (eval-side distinct runs
    before its broadcast, inside the BroadcastExchange subtree)."""
    train, ev = contam
    plan = (
        decontaminate(train, ev, n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    idx_bcast = plan.index("BroadcastExchange")
    before_bcast = plan[:idx_bcast]
    # train side (everything above the broadcast subtree): one exchange,
    # the groupBy(id)
    assert before_bcast.count("Exchange hashpartitioning") <= 1


def test_decontaminate_hash_families_agree(spark, contam):
    train, ev = contam
    a = decontaminate(train, ev, n=5, hash_family="md5_52").collect()
    b = decontaminate(train, ev, n=5, hash_family="xxhash64").collect()
    assert sorted((r.id, r.n_hits) for r in a) == sorted((r.id, r.n_hits) for r in b)


# ---------------------------------------------------------------------------
# duplicate-span profile (ExactSubstr approximation)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def span_corpus(spark):
    rows = [
        (1, "a b c d e f g h i j"),       # unique
        (2, "p q r s t u v w x y"),       # exact pair with 3
        (3, "p q r s t u v w x y"),
        (4, "m m m m m m m m"),           # self-repeating
        (5, "z1 z2 p q r s t u z3 z4"),   # shares one interior 6-gram
        (6, "short"),                     # < n words
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_dup_span_profile_semantics(spark, span_corpus):
    from llm_aided_ocr_spark.operators.dedup import dup_span_profile

    prof = {r.id: r for r in dup_span_profile(span_corpus, n=6).collect()}
    assert (prof[1].n_dup, prof[1].stripped) == (0, "a b c d e f g h i j")
    # exact pair: every position duplicated, full coverage
    for k in (2, 3):
        assert prof[k].dup_frac == 1.0 and prof[k].stripped == ""
    # self-repetition within one doc counts
    assert prof[4].dup_frac == 1.0 and prof[4].stripped == ""
    # one duplicated 6-gram at position 2 covers tokens 2..7 (0-based)
    assert (prof[5].n_dup, prof[5].stripped) == (1, "z1 z2 z3 z4")
    # shorter than n: no grams, zero frac, stream untouched
    assert (prof[6].n_grams, prof[6].dup_frac, prof[6].stripped) == (0, 0.0, "short")


def test_dup_span_profile_spans_longer_than_n_fully_covered(spark):
    """A duplicated run of length n+k is a run of k+1 duplicated gram
    positions whose union covers exactly the run — the Lee et al.
    maximal-span property under the gram approximation."""
    from llm_aided_ocr_spark.operators.dedup import dup_span_profile

    shared = " ".join(f"w{i}" for i in range(9))  # 9-token shared run
    df = spark.createDataFrame(
        [
            (1, f"left1 left2 {shared} right1"),
            (2, f"other {shared} tail1 tail2"),
        ],
        "doc_id bigint, text string",
    )
    prof = {r.id: r for r in dup_span_profile(df, n=6).collect()}
    assert prof[1].n_dup == 4  # positions 2..5 start the 4 shared 6-grams
    assert prof[1].stripped == "left1 left2 right1"
    assert prof[2].stripped == "other tail1 tail2"


def test_dup_span_profile_normalization_defines_span_identity(spark):
    from llm_aided_ocr_spark.operators.dedup import dup_span_profile

    df = spark.createDataFrame(
        [(1, "The Quick Brown Fox Jumps Over!"), (2, "the quick, brown fox jumps over")],
        "doc_id bigint, text string",
    )
    prof = {r.id: r for r in dup_span_profile(df, n=6).collect()}
    assert prof[1].dup_frac == 1.0 and prof[2].dup_frac == 1.0


def test_dup_span_profile_stats_only_mode(spark, span_corpus):
    from llm_aided_ocr_spark.operators.dedup import dup_span_profile

    cols = dup_span_profile(span_corpus, n=6, with_stripped=False).columns
    assert cols == ["id", "n_grams", "n_dup", "dup_frac"]


def _dup_span_oracle(tokens: dict, n: int) -> list:
    """Pure-Python dup-span profile over normalized token arrays: count
    every word-n-gram corpus-wide, then strip with a difference array
    (+1 at each duplicated gram start p, -1 at p+n; cumsum > 0 is
    coverage) — O(tokens + dup positions) per document."""
    from collections import Counter

    def grams(t):
        return [tuple(t[p : p + n]) for p in range(len(t) - n + 1)]

    counts = Counter(g for t in tokens.values() for g in grams(t))
    out = []
    for did, t in tokens.items():
        starts = [p for p, g in enumerate(grams(t)) if counts[g] >= 2]
        diff = [0] * (len(t) + 1)
        for p in starts:
            diff[p] += 1
            diff[min(p + n, len(t))] -= 1
        kept, cov = [], 0
        for j, tok in enumerate(t):
            cov += diff[j]
            if cov == 0:
                kept.append(tok)
        out.append((did, max(len(t) - n + 1, 0), len(starts), " ".join(kept)))
    return sorted(out)


def test_dup_span_strip_impls_agree(spark):
    """The merged-interval strip must equal a difference-array coverage
    oracle byte for byte, on a randomized corpus engineered to hit every
    coverage shape: clean docs, full coverage, adjacent/overlapping
    spans, spans touching both document edges, and sub-n docs."""
    import random

    from llm_aided_ocr_spark.operators.dedup import _words_col, dup_span_profile
    from llm_aided_ocr_spark.operators.util import release_pinned

    rng = random.Random(7)
    shared_runs = [
        " ".join(f"s{k}_{i}" for i in range(rng.randint(6, 14)))
        for k in range(5)
    ]
    rows = []
    for i in range(60):
        parts = []
        for _ in range(rng.randint(1, 5)):
            if rng.random() < 0.5:
                parts.append(rng.choice(shared_runs))
            else:
                parts.append(
                    " ".join(f"u{i}_{j}" for j in range(rng.randint(0, 12)))
                )
        rows.append((i, " ".join(parts)))
    rows += [(100, "tiny"), (101, ""), (102, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    tokens = {
        r.doc_id: list(r.toks)
        for r in df.select("doc_id", _words_col("text").alias("toks")).collect()
    }
    out = dup_span_profile(df, n=6)
    got = sorted((r.id, r.n_grams, r.n_dup, r.stripped) for r in out.collect())
    release_pinned(out, blocking=True)
    assert got == _dup_span_oracle(tokens, 6)
    assert any(r[2] > 0 and r[3] != "" for r in got)  # partial coverage hit


def test_gram_hashes_arrow_matches_native_expression(spark):
    """gram_hashes_arrow must reproduce shingle_array_col VALUES exactly,
    for both hash families, at the shingle family's n=3 and ExactSubstr's
    n=50 (negative xxhash64 values exercise the unsigned-rotate path)."""
    from llm_aided_ocr_spark.operators.dedup import (
        gram_hashes_arrow,
        shingle_array_col,
    )

    long_doc = " ".join(f"tok{i % 97}" for i in range(300))
    df = spark.createDataFrame(
        [
            (1, long_doc),
            (2, "exactly fifty " + " ".join(f"w{i}" for i in range(48))),
            (3, "short doc"),
            (4, ""),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    for family in ("xxhash64", "md5_52"):
        for n in (3, 50):
            native = {
                r.id: r.ghs
                for r in df.select(
                    F.col("doc_id").alias("id"),
                    shingle_array_col("text", n=n, hash_family=family).alias(
                        "ghs"
                    ),
                ).collect()
            }
            arrow = {
                r.id: r.ghs
                for r in gram_hashes_arrow(
                    df, n=n, id_col="doc_id", hash_family=family
                ).collect()
            }
            assert arrow == native, (family, n)


def test_corpus_rejoins_never_broadcast(spark, span_corpus):
    """The O(corpus) per-document rebuild relations (dup positions, kept
    line/paragraph positions, per-doc scores) must reach their corpus
    join as ShuffledHashJoin build sides, never a broadcast: measured
    2.6-4x slower even at 320k docs (single-threaded driver collect on
    the critical path) and a guaranteed driver OOM at 10^12 rows."""
    from llm_aided_ocr_spark.operators.boilerplate import line_dedup
    from llm_aided_ocr_spark.operators.dedup import (
        dup_span_profile,
        paragraph_dedup_stats,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned

    corpus = span_corpus.withColumn(
        "text", F.concat_ws("\n\n", "text", F.lit("boiler"), "text")
    )
    for out in (
        paragraph_dedup_stats(corpus),
        dup_span_profile(corpus, n=6),
        line_dedup(corpus, min_doc_freq=2),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan
        release_pinned(out, blocking=True)


def test_word_commonness_rejoin_not_broadcast(spark, span_corpus):
    from llm_aided_ocr_spark.operators.textstats import word_commonness
    from llm_aided_ocr_spark.operators.util import release_pinned

    out = word_commonness(span_corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    release_pinned(out, blocking=True)


# ---------------------------------------------------------------------------
# blocklist gate
# ---------------------------------------------------------------------------

def test_blocklist_token_boundary_semantics(spark):
    from llm_aided_ocr_spark.operators.boilerplate import (
        blocklist_filter,
        blocklist_flags,
    )

    df = spark.createDataFrame(
        [
            (1, "a perfectly classy document"),   # 'class'/'ass' are substrings only
            (2, "contains BADWORD right here"),   # case-insensitive token hit
            (3, "bad-word hyphen splits to tokens badword no wait"),
            (4, ""),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    flags = {r.id: r for r in blocklist_flags(df, ["badword", "ass"]).collect()}
    assert flags[1].blocked is False      # substring must NOT match
    assert flags[2].blocked is True and flags[2].n_blocked == 1
    assert flags[3].blocked is True       # 'bad-word' normalizes to bad+word... 'badword' token present
    assert flags[4].blocked is False and flags[5].blocked is False
    kept = sorted(r.doc_id for r in blocklist_filter(df, ["badword", "ass"]).collect())
    assert kept == [1, 4, 5]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        blocklist_flags(df, [])


def test_blocklist_is_shuffle_free(spark):
    from llm_aided_ocr_spark.operators.boilerplate import blocklist_flags

    df = spark.createDataFrame([(1, "x y z")], "doc_id bigint, text string")
    plan = (
        blocklist_flags(df, ["bad"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_blocklist_multi_word_and_punctuated_entries_phrase_match(spark):
    """Real C4 blocklist entries include multi-word phrases: they must
    match on the normalized token stream with token boundaries, and
    entries that normalize to nothing must raise instead of silently
    never matching."""
    import pytest as _pytest

    from llm_aided_ocr_spark.operators.boilerplate import (
        blocklist_filter,
        blocklist_flags,
    )

    df = spark.createDataFrame(
        [
            (1, "a perfectly clean page"),
            (2, "contains the Bad Word here"),          # phrase, punct-insensitive
            (3, "bad things and a word apart"),          # tokens present, not adjacent
            (4, "hyphenated bad-word also matches"),     # punctuation splits to tokens
            (5, "embeddedbadword is not a token match"),
        ],
        "doc_id bigint, text string",
    )
    flags = {r.id: r for r in blocklist_flags(df, ["bad word"]).collect()}
    assert flags[2].blocked and flags[2].n_blocked == 1
    assert flags[4].blocked  # 'bad-word' normalizes to 'bad word'
    assert not flags[1].blocked and not flags[3].blocked and not flags[5].blocked
    kept = sorted(r.doc_id for r in blocklist_filter(df, ["bad word"]).collect())
    assert kept == [1, 3, 5]
    # mixed single-token + phrase list, duplicates collapse
    flags2 = {
        r.id: r
        for r in blocklist_flags(
            df, ["Bad Word", "bad-word", "clean"]
        ).collect()
    }
    assert flags2[1].n_blocked == 1      # 'clean' token
    assert flags2[2].n_blocked == 1      # phrase (deduped across spellings)
    with _pytest.raises(ValueError):
        blocklist_flags(df, ["ok", "!!!"])
