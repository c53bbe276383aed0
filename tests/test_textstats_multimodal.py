from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog and that is the end of it."),
        (1, "Der Hund ist nicht mit der Katze und das ist ein Problem."),
        (2, "El perro es una mascota y los gatos son para la casa del abuelo."),
        (3, "zzz qqq xxx"),
        (4, ""),
        (5, None),
        (6, "Le chat est dans la maison et les enfants sont pour le jardin."),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


def test_lang_id(spark, docs):
    from llm_aided_ocr_spark.operators.textstats import detect_language

    got = {r["doc_id"]: r["detected_lang"] for r in detect_language(docs).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "es"
    assert got[6] == "fr"
    assert got[3] == "und"
    assert got[4] == "und"
    assert got[5] == "und"


def test_quality_features_and_score(spark, docs):
    from llm_aided_ocr_spark.operators.textstats import (
        quality_features,
        quality_score_col,
    )

    feats = {r["doc_id"]: r.asDict() for r in quality_features(docs).collect()}
    assert feats[0]["n_words"] == 16
    assert feats[4]["n_words"] == 0 and feats[4]["mean_word_len"] == 0.0
    assert 0 < feats[0]["stopword_ratio"] < 1
    scores = {
        r["doc_id"]: r["q"]
        for r in docs.select(
            "doc_id", quality_score_col(F.col("text")).alias("q")
        ).collect()
    }
    assert scores[0] > scores[3], "English prose must outscore gibberish"
    assert all(0 <= s <= 100 for s in scores.values())


def test_token_counts(spark, docs):
    from llm_aided_ocr_spark.operators.textstats import token_counts
    from llm_aided_ocr_spark.kernels import approx_token_count

    got = {r["doc_id"]: r.asDict() for r in token_counts(docs).collect()}
    assert got[0]["ws_tokens"] == 16
    assert got[0]["approx_tokens"] == approx_token_count(
        "The quick brown fox jumps over the lazy dog and that is the end of it."
    )
    assert got[4]["ws_tokens"] == 0 and got[5]["ws_tokens"] == 0
    assert got[0]["bpe_ish_tokens"] == 17  # 16 words + final period


def _winnow_reference(text, window=8, winnow=4):
    """Pure-Python reference of the winnowing scheme (md5 52-bit word
    hashes, rotate-XOR gram combine, per-window minima, distinct set)."""
    import hashlib
    import re

    mask = (1 << 52) - 1
    nt = re.sub(r"\s+", " ", (text or "").lower().strip())
    whs = [
        int(hashlib.md5(w.encode()).hexdigest()[:13], 16) for w in nt.split(" ")
    ]
    n_grams = max(len(whs) - window + 1, 0)

    def rot(x, j):
        return ((x << j) | (x >> (52 - j))) & mask if j else x

    grams = [
        __import__("functools").reduce(
            lambda a, b: a ^ b, (rot(whs[i + j], j) for j in range(window))
        )
        for i in range(n_grams)
    ]
    fps = []
    if grams:
        for i in range(max(len(grams) - winnow + 1, 1)):
            m = min(grams[i : i + winnow])
            if m not in fps:
                fps.append(m)
    return n_grams, fps


def test_fingerprints(spark, docs):
    from llm_aided_ocr_spark.operators.textstats import fingerprints

    rows = {r["doc_id"]: r.asDict() for r in fingerprints(docs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert rows[4]["content_hash"] == rows[5]["content_hash"]  # ''==coalesced null
    assert rows[0]["n_grams"] == 16 - 8 + 1
    assert rows[3]["n_grams"] == 0 and rows[3]["fps"] == []
    # exact agreement with the pure-Python winnowing reference
    for did, r in rows.items():
        n_grams, fps = _winnow_reference(texts[did])
        assert r["n_grams"] == n_grams, did
        assert sorted(r["fps"]) == sorted(fps), did
    # determinism across partitioning
    rows2 = {r["doc_id"]: r.asDict() for r in fingerprints(docs.repartition(5)).collect()}
    assert rows == rows2


def test_fingerprint_matches_hot_fp_cap(spark):
    """A fingerprint shared by every doc must not make the pair join
    quadratic: the DF cap drops it before the self-join."""
    from llm_aided_ocr_spark.operators.textstats import fingerprint_matches

    hot = " ".join(f"w{i}" for i in range(12))  # shared 12-word run
    rows = [(i, hot + " " + " ".join(f"u{i}x{j}" for j in range(12))) for i in range(25)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    capped = fingerprint_matches(df, min_shared=1, max_fp_df=5)
    exact = fingerprint_matches(df, min_shared=1, max_fp_df=None)
    assert exact.count() == 25 * 24 // 2  # everyone pairs via the hot run
    assert capped.count() == 0


def test_fingerprint_matches_detects_shared_run(spark):
    """Two documents sharing a long run of words must share a winnowing
    fingerprint (guarantee: any common run of window+winnow-1 words)."""
    from llm_aided_ocr_spark.operators.textstats import fingerprint_matches

    shared = " ".join(f"common{i}" for i in range(20))
    rows = [
        (0, shared + " tail zero only here"),
        (1, "head one prefix " + shared),
        (2, "totally different words " + " ".join(f"x{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in fingerprint_matches(df, min_shared=1).collect()
    }
    assert (0, 1) in pairs
    assert not any(2 in p for p in pairs)


def test_gopher_quality_flags(spark):
    from llm_aided_ocr_spark.operators.textstats import gopher_quality_flags

    good = (
        "The quick brown fox jumps over the lazy dog and keeps running "
        "through the field with great energy because that is what foxes "
        "have to be doing on a bright morning of early spring weather. "
    ) * 3  # > 50 words of clean prose
    rows = [
        (0, good),
        (1, "too short"),                                  # word count
        (2, "\n".join("- bullet item here" for _ in range(20))),  # bullets
        (3, " ".join("####" for _ in range(60))),          # symbols/alpha
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r.asDict() for r in gopher_quality_flags(df).collect()}
    assert got[0]["gopher_pass"] is True
    assert got[1]["ok_word_count"] is False and not got[1]["gopher_pass"]
    assert got[2]["ok_bullet_lines"] is False
    assert got[3]["ok_symbol_ratio"] is False
    assert got[3]["ok_alpha_words"] is False
    assert got[4]["gopher_pass"] is False

    # the join-free column form (what curate() filters with) must agree
    # with the flags table's combined gopher_pass on every row
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.textstats import gopher_pass_col

    col_form = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", gopher_pass_col(F.col("text")).alias("p")
        ).collect()
    }
    assert col_form == {k: v["gopher_pass"] for k, v in got.items()}


def test_media_metadata_and_decode(spark):
    from llm_aided_ocr_spark.operators.multimodal import (
        decode_image_features,
        deterministic_fake_decoder,
        media_metadata,
        resize_plan,
    )

    rows = [("u0", b"\x89PNG fake image bytes"), ("u1", b"JFIF other"), ("u2", None)]
    df = spark.createDataFrame(rows, "url string, media binary")
    meta = {r["url"]: r.asDict() for r in media_metadata(df).collect()}
    assert meta["u0"]["n_bytes"] == 21
    assert meta["u2"]["n_bytes"] == 0
    assert len(meta["u0"]["content_sha256"]) == 64

    feats = decode_image_features(df, decoder=deterministic_fake_decoder)
    got = {r["url"]: r.asDict() for r in feats.collect()}
    assert all(1 <= g["width"] <= 1920 and 1 <= g["height"] <= 1080 for g in got.values())
    # deterministic across partitioning
    got2 = {
        r["url"]: r.asDict()
        for r in decode_image_features(
            df.repartition(3), decoder=deterministic_fake_decoder
        ).collect()
    }
    assert got == got2

    plan = resize_plan(feats).collect()
    for r in plan:
        assert max(r["out_w"], r["out_h"]) <= 224
        assert math.isclose(
            r["scale"], min(224 / r["width"], 224 / r["height"]), rel_tol=1e-9
        )


def test_decode_without_decoder_raises(spark):
    from llm_aided_ocr_spark.operators.multimodal import decode_image_features

    df = spark.createDataFrame([("u0", b"x")], "url string, media binary")
    with pytest.raises(Exception):
        decode_image_features(df).collect()


def test_frame_sampling_and_embedding(spark):
    from llm_aided_ocr_spark.operators.multimodal import (
        embed_media_stub,
        sample_video_frames,
    )

    df = spark.createDataFrame(
        [("v0", b"video-bytes-0"), ("v1", b"video-bytes-1")], "url string, media binary"
    )
    frames = sample_video_frames(df, n_frames=4).collect()
    assert len(frames) == 8
    per_url = {}
    for r in frames:
        per_url.setdefault(r["url"], []).append((r["frame_ix"], bytes(r["frame"])))
    assert sorted(ix for ix, _ in per_url["v0"]) == [0, 1, 2, 3]
    assert len({f for _, f in per_url["v0"]}) == 4  # distinct frames

    emb = {r["url"]: r["embedding"] for r in embed_media_stub(df, dim=8).collect()}
    assert len(emb["v0"]) == 8
    assert emb["v0"] != emb["v1"]
    emb2 = {r["url"]: r["embedding"] for r in embed_media_stub(df, dim=8).collect()}
    assert emb == emb2


def test_embed_media_stub_matches_a_fresh_state_per_row(spark):
    """One reseeded RandomState per batch draws what a fresh
    ``RandomState(seed)`` per row draws, NULL and empty blobs included."""
    import hashlib

    import numpy as np

    from llm_aided_ocr_spark.operators.multimodal import embed_media_stub

    blobs = [b"a", None, b"", b"video-bytes-0", b"a", bytes(range(256)) * 8]
    df = spark.createDataFrame(
        [(f"u{i}", b) for i, b in enumerate(blobs)], "url string, media binary"
    ).repartition(2)
    got = {r["url"]: r["embedding"] for r in embed_media_stub(df, dim=5).collect()}
    for i, b in enumerate(blobs):
        seed = int.from_bytes(hashlib.sha256(b or b"").digest()[:4], "big")
        want = np.random.RandomState(seed).uniform(-1, 1, 5).tolist()
        assert got[f"u{i}"] == want, i


def test_domain_col_edges(spark):
    from llm_aided_ocr_spark.operators.textstats import domain_col
    from pyspark.sql import functions as F

    rows = [
        ("https://Example.COM/path?q=1",),
        ("http://sub.host.org:8080/x",),
        ("ftp://files.net",),
        ("no-scheme/relative",),
        ("",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "url string")
    got = [r["d"] for r in df.select(domain_col(F.coalesce("url", F.lit(""))).alias("d")).collect()]
    assert got == ["example.com", "sub.host.org", "files.net", "", "", ""]


def test_length_percentiles_exact(spark):
    from llm_aided_ocr_spark.operators.textstats import length_percentiles

    rows = [("en", v) for v in (1, 2, 3, 4)] + [("de", 10)]
    df = spark.createDataFrame(rows, "lang string, n_chars int")
    got = {r["lang"]: r for r in length_percentiles(df).collect()}
    # interpolated: p25 of [1,2,3,4] = 1.75, p50 = 2.5, p75 = 3.25, p95 = 3.85
    assert got["en"]["n"] == 4
    assert got["en"]["p25"] == 1.75 and got["en"]["p50"] == 2.5
    assert got["en"]["p75"] == 3.25 and got["en"]["p95"] == 3.85
    assert got["de"]["p50"] == 10.0


def test_domain_stats_null_lang_counts_as_not_english(spark):
    from llm_aided_ocr_spark.operators.textstats import domain_stats

    rows = [
        ("https://a.com/1", "xx", "en"),
        ("https://a.com/2", "yy", None),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string")
    r = domain_stats(df).collect()[0]
    assert r["domain"] == "a.com" and r["n_docs"] == 2
    assert r["en_share_r"] == 0.5  # null lang counted as 0, not dropped


def test_repetition_metrics(spark):
    from llm_aided_ocr_spark.operators.textstats import repetition_metrics

    rows = [
        (0, "aa bb\naa bb\ncc dd"),      # one dup line pair
        (1, "xx yy zz"),                  # no dups, single line
        (2, ""),                          # empty
        (3, "w w w w"),                   # top bigram 'w w' x3, chars 4
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["doc_id"]: r for r in repetition_metrics(df).collect()}
    # doc 0: 3 lines, 2 distinct -> dup_line_frac = 1/3; dup chars = 10/15
    assert abs(got[0]["dup_line_frac"] - 1 / 3) < 1e-12
    assert abs(got[0]["dup_line_char_frac"] - 10 / 15) < 1e-12
    assert got[1]["dup_line_frac"] == 0.0
    assert got[2]["dup_line_frac"] == 0.0 and got[2]["top_bigram_char_frac"] == 0.0
    # doc 3: bigram 'w w' occurs 3x, len('w w')-1 = 2 chars, total word chars 4
    assert abs(got[3]["top_bigram_char_frac"] - 3 * 2 / 4) < 1e-12


def test_canonical_url_col(spark):
    from llm_aided_ocr_spark.operators.textstats import canonical_url_col
    from pyspark.sql import functions as F

    cases = [
        ("HTTP://Ex.COM:80/A?b=2&a=1#f", "http://ex.com/A?a=1&b=2"),
        ("https://ex.com:443/p", "https://ex.com/p"),
        ("https://ex.com:8443/p", "https://ex.com:8443/p"),  # non-default port kept
        ("http://ex.com:443/p", "http://ex.com:443/p"),      # 443 not default for http
        ("https://ex.com/", "https://ex.com"),
        ("https://ex.com/a/", "https://ex.com/a/"),          # only bare slash collapses
        ("http://ex.com/x?z=1&y=2&", "http://ex.com/x?y=2&z=1"),
        ("http://ex.com/x?", "http://ex.com/x"),
        ("not a url", "not a url"),
        ("", ""),
        # SPA hash routing: a '?' inside the fragment is NOT a query
        ("https://ex.com/page#/route?tab=1&b=2", "https://ex.com/page"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r["c"] for r in df.select(canonical_url_col(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases], list(zip(got, cases))


def test_word_commonness(spark):
    from llm_aided_ocr_spark.operators.textstats import word_commonness

    rows = [
        (0, "the the the"),       # all max-frequency word
        (1, "the rare"),          # mixed
        (2, ""),                  # empty -> 0
        (3, None),                # null -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["id"]: r for r in word_commonness(df).collect()}
    # corpus: the x4, rare x1; total 5
    # doc0: mean freq of [4,4,4]/5 = 0.8; doc1: (4+1)/5/2 = 0.5
    assert got[0]["n_words"] == 3 and abs(got[0]["commonness_r"] - 0.8) < 1e-9
    assert got[1]["n_words"] == 2 and abs(got[1]["commonness_r"] - 0.5) < 1e-9
    assert got[2]["n_words"] == 0 and got[2]["commonness_r"] == 0.0
    assert got[3]["n_words"] == 0 and got[3]["commonness_r"] == 0.0
    # common-word doc scores higher than rare-word doc (the filter signal)
    assert got[0]["commonness_r"] > got[1]["commonness_r"]


def test_word_commonness_hashed_fast_path(spark):
    """The 8-byte-shuffle hashed form must score identically to the
    string form on a collision-free corpus."""
    from llm_aided_ocr_spark.operators.textstats import word_commonness

    rows = [(i, f"alpha beta common{i % 3} word{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    a = sorted(tuple(r) for r in word_commonness(df).collect())
    b = sorted(tuple(r) for r in word_commonness(df, hashed=True).collect())
    assert a == b


def test_word_commonness_joins_preaggregated(spark):
    """Round-4 scale fix: occurrences must combine to (id, word, n) below
    the first Exchange — a partial count keyed on (id, w) in the physical
    plan — so the frequency join carries distinct-words-per-doc rows, not
    one row per occurrence."""
    import io
    import re
    from contextlib import redirect_stdout

    from llm_aided_ocr_spark.operators.textstats import word_commonness
    from llm_aided_ocr_spark.operators.util import release_pinned

    df = spark.createDataFrame(
        [(1, "a a b c c c"), (2, "b b d"), (3, None)], "doc_id bigint, text string"
    )
    out = word_commonness(df)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain()
    plan = buf.getvalue()
    assert re.search(
        r"HashAggregate\(keys=\[id#\d+L?, w#\d+\], functions=\[partial_count", plan
    ), plan
    # values unchanged by the pre-aggregation (linearity): doc 1 has 6
    # occurrences over corpus freqs a:2 b:3 c:3 d:1 (total 9)
    got = {r["id"]: (r["n_words"], r["commonness_r"]) for r in out.collect()}
    assert got[1] == (6, round((2 * 2 + 3 * 1 + 3 * 3) / 9 / 6, 6))
    assert got[2] == (3, round((3 * 2 + 1 * 1) / 9 / 3, 6))
    assert got[3] == (0, 0.0)
    release_pinned(out)


# ---------------------------------------------------------------------------
# real image header parsing (dependency-free)
# ---------------------------------------------------------------------------

def _png(w, h):
    import struct as st
    return b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR" + st.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 8

def _gif(w, h):
    import struct as st
    return b"GIF89a" + st.pack("<HH", w, h) + b"\x00" * 6

def _bmp(w, h):
    import struct as st
    return b"BM" + b"\x00" * 16 + st.pack("<ii", w, -h) + b"\x00" * 8

def _jpeg(w, h, pad_markers=True):
    import struct as st
    b = b"\xff\xd8"
    if pad_markers:
        app0 = b"JFIF\x00" + b"\x00" * 9
        b += b"\xff\xe0" + st.pack(">H", len(app0) + 2) + app0
        com = b"a comment"
        b += b"\xff\xfe" + st.pack(">H", len(com) + 2) + com
        b += b"\xff"  # legal padding FF before the next marker
    b += b"\xff\xc2" + st.pack(">H", 11) + b"\x08" + st.pack(">HH", h, w) + b"\x03" + b"\x00" * 2
    return b


def test_parse_image_header_formats():
    from llm_aided_ocr_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(640, 480)) == ("png", 640, 480)
    assert parse_image_header(_gif(320, 200)) == ("gif", 320, 200)
    # BMP top-down (negative height) reports absolute height
    assert parse_image_header(_bmp(800, 600)) == ("bmp", 800, 600)
    # JPEG: SOF2 behind APP0 + COM + padding FF
    assert parse_image_header(_jpeg(1024, 768)) == ("jpeg", 1024, 768)
    assert parse_image_header(_jpeg(33, 44, pad_markers=False)) == ("jpeg", 33, 44)
    # garbage / truncation / empty are data, not errors
    assert parse_image_header(b"") == ("unknown", None, None)
    assert parse_image_header(b"\x89PNG\r\n\x1a\n\x00")[1] is None
    assert parse_image_header(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)
    assert parse_image_header(b"not an image at all") == ("unknown", None, None)


def test_image_header_info_dataframe(spark):
    from llm_aided_ocr_spark.operators.multimodal import image_header_info

    rows = [
        ("u1", _png(12, 34)),
        ("u2", _gif(56, 78)),
        ("u3", _jpeg(90, 12)),
        ("u4", _bmp(13, 57)),
        ("u5", None),
        ("u6", b"junk"),
    ]
    df = spark.createDataFrame(rows, "url string, media binary")
    got = {r.id: (r.format, r.width, r.height) for r in image_header_info(df).collect()}
    assert got == {
        "u1": ("png", 12, 34),
        "u2": ("gif", 56, 78),
        "u3": ("jpeg", 90, 12),
        "u4": ("bmp", 13, 57),
        "u5": ("unknown", None, None),
        "u6": ("unknown", None, None),
    }


def test_gopher_ngram_metrics_hand_computed(spark):
    """Hand-worked Gopher n-gram fractions: top-gram mass, duplicate
    coverage with the no-double-count overlap rule, and short-doc
    zeros."""
    from llm_aided_ocr_spark.operators.textstats import gopher_ngram_metrics

    df = spark.createDataFrame(
        [
            # words: a b c a b c a b  (8 words, 8 chars)
            # 2-grams: (a b)x3 (b c)x2 (c a)x2 -> top2 = 3*2/8
            # 5-grams: (a b c a b) at i=0 and i=3 -> covers pos 0..7 -> 1.0
            (1, "a b c a b c a b"),
            # no repeated 2-gram: top2 count 1 -> 1*(len)/total
            # ab bb: gram "ab bb" chars 4, total 4 -> 1.0
            (2, "ab bb"),
            # 4 words, no dup 5-gram possible -> 0.0; top2 ties broken by
            # smallest gram: (x y) and (y x) and (x z)? grams: "x y","y x","x z"
            # all count 1 -> pick "x y"? no: smallest is "x y" vs "x z" vs "y x"
            # -> "x y", chars 2, total 4 -> 0.5
            (3, "x y x z"),
            (4, ""),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in gopher_ngram_metrics(df, top_ns=(2,), dup_ns=(5,)).collect()
    }
    assert abs(got[1]["top_2gram_char_frac"] - 3 * 2 / 8) < 1e-12
    assert got[1]["dup_5gram_char_frac"] == 1.0
    assert got[2]["top_2gram_char_frac"] == 1.0
    assert got[2]["dup_5gram_char_frac"] == 0.0  # only 2 words
    assert abs(got[3]["top_2gram_char_frac"] - 0.5) < 1e-12
    assert got[3]["dup_5gram_char_frac"] == 0.0
    for k in (4, 5):
        assert got[k]["top_2gram_char_frac"] == 0.0
        assert got[k]["dup_5gram_char_frac"] == 0.0


def test_gopher_ngram_dup_coverage_counts_overlap_once(spark):
    """'a a a a a a' under n=5: every position duplicated -> 1.0, not >1
    (overlapping duplicate grams share positions). Partial case: dup
    5-gram coverage over a 10-word doc with one repeated 5-run covers
    exactly those positions."""
    from llm_aided_ocr_spark.operators.textstats import gopher_ngram_metrics

    df = spark.createDataFrame(
        [
            (1, "a a a a a a"),
            # words: p q r s t  x y z w v  p q r s t  (15 words)
            # dup 5-gram: (p q r s t) at i=0 and i=10 -> covers 10 of 15
            # positions; all words 1 char -> 10/15
            (2, "p q r s t x y z w v p q r s t"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in gopher_ngram_metrics(df, top_ns=(2,), dup_ns=(5,)).collect()
    }
    assert got[1]["dup_5gram_char_frac"] == 1.0
    assert abs(got[2]["dup_5gram_char_frac"] - 10 / 15) < 1e-12


def test_gopher_ngram_metrics_follows_id_type(spark):
    from llm_aided_ocr_spark.operators.textstats import gopher_ngram_metrics

    df = spark.createDataFrame(
        [("u1", "a b a b")], "url string, text string"
    )
    out = gopher_ngram_metrics(df, id_col="url", top_ns=(3,), dup_ns=(6,))
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.columns == [
        "doc_id", "top_3gram_char_frac", "dup_6gram_char_frac"
    ]


def test_url_filter_domain_boundary_and_keywords(spark):
    from llm_aided_ocr_spark.operators.textstats import url_filter

    df = spark.createDataFrame(
        [
            (1, "https://spam.example.net/x"),        # exact domain
            (2, "https://ads.spam.example.net/x"),    # subdomain
            (3, "https://notspam.example.net/x"),     # dot boundary: pass
            (4, "https://ok.org/casino/poker"),       # 2 hits: fail
            (5, "https://ok.org/CASINO-night"),       # 1 hit (case-blind): pass
            (6, "https://ok.org/clean"),
            (7, None),                                 # null url: keep
        ],
        "doc_id bigint, url string",
    )
    out = url_filter(
        df,
        blocked_domains=("spam.example.net",),
        blocked_keywords=("casino", "poker"),
        keyword_threshold=2,
    )
    rows = {r["id"]: r for r in out.collect()}
    assert [rows[i]["domain_blocked"] for i in range(1, 8)] == [
        True, True, False, False, False, False, False
    ]
    assert [rows[i]["keyword_hits"] for i in range(1, 8)] == [0, 0, 0, 2, 1, 0, 0]
    assert {i for i, r in rows.items() if r["keep"]} == {3, 5, 6, 7}


def test_url_filter_empty_lists_keep_all_and_stay_native(spark):
    from llm_aided_ocr_spark.operators.textstats import url_filter

    df = spark.createDataFrame(
        [(1, "https://anything.org/x")], "doc_id bigint, url string"
    )
    out = url_filter(df)
    r = out.collect()[0]
    assert (r["domain_blocked"], r["keyword_hits"], r["keep"]) == (False, 0, True)
    # the gate must fuse into codegen: no Python stage of any kind
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        url_filter(
            df, blocked_domains=("a.b",), blocked_keywords=("k",)
        ).explain("simple")
    plan = buf.getvalue()
    for marker in ("EvalPython", "PythonUDF", "MapInPandas", "MapInArrow",
                   "FlatMapGroupsInArrow"):
        assert marker not in plan


def test_paragraph_repetition_metrics_hand_computed(spark):
    from llm_aided_ocr_spark.operators.textstats import (
        paragraph_repetition_metrics,
    )

    df = spark.createDataFrame(
        [
            # paras: A, B, A -> dup_para_frac = 1 - 2/3; chars: A=2 B=3
            # dup chars = 2*2=4 of total 2+3+2=7
            (1, "aa\n\nbbb\n\naa"),
            (2, "only one paragraph\nwith two lines"),
            (3, "x\n \t\nx"),   # whitespace-bearing separator still splits
            (4, ""),
            (5, None),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in paragraph_repetition_metrics(df).collect()}
    assert abs(got[1]["dup_para_frac"] - (1 - 2 / 3)) < 1e-12
    assert abs(got[1]["dup_para_char_frac"] - 4 / 7) < 1e-12
    assert got[2]["dup_para_frac"] == 0.0
    assert got[3]["dup_para_frac"] == 0.5  # two 'x' paras, one distinct
    assert got[3]["dup_para_char_frac"] == 1.0
    for k in (4, 5):
        assert got[k]["dup_para_frac"] == 0.0
        assert got[k]["dup_para_char_frac"] == 0.0


def test_gopher_repetition_gate_thresholds(spark):
    """A clean doc passes all 13 rules; a paragraph-doubled doc fails
    (dup_para_frac 0.5 > 0.30 and every dup-ngram rule); overriding one
    threshold flips only that rule's contribution."""
    from llm_aided_ocr_spark.operators.textstats import (
        GOPHER_REPETITION_THRESHOLDS,
        gopher_repetition_gate,
    )

    # long enough that no single n-gram dominates the char mass — the
    # published top-gram thresholds assume web-document lengths (a
    # 14-word doc fails top-4gram at 0.28 > 0.16 by construction)
    clean = " ".join(f"word{i} item{i * 7 % 101}" for i in range(60))
    df = spark.createDataFrame(
        [(1, clean), (2, clean + "\n\n" + clean)],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in gopher_repetition_gate(df).collect()}
    assert rows[1]["repetition_pass"] is True
    assert rows[2]["repetition_pass"] is False
    assert rows[2]["dup_para_frac"] == 0.5
    assert rows[2]["dup_10gram_char_frac"] == 1.0
    assert len(rows[1].asDict()) == 15  # id + 13 metrics + pass
    # loosened thresholds admit the doubled doc
    loose = {k: 1.0 for k in GOPHER_REPETITION_THRESHOLDS}
    rows2 = {
        r["doc_id"]: r
        for r in gopher_repetition_gate(df, thresholds=loose).collect()
    }
    assert rows2[2]["repetition_pass"] is True
    import pytest as _pytest

    with _pytest.raises(ValueError):
        gopher_repetition_gate(df, thresholds={"nope": 0.1})


def test_top_ngrams_counts_and_ties(spark):
    from llm_aided_ocr_spark.operators.textstats import top_ngrams

    df = spark.createDataFrame(
        [
            (1, "a b c a b c"),     # (a b c)x2? grams: ab c,b ca... positions
            (2, "a b c x y z"),
            (3, "z z z z"),
        ],
        "doc_id bigint, text string",
    )
    rows = [tuple(r) for r in top_ngrams(df, n=3, k=3, min_count=2).collect()]
    # 'a b c' occurs at doc1 pos0,pos3 and doc2 pos0 -> 3 occ, 2 docs
    # 'z z z' occurs twice within doc3 -> 2 occ, 1 doc
    assert rows[0] == ("a b c", 3, 2)
    assert ("z z z", 2, 1) in rows
    # ordering: count desc then gram asc; k limits
    assert len(rows) <= 3
    assert rows == sorted(rows, key=lambda r: (-r[1], r[0]))
    import pytest

    with pytest.raises(ValueError):
        top_ngrams(df, n=0)


def test_gate_fused_matches_composed(spark):
    """The gate's one Arrow pass must equal the composition of the three
    standalone operators (rounded to 6 dp, joined on doc_id) row-for-row
    on a corpus that exercises every metric family."""
    from llm_aided_ocr_spark.operators.textstats import (
        _GATE_COLS,
        GOPHER_REPETITION_THRESHOLDS,
        gopher_ngram_metrics,
        gopher_repetition_gate,
        paragraph_repetition_metrics,
        repetition_metrics,
    )

    clean = " ".join(f"word{i} item{i * 7 % 101}" for i in range(60))
    docs = [
        (1, clean),
        (2, clean + "\n\n" + clean),                 # dup paragraph + grams
        (3, "line one\nline one\nline two"),          # dup lines
        (4, "a b c a b c a b c a b"),                # gram repetition
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    r6 = lambda c, name=None: F.round(c, 6).alias(name or c)  # noqa: E731
    lines = repetition_metrics(df).select(
        "doc_id",
        r6("dup_line_frac"),
        r6("dup_line_char_frac"),
        r6("top_bigram_char_frac", "top_2gram_char_frac"),
    )
    paras = paragraph_repetition_metrics(df).select(
        "doc_id", r6("dup_para_frac"), r6("dup_para_char_frac")
    )
    grams = gopher_ngram_metrics(df, top_ns=(3, 4))
    grams = grams.select(
        "doc_id", *[r6(c) for c in grams.columns if c != "doc_id"]
    )
    composed = lines.join(paras, "doc_id").join(grams, "doc_id")
    passes = None
    for c in _GATE_COLS:
        cond = F.col(c) <= F.lit(GOPHER_REPETITION_THRESHOLDS[c])
        passes = cond if passes is None else (passes & cond)
    comp = composed.select("doc_id", *_GATE_COLS, passes.alias("repetition_pass"))
    fused = sorted(map(tuple, gopher_repetition_gate(df).collect()))
    assert fused == sorted(map(tuple, comp.collect()))


def test_charset_signals(spark):
    from llm_aided_ocr_spark.operators.extract import charset_signals

    df = spark.createDataFrame(
        [
            (1, "﻿<html>x</html>".encode()),
            (2, b'<html><meta charset="UTF-8"><body></body></html>'),
            (3, b'<META HTTP-EQUIV="content-type" '
                b'CONTENT="text/html; charset=Shift_JIS">'),
            (4, b"<html>no declaration</html>"),
            (5, None),
            # BOM wins over a conflicting meta declaration
            (6, "﻿<meta charset=latin-1>".encode()),
        ],
        "url long, html binary",
    )
    rows = {r["id"]: r for r in charset_signals(df).collect()}
    assert (rows[1]["has_bom"], rows[1]["charset"]) == (True, "utf-8")
    assert (rows[2]["has_bom"], rows[2]["charset"]) == (False, "utf-8")
    assert rows[3]["charset"] == "shift_jis"
    assert rows[4]["charset"] is None
    assert rows[5]["charset"] is None and rows[5]["has_bom"] is False
    assert (rows[6]["has_bom"], rows[6]["charset"]) == (True, "utf-8")


def test_script_profile(spark):
    from llm_aided_ocr_spark.operators.textstats import script_profile

    df = spark.createDataFrame(
        [
            (1, "abcd"),                 # pure latin
            (2, "абвг"),                 # pure cyrillic
            (3, "ab гд"),                # tie -> latin precedence
            (4, "1234"),                 # digits only -> none
            (5, None),                   # NULL -> empty
            (6, "汉字 text 123"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in script_profile(df).collect()}
    assert rows[1]["main_script"] == "latin" and rows[1]["latin_frac"] == 1.0
    assert rows[2]["main_script"] == "cyrillic"
    assert rows[3]["main_script"] == "latin"
    assert rows[4]["main_script"] == "none" and rows[4]["digit_frac"] == 1.0
    assert rows[5]["n_chars"] == 0 and rows[5]["main_script"] == "none"
    r6 = rows[6]
    assert r6["main_script"] == "latin"  # 4 latin >= 2 han
    assert r6["han_frac"] == round(2 / 11, 6)
    assert r6["digit_frac"] == round(3 / 11, 6)


def test_host_quality_rollup(spark):
    from llm_aided_ocr_spark.operators.textstats import host_quality_rollup

    good = "the cat and the dog have fun with all of that every day. " * 10
    bad = "zx qq ww!!!"
    rows = [(f"https://good.example/{i}", good) for i in range(4)]
    rows += [(f"https://bad.example/{i}", bad) for i in range(2)]
    rows += [("https://mixed.example/0", good), ("https://mixed.example/1", bad)]
    df = spark.createDataFrame(rows, "url string, text string")
    got = {r["host"]: r for r in host_quality_rollup(df).collect()}
    assert got["good.example"]["n_docs"] == 4
    assert got["good.example"]["gopher_pass_frac_r"] == 1.0
    assert not got["good.example"]["low_quality_host"]
    assert got["bad.example"]["gopher_pass_frac_r"] == 0.0
    assert got["bad.example"]["low_quality_host"]
    assert got["mixed.example"]["gopher_pass_frac_r"] == 0.5
    assert not got["mixed.example"]["low_quality_host"]  # exactly at both bars

    # per-doc signals computed BEFORE the one narrow exchange: text
    # never shuffles (the exchange carries (host, ints) partials only)
    plan = host_quality_rollup(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_quality_yield_curve(spark):
    """Exact cumulative-from-top retention with clamped out-of-range
    scores and integer mass conservation at threshold 0."""
    from llm_aided_ocr_spark.operators.textstats import quality_yield

    rows = [(95, 10), (60, 20), (60, 5), (10, 100), (-3, 7), (130, 1)]
    df = spark.createDataFrame(rows, "qscore int, mass long")
    got = {r["threshold"]: (r["n_docs_kept"], r["mass_kept"],
                            r["doc_frac"], r["mass_frac"])
           for r in quality_yield(df, step=50).collect()}
    assert set(got) == {0, 50, 100}
    # everything survives t=0 (the -3 clamps to bucket 0)
    assert got[0] == (6, 143, 1.0, 1.0)
    # t=50: 95, both 60s, and the clamped 130
    assert got[50] == (4, 36, 4 / 6, 36 / 143)
    # t=100: only the clamped >max doc
    assert got[100] == (1, 1, 1 / 6, 1 / 143)


def test_url_path_templates(spark):
    from llm_aided_ocr_spark.operators.textstats import url_path_templates

    urls = [
        "https://a.org/article/123?page=4",
        "https://a.org/article/99?page=12",
        "https://a.org/article/99?page=12",        # refetch -> dedup
        "https://a.org/s/deadbeefcafe42",           # hex run wins first
        "https://a.org/",                           # root
        "https://b.org/x",
        ("",), None,
    ]
    rows = [(u if isinstance(u, str) else (u[0] if u else None),)
            for u in urls]
    df = spark.createDataFrame(rows, "url string")
    got = {(r["host"], r["template"]): (r["n_urls"], r["rank"])
           for r in url_path_templates(df, k=3).collect()}
    assert got[("a.org", "/article/N?page=N")] == (2, 1)
    # count-1 tie between '/' and '/s/H' breaks by template ascending
    assert got[("a.org", "/")] == (1, 2)
    # hex-run collapses (incl. trailing digits, hex-eligible) to one H
    assert got[("a.org", "/s/H")] == (1, 3)
    assert got[("b.org", "/x")] == (1, 1)
    # k cap: at k=2 the rank-3 template drops
    got2 = {(r["host"], r["template"])
            for r in url_path_templates(df, k=2).collect()}
    assert ("a.org", "/s/H") not in got2
