"""Native Column expression parity vs the Python kernels (SURVEY.md §5.2.3)."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_aided_ocr_spark import kernels
from llm_aided_ocr_spark.functions import (
    approx_tokens_col,
    strip_correction_header_col,
    word_count_col,
)

TOKEN_STRINGS = [
    "",
    "hello world",
    "NASA and IBM",
    "12345 67 8",
    "a-very-hyphenated-token",
    "antidisestablishmentarianism word",
    "Hello, world! How are you?",
    "ALLCAPS",
    "MiXeD CaSe 123abc",
    "  leading and trailing   ",
    "punct...!!!???",
    "word\nnewline\ttab",
    "The pension plan has assets. Returns were strong!",
]


def test_native_token_expr_matches_kernel(spark):
    df = spark.createDataFrame([(s,) for s in TOKEN_STRINGS], "s string")
    rows = df.select(
        "s",
        approx_tokens_col(F.col("s")).alias("native"),
    ).collect()
    for r in rows:
        expected = kernels.approx_token_count(r["s"])
        assert r["native"] == expected, r["s"]


def test_native_token_expr_on_golden(spark):
    from llm_aided_ocr_spark.sources.synthetic import _load_golden_text

    golden = _load_golden_text()
    if golden is None:
        import pytest

        pytest.skip("no golden artifact")
    df = spark.createDataFrame([(golden,)], "s string")
    native = df.select(approx_tokens_col(F.col("s")).alias("n")).first()["n"]
    assert native == kernels.approx_token_count(golden)


def test_native_header_strip_matches_kernel(spark):
    cases = [
        "# Corrected text\nbody",
        "# Corrected text:body",
        "x\nCorrected texty",
        "Corrected text: body",
        "# Corrected text\n# Corrected text:\nCorrected textCorrected text: t",
        "no header",
        "",
    ]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    rows = df.select("s", strip_correction_header_col(F.col("s")).alias("out")).collect()
    for r in rows:
        assert r["out"] == kernels.strip_correction_header(r["s"]), repr(r["s"])


def test_word_count_col(spark):
    cases = [("", 0), ("   ", 0), ("one", 1), ("one two  three", 3), ("a\nb\tc d", 4)]
    df = spark.createDataFrame(cases, "s string, expected int")
    for r in df.select(word_count_col(F.col("s")).alias("n"), "expected").collect():
        assert r["n"] == r["expected"]


def test_postings_index(spark):
    from llm_aided_ocr_spark.operators.search import postings

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "a cat! A CAT."),
            (4, None),
        ],
        "doc_id long, text string",
    )
    rows = {(r["term"], r["id"]): r for r in postings(df).collect()}
    assert rows[("the", 1)]["tf"] == 2 and rows[("the", 1)]["df"] == 2
    assert rows[("cat", 3)]["tf"] == 2  # case/punct-normalized
    assert ("", 4) not in rows  # NULL doc yields no postings
    # min_df prunes hapax terms ("a" has tf=2 but df=1 — df is doc count)
    pruned = {r["term"] for r in postings(df, min_df=2).collect()}
    assert pruned == {"the", "cat", "sat"}
    # max_df_frac drops stop-like terms present in > frac of docs
    capped = {r["term"] for r in postings(df, max_df_frac=0.26).collect()}
    assert "the" not in capped and "sat" not in capped and "dog" in capped

    # the df-stats side must read the persisted tf relation, not re-scan
    # and re-tokenize the corpus (the 100 TB double-pass trap)
    from llm_aided_ocr_spark.operators.util import release_pinned

    release_pinned(df)  # start from an empty cache registry
    out = postings(df, min_df=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") == 2  # tf side + stats side
    assert release_pinned(out, blocking=True) == 1


def test_zipf_fit_matches_python_replay(spark):
    """The one-row fit equals a numpy least-squares over the identically
    quantized points, and a perfect synthetic Zipf corpus fits with
    r2 ~ 1 and slope ~ -1."""
    import math

    from llm_aided_ocr_spark.operators.textstats import zipf_fit
    from llm_aided_ocr_spark.operators.util import release_pinned

    # freq(term_k) = 24 // k: term1 x24, term2 x12, term3 x8, term4 x6
    words = []
    for k, f in enumerate([24, 12, 8, 6], start=1):
        words += [f"term{k}"] * f
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string"
    )
    out = zipf_fit(df)
    row = out.collect()[0]
    release_pinned(out)
    freqs = sorted([24, 12, 8, 6], reverse=True)
    pts = [
        (math.floor(math.log10(i + 1) * 10_000),
         math.floor(math.log10(f) * 10_000))
        for i, f in enumerate(freqs)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts); sxx = sum(x * x for x, _ in pts)
    syy = sum(y * y for _, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n / 10_000
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert row["n_terms"] == 4
    assert row["slope_r"] == round(slope, 6)
    assert row["intercept_r"] == round(intercept, 6)
    assert row["r2_r"] == round(r2, 6)
    assert -1.2 < row["slope_r"] < -0.8 and row["r2_r"] > 0.98


def test_corpus_divergence_matches_python_replay(spark):
    """KL/JSD over a hand-built pair of corpora equals the identically
    quantized python replay; identical corpora diverge by ~0; KL is
    asymmetric on skewed counts."""
    import math

    from llm_aided_ocr_spark.operators.textstats import corpus_divergence

    p_docs = spark.createDataFrame(
        [(1, "apple apple banana cherry")], "doc_id long, text string"
    )
    q_docs = spark.createDataFrame(
        [(1, "banana banana banana durian")], "doc_id long, text string"
    )
    row = corpus_divergence(p_docs, q_docs).collect()[0]

    cp = {"apple": 2, "banana": 1, "cherry": 1, "durian": 0}
    cq = {"apple": 0, "banana": 3, "cherry": 0, "durian": 1}
    v, np_, nq = 4, 4, 4
    QU = 10**12
    skpq = skqp = sjp = sjq = 0
    for t in cp:
        p = (cp[t] + 1.0) / (np_ + 1.0 * v)
        q = (cq[t] + 1.0) / (nq + 1.0 * v)
        m = (p + q) / 2.0
        skpq += math.floor(p * math.log2(p / q) * float(QU))
        skqp += math.floor(q * math.log2(q / p) * float(QU))
        sjp += math.floor(p * math.log2(p / m) * float(QU))
        sjq += math.floor(q * math.log2(q / m) * float(QU))
    assert row["n_vocab"] == 4
    assert row["kl_pq_r"] == round(skpq / QU, 6)
    assert row["kl_qp_r"] == round(skqp / QU, 6)
    assert row["jsd_r"] == round((sjp + sjq) / 2.0 / QU, 6)
    assert row["jsd_r"] > 0

    same = corpus_divergence(p_docs, p_docs).collect()[0]
    assert abs(same["kl_pq_r"]) < 1e-5 and abs(same["jsd_r"]) < 1e-5
