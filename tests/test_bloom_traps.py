"""Bloom-filter membership + URL crawler-trap heuristics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.bloom import bloom_build, bloom_probe
from llm_aided_ocr_spark.operators.textstats import url_trap_flags


def _keys(spark, n, prefix="https://h.example/p"):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url"),
    )


def test_bloom_no_false_negatives(spark):
    present = _keys(spark, 200)
    bloom = bloom_build(present, m_words=256, k=4)
    got = {
        r["id"]: r["maybe_present"]
        for r in bloom_probe(present, bloom, m_words=256, k=4).collect()
    }
    assert all(got.values()) and len(got) == 200


def test_bloom_absent_mostly_rejected(spark):
    present = _keys(spark, 200)
    bloom = bloom_build(present, m_words=1024, k=4)
    absent = _keys(spark, 200, prefix="https://other.example/q")
    hits = (
        bloom_probe(absent, bloom, m_words=1024, k=4)
        .filter("maybe_present")
        .count()
    )
    # 200*4 bits in 63488 → fill ~1.3%, FP ≈ (0.013)^4 ~ 0: expect none,
    # tolerate a couple (deterministic, so this never flakes once green)
    assert hits <= 2


def test_bloom_strategies_agree(spark):
    """A dense filter (some false positives) still never misses a key
    that was built into it."""
    present = _keys(spark, 150)
    bloom = bloom_build(present, m_words=64, k=3)  # dense → some FPs
    probe = _keys(spark, 300)
    a = {
        r["id"]: r["maybe_present"]
        for r in bloom_probe(probe, bloom, m_words=64, k=3).collect()
    }
    assert all(a[i] for i in range(150))  # no false negatives even dense


def test_bloom_words_positive(spark):
    bloom = bloom_build(_keys(spark, 500), m_words=32, k=4)
    rows = bloom.collect()
    assert all(r["word"] > 0 for r in rows)  # bit 62/63 never set
    assert all(0 <= r["word_ix"] < 32 for r in rows)


def test_bloom_probe_map_plan_shuffle_free(spark):
    present = _keys(spark, 50)
    bloom = bloom_build(present, m_words=64, k=2)
    plan = (
        bloom_probe(_keys(spark, 50), bloom, m_words=64, k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the probe side must reach the broadcast without its own Exchange:
    # the only exchanges allowed are the filter build's agg + broadcast
    assert plan.count("Exchange hashpartitioning") <= 1  # build agg only
    assert "BroadcastExchange" in plan


def test_bloom_seed_must_match(spark):
    present = _keys(spark, 100)
    bloom = bloom_build(present, m_words=512, k=4, seed=1)
    wrong = bloom_probe(present, bloom, m_words=512, k=4, seed=2)
    assert wrong.filter("maybe_present").count() < 100


TRAP_CASES = [
    ("https://h.io/a/b/page.html", dict(depth=3, n_params=0, repeated_seg=False, is_trap=False)),
    ("https://h.io/cal/2024/01/02/2024/01/02/2024/01/02/x",
     dict(depth=11, repeated_seg=True, is_trap=True)),
    ("https://h.io/p?a=1&b=2&c=3&d=4&e=5&f=6",
     dict(depth=1, n_params=6, is_trap=True)),
    ("https://h.io/123456789012/9876543210",
     dict(depth=2, repeated_seg=False, is_trap=True)),  # digit_frac
    ("https://h.io/", dict(depth=0, path_len=1, is_trap=False)),
    ("not a url", dict(depth=0, path_len=0, n_params=0, is_trap=False)),
]


@pytest.mark.parametrize("url,expect", TRAP_CASES)
def test_url_trap_flags(spark, url, expect):
    df = spark.createDataFrame([(1, url)], "doc_id long, url string")
    row = url_trap_flags(df).first().asDict()
    for k, v in expect.items():
        assert row[k] == v, (url, k, row)


def test_url_trap_digit_frac_value(spark):
    df = spark.createDataFrame(
        [(1, "https://h.io/123456789012/9876543210")], "doc_id long, url string"
    )
    row = url_trap_flags(df).first()
    # path '/123456789012/9876543210': 22 digits / 24 chars
    assert row["digit_frac_r"] == round(22 / 24, 6)
    assert row["is_trap"]


def test_url_trap_plan_no_exchange(spark):
    df = spark.createDataFrame([(1, "https://h.io/a")], "doc_id long, url string")
    plan = url_trap_flags(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_compression_ratio_values(spark):
    import zlib

    from llm_aided_ocr_spark.operators.textstats import compression_ratio

    rep = "spam spam spam " * 200
    org = "The quick brown fox inspects heterogeneous prose at dawn."
    df = spark.createDataFrame(
        [(1, rep), (2, org), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in compression_ratio(df).collect()}
    for i, t in [(1, rep), (2, org)]:
        b = t.encode()
        assert rows[i]["raw_bytes"] == len(b)
        assert rows[i]["deflate_bytes"] == len(zlib.compress(b, 6))
        assert rows[i]["compression_ratio_r"] == round(
            len(b) / len(zlib.compress(b, 6)), 6
        )
    assert rows[1]["compression_ratio_r"] > 10  # repetitive spam
    assert rows[2]["compression_ratio_r"] < 2   # organic prose
    assert rows[3]["compression_ratio_r"] == 0.0
    assert rows[4]["compression_ratio_r"] == 0.0


def test_countmin_never_underestimates(spark):
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.bloom import (
        countmin_build,
        countmin_estimate,
    )

    rows = [(w,) for w in
            ["a"] * 50 + ["b"] * 7 + [f"filler{i}" for i in range(200)]]
    df = spark.createDataFrame(rows, "key string")
    sketch = countmin_build(df, depth=3, width=32, seed=5)
    # sketch is bounded by construction
    assert sketch.count() <= 3 * 32
    probes = spark.createDataFrame(
        [("a",), ("b",), ("nope",)], "key string"
    )
    est = {r["key"]: r["estimate"]
           for r in countmin_estimate(
               sketch, probes, depth=3, width=32, seed=5).collect()}
    assert est["a"] >= 50 and est["b"] >= 7 and est["nope"] >= 0
    # weighted build: weights add instead of unit counts
    wdf = spark.createDataFrame([("a", 10), ("a", 5)], "key string, w long")
    wsk = countmin_build(wdf, weight_col="w", depth=2, width=16, seed=9)
    we = countmin_estimate(
        wsk, probes.filter(F.col("key") == "a"), depth=2, width=16, seed=9
    ).collect()
    assert we[0]["estimate"] >= 15


def test_hll_distinct_accuracy_and_dup_insensitivity(spark):
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.bloom import hll_build, hll_estimate

    keys = spark.range(0, 5000).select(
        F.concat(F.lit("k"), F.col("id")).alias("key")
    )
    est = hll_estimate(hll_build(keys, p=8), p=8).collect()[0]["estimate"]
    assert abs(est - 5000) / 5000 < 0.10   # ~1.04/sqrt(256) = 6.5% expected
    # registers are max-based: duplicates cannot move the estimate
    dups = keys.unionByName(keys).unionByName(keys)
    est2 = hll_estimate(hll_build(dups, p=8), p=8).collect()[0]["estimate"]
    assert est2 == est
    # grouped mode + small-range linear counting stays near-exact
    g = spark.createDataFrame(
        [("a", f"u{i}") for i in range(30)] + [("b", "only")],
        "grp string, key string",
    )
    got = {r["grp"]: r["estimate"]
           for r in hll_estimate(
               hll_build(g, group_cols=["grp"], p=8),
               group_cols=["grp"], p=8).collect()}
    assert abs(got["a"] - 30) < 3
    assert abs(got["b"] - 1) < 0.2


def test_hll_small_m_alpha_constants():
    # p=4/5/6 registers use the published fixed alpha constants
    # (Flajolet et al. 2007: 0.673 / 0.697 / 0.709), not the asymptotic
    # m>=128 formula; m>=128 keeps the formula
    from llm_aided_ocr_spark.operators.bloom import _hll_alpha

    assert _hll_alpha(16) == 0.673
    assert _hll_alpha(32) == 0.697
    assert _hll_alpha(64) == 0.709
    assert abs(_hll_alpha(256) - 0.7213 / (1.0 + 1.079 / 256)) < 1e-12
