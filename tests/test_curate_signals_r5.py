"""Round-5 signal integration: annotate() gains registered_domain /
flesch_x1e4 / mojibake_per_kchar_r (still one exchange-free native
projection), and curate() gains the mojibake gate, the Flesch floor and
the eTLD+1 domain-cap key."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from llm_aided_ocr_spark.plans.curate import CurationConfig, annotate, curate
from llm_aided_ocr_spark.operators.util import release_pinned

DAMAGED = "broken page Ã©Ã©Ã© â€™â€™ mojibake everywhere Ã±Ã± here too"
CLEAN = (
    "This is a perfectly ordinary readable sentence. It has several "
    "common words. Nothing is wrong with it at all."
)
SOUP = "zxqv kjwq pzzt " * 40  # unreadable token soup, no sentence marks


def _pages(spark, texts):
    import datetime as dt

    ts = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (f"https://sub{i}.example.org/p{i}", ts, None, t, "en")
            for i, t in enumerate(texts)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_annotate_new_columns_match_operators(spark):
    from llm_aided_ocr_spark.operators.domains import registered_domain_col
    from llm_aided_ocr_spark.operators.mojibake import mojibake_scores
    from llm_aided_ocr_spark.operators.readability import flesch_scores

    df = _pages(spark, [CLEAN, DAMAGED, None])
    tagged = annotate(df)
    rows = {r["id"]: r.asDict() for r in tagged.collect()}
    # every url is subN.example.org -> eTLD+1 is example.org
    assert {r["registered_domain"] for r in rows.values()} == {"example.org"}
    fl = {
        r["id"]: r["flesch_x1e4"]
        for r in flesch_scores(df, id_col="url").collect()
    }
    mj = {
        r["id"]: r["damage_per_kchar_r"]
        for r in mojibake_scores(df, id_col="url").collect()
    }
    for u, r in rows.items():
        assert r["flesch_x1e4"] == fl[u]
        assert r["mojibake_per_kchar_r"] == mj[u]
    # still exchange-free, Python-free
    buf = io.StringIO()
    with redirect_stdout(buf):
        tagged.explain("simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "EvalPython", "PythonUDF", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInArrow"):
        assert bad not in plan, bad


def _curated_urls(spark, texts, **cfg):
    out = curate(
        _pages(spark, texts),
        CurationConfig(near_dedup=False, exact_dedup=False, **cfg),
    )
    urls = {r["url"] for r in out.select("url").collect()}
    release_pinned(out)
    return urls


def test_curate_mojibake_gate(spark):
    texts = [CLEAN, DAMAGED, CLEAN + " More fine prose follows here."]
    base = _curated_urls(spark, texts)
    gated = _curated_urls(spark, texts, mojibake_gate=True)
    assert base - gated == {"https://sub1.example.org/p1"}


def test_curate_flesch_floor(spark):
    texts = [CLEAN, SOUP]
    base = _curated_urls(spark, texts)
    gated = _curated_urls(spark, texts, min_flesch=10)
    assert "https://sub0.example.org/p0" in gated
    assert base - gated == {"https://sub1.example.org/p1"}


def test_domain_cap_registered_shares_budget_across_subdomains(spark):
    # 8 docs on 8 DIFFERENT hosts, all under one registered domain.
    # host-keyed cap (max 2/host) keeps all 8; eTLD+1-keyed cap keeps 2.
    texts = [f"{CLEAN} variant {i} with extra tail {i}." for i in range(8)]
    per_host = _curated_urls(spark, texts, max_per_domain=2)
    assert len(per_host) == 8
    per_etld1 = _curated_urls(
        spark, texts, max_per_domain=2, domain_cap_registered=True
    )
    assert len(per_etld1) == 2


def test_domain_cap_registered_falls_back_on_bare_suffix_hosts(spark):
    from llm_aided_ocr_spark.operators.sampling import domain_cap
    from llm_aided_ocr_spark.operators.domains import registered_domain_col
    from llm_aided_ocr_spark.operators.textstats import domain_col

    # bare public suffixes have NULL eTLD+1 -> fall back to the host key
    df = spark.createDataFrame(
        [(f"https://co.uk/x{i}", f"t{i}") for i in range(4)]
        + [(f"https://com/y{i}", f"u{i}") for i in range(4)],
        "url string, text string",
    )
    host = domain_col(F.col("url"))
    out = domain_cap(
        df, 2, url_col="url",
        domain_expr=F.coalesce(registered_domain_col(host), host),
    )
    got = sorted(r["url"] for r in out.collect())
    assert len(got) == 4  # 2 per bare-suffix host, not 2 overall
    assert len([u for u in got if "co.uk" in u]) == 2
