"""End-to-end curation composition tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_aided_ocr_spark.plans.curate import CurationConfig, curate, curation_report
from llm_aided_ocr_spark.sources.synthetic import pages_dataframe


def _with_dups(spark):
    base = pages_dataframe(spark, n_rows=20, include_golden=False)
    # exact dups: copies of 5 docs under new urls
    dups = base.limit(5).withColumn("url", F.concat(F.lit("dup-"), "url"))
    return base.unionByName(dups).cache()


def test_curate_end_to_end(spark):
    pages = _with_dups(spark)
    out = curate(pages, CurationConfig(near_dedup=False)).cache()
    rows = out.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))
    # exact dedup keeps exactly one row per distinct corrected text (the
    # base synthetic corpus may itself contain template collisions, so
    # compute the expected count rather than assuming 20)
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    n_distinct = (
        run_pipeline(pages, PipelineConfig(provider="heuristic"), strategy="auto")
        .select("corrected_text").distinct().count()
    )
    assert len(rows) == n_distinct < 25  # the 5 injected dups all collapsed
    assert set(r["split"] for r in rows) <= {"train", "val", "test"}
    assert all(r["quality_score"] is not None for r in rows)

    rep = {r["split"]: r for r in curation_report(out).collect()}
    assert sum(r["n_docs"] for r in rep.values()) == n_distinct


def test_curate_near_dedup_and_quality_gate(spark):
    """NON-vacuous near-dedup over STRING url ids: injected one-word-
    appended near copies must be transitively dropped (this path once
    crashed under ANSI — dedup_clusters cast string labels to decimal)."""
    base = pages_dataframe(spark, n_rows=24, include_golden=False).cache()
    # choose near-copy sources whose corrected text is UNIQUE in the base
    # corpus (the synthetic templates can collide; a collision would merge
    # pair structure and break the exactly-one-survivor assertion)
    from collections import Counter

    base_rows = base.collect()
    text_counts = Counter(r["text"] for r in base_rows)
    # ... and SHORT enough to stay single-chunk through correction: for a
    # multi-chunk doc, one appended word shifts every later chunk boundary
    # and the corrected text genuinely diverges (correct behavior — but
    # not a near-dup pair this test can assert on)
    # ... and SUBSTANTIAL (the corpus includes near-empty docs, which are
    # shingle-less and correctly participate in no near-dup pairs)
    unique_urls = [
        r["url"]
        for r in base_rows
        if text_counts[r["text"]] == 1 and 200 <= len(r["text"]) < 4000
    ][:4]
    assert len(unique_urls) == 4
    pick = base.filter(F.col("url").isin(unique_urls))
    nears = pick.select(
        F.concat(F.lit("near-"), "url").alias("url"),
        "warc_ts", "html",
        F.concat("text", F.lit(" extraword")).alias("text"),
        "lang",
    )
    pages = base.unionByName(nears).cache()
    out = curate(pages, CurationConfig(near_dedup=True, near_dup_threshold=0.5))
    rows = out.collect()
    urls = [r["url"] for r in rows]
    assert len(urls) == len(set(urls))
    # every injected near-copy collapsed into its source's cluster; the
    # base corpus may additionally contain its own near-dup pairs (same
    # template family), so survivors <= distinct base texts
    n_base_distinct = len(set(text_counts))
    assert len(urls) <= n_base_distinct
    assert not any(u.startswith("near-") and u[5:] in urls for u in urls)
    # each (doc, near-doc) pair lost exactly one member
    for u in unique_urls:
        assert (u in urls) != (f"near-{u}" in urls)


def test_curate_correction_is_byte_identical_to_pipeline(spark):
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    pages = pages_dataframe(spark, n_rows=8, include_golden=True).cache()
    cur = {r["url"]: r["corrected_text"] for r in curate(
        pages, CurationConfig(near_dedup=False, exact_dedup=False)
    ).collect()}
    direct = {r["url"]: r["corrected_text"] for r in run_pipeline(
        pages, PipelineConfig(provider="heuristic"), strategy="auto"
    ).collect()}
    assert cur == direct


def test_gopher_gate_adds_no_join_or_exchange(spark):
    """Round-4 altitude fix: the Gopher gate is a pure per-row expression,
    so enabling it must not change the plan's Join/Exchange count (the
    old form derived a flags table and joined it back on url)."""
    import io
    from contextlib import redirect_stdout

    from llm_aided_ocr_spark.plans.curate import CurationConfig, curate
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.operators.util import release_pinned
    from llm_aided_ocr_spark.sources.synthetic import pages_dataframe

    def plan_of(df):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        return buf.getvalue()

    pages = pages_dataframe(spark, n_rows=8, include_golden=False)
    base = dict(
        pipeline=PipelineConfig(provider="heuristic"),
        exact_dedup=False,
        near_dedup=False,
    )
    on = curate(pages, CurationConfig(use_gopher_gate=True, **base))
    off = curate(pages, CurationConfig(use_gopher_gate=False, **base))
    p_on, p_off = plan_of(on), plan_of(off)
    assert p_on.count("Join") == p_off.count("Join"), p_on
    assert p_on.count("Exchange") == p_off.count("Exchange"), p_on
    # and the gate actually filters (the expression is present)
    assert on.count() <= off.count()
    release_pinned(on)
    release_pinned(off)


def test_curate_rewrite_stages_compose_in_structure_order(spark):
    """The round-4 rewrite stages: PII redaction, corpus line dedup,
    keep-first paragraph dedup, C4 cleaning — ordered so the structure-
    destroying C4 rejoin runs LAST (paragraph dedup needs the \\n\\n
    boundaries line dedup preserves)."""
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.operators.util import release_pinned
    from llm_aided_ocr_spark.plans.curate import CurationConfig, curate

    rows = []
    for i in range(40):
        body = (
            f"This is document number {i} with its own body sentence here.\n"
            f"Another full sentence continues the body of page {i} now."
        )
        nav = "home | about | contact us today."          # df 40 >= 10
        pii = f" Mail user{i}@example.com."
        para2 = (
            "shared boilerplate paragraph keeps first copy only."
            if i % 5 == 0                                  # df 8 < 10
            else f"unique paragraph {i} closing the page with words."
        )
        rows.append((f"u{i}", None, None, nav + "\n" + body + pii + "\n\n" + para2, "en"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cfg = CurationConfig(
        pipeline=PipelineConfig(provider="heuristic"),
        redact_pii=True, c4_gate=True, line_dedup_min_df=10,
        paragraph_dedup=True,
    )
    out = curate(pages, cfg)
    texts = {r.url: r.corrected_text for r in out.collect()}
    release_pinned(out)
    assert len(texts) == 40
    # pii: every email replaced by the placeholder
    assert all("@example.com" not in t for t in texts.values())
    assert "<EMAIL>" in texts["u3"]
    # line dedup: the 40-doc nav chrome is gone everywhere
    assert all("home | about" not in t for t in texts.values())
    # paragraph dedup: the 8-doc shared paragraph (below the line-dedup
    # threshold) survives ONLY in its first (url, pos) occurrence
    survivors = sorted(
        u for u, t in texts.items() if "shared boilerplate paragraph" in t
    )
    assert survivors == ["u0"]
    # c4: rejoined with single newlines, no blank lines remain
    assert all("\n\n" not in t for t in texts.values())


def test_curate_domain_cap_stage(spark):
    """max_per_domain caps dominant hosts before the dedup stages;
    under-cap hosts pass untouched."""
    from llm_aided_ocr_spark.operators.util import release_pinned

    base = pages_dataframe(spark, n_rows=30, include_golden=False)
    # 30 docs: urls are https://example-<i>.test/doc/<i> — route i<20 onto
    # one dominant host, the rest keep their unique hosts
    doc_ix = F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("int")
    pages = base.withColumn(
        "url",
        F.when(
            doc_ix < 20,
            F.concat(F.lit("https://big.example.com/doc/"), doc_ix),
        ).otherwise(F.col("url")),
    )
    n_big = pages.filter(F.col("url").startswith("https://big.")).count()
    assert n_big == 20
    cfg = CurationConfig(near_dedup=False, exact_dedup=False, max_per_domain=5)
    out = curate(pages, cfg)
    urls = [r.url for r in out.collect()]
    release_pinned(out)
    big = [u for u in urls if u.startswith("https://big.")]
    solo = [u for u in urls if not u.startswith("https://big.")]
    assert len(big) == 5
    assert len(solo) == 30 - n_big
    # deterministic: same seed, same survivors
    out2 = curate(pages, cfg)
    urls2 = sorted(r.url for r in out2.collect())
    release_pinned(out2)
    assert urls2 == sorted(urls)


def test_curate_blocklist_gate(spark):
    from llm_aided_ocr_spark.operators.util import release_pinned

    pages = pages_dataframe(spark, n_rows=10, include_golden=False)
    base = CurationConfig(near_dedup=False, exact_dedup=False)
    all_out = curate(pages, base)
    n_all = all_out.count()
    release_pinned(all_out)
    # block a word present in some corrected docs
    word = "scanned"
    gated = curate(
        pages,
        CurationConfig(near_dedup=False, exact_dedup=False, blocklist=(word,)),
    )
    rows = gated.collect()
    release_pinned(gated)
    assert 0 < len(rows) < n_all or all(
        word not in r.corrected_text.lower() for r in rows
    )
    assert all(word not in r.corrected_text.lower() for r in rows)


def test_curate_url_gate_runs_before_correction(spark):
    """URL-gated pages never reach the pipeline: blocked-domain and
    keyword-heavy urls are absent from the output, and the gate is an
    inline predicate (no extra join for it in the plan)."""
    base = pages_dataframe(spark, n_rows=12, include_golden=False)
    pages = base.withColumn(
        "url",
        F.when(F.col("url").contains("0"),
               F.concat(F.lit("https://spam.bad.net/"), "url"))
        .when(F.col("url").contains("1"),
              F.concat(F.lit("https://ok.org/casino/poker/"), "url"))
        .otherwise(F.concat(F.lit("https://ok.org/"), "url")),
    )
    cfg = CurationConfig(
        near_dedup=False, exact_dedup=False,
        url_blocked_domains=("spam.bad.net",),
        url_blocked_keywords=("casino", "poker"),
    )
    out = curate(pages, cfg)
    urls = [r["url"] for r in out.collect()]
    assert urls  # something survives
    assert all("spam.bad.net" not in u and "casino" not in u for u in urls)
    expected = pages.filter(
        ~F.col("url").contains("spam.bad.net")
        & ~F.col("url").contains("casino")
    ).count()
    assert len(urls) == expected


def test_curate_repetition_gate_matches_operator_verdicts(spark):
    """The gate stage keeps exactly the urls whose CORRECTED text passes
    gopher_repetition_gate — and it is non-vacuous on the synthetic
    corpus (template-heavy docs fail the published thresholds). Note a
    naively doubled input paragraph does NOT reach the gate: the
    heuristic corrector's duplicate-paragraph removal runs first, which
    is exactly the stage-order contract (gates see final bytes)."""
    from llm_aided_ocr_spark.operators.textstats import gopher_repetition_gate
    from llm_aided_ocr_spark.operators.util import release_pinned

    pages = pages_dataframe(spark, n_rows=10, include_golden=False)
    cfg_on = CurationConfig(
        near_dedup=False, exact_dedup=False, repetition_gate=True
    )
    cfg_off = CurationConfig(near_dedup=False, exact_dedup=False)
    on = curate(pages, cfg_on)
    off = curate(pages, cfg_off)
    on_urls = {r["url"] for r in on.collect()}
    off_rows = off.select("url", "corrected_text").collect()
    release_pinned(on, blocking=True)
    verdicts = {
        r["doc_id"]: r["repetition_pass"]
        for r in gopher_repetition_gate(
            spark.createDataFrame(
                [(r["url"], r["corrected_text"]) for r in off_rows],
                "url string, text string",
            ),
            id_col="url",
        ).collect()
    }
    release_pinned(off, blocking=True)
    expected = {u for u, ok in verdicts.items() if ok}
    assert on_urls == expected
    assert expected and expected != set(verdicts)  # both classes present


def test_annotate_is_one_native_projection(spark):
    """The attribute table agrees column-by-column with the individual
    operators and its plan has no exchange, no Python stage."""
    import io
    from contextlib import redirect_stdout

    from llm_aided_ocr_spark.plans.curate import annotate

    df = spark.createDataFrame(
        [
            ("https://good.example.org/a",
             "The quick brown fox jumps over the lazy dog and that is the end of it."),
            ("https://spam.bad.net/x", "short text"),
            ("https://ok.org/b", None),
        ],
        "url string, text string",
    )
    out = annotate(df, blocked_domains=("spam.bad.net",))
    rows = {r["id"]: r.asDict() for r in out.collect()}
    assert rows["https://good.example.org/a"]["detected_lang"] == "en"
    assert rows["https://good.example.org/a"]["domain"] == "good.example.org"
    assert rows["https://spam.bad.net/x"]["url_keep"] is False
    assert rows["https://ok.org/b"]["doc_bytes"] == 0
    # cross-check two signals against their standalone operators
    from llm_aided_ocr_spark.operators.textstats import detect_language

    langs = {
        r["url"]: r["detected_lang"]
        for r in detect_language(
            df.withColumnRenamed("url", "doc_id"), text_col="text"
        ).withColumnRenamed("doc_id", "url").select("url", "detected_lang").collect()
    }
    assert {u: r["detected_lang"] for u, r in rows.items()} == langs
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("simple")
    plan = buf.getvalue()
    for bad in ("Exchange", "EvalPython", "PythonUDF", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInArrow"):
        assert bad not in plan, bad


def test_curate_canonical_url_dedup_collapses_refetches(spark, monkeypatch):
    """Refetch spellings of one page (case/port/fragment variants)
    collapse to one survivor BEFORE correction, keeping the longest
    fetch. The keeper pick's cache is still held when ``curate``
    returns — the pipeline's routing probe and both of its branches read
    the gated pages — and the caller's ``release_pinned`` frees it."""
    from pyspark import StorageLevel

    from llm_aided_ocr_spark.operators import dedup
    from llm_aided_ocr_spark.operators.util import cache_mark, release_pinned

    registered = []
    keepers = dedup.canonical_url_keepers

    def recording_keepers(*args, **kwargs):
        start = cache_mark()
        out = keepers(*args, **kwargs)
        stop = cache_mark()
        caches = spark.sparkContext._ocr_spark_caches
        registered.extend(h for k, h in caches.items() if start < k < stop)
        return out

    monkeypatch.setattr(dedup, "canonical_url_keepers", recording_keepers)

    base = pages_dataframe(spark, n_rows=6, include_golden=False)
    rows = base.collect()
    refetch = spark.createDataFrame(
        [
            # same canonical page as rows[0]'s url? construct controlled
            # urls instead: two spellings of one page + one standalone
            ("http://a.org/p", None, None, "short fetch", "en"),
            ("HTTP://A.org:80/p#frag", None, None,
             "the longer fetch body of the page", "en"),
            ("https://b.org/q", None, None, "standalone page text", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = CurationConfig(
        near_dedup=False, exact_dedup=False, canonical_url_dedup=True
    )
    out = curate(refetch, cfg)
    assert registered
    assert all(h.storageLevel != StorageLevel.NONE for h in registered)
    urls = {r["url"] for r in out.collect()}
    release_pinned(out, blocking=True)
    assert all(h.storageLevel == StorageLevel.NONE for h in registered)
    assert urls == {"HTTP://A.org:80/p#frag", "https://b.org/q"}


def test_curate_drop_noindex_gate(spark):
    """drop_noindex sheds meta-robots-noindex pages before correction;
    NULL-html pages pass; the gate is a pure inline predicate."""
    base = pages_dataframe(spark, n_rows=10, include_golden=False)
    noindex_html = (
        '<html><head><meta name="robots" content="noindex"></head>'
        "<body>x</body></html>"
    )
    plain_html = "<html><head></head><body>x</body></html>"
    pages = base.withColumn(
        "html",
        F.when(F.col("url").contains("1"), F.lit(noindex_html).cast("binary"))
        .when(F.col("url").contains("2"), F.lit(plain_html).cast("binary"))
        .otherwise(F.lit(None).cast("binary")),
    )
    cfg = CurationConfig(near_dedup=False, exact_dedup=False, drop_noindex=True)
    out = curate(pages, cfg)
    urls = [r["url"] for r in out.collect()]
    assert urls
    assert all("1" not in u for u in urls)
    expected = pages.filter(~F.col("url").contains("1")).count()
    assert len(urls) == expected
    # default off: nothing shed
    out_off = curate(pages, CurationConfig(near_dedup=False, exact_dedup=False))
    assert out_off.count() == pages.count()
    # annotate() picks the signal up for free when html is present
    from llm_aided_ocr_spark.plans.curate import annotate

    tags = {r["id"]: r["noindex"] for r in annotate(pages).collect()}
    assert all(v == ("1" in u) for u, v in tags.items())


def test_curate_normalized_dedup_collapses_variants(spark):
    """normalized_dedup collapses docs whose corrected text differs only
    under the CCNet normalization (digits, case of identical bytes,
    whitespace layout); byte-exact dedup alone would keep both."""
    from llm_aided_ocr_spark.operators.util import release_pinned

    body = (
        "The quick brown fox jumps over the lazy dog. "
        "It was seen on page 123 of the report. The end."
    )
    rows = [
        ("https://a.org/1", None, None, body, "en"),
        # digits differ -> same normalized key (digits zero out)
        ("https://a.org/2", None, None, body.replace("123", "456"), "en"),
        ("https://a.org/3", None, None, "A completely different text.", "en"),
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = CurationConfig(
        near_dedup=False, exact_dedup=False, normalized_dedup=True
    )
    out = curate(pages, cfg)
    urls = sorted(r["url"] for r in out.collect())
    release_pinned(out, blocking=True)
    assert urls == ["https://a.org/1", "https://a.org/3"]
    # default off: all three survive (texts are byte-distinct)
    off = curate(pages, CurationConfig(near_dedup=False, exact_dedup=False))
    n_off = off.count()
    release_pinned(off, blocking=True)
    assert n_off == 3


def test_curate_use_html_extracts_before_correction(spark):
    """The --from-warc shape: pages carry html, text is NULL. With
    use_html=True curate corrects the DOM-stripped html; without it the
    NULL text would normalize every doc to '' and exact dedup would
    collapse the corpus — the round-5 regression this pins."""
    import html as _html

    from llm_aided_ocr_spark.operators.util import release_pinned

    texts = [
        f"Document number {i} body text. It has several words in it. "
        f"Unique tail {i}."
        for i in range(6)
    ]
    rows = [
        (
            f"https://w.org/{i}",
            None,
            (
                "<html><head><title>p</title></head><body><main><p>"
                f"{_html.escape(t)}</p></main></body></html>"
            ).encode(),
            None,
            None,
        )
        for i, t in enumerate(texts)
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = CurationConfig(near_dedup=False, use_html=True)
    out = curate(pages, cfg)
    got = {r["url"]: r["corrected_text"] for r in out.collect()}
    release_pinned(out, blocking=True)
    assert len(got) == 6
    assert all(f"number {u.rsplit('/', 1)[1]}" in t for u, t in got.items())
    # without use_html the same input degenerates to ONE empty survivor
    deg = curate(pages, CurationConfig(near_dedup=False))
    n_deg = deg.count()
    release_pinned(deg, blocking=True)
    assert n_deg == 1


def test_curate_url_trap_gate(spark):
    """Trap urls (deep repeated-segment calendar paths) are shed before
    correction; clean urls survive. The inline predicate stays in
    lockstep with the url_trap_flags relation's is_trap."""
    from llm_aided_ocr_spark.operators.textstats import (
        url_trap_flags,
        url_trap_keep_col,
    )

    base = pages_dataframe(spark, n_rows=12, include_golden=False)
    pages = base.withColumn(
        "url",
        F.when(
            F.col("url").contains("0"),
            F.concat(
                F.lit("https://t.org/cal/2024/01/2024/01/2024/01/2024/01/x/"),
                "url",
            ),
        ).otherwise(F.concat(F.lit("https://ok.org/a/"), "url")),
    )
    out = curate(
        pages,
        CurationConfig(near_dedup=False, exact_dedup=False, url_trap_gate=True),
    )
    urls = [r["url"] for r in out.collect()]
    assert urls and all("/cal/" not in u for u in urls)
    # lockstep: inline keep == NOT relation is_trap on the same urls
    flags = {
        r["id"]: r["is_trap"]
        for r in url_trap_flags(pages, url_col="url", id_col="url").collect()
    }
    keeps = {
        r["url"]: r["k"]
        for r in pages.select(
            "url", url_trap_keep_col(F.col("url")).alias("k")
        ).collect()
    }
    assert all(keeps[u] == (not flags[u]) for u in keeps)


def test_curate_robots_gate(spark):
    """Pages disallowed by the provided robots rules never reach
    correction; allowed and rule-less hosts survive."""
    from llm_aided_ocr_spark.operators.robots import parse_robots

    base = pages_dataframe(spark, n_rows=12, include_golden=False)
    pages = base.withColumn(
        "url",
        F.when(F.col("url").contains("0"),
               F.concat(F.lit("https://h.example/private/"), "url"))
        .otherwise(F.concat(F.lit("https://h.example/pub/"), "url")),
    )
    rules = parse_robots(
        spark.createDataFrame(
            [("h.example", "User-agent: *\nDisallow: /private/\n")],
            "host string, robots_txt string",
        )
    )
    out = curate(
        pages,
        CurationConfig(near_dedup=False, exact_dedup=False, robots_rules=rules),
    )
    urls = [r["url"] for r in out.collect()]
    assert urls and all("/private/" not in u for u in urls)
    expected = pages.filter(~F.col("url").contains("/private/")).count()
    assert len(urls) == expected


def test_curate_host_quality_gate(spark):
    """host_quality_gate sheds EVERY doc of a below-bar host — including
    one that would pass per-doc gates — and leaves good hosts whole."""
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.operators.util import release_pinned
    from llm_aided_ocr_spark.plans.curate import CurationConfig, curate

    good = (
        "The cat and the dog have fun with all of that every day. " * 10
    ).strip()
    bad = "zx qq ww!!!"
    rows = [(f"https://good.example/{i}", good + f" tail {i}.") for i in range(3)]
    # junk host: 3 junk docs and 1 good doc -> pass frac 0.25 < 0.5,
    # so even its good doc must go
    rows += [(f"https://junk.example/{i}", bad + f" {i}") for i in range(3)]
    rows += [("https://junk.example/ok", good + " survivor page.")]
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = CurationConfig(
        pipeline=PipelineConfig(provider="identity"),
        host_quality_gate=True,
        near_dedup=False,
        exact_dedup=False,
    )
    out = curate(pages, cfg)
    urls = {r["url"] for r in out.collect()}
    release_pinned(out)
    assert urls == {f"https://good.example/{i}" for i in range(3)}

    # same corpus without the gate keeps everything (no per-doc gates on)
    cfg2 = CurationConfig(
        pipeline=PipelineConfig(provider="identity"),
        near_dedup=False, exact_dedup=False,
    )
    out2 = curate(pages, cfg2)
    assert out2.count() == 7
    release_pinned(out2)
