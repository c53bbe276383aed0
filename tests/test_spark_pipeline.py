"""Spark pipeline tests: byte-identity of both physical strategies against
the Python kernel oracle (and, transitively, the reference implementation)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark import kernels
from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.plans.pipeline import run_pipeline
from llm_aided_ocr_spark.sources.synthetic import pages_dataframe, generate_pages_rows


@pytest.fixture(scope="module")
def pages(spark):
    return pages_dataframe(spark, n_rows=40, seed=42).cache()


def _oracle_results(rows, provider):
    fn = (
        kernels.identity_correct
        if provider == "identity"
        else lambda c: kernels.correct_chunk_text(c, True, True)
    )
    expected = {}
    for url, _ts, _html, text, _lang in rows:
        chunks = kernels.chunk_full_text(text or "")
        corrected = kernels.strip_correction_header(
            kernels.assemble_chunks([fn(c) for c in chunks])
        )
        expected[url] = (text or "", corrected, len(chunks))
    return expected


@pytest.mark.parametrize("strategy", ["fused", "staged"])
@pytest.mark.parametrize("provider", ["identity", "heuristic"])
def test_pipeline_byte_identity(spark, pages, strategy, provider):
    cfg = PipelineConfig(provider=provider)
    result = run_pipeline(pages, cfg, strategy=strategy)
    got = {r["url"]: (r["raw_text"], r["corrected_text"], r["n_chunks"])
           for r in result.collect()}
    expected = _oracle_results(generate_pages_rows(n_rows=40, seed=42), provider)
    assert set(got) == set(expected)
    for url, (raw, corrected, n) in expected.items():
        assert got[url][0] == raw, f"raw mismatch for {url}"
        assert got[url][1] == corrected, f"corrected mismatch for {url}"
        assert got[url][2] == n, f"n_chunks mismatch for {url}"


def test_fused_equals_staged(spark, pages):
    cfg = PipelineConfig(provider="heuristic")
    fused = run_pipeline(pages, cfg, strategy="fused").collect()
    staged = run_pipeline(pages, cfg, strategy="staged").collect()
    f = {r["url"]: r["corrected_text"] for r in fused}
    s = {r["url"]: r["corrected_text"] for r in staged}
    assert f == s


def test_fused_rows_identical_with_large_var_types(spark, pages):
    # the Arrow passes hand kept columns back as the input's own Arrow
    # arrays; with useLargeVarTypes on those are large_string /
    # large_binary while the built columns are string — Spark must still
    # accept the batches and return the same rows. Covers the fused pass,
    # the staged path from html (extraction, chunker, correction) and the
    # hallucination filter.
    conf = "spark.sql.execution.arrow.useLargeVarTypes"
    cfg = PipelineConfig(provider="heuristic")
    short = pages.filter(F.length("text") < 3000)
    runs = {
        "fused": lambda: run_pipeline(pages, cfg, strategy="fused"),
        "staged_html": lambda: run_pipeline(pages, cfg, use_html=True, strategy="staged"),
        "filter": lambda: run_pipeline(
            short, replace(cfg, apply_hallucination_filter=True), strategy="fused"
        ),
    }
    prev = spark.conf.get(conf, None)
    try:
        rows = {}
        for on in ("false", "true"):
            spark.conf.set(conf, on)
            for name, run in runs.items():
                rows[name, on] = sorted(map(tuple, run().collect()))
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)
    for name in runs:
        assert rows[name, "true"] == rows[name, "false"], name
    assert len(rows["fused", "true"]) == len(rows["staged_html", "true"]) == 40
    assert rows["filter", "true"]


def test_arrow_passes_nulls_empties_and_timestamps_local_tz(spark):
    """Under a non-UTC session time zone (the oracle sweep's), the Arrow
    passes map NULL and empty payloads as before and pass warc_ts through
    exactly — including an instant in Lord Howe's ambiguous fall-back
    half hour, which the pandas form shifted by 30 minutes."""
    import datetime as dt

    from llm_aided_ocr_spark.operators.chunker import chunk_documents
    from llm_aided_ocr_spark.operators.correct import correct_chunks
    from llm_aided_ocr_spark.operators.extract import extract_text
    from llm_aided_ocr_spark.operators.filters import hallucination_filter

    utc = dt.timezone.utc
    ambiguous = dt.datetime(2024, 4, 6, 14, 40, tzinfo=utc)  # 01:40 +11:00
    pages = spark.createDataFrame(
        [
            ("n", ambiguous, None, None, "en"),
            ("e", dt.datetime(2024, 4, 6, 15, 10, tzinfo=utc), b"", "", None),
            ("t", None, b"<p>Hi there.</p>", "Hi there.", "en"),
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Australia/Lord_Howe")
    try:
        for sniff in (False, True):
            out = extract_text(pages, use_html=True, sniff_charset=sniff)
            got = out.select(
                "url", F.unix_micros("warc_ts"), "lang", "extracted_text"
            ).collect()
            assert sorted(map(tuple, got), key=str) == sorted([
                ("n", 1712414400000000, "en", ""),
                ("e", 1712416200000000, None, ""),
                ("t", None, "en", "Hi there."),
            ], key=str), sniff
        docs = spark.createDataFrame(
            [("n", None), ("e", "")], "url string, extracted_text string"
        )
        assert sorted(map(tuple, chunk_documents(docs).collect())) == [
            ("e", 0, 1, ""), ("n", 0, 1, ""),
        ]
        chunks = spark.createDataFrame(
            [("n", 0, 1, None), ("e", 0, 1, "")],
            "url string, chunk_ix int, n_chunks int, chunk string",
        )
        assert sorted(map(tuple, correct_chunks(chunks).collect())) == [
            ("e", 0, 1, ""), ("n", 0, 1, ""),
        ]
        res = spark.createDataFrame(
            [("a", None, None), ("b", "", ""), ("c", "x. y.", None), ("d", None, "x. y.")],
            "url string, raw_text string, corrected_text string",
        )
        assert sorted(map(tuple, hallucination_filter(res).collect())) == [
            ("a", "", 0, 0, 1.0, 0.4),
            ("b", "", 0, 0, 1.0, 0.4),
            ("c", "", 0, 0, 1.0, 0.4),
            ("d", "", 2, 0, 0.0, 0.4),
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_zip_refresh_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    """No Spark: with the guard installed, ``importlib.invalidate_caches()``
    leaves an unchanged archive's directory alone, re-reads a rewritten
    one, and handles a deleted one as Python does (no exception, the
    cached directory dropped)."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from llm_aided_ocr_spark.operators.util import skip_unchanged_zip_refreshes

    # restores Python's own method when the test ends
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    archive = tmp_path / "mods.zip"

    def write(*names):
        with zipfile.ZipFile(archive, "w") as zf:
            for name in names:
                zf.writestr(f"{name}.py", f"NAME = {name!r}\n")

    read_directory = zipimport._read_directory
    reads = []

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    write("zipguard_a")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zipguard_a").NAME == "zipguard_a"
        skip_unchanged_zip_refreshes()
        guard = zipimport.zipimporter.invalidate_caches
        skip_unchanged_zip_refreshes()
        assert zipimport.zipimporter.invalidate_caches is guard
        importlib.invalidate_caches()  # the first guarded call reads
        monkeypatch.setattr(zipimport, "_read_directory", counting_read)

        importlib.invalidate_caches()
        assert reads == []

        write("zipguard_a", "zipguard_b")
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        assert importlib.import_module("zipguard_b").NAME == "zipguard_b"

        archive.unlink()
        importlib.invalidate_caches()
        assert reads == [str(archive)] * 2
        assert str(archive) not in zipimport._zip_directory_cache
        assert sys.path_importer_cache[str(archive)]._files == {}
    finally:
        for name in ("zipguard_a", "zipguard_b"):
            sys.modules.pop(name, None)


def test_map_arrow_guards_zip_refreshes_in_workers(spark):
    """Every ``map_arrow`` task runs its ``fn`` under the zip-refresh
    guard, so each Python worker skips the per-task re-read of unchanged
    archives after its first task."""
    from llm_aided_ocr_spark.operators.util import (
        map_arrow,
        skip_unchanged_zip_refreshes,
    )

    def _refresh_name(payloads):
        import zipimport

        return ([zipimport.zipimporter.invalidate_caches.__qualname__] * len(payloads),)

    df = spark.range(8).selectExpr("id", "string(id) AS payload").repartition(4)
    got = map_arrow(df, _refresh_name, "id bigint, name string", keep=("id",))
    guard = f"{skip_unchanged_zip_refreshes.__qualname__}.<locals>.invalidate_caches"
    assert sorted(map(tuple, got.collect())) == [(i, guard) for i in range(8)]


def test_auto_routes_mega_docs(spark):
    """auto == fused == staged per url whatever the routing aggregate
    finds: some mega documents, none, only mega documents, no rows."""
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache

    df = pages_dataframe(spark, n_rows=12, seed=42, mega_doc=True)
    cfg = PipelineConfig(provider="heuristic", mega_doc_chars=100_000)
    cases = [
        (df, cfg, 12),  # one document above 100k chars
        (df, replace(cfg, mega_doc_chars=10**9), 12),
        (df.filter(F.length("text") > 0), replace(cfg, mega_doc_chars=0), 11),
        (df.limit(0), cfg, 0),
    ]
    for pages_in, c, n in cases:
        got = {}
        for strategy in ("auto", "fused", "staged"):
            result = run_pipeline(pages_in, c, strategy=strategy)
            got[strategy] = {r["url"]: tuple(r) for r in result.collect()}
            release_pipeline_cache(result)
        assert got["auto"] == got["fused"] == got["staged"], c.mega_doc_chars
        assert len(got["auto"]) == n, c.mega_doc_chars


def _jobs_of(spark, fn):
    """``(fn(), the number of Spark jobs fn ran)``."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc._jsc.clearJobGroup()
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return value, len(sc.statusTracker().getJobIdsForGroup(group))


def test_auto_mega_free_runs_fused_jobs_plus_routing_aggregate(spark):
    """On a corpus with no document above ``mega_doc_chars`` the auto
    strategy plans the fused branch alone: the routing aggregate runs
    when ``run_pipeline`` is called, and the action then runs no more
    Spark jobs than the fused strategy's does."""
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache

    df = pages_dataframe(spark, n_rows=40, seed=42)
    cfg = PipelineConfig(provider="heuristic")  # 4M-char threshold: no mega

    n_fused, fused_jobs = _jobs_of(
        spark, lambda: run_pipeline(df, cfg, strategy="fused").count()
    )
    auto, routing_jobs = _jobs_of(
        spark, lambda: run_pipeline(df, cfg, strategy="auto")
    )
    n_auto, action_jobs = _jobs_of(spark, auto.count)
    release_pipeline_cache(auto)
    assert n_auto == n_fused == 40
    assert routing_jobs == 1
    assert action_jobs <= fused_jobs, (routing_jobs, action_jobs, fused_jobs)


def test_auto_routing_probe_is_one_job_on_a_wide_scan(spark, tmp_path):
    """The auto strategy's mega-document probe runs one Spark job on a
    scan of 64 or more partitions, whether it finds a mega document or
    not: the probe's limit does not grow its scan a few partitions per
    job."""
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache

    path = str(tmp_path / "pages")
    pages_dataframe(spark, n_rows=40, seed=42).write.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        pages = spark.read.parquet(path)
        assert pages.rdd.getNumPartitions() >= 64
        cfg = PipelineConfig(provider="identity")
        for c in (cfg, replace(cfg, mega_doc_chars=0)):
            result, jobs = _jobs_of(
                spark, lambda: run_pipeline(pages, c, strategy="auto")
            )
            release_pipeline_cache(result)
            assert jobs == 1, c.mega_doc_chars
    finally:
        spark.conf.set(key, saved)


def test_html_extraction_path(spark, pages):
    """Extracting from the html column must reproduce the canonicalized
    text column (byte-exact where the source is already canonical)."""
    from llm_aided_ocr_spark.operators.extract import extract_text
    from llm_aided_ocr_spark.kernels import canonicalize_text

    out = extract_text(pages, use_html=True).collect()
    src = {r["url"]: r["text"] for r in pages.collect()}
    n_exact = 0
    for row in out:
        want = canonicalize_text(src[row["url"]])
        assert row["extracted_text"] == want, row["url"]
        if row["extracted_text"] == src[row["url"]]:
            n_exact += 1
    # the synthetic OCR-artifact rows are canonical → byte-exact round trip
    assert n_exact >= len(out) - 6


def test_language_gate_and_page_filter(spark, pages):
    cfg = PipelineConfig(
        provider="identity",
        check_if_valid_english=True,
        apply_page_filter=True,
    )
    result = run_pipeline(pages, cfg, strategy="fused").collect()
    rows = generate_pages_rows(n_rows=40, seed=42)
    surviving = {
        url
        for url, _ts, _html, text, lang in rows
        if lang == "en"
        and len(text or "") >= 10
        and len((text or "").split()) >= 5
    }
    assert {r["url"] for r in result} == surviving


def test_pdf_stub_plumbing(spark):
    """PDF page explosion with an injected deterministic fake renderer."""
    from llm_aided_ocr_spark.operators.extract import extract_pdf_pages

    df = spark.createDataFrame(
        [("u1", b"%PDF-fake-1"), ("u2", b"%PDF-fake-2")], "url string, pdf binary"
    )

    def fake_renderer(blob, first, last):
        n = 3 if blob.endswith(b"1") else 2
        return [f"page {first + i} of {blob[-1:].decode()}" for i in range(n)]

    out = extract_pdf_pages(df, renderer=fake_renderer).collect()
    assert len(out) == 5
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], []).append((r["page_no"], r["page_text"]))
    assert sorted(by_url["u1"]) == [
        (1, "page 1 of 1"), (2, "page 2 of 1"), (3, "page 3 of 1")
    ]

    def failing_renderer(blob, first, last):
        from llm_aided_ocr_spark.operators.extract import _default_renderer
        return _default_renderer(blob, first, last)

    with pytest.raises(Exception):
        extract_pdf_pages(df, renderer=failing_renderer).collect()


def test_page_range_slice(spark):
    from llm_aided_ocr_spark.operators.extract import extract_pdf_pages

    df = spark.createDataFrame([("u1", b"x")], "url string, pdf binary")

    def renderer(blob, first, last):
        last = last if last is not None else 10
        return [f"p{i}" for i in range(first, last + 1)]

    out = extract_pdf_pages(df, max_pages=3, skip_first_n_pages=2, renderer=renderer)
    rows = sorted((r["page_no"], r["page_text"]) for r in out.collect())
    assert rows == [(3, "p3"), (4, "p4"), (5, "p5")]


def test_html_page_signals_native_and_correct(spark):
    """lang attr, title, meta-robots noindex (both attribute orders),
    link count/density — one native projection (no Python stage in the
    plan), NULL-html-safe."""
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.extract import html_page_signals

    pages = [
        ("u1", "<html lang=\"en-US\"><head><title> A   Title\n here "
               "</title><meta name=\"robots\" content=\"noindex,nofollow\">"
               "</head><body><a href=x>1</a><A HREF=y>2</A></body></html>"),
        ("u2", "<html><head><meta content=\"noindex\" name=\"robots\"/>"
               "</head><body>plain</body></html>"),
        ("u3", "<html LANG='fr'><head></head><body>"
               "<meta name=\"viewport\"></body></html>"),
        ("u4", None),
    ]
    df = spark.createDataFrame(pages, "url string, h string").select(
        "url", F.col("h").cast("binary").alias("html")
    )
    rows = {r["id"]: r for r in html_page_signals(df).collect()}
    assert rows["u1"].lang_attr == "en-us"
    assert rows["u1"].title == "A Title here"
    assert rows["u1"].noindex is True
    assert rows["u1"].n_links == 2
    assert rows["u1"].links_per_kb > 0
    assert rows["u2"].noindex is True  # flipped attribute order
    assert rows["u2"].lang_attr is None and rows["u2"].title is None
    assert rows["u3"].lang_attr == "fr"
    assert rows["u3"].noindex is False
    assert rows["u4"].noindex is False and rows["u4"].n_links == 0
    assert rows["u4"].html_bytes == 0
    assert all(rows[u].canonical_href is None for u in ("u1", "u2", "u3", "u4"))
    # rel=canonical in both attribute orders
    canon = spark.createDataFrame(
        [
            ("c1", '<link rel="canonical" href="https://x.org/a">'),
            ("c2", "<link href='https://x.org/b' rel='canonical'>"),
            ("c3", '<link rel="stylesheet" href="https://x.org/c.css">'),
        ],
        "url string, h string",
    ).select("url", F.col("h").cast("binary").alias("html"))
    crows = {r["id"]: r for r in html_page_signals(canon).collect()}
    assert crows["c1"].canonical_href == "https://x.org/a"
    assert crows["c2"].canonical_href == "https://x.org/b"
    assert crows["c3"].canonical_href is None
    # plan: pure projection — no exchange, no Python eval
    plan = html_page_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_content_blocks_density_classification(spark):
    from llm_aided_ocr_spark.operators.extract import (
        content_blocks,
        extract_by_density,
    )

    html = (
        "<nav><a href='/a'>home page</a> <a href='/b'>about us now</a></nav>"
        "<p>The quick brown fox jumps over the lazy dog tonight.</p>"
        "<div>short</div>"
        "<footer><a href='/c'>terms</a> <a href='/d'>privacy</a></footer>"
        "<article>Body prose with a <a href='/e'>single link</a> inside "
        "a long paragraph of ordinary words.</article>"
    )
    df = spark.createDataFrame([("u1", html.encode())], "url string, html binary")
    rows = {r["block_idx"]: r for r in content_blocks(df).collect()}
    assert [rows[i]["tag"] for i in range(5)] == [
        "nav", "p", "div", "footer", "article",
    ]
    nav = rows[0]
    assert nav["n_words"] == 5 and nav["link_words"] == 5
    assert nav["link_density"] == 1.0 and not nav["is_content"]
    p = rows[1]
    assert p["n_words"] == 10 and p["link_words"] == 0 and p["is_content"]
    assert rows[2]["n_words"] == 1 and not rows[2]["is_content"]  # too short
    foot = rows[3]
    assert foot["link_density"] == 1.0 and not foot["is_content"]
    art = rows[4]
    assert art["n_words"] == 13 and art["link_words"] == 2
    assert art["is_content"]  # 2/13 well under 0.5

    # density extractor keeps p + article in document order
    text = extract_by_density(df).collect()[0]["text"]
    assert text == (
        "The quick brown fox jumps over the lazy dog tonight.\n\n"
        "Body prose with a single link inside a long paragraph of "
        "ordinary words."
    )

    # NULL html → zero blocks, no crash
    null_df = spark.createDataFrame(
        [("u2", None)], "url string, html binary"
    )
    assert content_blocks(null_df).count() == 0

    # fully native: no Python evals in the block classifier plan
    plan = content_blocks(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # document-local, zero shuffle

    # script/style payload never counts as words (dropped pre-segmentation)
    scripted = spark.createDataFrame(
        [(
            "u3",
            (
                "<div><script>var a = 1; function noise() {}</script>"
                "just four words here</div>"
                "<style>p { color: red; }</style>"
            ).encode(),
        )],
        "url string, html binary",
    )
    srows = content_blocks(scripted).collect()
    assert len(srows) == 1
    assert srows[0]["n_words"] == 4 and srows[0]["is_content"]


def test_meta_properties_and_heading_outline(spark):
    from llm_aided_ocr_spark.operators.extract import (
        heading_outline,
        meta_properties,
    )

    html = (
        '<html><head>'
        '<meta property="og:title" content="A &amp; B">'
        '<meta content="desc here" name="Description">'  # reversed attrs
        '<meta property="og:locale">'                     # no content
        '<meta charset="utf-8">'                          # no key attr
        '<meta name="keywords" content="x,y">'
        '</head><body>'
        "<h1>Top <em>Title</em></h1>"
        "<h2>  Section   one </h2><p>prose</p><h2></h2>"
        "<h3>Deep</h3>"
        "</body></html>"
    )
    df = spark.createDataFrame([("u1", html.encode())], "url string, html binary")

    # filtered to requested keys, case-insensitive, attr order free
    rows = {
        (r["key"]): r["content"]
        for r in meta_properties(
            df, keys=["og:title", "description", "og:locale"]
        ).collect()
    }
    assert rows == {"og:title": "A &amp; B", "description": "desc here",
                    "og:locale": ""}
    # keys=None keeps every declared key (charset tag has none -> dropped)
    allk = {r["key"] for r in meta_properties(df).collect()}
    assert allk == {"og:title", "description", "og:locale", "keywords"}

    heads = heading_outline(df).collect()
    got = [(r["heading_ix"], r["level"], r["text"]) for r in heads]
    assert got == [(0, 1, "Top Title"), (1, 2, "Section one"), (2, 2, ""),
                   (3, 3, "Deep")]

    # both fully native, zero shuffle
    for out in (meta_properties(df), heading_outline(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan and "Exchange" not in plan


def test_decode_pages_charset_transcode(spark):
    from llm_aided_ocr_spark.operators.extract import decode_pages

    rows = [
        ("plain", "hello".encode("utf-8")),
        ("latin", b'<meta charset="ISO-8859-1">Caf\xe9!'),
        ("cp1252", b'<meta charset="windows-1252">\x93q\x94'),
        ("bom", "﻿déjà".encode("utf-8")),
        ("bad_utf8", b"no decl Caf\xe9"),
        ("unknown", b'<meta charset="koi8-r">abc'),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["id"]: (r["charset_used"], r["html_text"])
           for r in decode_pages(df).collect()}
    assert got["plain"] == ("utf-8", "hello")
    assert got["latin"] == ("iso-8859-1", '<meta charset="ISO-8859-1">Café!')
    # 0x93/0x94 are curly quotes in cp1252 (undefined in latin-1)
    assert got["cp1252"] == ("cp1252", '<meta charset="windows-1252">“q”')
    # BOM authoritative and stripped
    assert got["bom"] == ("utf-8", "déjà")
    # malformed bytes under the default codec -> U+FFFD, never a task failure
    assert got["bad_utf8"] == ("utf-8", "no decl Caf�")
    # unsupported declaration falls back to the default
    assert got["unknown"] == ("utf-8", '<meta charset="koi8-r">abc')
    assert got["null"] == ("utf-8", "")


def test_table_extract(spark):
    from llm_aided_ocr_spark.operators.extract import table_extract

    html = (
        "<body><p>intro</p>"
        "<table><tr><th>Name</th><th>Age</th></tr>"
        "<tr><td>Ada <b>L</b></td><td> 36 </td></tr>"
        "<tr><td>Alan</td><td>41</td></tr></table>"
        "<table class='x'><tr><td>solo</td></tr></table>"
        "</body>"
    )
    df = spark.createDataFrame([("u1", html.encode()), ("u2", None)],
                               "url string, html binary")
    got = [
        (r["table_ix"], r["row_ix"], r["col_ix"], r["is_header"], r["cell_text"])
        for r in table_extract(df)
        .orderBy("table_ix", "row_ix", "col_ix").collect()
    ]
    assert got == [
        (0, 0, 0, True, "Name"), (0, 0, 1, True, "Age"),
        (0, 1, 0, False, "Ada L"), (0, 1, 1, False, "36"),
        (0, 2, 0, False, "Alan"), (0, 2, 1, False, "41"),
        (1, 0, 0, False, "solo"),
    ]
    plan = table_extract(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_link_rels_extraction(spark):
    from llm_aided_ocr_spark.operators.extract import link_rels

    html = (
        "<head>"
        '<link rel="canonical" href="https://x.org/a">'
        "<link href='/feed.xml' rel='alternate' type='application/rss+xml'>"
        '<link rel="next" href="/page/2">'
        '<link rel="ALTERNATE nofollow" href="/fr">'  # multi-valued + case
        '<link rel="stylesheet" href="/s.css">'
        '<link rel="prev">'                            # no href -> dropped
        "</head>"
    )
    df = spark.createDataFrame([("u1", html.encode())], "url string, html binary")
    got = sorted(
        (r["rel"], r["href"])
        for r in link_rels(
            df, rels=["canonical", "alternate", "next", "prev", "amphtml"]
        ).collect()
    )
    assert got == [
        ("alternate", "/feed.xml"), ("alternate", "/fr"),
        ("canonical", "https://x.org/a"), ("next", "/page/2"),
    ]
    # unfiltered keeps stylesheet + the nofollow token too
    allr = {(r["rel"], r["href"]) for r in link_rels(df).collect()}
    assert ("stylesheet", "/s.css") in allr and ("nofollow", "/fr") in allr
    plan = link_rels(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_content_blocks_fuzz_matches_python_replay(spark):
    """Seeded fuzz: 300 random flat-block pages through the native
    content_blocks vs an independent Python replay of the documented
    semantics (scriptish strip → segmentation → tag-stripped word
    counts → anchor word counts → threshold pair). Catches arrays_zip /
    posexplode wiring slips and Java-vs-expected regex divergence."""
    import random
    import re

    from llm_aided_ocr_spark.operators.extract import content_blocks

    scriptish = re.compile(r"(?is)<(script|style|noscript)\b[^>]*>.*?</\1\s*>")
    seg = re.compile(
        r"(?is)<(p|div|nav|section|article|footer|aside|li|h[1-6]|"
        r"blockquote|pre|td)\b[^>]*>(.*?)</\1\s*>"
    )
    anch = re.compile(r"(?is)<a\b[^>]*>(.*?)</a\s*>")
    tags_re = re.compile(r"(?s)<[^>]*>")

    def wc(s):
        return len(re.findall(r"\S+", tags_re.sub(" ", s)))

    rng = random.Random(7)
    tags = ["p", "div", "footer", "nav", "li", "h2", "DIV", "P"]
    words = ["alpha", "beta", "gamma", "x1", "&amp;", "d-e", "..."]

    def mk_block():
        tag = rng.choice(tags)
        parts = []
        for _ in range(rng.randint(0, 6)):
            roll = rng.random()
            if roll < 0.3:
                inner = " ".join(
                    rng.choices(words, k=rng.randint(0, 3))
                )
                parts.append(f'<a href="/{rng.randint(0, 9)}" class=x>{inner}</a>')
            elif roll < 0.45:
                parts.append("<script type='text/javascript'>var x = 1;</script>")
            elif roll < 0.6:
                parts.append(f"<em>{rng.choice(words)}</em>")
            else:
                parts.append(" ".join(rng.choices(words, k=rng.randint(1, 4))))
        return tag, "  ".join(parts)

    pages = []
    for i in range(300):
        html = "".join(
            f"<{t} data-i={j}>{b}</{t}>"
            for j, (t, b) in enumerate(mk_block() for _ in range(rng.randint(0, 5)))
        )
        if rng.random() < 0.3:
            html = "leading junk " + html + " <span>tail</span>"
        pages.append((i, html.encode()))

    df = spark.createDataFrame(pages, "url long, html binary")
    got = {
        (r["id"], r["block_idx"]): (
            r["tag"], r["n_words"], r["link_words"], r["is_content"]
        )
        for r in content_blocks(df).collect()
    }

    n_rows = 0
    for i, html_b in pages:
        h = scriptish.sub(" ", html_b.decode())
        for ix, (tag, body) in enumerate(seg.findall(h)):
            n = wc(body)
            lw = sum(wc(a) for a in anch.findall(body))
            dens = lw / n if n else 0.0
            want = (tag.lower(), n, lw, n >= 4 and dens <= 0.5)
            assert got[(i, ix)] == want, (i, ix, got[(i, ix)], want)
            n_rows += 1
    assert len(got) == n_rows and n_rows > 300


def test_jsonld_objects(spark):
    from llm_aided_ocr_spark.operators.extract import jsonld_objects

    html = (
        "<head>"
        '<script type="application/ld+json">'
        '{"@type": "NewsArticle", "headline": "Big News", '
        '"datePublished": "2026-01-02"}</script>'
        "<script type='application/ld+json'> {\"@type\": \"Person\"} </script>"
        '<script type="application/ld+json">not json at all</script>'
        '<script type="text/javascript">var x = {"@type": "Nope"};</script>'
        "</head>"
    )
    df = spark.createDataFrame([("u1", html.encode())], "url string, html binary")
    rows = {r["jsonld_ix"]: r for r in jsonld_objects(df).collect()}
    assert len(rows) == 3  # the plain-JS script is not JSON-LD
    assert rows[0]["ld_type"] == "NewsArticle"
    assert rows[0]["headline"] == "Big News"
    assert rows[0]["date_published"] == "2026-01-02"
    assert rows[1]["ld_type"] == "Person" and rows[1]["headline"] is None
    # malformed JSON: raw kept for diagnostics, fields NULL
    assert rows[2]["raw_json"] == "not json at all"
    assert rows[2]["ld_type"] is None
    plan = jsonld_objects(df)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan


def test_content_blocks_contextual_promotion(spark):
    from llm_aided_ocr_spark.operators.extract import content_blocks_contextual

    prose = "The quick brown fox jumps over the lazy dog tonight."
    html = (
        f"<p>{prose}</p>"
        "<p>Short bridge.</p>"          # short, 0 links, next to good -> promoted
        f"<p>{prose} Again and again.</p>"
        "<div><a href='/a'>nav one</a></div>"  # short but link-dense -> NOT promoted
        "<p>lonely</p>"                  # short, neighbors not content -> NOT promoted
        "<div><a href='/b'>more nav</a></div>"
    )
    df = spark.createDataFrame([("u1", html.encode())], "url string, html binary")
    rows = {r["block_idx"]: r for r in content_blocks_contextual(df).collect()}
    assert rows[0]["final_is_content"] and not rows[0]["promoted"]
    assert rows[1]["promoted"] and rows[1]["final_is_content"]
    assert rows[2]["final_is_content"]
    assert not rows[3]["promoted"] and not rows[3]["final_is_content"]
    assert not rows[4]["promoted"] and not rows[4]["final_is_content"]
    assert not rows[5]["final_is_content"]
