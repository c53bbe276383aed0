"""Provider plumbing (C3-C6), sequential-context mode, adaptive F3, and
plan-quality regression checks (pushdown / no stray Python stages)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark.kernels import approx_token_count


# ---------------------------------------------------------------------------
# Providers
# ---------------------------------------------------------------------------

def test_provider_clamps_max_tokens():
    from llm_aided_ocr_spark.operators.providers import (
        CompletionProvider,
        TOKEN_BUFFER,
    )

    calls = []

    def transport(prompt, max_tokens):
        calls.append((prompt, max_tokens))
        return "OUT"

    p = CompletionProvider("t", 4096, transport, approx_token_count)
    prompt = "hello world"
    assert p.complete(prompt, max_tokens=5000) == "OUT"
    (seen_prompt, seen_max), = calls
    assert seen_prompt == prompt
    assert seen_max == 4096 - approx_token_count(prompt) - TOKEN_BUFFER


def test_provider_too_long_falls_back_to_chunking():
    from llm_aided_ocr_spark.operators.providers import CompletionProvider

    calls = []

    def transport(prompt, max_tokens):
        calls.append(prompt)
        return f"R{len(calls)}"

    p = CompletionProvider("t", 100, transport, approx_token_count)
    long_prompt = " ".join(f"Sentence number {i} is right here." for i in range(200))
    out = p.complete(long_prompt, max_tokens=50)
    assert len(calls) > 1, "prompt must have been re-chunked"
    assert out == " ".join(f"R{i + 1}" for i in range(len(calls)))


def test_provider_none_propagation():
    from llm_aided_ocr_spark.operators.providers import CompletionProvider

    p = CompletionProvider("t", 100, lambda *_: None, approx_token_count)
    long_prompt = " ".join(f"Sentence number {i} is right here." for i in range(200))
    assert p.complete(long_prompt) is None


def test_unconfigured_providers_raise():
    from llm_aided_ocr_spark.operators.providers import (
        make_claude_provider,
        make_local_llm_provider,
        make_openai_provider,
    )

    for make in (make_claude_provider, make_openai_provider, make_local_llm_provider):
        with pytest.raises(NotImplementedError):
            make().complete("hi")


def test_local_provider_grammar_constrained_decoding(tmp_path):
    """C6: newest-mtime GBNF selection handed to the transport; the json
    selector triggers the reference's unicode_escape postprocess
    (llm_aided_ocr.py:372-396)."""
    import os
    import time

    from llm_aided_ocr_spark.operators.providers import (
        make_local_llm_provider,
        select_grammar_file,
    )

    gdir = tmp_path / "grammar_files"
    gdir.mkdir()
    old = gdir / "json_old.gbnf"
    new = gdir / "json_new.gbnf"
    other = gdir / "csv.gbnf"
    old.write_text("root ::= old")
    other.write_text("root ::= csv")
    new.write_text("root ::= new")
    past = time.time() - 100
    os.utime(old, (past, past))

    assert select_grammar_file("json", str(gdir)) == str(new)
    with pytest.raises(FileNotFoundError):
        select_grammar_file("yaml", str(gdir))

    seen = {}

    def transport(prompt, max_tokens, grammar=None):
        seen["grammar"] = grammar
        return 'text with unicode é and newline\n'

    p = make_local_llm_provider(
        transport, grammar_file_string="json", grammar_dir=str(gdir)
    )
    out = p.complete("fix this", max_tokens=50)
    assert seen["grammar"] == "root ::= new"
    # unicode_escape quirk: é -> \xe9, newline -> \n (escaped), verbatim ref
    assert out == 'text with unicode \\xe9 and newline\\n'

    # without a grammar selector the provider is plain 2-arg, no postprocess
    p2 = make_local_llm_provider(lambda pr, mt: "plain é")
    assert p2.complete("x", max_tokens=10) == "plain é"


def test_local_provider_too_long_rechunks_without_grammar(tmp_path):
    """The prompt-too-long fallback must bypass the grammar, exactly like
    the reference's chunked branch (llm_aided_ocr.py:355-370)."""
    from llm_aided_ocr_spark.operators.providers import (
        LOCAL_CONTEXT_TOKENS,
        make_local_llm_provider,
    )

    gdir = tmp_path / "g"
    gdir.mkdir()
    (gdir / "json.gbnf").write_text("root ::= j")
    calls = []

    def transport(prompt, max_tokens, grammar=None):
        calls.append(grammar)
        return "ok"

    p = make_local_llm_provider(
        transport, grammar_file_string="json", grammar_dir=str(gdir)
    )
    huge = "word " * (LOCAL_CONTEXT_TOKENS * 4)
    out = p.complete(huge, max_tokens=100)
    assert out is not None and "ok" in out
    assert calls and all(g is None for g in calls)


def test_fetch_model_contract(tmp_path):
    """S3: idempotent fetch, exclusive lock, <min-size artifacts deleted
    and reported as failure (llm_aided_ocr.py:81-103)."""
    from llm_aided_ocr_spark.operators.providers import fetch_model

    mdir = str(tmp_path / "models")
    url = "https://example.invalid/model.gguf"

    def small_fetcher(u, dest):
        with open(dest, "wb") as f:
            f.write(b"x" * 1024)

    st = fetch_model(url, mdir, fetcher=small_fetcher, min_size_mb=1.0)
    assert st["status"] == "failure" and "too small" in st["message"]
    import os

    assert not os.path.exists(os.path.join(mdir, "model.gguf"))

    def good_fetcher(u, dest):
        with open(dest, "wb") as f:
            f.write(b"x" * (2 * 1024 * 1024))

    st = fetch_model(url, mdir, fetcher=good_fetcher, min_size_mb=1.0)
    assert st["status"] == "success"

    def exploding_fetcher(u, dest):
        raise AssertionError("must not re-download an existing model")

    st = fetch_model(url, mdir, fetcher=exploding_fetcher, min_size_mb=1.0)
    assert st["status"] == "success" and st["message"] == "File already exists."
    assert not os.path.exists(os.path.join(mdir, "download.lock"))


def test_load_newest_model(tmp_path):
    import os
    import time

    from llm_aided_ocr_spark.operators.providers import load_newest_model

    (tmp_path / "m_v1.gguf").write_text("v1")
    (tmp_path / "m_v2.gguf").write_text("v2")
    past = time.time() - 100
    os.utime(tmp_path / "m_v2.gguf", (past, past))
    got = load_newest_model(str(tmp_path), "m_", lambda p: open(p).read())
    assert got == "v1"
    with pytest.raises(FileNotFoundError):
        load_newest_model(str(tmp_path), "zz", lambda p: p)


def test_estimate_tokens_falls_back_to_approx():
    from llm_aided_ocr_spark.operators.providers import estimate_tokens

    s = "hello there friend"
    # no tokenizer SDKs in the sandbox → must equal the T3 approximation
    assert estimate_tokens(s, "gpt-4o-mini") == approx_token_count(s)
    assert estimate_tokens(s, "claude-3-haiku") == approx_token_count(s)
    assert estimate_tokens(s, "unknown-model") == approx_token_count(s)


def test_executor_local_singleton():
    from llm_aided_ocr_spark.operators.providers import executor_local

    count = [0]

    def factory():
        count[0] += 1
        return object()

    a = executor_local("res_test", factory)
    b = executor_local("res_test", factory)
    assert a is b and count[0] == 1


def test_process_chunk_two_step_flow():
    from llm_aided_ocr_spark.operators.providers import (
        CompletionProvider,
        process_chunk_with_provider,
    )

    seen = []

    def transport(prompt, max_tokens):
        seen.append((prompt, max_tokens))
        if "Repaired text" in prompt:
            return "STEP1"
        return "STEP2"

    p = CompletionProvider("t", 100_000, transport, approx_token_count)
    out, ctx = process_chunk_with_provider("chunk body", "prior stuff", p)
    assert out == "STEP2"
    assert ctx == "STEP2"
    assert len(seen) == 2
    assert "chunk body" in seen[0][0] and "prior stuff" in seen[0][0]
    assert seen[0][1] < 100_000  # clamped, not the raw request
    assert "STEP1" in seen[1][0]  # markdown step sees step-1 output


def test_process_chunk_none_fallbacks():
    from llm_aided_ocr_spark.operators.providers import (
        CompletionProvider,
        process_chunk_with_provider,
    )

    # both steps fail → original chunk survives (reference :468-470)
    p_none = CompletionProvider("t", 100_000, lambda *_: None, approx_token_count)
    out, _ = process_chunk_with_provider("original", "", p_none)
    assert out == "original"

    # only markdown fails → step-1 output survives (reference :503-506)
    def t2(prompt, _mt):
        return "FIXED" if "Repaired text" in prompt else None

    p_half = CompletionProvider("t", 100_000, t2, approx_token_count)
    out2, _ = process_chunk_with_provider("original", "", p_half)
    assert out2 == "FIXED"

    # markdown disabled → one completion only
    calls = []
    p_count = CompletionProvider(
        "t", 100_000, lambda pr, mt: calls.append(1) or "X", approx_token_count
    )
    out3, _ = process_chunk_with_provider(
        "original", "", p_count, reformat_as_markdown=False
    )
    assert out3 == "X" and len(calls) == 1


def test_llm_corrector_plugs_into_sequential(spark):
    from llm_aided_ocr_spark.operators.chunker import chunk_documents
    from llm_aided_ocr_spark.operators.correct import correct_chunks_sequential
    from llm_aided_ocr_spark.operators.providers import (
        CompletionProvider,
        make_llm_chunk_corrector,
    )

    def transport(prompt, _mt):
        body = prompt.split("Text to repair:\n", 1)[-1] if "Text to repair" in prompt else None
        if body is not None:
            return "[LLM]" + body.rsplit("\n\nRepaired text:\n", 1)[0]
        return None  # markdown step "fails" → step-1 kept

    p = CompletionProvider("fake", 10**9, transport, approx_token_count)
    df = spark.createDataFrame(
        [("u", "Short doc one.")], "url string, extracted_text string"
    )
    rows = correct_chunks_sequential(
        chunk_documents(df), context_provider=make_llm_chunk_corrector(p)
    ).collect()
    assert rows[0]["corrected"] == "[LLM]Short doc one."


def test_preprocess_page_image_numpy():
    import numpy as np

    from llm_aided_ocr_spark.operators.extract import (
        otsu_threshold,
        preprocess_page_image,
    )

    # bimodal image: dark text on light background
    rng = np.random.RandomState(0)
    img = np.full((40, 40, 3), 220, dtype=np.uint8)
    img[10:20, 5:30] = 30  # "text" block
    out = preprocess_page_image(img)
    assert out.shape == (40, 40) and out.dtype == np.uint8
    assert set(np.unique(out)) <= {0, 255}
    assert out[15, 10] == 0 and out[0, 0] == 255  # text black, bg white
    # threshold sits between the modes
    t = otsu_threshold((0.299 * img[..., 0] + 0.587 * img[..., 1] + 0.114 * img[..., 2]).round().astype(np.uint8))
    assert 30 <= t < 220
    # grayscale input path
    assert preprocess_page_image(np.uint8([[0, 255]])).tolist() == [[0, 255]]


def test_otsu_matches_reference_on_noisy_bimodal():
    """Compare against a direct exhaustive-search Otsu on realistic noisy
    images (guards the variance formula, not just delta-mode edge cases)."""
    import numpy as np

    from llm_aided_ocr_spark.operators.extract import otsu_threshold

    def otsu_direct(gray):
        hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
        total = gray.size
        best_t, best_v = 0, -1.0
        for t in range(256):
            w_b = hist[: t + 1].sum()
            w_f = total - w_b
            if w_b == 0 or w_f == 0:
                continue
            mu_b = (hist[: t + 1] * np.arange(t + 1)).sum() / w_b
            mu_f = (hist[t + 1:] * np.arange(t + 1, 256)).sum() / w_f
            v = w_b * w_f * (mu_b - mu_f) ** 2
            if v > best_v:
                best_v, best_t = v, t
        return best_t

    rng = np.random.RandomState(1)
    for _ in range(20):
        text = rng.normal(40, 12, size=800)
        bg = rng.normal(200, 15, size=3200)
        gray = np.clip(np.concatenate([text, bg]), 0, 255).astype(np.uint8)
        gray = gray.reshape(40, 100)
        got = otsu_threshold(gray)
        want = otsu_direct(gray)
        assert got == want, (got, want)
        assert 40 < got < 200  # threshold separates the modes


# ---------------------------------------------------------------------------
# Sequential-context correction
# ---------------------------------------------------------------------------

def test_sequential_matches_parallel_for_context_free_provider(spark):
    from llm_aided_ocr_spark.operators.chunker import chunk_documents
    from llm_aided_ocr_spark.operators.correct import (
        correct_chunks,
        correct_chunks_sequential,
    )
    from llm_aided_ocr_spark.sources.synthetic import pages_dataframe

    pages = pages_dataframe(spark, n_rows=8, include_golden=True)
    chunks = chunk_documents(
        pages.selectExpr("url", "text as extracted_text")
    ).cache()
    par = {(r["url"], r["chunk_ix"]): r["corrected"]
           for r in correct_chunks(chunks, provider="heuristic").collect()}
    seq = {(r["url"], r["chunk_ix"]): r["corrected"]
           for r in correct_chunks_sequential(chunks, provider="heuristic").collect()}
    assert par == seq


# ---------------------------------------------------------------------------
# Adaptive F3
# ---------------------------------------------------------------------------

def test_adaptive_hallucination_filter(spark):
    from llm_aided_ocr_spark.operators.filters import hallucination_filter

    orig = "The pension plan has assets. Returns were strong this year."
    halluc = orig + " Zebras vote quarterly on moon tariffs zqxwv."
    df = spark.createDataFrame(
        [("u0", orig, halluc), ("u1", orig, orig)],
        "url string, raw_text string, corrected_text string",
    )
    out = {r["url"]: r.asDict() for r in hallucination_filter(df, adaptive=True).collect()}
    assert "Zebras" not in out["u0"]["filtered_text"]
    assert out["u0"]["threshold_used"] >= 0.40
    assert out["u1"]["n_kept"] == out["u1"]["n_sentences"]


# ---------------------------------------------------------------------------
# Plan-quality regression checks
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_lang_filter_pushes_down(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in plan


def test_native_queries_have_no_python_stage(spark):
    """Token estimation, header strip, quality score must stay JVM-side —
    no ArrowEvalPython/BatchEvalPython/MapInPandas/MapInArrow in the plan.
    (fingerprints intentionally moved to a vectorized Arrow pass for its
    rolling/winnowing loop; its word hashes remain native.)"""
    import __spark_entry__ as e

    for name in ("token_estimates", "header_strip", "token_counts",
                 "lang_id_counts", "quality_features"):
        df = e.queries()[name](spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        assert "EvalPython" not in plan, f"{name} fell off the JVM path"
        assert "PythonUDF" not in plan, f"{name} fell off the JVM path"
        for node in ("MapInPandas", "MapInArrow", "FlatMapGroupsInArrow"):
            assert node not in plan, f"{name} fell off the JVM path"


def test_ann_broadcasts_queries(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["ann_topk"](spark, "/root/testdata/sf0.001"))
    assert "Broadcast" in plan, "query side of ANN top-k must broadcast"


def test_column_pruning_reaches_scan(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["lang_gate_counts"](spark, "/root/testdata/sf0.001"))
    # only lang + n_chars must be read, not text
    assert "text" not in plan.split("ReadSchema:")[1].split("\n")[0]


def test_tpch_q3_broadcasts_dimension(spark):
    """The filtered customer dimension must broadcast; the fact-fact join
    stays a shuffle join under AQE."""
    import __spark_entry__ as e

    plan = _plan(e.queries()["tpch_q3"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_auto_strategy_scans_source_once(spark):
    """The auto (size-routed) strategy caches no corpus: a mega-free plan
    is the fused branch over one FileScan of the source, with no
    InMemoryRelation. With the threshold below the longest document the
    staged branch is planned too, and its extracted input is the only
    cache."""
    from dataclasses import replace

    import __spark_entry__ as e
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache, run_pipeline

    pages = e._docs_as_pages(spark, "/root/testdata/sf0.001")
    cfg = PipelineConfig(provider="identity", apply_hallucination_filter=False)
    longest = pages.agg(F.max(F.length("text"))).first()[0]
    assert longest <= cfg.mega_doc_chars

    result = run_pipeline(pages, cfg, strategy="auto")
    plan = _plan(result)
    assert release_pipeline_cache(result) == 0
    assert plan.count("FileScan parquet") == 1, plan
    assert "InMemoryRelation" not in plan, plan

    result = run_pipeline(
        pages, replace(cfg, mega_doc_chars=longest - 1), strategy="auto"
    )
    plan = _plan(result)
    assert release_pipeline_cache(result) == 1
    # explain prints the one cached relation under each of the staged
    # branch's two readers (chunk side, raw-text join side): it holds the
    # extracted text, and nothing else of the corpus is cached
    relations = [line for line in plan.splitlines() if "InMemoryRelation" in line]
    assert len(relations) == 2, plan
    assert all("extracted_text#" in line for line in relations), relations
    # the fused branch's own scan, plus the cached relation's lineage
    # printed under each reader
    assert plan.count("FileScan parquet") == 3, plan


def _plan_nodes(node) -> list:
    """Every node under ``node`` (itself included) of an optimized
    logical plan, descending into each cached relation's physical plan:
    a cache is a leaf of the logical plan."""
    kids = [node.children().apply(i) for i in range(node.children().size())]
    name = node.getClass().getSimpleName()
    if name == "InMemoryRelation":
        kids.append(node.cachedPlan())
    elif name == "AdaptiveSparkPlanExec":
        kids.append(node.inputPlan())
    return [node, *(n for kid in kids for n in _plan_nodes(kid))]


def test_auto_strategy_size_filter_runs_below_every_python_pass(spark):
    """The auto strategy routes with one size predicate on the source,
    below every MapInArrow: the fused pass never receives a mega
    document, and the staged branch's passes receive only mega
    documents."""
    from dataclasses import replace

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache, run_pipeline
    from llm_aided_ocr_spark.sources.synthetic import pages_dataframe

    pages = pages_dataframe(spark, n_rows=12, seed=42)
    # the largest page's html is ~22 KB, the next ~16 KB: one staged doc
    cfg = PipelineConfig(
        provider="heuristic", mega_doc_chars=20_000, apply_hallucination_filter=False
    )

    def kind(node):
        return node.getClass().getSimpleName().removesuffix("Exec")

    for c, n_passes in ((cfg, 5), (replace(cfg, mega_doc_chars=10**9), 2)):
        result = run_pipeline(pages, c, use_html=True, strategy="auto")
        root = result._jdf.queryExecution().optimizedPlan()
        release_pipeline_cache(result)
        # extraction once per branch, the fused pass, chunker, correction;
        # the walk meets the cached staged input once per reader, so a
        # pass is known by its output attributes
        passes = {
            n.output().toString(): n for n in _plan_nodes(root)
            if kind(n) == "MapInArrow"
        }
        assert len(passes) == n_passes, list(passes)
        for outputs, node in passes.items():
            conds = [
                n.condition().toString() for n in _plan_nodes(node)
                if kind(n) == "Filter" and "length(" in n.condition().toString()
            ]
            assert len(conds) == 1, (outputs, conds)
            assert f"> {c.mega_doc_chars})" in conds[0] or (
                f"<= {c.mega_doc_chars})" in conds[0]
            ), conds
            if "corrected_text" in outputs:  # the fused pass
                assert f"<= {c.mega_doc_chars})" in conds[0], conds


def test_pipeline_python_passes_all_map_in_arrow(spark):
    """Every Python pass of the pipeline crosses the JVM boundary one way:
    the executed plan of an html pipeline with a document on the staged
    path and the hallucination filter on holds no MapInPandas (nor any
    other Python node) — extraction on both branches, the fused pass, the
    chunker, correction and the filter are all MapInArrow."""
    import re

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache, run_pipeline
    from llm_aided_ocr_spark.sources.synthetic import pages_dataframe

    pages = pages_dataframe(spark, n_rows=12, seed=42)
    # the largest page's html is ~22 KB, the next ~16 KB: one staged doc
    cfg = PipelineConfig(
        provider="heuristic", mega_doc_chars=20_000, apply_hallucination_filter=True
    )
    result = run_pipeline(pages, cfg, use_html=True, strategy="auto")
    assert result.count() == 12
    plan = result._jdf.queryExecution().executedPlan().toString()
    release_pipeline_cache(result)
    plan = plan.split("== Initial Plan ==")[0]  # AQE: the executed plan
    nodes = re.findall(r"^[\s:+|-]*(?:\*\(\d+\) )?(\w+)", plan, re.M)
    python = [n for n in nodes if re.search("Pandas|Arrow|Python", n)]
    assert python and set(python) == {"MapInArrow"}, python
    passes = []
    for line in plan.splitlines():
        if "MapInArrow" in line:
            outputs = re.findall(r"(\w+)#\d+", line.rsplit("[", 1)[1])
            passes.append(
                "filter" if "threshold_used" in outputs
                else "fused" if "corrected_text" in outputs
                else "extract" if "extracted_text" in outputs
                else "chunker" if "chunk" in outputs
                else "correct" if "corrected" in outputs
                else line
            )
    assert set(passes) == {"extract", "fused", "chunker", "correct", "filter"}, passes
    assert passes.count("extract") >= 2, passes  # the fused and staged branches
    # one extract node per branch: the staged branch's chunk side and
    # raw-text join side read one cached extract (explain prints it under
    # each reader with the same expression ids; two uncached readers
    # would be two nodes with distinct ids)
    extracts = {
        re.search(r"extracted_text#(\d+)", line.rsplit("[", 1)[1]).group(1)
        for line in plan.splitlines()
        if "MapInArrow" in line and "extracted_text#" in line.rsplit("[", 1)[1]
    }
    assert len(extracts) == 2, extracts


def test_auto_strategy_cache_released_after_action(spark):
    """A mega-free run_pipeline(auto) registers no cache. A run with a
    mega document registers exactly one, its extracted staged input, and
    release_pipeline_cache unpersists it after the terminal action so a
    long-lived session does not accumulate it."""
    from dataclasses import replace

    import __spark_entry__ as e
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import (
        release_pipeline_cache,
        run_pipeline,
    )

    def n_cached() -> int:
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    # the release count is session-wide: start from an empty registry
    release_pipeline_cache(spark.range(0))
    spark.catalog.clearCache()
    base = n_cached()
    pages = e._docs_as_pages(spark, "/root/testdata/sf0.001")
    cfg = PipelineConfig(provider="identity")
    result = run_pipeline(pages, cfg, strategy="auto")
    assert result.count() > 0
    assert n_cached() == base, "a mega-free auto run caches nothing"
    assert release_pipeline_cache(result) == 0

    longest = pages.agg(F.max(F.length("text"))).first()[0]
    result = run_pipeline(
        pages, replace(cfg, mega_doc_chars=longest - 1), strategy="auto"
    )
    assert result.count() > 0
    assert n_cached() == base + 1, "the staged input should be materialized"
    assert release_pipeline_cache(result, blocking=True) == 1
    assert n_cached() == base, "the staged input's cache must be gone after release"
    # idempotent: nothing is left for a second call, from any DataFrame
    assert release_pipeline_cache(result) == 0
    assert release_pipeline_cache(pages) == 0


def test_ccnet_cut_windows_the_aggregated_relation(spark):
    """The Window's input must be the (lang, score) HashAggregate, never
    document rows: in the plan tree the Window node appears ABOVE a
    HashAggregate keyed on (lang, lm_score_r), and the corpus-metadata
    join never broadcasts an O(corpus) side."""
    import __spark_entry__ as e
    from llm_aided_ocr_spark.operators.util import release_pinned

    df = e.queries()["ccnet_buckets"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    release_pinned(df)
    assert "Window" in plan
    win_ix = plan.index("Window")
    below_window = plan[win_ix:]
    agg_ix = below_window.find("HashAggregate(keys=[lang")
    assert agg_ix != -1, "window input is not the (lang, score) aggregate"
    # the id-join of scored x metadata is pinned shuffle-hash
    assert "ShuffledHashJoin [id" in plan


def test_canonical_dedup_uses_struct_min_not_window(spark):
    """The keeper pick is a map-side-combinable min aggregate — the plan
    has NO Window node, carries partial_min through a HashAggregate, and
    the keeper join is pinned to ShuffledHashJoin (corpus_scaled: the
    keeper relation is O(corpus) for near-unique urls)."""
    import __spark_entry__ as e

    plan = _plan(
        e.queries()["canonical_url_dedup"](spark, "/root/testdata/sf0.001")
    )
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "ShuffledHashJoin [canon_url" in plan


def test_bpe_counts_tokenize_distinct_words_only(spark):
    """The merge-walk MapInArrow consumes the output of a distinct-word
    aggregate (schema (w)), never the corpus rows, and the per-doc sum
    joins pre-aggregated (id, w, n) — no per-occurrence join input."""
    from llm_aided_ocr_spark.operators.bpe import bpe_token_counts
    from llm_aided_ocr_spark.operators.util import release_pinned

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = bpe_token_counts(docs, [(0, "e", "r", 1)])
    plan = _plan(df)
    release_pinned(df)
    mp_ix = plan.index("MapInArrow")
    # the MapInArrow block's immediate input chain contains the
    # distinct-word HashAggregate before any corpus scan reappears
    below = plan[mp_ix:]
    agg = below.find("HashAggregate(keys=[w")
    scan = below.find("FileScan")
    assert agg != -1 and agg < scan, "merge walk is not vocab-sized"


def test_top_ngrams_uses_take_ordered_not_global_sort(spark):
    import __spark_entry__ as e

    plan = _plan(e.queries()["top_ngrams"](spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort of the gram relation


def test_salted_spread_gate(spark):
    """The scale-adaptive spread (round 6): the document-branch salted
    repartition fires for an under-split toy input (restoring kernel
    parallelism) but is SKIPPED when the gate cannot prove the input
    under-split — e.g. a branch of a persisted relation — because a
    size-uniform corpus scan needs no extra full-corpus shuffle (guide
    §2.4). Values never depend on the choice; this pins the plan
    shape."""
    from pyspark import StorageLevel

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import _spread_documents

    from pyspark.sql import functions as F

    pages = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(F.col("doc_id").cast("string").alias("url"), "text")
    cfg = PipelineConfig()

    # toy parquet input: under-split -> the salted repartition applies
    spread = _spread_documents(pages, cfg)
    assert "RepartitionByExpression" in spread._jdf.queryExecution().logical().toString()

    # a size-filtered branch of the scan (the auto strategy's branch
    # shape) is still judged on the scan
    spread = _spread_documents(pages.where(F.length("text") > 0), cfg)
    assert "RepartitionByExpression" in spread._jdf.queryExecution().logical().toString()

    # persisted relation: inputFiles() is empty, the gate stays
    # conservative and the plan is returned unchanged
    cached = pages.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        branch = cached.select("url", "text")
        assert _spread_documents(branch, cfg) is branch
    finally:
        cached.unpersist()
