"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import tempfile
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore
from llm_aided_ocr_spark.plans.pipeline import run_pipeline
from llm_aided_ocr_spark.sources.synthetic import pages_dataframe


def test_sequential_context_actually_flows(spark):
    """The sequential path must feed each chunk the previous PROCESSED
    chunk's tail (reference llm_aided_ocr.py:508,:519-523)."""
    from llm_aided_ocr_spark.operators.chunker import chunk_documents
    from llm_aided_ocr_spark.operators.correct import correct_chunks_sequential

    big = "\n\n".join("para %03d " % i + "x" * 3000 for i in range(8))  # ~4 chunks
    df = spark.createDataFrame([("u", big)], "url string, extracted_text string")
    chunks = chunk_documents(df)

    def ctx_provider(chunk, prev_context, _md, _sup):
        return f"<CTX:{prev_context[-12:]}>" + chunk

    rows = sorted(
        correct_chunks_sequential(chunks, context_provider=ctx_provider).collect(),
        key=lambda r: r["chunk_ix"],
    )
    assert len(rows) >= 3
    assert rows[0]["corrected"].startswith("<CTX:>")  # first chunk: empty context
    for prev, cur in zip(rows, rows[1:]):
        expected_tail = prev["corrected"][-1000:][-12:]
        assert cur["corrected"].startswith(f"<CTX:{expected_tail}>"), cur["chunk_ix"]


def test_staged_resume_no_duplicate_checkpoint_rows(spark):
    """Resume must not re-correct historical chunks nor append duplicates
    into the corrected_chunks checkpoint."""
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="rf")
        cfg = PipelineConfig(provider="heuristic", checkpointing=True)
        full = pages_dataframe(spark, n_rows=10, include_golden=False).cache()

        run_pipeline(full.limit(5), cfg, store=store, strategy="staged").count()
        first = store.read(spark, "corrected_chunks")
        n1 = first.count()

        run_pipeline(full, cfg, store=store, strategy="staged").count()
        committed = store.read(spark, "corrected_chunks")
        keys = committed.select("url", "chunk_ix")
        assert keys.count() == keys.distinct().count(), (
            "corrected_chunks checkpoint contains duplicated rows after resume"
        )
        assert committed.count() > n1  # increment actually appended


def test_pipeline_hallucination_filter_config(spark):
    orig = "The pension plan has assets. Returns were strong this year."
    df = spark.createDataFrame(
        [("u0", None, None, orig, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = PipelineConfig(
        provider="identity",
        apply_hallucination_filter=True,
        hallucination_similarity_threshold=0.4,
    )
    out = run_pipeline(df, cfg, strategy="fused").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_sentences"] == 2 and r["n_kept"] == 2
    assert r["threshold_used"] == 0.4

    cfg_test = PipelineConfig(
        provider="identity",
        apply_hallucination_filter=True,
        test_filtering_hallucinations=True,
    )
    r2 = run_pipeline(df, cfg_test, strategy="fused").first()
    assert r2["corrected_text"] == r["corrected_text"]  # test mode: unchanged text
    assert r2["n_sentences"] == 2

    # one filter, two callers: the pipeline's filter step equals the
    # standalone operator over the unfiltered result, per url, at fixed
    # and adaptive thresholds
    from llm_aided_ocr_spark.operators.filters import hallucination_filter

    pages = pages_dataframe(spark, n_rows=16, seed=3)
    pages = pages.filter(F.length("text") < 3000)
    stats = ["n_sentences", "n_kept", "min_score", "threshold_used"]
    for threshold, adaptive in ((0.4, False), (0.97, False), (0.4, True)):
        cfg = PipelineConfig(
            provider="heuristic",
            hallucination_similarity_threshold=threshold,
            adaptive_hallucination_threshold=adaptive,
        )
        plain = run_pipeline(pages, cfg, strategy="auto")
        alone = {
            r["url"]: (r["filtered_text"], *(r[c] for c in stats))
            for r in hallucination_filter(plain, threshold, adaptive=adaptive).collect()
        }
        filtered = run_pipeline(
            pages, replace(cfg, apply_hallucination_filter=True), strategy="auto"
        )
        piped = {
            r["url"]: (r["corrected_text"], *(r[c] for c in stats))
            for r in filtered.collect()
        }
        assert piped == alone and len(alone) >= 4, (threshold, adaptive)
        if threshold > 0.9:  # the check must see sentences dropped
            assert any(v[2] < v[1] for v in alone.values())


def test_validate_unique_urls_raises(spark):
    df = spark.createDataFrame(
        [("u", None, None, "a.", "en"), ("u", None, None, "b.", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    with pytest.raises(ValueError, match="distinct urls"):
        run_pipeline(df, PipelineConfig(), strategy="fused", validate_unique_urls=True)


def test_parse_quality_multi_colon():
    from llm_aided_ocr_spark.kernels import parse_quality_response

    score, expl = parse_quality_response(
        "SCORE: 95: near-perfect\nEXPLANATION: solid: really"
    )
    assert score == 95
    assert expl == "solid: really"
    assert parse_quality_response("SCORE:") == (None, None)


def test_lsh_band_config_validation(spark):
    from llm_aided_ocr_spark.operators.dedup import minhash_dedup_pairs

    df = spark.createDataFrame([(0, "a b c")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="num_perm"):
        minhash_dedup_pairs(df, num_perm=32, bands=16, rows_per_band=4)


def test_auto_extracts_html_once_per_row(spark):
    """auto strategy must not run the HTML extraction twice per row."""
    from llm_aided_ocr_spark import kernels

    calls = spark.sparkContext.accumulator(0)
    original = kernels.extract_main_text

    pages = pages_dataframe(spark, n_rows=12, include_golden=False)
    n = pages.count()

    import llm_aided_ocr_spark.kernels as K

    def counting(html_bytes):
        calls.add(1)
        return original(html_bytes)

    K.extract_main_text = counting
    try:
        # operators.extract imported the symbol by reference at module load;
        # patch there too
        import llm_aided_ocr_spark.operators.extract as ext

        saved = ext.extract_main_text
        ext.extract_main_text = counting
        try:
            run_pipeline(
                pages, PipelineConfig(provider="identity"), use_html=True,
                strategy="auto",
            ).count()
        finally:
            ext.extract_main_text = saved
    finally:
        K.extract_main_text = original
    assert calls.value == n, f"extraction ran {calls.value}x for {n} rows"


def test_plan_node_walk_compat(spark, tmp_path):
    """Version-pin the private-API plan walk ensure_min_parallelism's gate
    rests on: if a Spark upgrade changes queryExecution().logical() /
    TreeNode.children() layout, THIS fails loudly (the production caller
    degrades failure-safe, which would otherwise silently disable the
    gate). Also pins the structural (not substring) matching: a column
    literally NAMED "Join" must not trip the gate."""
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.util import (
        _logical_plan_node_names,
        ensure_min_parallelism,
    )

    df = spark.range(100).withColumnRenamed("id", "k")
    assert "Aggregate" in _logical_plan_node_names(df.groupBy("k").count())
    assert "Sort" in _logical_plan_node_names(df.orderBy("k"))
    joined = df.join(df.withColumnRenamed("k", "j"), df["k"] == F.col("j"))
    assert "Join" in _logical_plan_node_names(joined)
    reparted = df.repartition(7)
    assert _logical_plan_node_names(reparted) & {
        "Repartition", "RepartitionByExpression"
    }

    # substring false-positive guard: a scan projecting a column named
    # "Join" has no Join node, so the gate must still consider spreading
    p = str(tmp_path / "t.parquet")
    spark.range(50).select(
        F.col("id"), F.lit("x").alias("Join"), F.lit("y").alias("Window")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    names = _logical_plan_node_names(scan.select("Join", "Window"))
    assert not names & {"Join", "Window", "Aggregate", "Sort"}
    out = ensure_min_parallelism(scan.select("Join", "Window"))
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism // 2
