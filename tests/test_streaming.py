"""Structured Streaming surface tests: streaming==batch byte identity,
stateful dedup across restarts, watermarked windowed counters."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.sources.synthetic import pages_dataframe
from llm_aided_ocr_spark.streaming import (
    correct_pages_stream,
    read_events_stream,
    read_pages_stream,
    streaming_dedup_by_key,
    windowed_event_counts,
    write_stream_parquet,
)


def _await(query, timeout=120):
    assert query.awaitTermination(timeout), "streaming query did not finish"


def test_streaming_correction_matches_batch(spark):
    """availableNow over a two-file backlog produces byte-identical
    corrected text to the batch fused pipeline over the same rows."""
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        pages = pages_dataframe(spark, n_rows=14, include_golden=True).cache()
        pages.limit(7).write.parquet(src)
        pages.subtract(pages.limit(7)).write.mode("append").parquet(src)

        cfg = PipelineConfig(provider="heuristic")
        stream = correct_pages_stream(
            read_pages_stream(spark, src, max_files_per_trigger=1), cfg
        )
        _await(write_stream_parquet(stream, out, ckpt))

        got = {r["url"]: r["corrected_text"] for r in spark.read.parquet(out).collect()}
        want = {
            r["url"]: r["corrected_text"]
            for r in run_pipeline(pages, cfg, strategy="fused").collect()
        }
        assert got == want


def test_streaming_correction_applies_hallucination_filter(spark, tmp_path):
    """With the F3 filter on, the stream's rows equal the batch fused
    pipeline's: same columns (the filter's verdict columns included) and
    the same filtered text."""
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    pages = pages_dataframe(spark, n_rows=10, include_golden=False)
    pages.write.parquet(src)
    cfg = PipelineConfig(
        provider="heuristic",
        apply_hallucination_filter=True,
        hallucination_similarity_threshold=0.97,
    )
    stream = correct_pages_stream(read_pages_stream(spark, src), cfg)
    _await(write_stream_parquet(stream, out, ckpt))

    want = run_pipeline(pages, cfg, strategy="fused")
    got = spark.read.parquet(out)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(want.columns)
    rows = lambda df: sorted(tuple(r) for r in df.select(*cols).collect())  # noqa: E731
    assert rows(got) == rows(want)
    assert any(r["n_kept"] < r["n_sentences"] for r in want.collect())


def test_streaming_dedup_state_survives_restart(spark):
    """First-arrival-wins dedup: keys seen in run 1 are dropped by run 2
    (keyed state lives in the checkpoint, the restart contract)."""
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")

        rows_a = [(f"u{i}", f"text {i}") for i in range(5)]
        spark.createDataFrame(rows_a, "url string, payload string").write.parquet(src)
        deduped = streaming_dedup_by_key(
            spark.readStream.schema("url string, payload string").parquet(src),
            key_col="url",
        )
        _await(write_stream_parquet(deduped, out, ckpt))
        assert spark.read.parquet(out).count() == 5

        # second drop: urls u3..u7 — u3/u4 are history, only u5..u7 emit
        rows_b = [(f"u{i}", f"text {i} again") for i in range(3, 8)]
        spark.createDataFrame(rows_b, "url string, payload string").write.mode(
            "append"
        ).parquet(src)
        deduped2 = streaming_dedup_by_key(
            spark.readStream.schema("url string, payload string").parquet(src),
            key_col="url",
        )
        _await(write_stream_parquet(deduped2, out, ckpt))

        final = spark.read.parquet(out)
        urls = [r["url"] for r in final.collect()]
        assert sorted(urls) == [f"u{i}" for i in range(8)]
        assert len(urls) == len(set(urls)), "duplicate emitted across restarts"
        # first-arrival wins: u3's payload is from run 1, not 'again'
        payloads = {r["url"]: r["payload"] for r in final.collect()}
        assert payloads["u3"] == "text 3"


def test_windowed_event_counts_watermark(spark):
    """Watermarked windowed counters: every window the watermark passed is
    emitted exactly once and matches the batch aggregation; only the tail
    inside the watermark delay may be withheld."""
    events_path = "/root/testdata/sf0.001/events.parquet"
    if not os.path.exists(events_path):
        pytest.skip("driver testdata absent")

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        events = spark.read.parquet(events_path)
        events.write.parquet(src)

        counts = windowed_event_counts(
            read_events_stream(spark, src),
            window_duration="1 hour",
            watermark_delay="10 minutes",
        )
        _await(write_stream_parquet(counts, out, ckpt))

        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], r["value_sum_r"])
            for r in spark.read.parquet(out).collect()
        }
        batch = (
            events.groupBy(
                F.window("ts", "1 hour").alias("w"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 6).alias("v"),
            )
            .select(F.col("w.start").alias("ws"), "event_type", "n", "v")
        )
        want = {(r["ws"], r["event_type"]): (r["n"], r["v"]) for r in batch.collect()}
        max_ts = events.agg(F.max("ts")).first()[0]

        assert got, "no windows emitted"
        for key, val in got.items():
            assert want[key] == val, key
        # everything strictly older than the final watermark must be present
        import datetime

        cutoff = max_ts - datetime.timedelta(minutes=10, hours=1)
        for (ws, et), val in want.items():
            if ws < cutoff:
                assert (ws, et) in got, (ws, et)


def test_streaming_two_sinks_match_batch(spark):
    """The streaming two-sink writer (foreachBatch -> write_raw_pages +
    write_corrected_docs per micro-batch) must byte-match a batch run's
    two-sink output over the same rows — the CLI output contract held in
    streaming form."""
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline
    from llm_aided_ocr_spark.sources.io import write_corrected_docs, write_raw_pages
    from llm_aided_ocr_spark.streaming import write_stream_two_sinks

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        ckpt = os.path.join(tmp, "ckpt")
        pages = pages_dataframe(spark, n_rows=12, include_golden=True).cache()
        pages.limit(6).write.parquet(src)
        pages.subtract(pages.limit(6)).write.mode("append").parquet(src)

        cfg = PipelineConfig(provider="heuristic")
        stream = correct_pages_stream(
            read_pages_stream(spark, src, max_files_per_trigger=1), cfg
        )
        _await(
            write_stream_two_sinks(
                stream,
                os.path.join(tmp, "s_raw"),
                os.path.join(tmp, "s_corr"),
                ckpt,
            )
        )

        batch = run_pipeline(pages, cfg, strategy="fused")
        write_raw_pages(batch, os.path.join(tmp, "b_raw"))
        write_corrected_docs(batch, os.path.join(tmp, "b_corr"))

        def snap(path, col):
            return {
                r["url"]: r[col] for r in spark.read.parquet(path).collect()
            }

        assert snap(os.path.join(tmp, "s_raw"), "raw_text") == snap(
            os.path.join(tmp, "b_raw"), "raw_text"
        )
        s_corr = snap(os.path.join(tmp, "s_corr"), "corrected_text")
        b_corr = snap(os.path.join(tmp, "b_corr"), "corrected_text")
        assert s_corr == b_corr and len(s_corr) == 12
        # layout parity: both sinks expose the same columns as batch
        assert set(spark.read.parquet(os.path.join(tmp, "s_corr")).columns) == set(
            spark.read.parquet(os.path.join(tmp, "b_corr")).columns
        )


def test_streaming_near_dedup_accumulates_index(spark):
    """Micro-batch near-dedup against the growing signature index: a
    batch-2 near-copy of a batch-1 document is dropped, batch-2 unique
    content survives, and within-batch near-dups resolve to the min-id
    keeper. The index holds one signature row per KEPT document."""
    from llm_aided_ocr_spark.streaming.ingest import write_stream_near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away home tonight"
    )
    uniq = "brand new unique content nobody has ever written before in any corpus"
    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        out = os.path.join(tmp, "out")
        idx = os.path.join(tmp, "index")
        ckpt = os.path.join(tmp, "ckpt")
        schema = "url string, text string"

        # batch 1
        spark.createDataFrame(
            [("a1", base), ("a2", "totally different first-batch words here")],
            schema,
        ).write.parquet(src)
        _await(
            write_stream_near_dedup(
                spark.readStream.schema(schema).parquet(src),
                out, idx, ckpt, threshold=0.5,
            )
        )
        assert sorted(r.url for r in spark.read.parquet(out).collect()) == ["a1", "a2"]

        # batch 2: near-dup of a1, a unique doc, and a within-batch pair
        spark.createDataFrame(
            [
                ("b1", base + " extra"),
                ("b2", uniq),
                ("b3", uniq + " today"),
            ],
            schema,
        ).write.mode("append").parquet(src)
        _await(
            write_stream_near_dedup(
                spark.readStream.schema(schema).parquet(src),
                out, idx, ckpt, threshold=0.5,
            )
        )
        kept = sorted(r.url for r in spark.read.parquet(out).collect())
        assert kept == ["a1", "a2", "b2"], kept
        # index: one signature per kept doc
        assert sorted(r.id for r in spark.read.parquet(idx).collect()) == kept


def test_streaming_annotate_matches_batch(spark):
    """annotate() is a pure native projection, so the SAME call works
    unchanged on a stream — per-doc attributes from availableNow equal
    the batch result row-for-row (the tag-as-you-ingest path)."""
    from llm_aided_ocr_spark.plans.curate import annotate

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        out = os.path.join(tmp, "out")
        ckpt = os.path.join(tmp, "ckpt")
        pages = pages_dataframe(spark, n_rows=10, include_golden=False).cache()
        pages.write.parquet(src)

        tagged = annotate(
            read_pages_stream(spark, src),
            blocked_domains=("example-3.test",),
        )
        assert tagged.isStreaming
        _await(write_stream_parquet(tagged, out, ckpt))

        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        want = sorted(
            map(tuple, annotate(pages, blocked_domains=("example-3.test",)).collect())
        )
        assert got == want and got


def test_streaming_content_blocks_and_meta_match_batch(spark):
    """content_blocks / meta_properties / heading_outline are stateless
    native projections, so the SAME calls work unchanged on a stream —
    extraction-side signals can be computed as pages are ingested."""
    from llm_aided_ocr_spark.operators.extract import (
        content_blocks,
        heading_outline,
        meta_properties,
    )
    from llm_aided_ocr_spark.streaming.ingest import (
        read_pages_stream,
        write_stream_parquet,
    )

    with tempfile.TemporaryDirectory() as tmp:
        src = os.path.join(tmp, "in")
        pages = pages_dataframe(spark, n_rows=8, include_golden=False)
        html = F.concat(
            F.lit('<html><head><meta property="og:title" content="t '),
            F.col("url"), F.lit('"></head><body><h1>H</h1><div>'),
            F.lit('<a href="/x">go</a> some words here</div><p>'),
            F.col("text"), F.lit("</p></body></html>"),
        ).cast("binary")
        pages.withColumn("html", html).write.parquet(src)
        batch = spark.read.parquet(src)

        for ix, op in enumerate((
            lambda d: content_blocks(d),
            lambda d: meta_properties(d, keys=["og:title"]),
            lambda d: heading_outline(d),
        )):
            out = os.path.join(tmp, f"out{ix}")
            ckpt = os.path.join(tmp, f"ckpt{ix}")
            res = op(read_pages_stream(spark, src))
            assert res.isStreaming
            _await(write_stream_parquet(res, out, ckpt))
            got = sorted(map(tuple, spark.read.parquet(out).collect()))
            want = sorted(map(tuple, op(batch).collect()))
            assert got == want and got
