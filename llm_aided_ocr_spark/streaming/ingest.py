"""Structured Streaming surface: incremental corpus ingestion.

The reference has NO streaming surface (one PDF, one batch CLI run —
SURVEY.md §2.8); at corpus scale a crawl lands continuously, and the
batch design cannot express "process only what arrived since the last
run" without rescanning. This module closes that gap Spark-first:

* ``read_pages_stream`` — schema-pinned file-source ``readStream`` over
  the same pages layout the batch pipeline consumes; new parquet files
  are discovered incrementally, ``maxFilesPerTrigger`` bounds micro-batch
  size for backpressure.
* ``correct_pages_stream`` — the SAME stateless kernels as the batch
  fused path (extract → chunk → correct → reassemble inside one
  Arrow pass), so streaming output is byte-identical to a batch run
  over the same files; tested in ``tests/test_streaming.py``.
* ``write_stream_parquet`` — checkpointed file sink (exactly-once per
  micro-batch via the sink's commit log); ``Trigger.AvailableNow`` makes
  a catch-up run process the backlog and exit — the streaming analogue
  of the batch resume path (plans.checkpoint), with the offsets log
  replacing the anti-join.
* ``streaming_dedup_by_key`` — stateful STREAMING exact-dedup: the first
  row per key ever seen across all micro-batches (and restarts — state
  lives in the checkpoint) is emitted, later arrivals are dropped. Built
  on ``applyInPandasWithState``; state per key is one boolean, so the
  state store stays tiny even at 10^12 keys of history per partition
  budget.
* ``windowed_event_counts`` — event-time windowed counters with a
  watermark: the streaming form of the batch ``events_counters`` query;
  late data inside the watermark still lands in its window, older data
  is dropped deterministically.

Scale notes: every operator here is either stateless (extract/correct —
narrow, no shuffle) or keyed-state with bounded per-key payload (dedup:
1 bool; windows: one row per (window, type)); no stream-stream joins, no
unbounded state.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from llm_aided_ocr_spark.config import PipelineConfig

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def read_pages_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """File-source readStream over the pages layout (schema-pinned —
    streaming sources cannot infer schemas, and pinning keeps a malformed
    drop from silently widening a column at 100 TB)."""
    reader = spark.readStream.schema(PAGES_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def read_events_stream(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def correct_pages_stream(
    pages_stream: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
    use_html: bool = False,
) -> DataFrame:
    """The batch fused path applied to a streaming DataFrame: language
    gate → extraction → chunk+correct+reassemble in one Arrow pass.
    All stages are stateless and document-local, so each micro-batch is
    byte-identical to a batch run over the same rows — no repartition
    (the file source's split granularity is the parallelism; a shuffle
    per micro-batch would only add latency)."""
    from llm_aided_ocr_spark.operators.extract import extract_text
    from llm_aided_ocr_spark.operators.filters import apply_page_filter, language_gate
    from llm_aided_ocr_spark.plans.pipeline import _fused_correct

    df = pages_stream
    if cfg.check_if_valid_english:
        df = language_gate(df)
    out = extract_text(df, use_html=use_html)
    if cfg.apply_page_filter:
        out = apply_page_filter(out)
    return _fused_correct(out, cfg)


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    output_mode: str = "append",
):
    """Checkpointed parquet sink. ``available_now=True`` processes the
    current backlog then stops — the catch-up/cron form; ``False`` runs
    continuously. Returns the started StreamingQuery (caller awaits)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_two_sinks(
    corrected_stream: DataFrame,
    raw_path: str,
    corrected_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """The CLI's two-sink output contract (reference llm_aided_ocr.py:656,
    665-667: raw OCR text AND corrected text are always written together)
    in streaming form: one ``foreachBatch`` writer emits BOTH tables per
    micro-batch using the batch writers from ``sources.io``, so streaming
    output is byte- and layout-identical to a batch run over the same
    rows (asserted in tests/test_streaming.py).

    Exactly-once note: the single-sink parquet writer gets exactly-once
    from the sink's commit log; ``foreachBatch`` with two appends is
    at-least-once on a crash BETWEEN the two writes of one batch. The
    offsets log still prevents reprocessing of committed batches, and on
    a transactional table format (Iceberg/Delta) both appends join one
    commit per sink keyed by ``batch_id``, restoring exactly-once — this
    parquet form is the sandbox stand-in for that."""
    from llm_aided_ocr_spark.sources.io import write_corrected_docs, write_raw_pages

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        write_raw_pages(batch_df, raw_path, mode="append")
        write_corrected_docs(batch_df, corrected_path, mode="append")

    writer = (
        corrected_stream.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_near_dedup(
    pages_stream: DataFrame,
    out_path: str,
    index_path: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "url",
    available_now: bool = True,
    **minhash_kwargs,
):
    """Streaming corpus NEAR-dedup: every micro-batch runs
    ``near_dedup_incremental`` against the accumulated minhash signature
    index (a parquet table at ``index_path``); surviving rows append to
    ``out_path`` and their signatures append to the index, so the next
    micro-batch — or the next run sharing the checkpoint — dedups
    against everything ever kept. This is the streaming form of the
    batch FineWeb recipe: state per historical document is ONE signature
    row (8-byte ids + ``num_perm`` longs), not text, and each batch
    moves O(batch + matched buckets), never O(history).

    ``minhash_kwargs`` (num_perm/n/seed/hash_family/...) MUST be
    identical across every run that shares ``index_path`` — signatures
    from different parameter sets do not compare.

    Exactly-once note (same honest caveat as
    :func:`write_stream_two_sinks`): the two appends per batch are
    at-least-once on a crash between them. Output is written BEFORE the
    index on purpose — a replayed batch then re-drops against its own
    already-indexed signatures and duplicates at worst the OUTPUT rows
    (reconcilable downstream), whereas index-first would silently DROP
    the batch's documents forever. On a transactional table format both
    appends join one commit keyed by ``batch_id``."""
    from llm_aided_ocr_spark.operators.dedup import apply_incremental_dedup

    def _emit(batch_df: DataFrame, batch_id: int) -> None:
        apply_incremental_dedup(
            batch_df, out_path, index_path, threshold=threshold,
            text_col=text_col, id_col=id_col, **minhash_kwargs,
        )

    writer = (
        pages_stream.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# ---------------------------------------------------------------------------
# Stateful streaming dedup
# ---------------------------------------------------------------------------

def streaming_dedup_by_key(
    df: DataFrame, key_col: str = "url"
) -> DataFrame:
    """First-arrival-wins exact dedup across the LIFETIME of the stream:
    a key seen in any earlier micro-batch (or an earlier run sharing the
    checkpoint — keyed state is durable) is dropped. Within one batch the
    first row in arrival order wins.

    ``applyInPandasWithState`` keeps one boolean per key in the state
    store; output mode is append (each input row is emitted at most once,
    immediately). This is the package's one pandas pass: pyspark 4.1 has
    no Arrow form of ``applyInPandasWithState``, and ``transformWithState``
    is a different state API, so every other Python pass goes through
    ``operators.util.map_arrow`` and this one stays on pandas — executors
    need pandas only for it."""
    schema = df.schema

    def _dedup(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            for _ in pdfs:  # drain the iterator; key already emitted
                pass
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf) > 0:
                first = pdf.iloc[[0]]
        state.update((True,))
        if first is not None:
            yield first

    return df.groupBy(F.col(key_col)).applyInPandasWithState(
        _dedup,
        outputStructType=schema,
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Watermarked event-time counters
# ---------------------------------------------------------------------------

def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "10 minutes",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Streaming form of the batch ``events_counters`` query: per
    (event-time window, event_type) row counts and value sums. The
    watermark bounds state: a window is emitted (in append mode) once the
    watermark passes its end, and events later than the delay are
    dropped deterministically instead of growing state forever."""
    return (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            F.col(type_col),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("value_sum_r"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col(type_col),
            "n_events",
            "value_sum_r",
        )
    )
