"""Training-shard assembly — the sink after curation.

``curate()`` ends at a split, deduplicated corpus; a pretraining run
consumes fixed-token-budget SEQUENCES laid out as a deterministic set of
shard files. This plan composes the repo's own oracle-checked pieces —
:func:`~llm_aided_ocr_spark.operators.packing.pack_sequences` (greedy
per-(split, stream) bin fill) and the portable md5-52 hash family — into
that final deliverable: every document gets a ``(split, stream, bin_ix,
shard)`` assignment that is a pure function of document ids and token
counts (identical on any cluster layout, any partitioning, any engine —
the driver's DuckDB oracle replays the whole derivation), and the writer
materializes one directory per ``(split, shard)`` with sequences stored
contiguously.

Scale shape: the assignment relation is narrow (~40-byte rows) and its
only exchanges are pack's ``(split, stream)`` grouping and the final
manifest aggregation (both map-side combinable); the write joins it back
to the corpus by id with the ``corpus_scaled`` shuffle-hash discipline
(an O(corpus) relation must never be a broadcast build side), so
document text moves through exactly one exchange on its way to the shard
files — the same budget every rebuild operator in this repo holds to.
No reference analogue: the reference (llm_aided_ocr.py) is a
single-document pipeline and has no corpus/training-prep stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _shard_col(
    split: Column, stream: Column, bin_ix: Column, num_shards: int, seed: int
) -> Column:
    """Shard id in ``[0, num_shards)`` keyed on the SEQUENCE identity
    ``(split, stream, bin_ix)`` — whole bins land in one shard, so a
    sequence is never torn across files. md5-52 (the repo's portable
    family) rather than xxhash64 so the driver oracle recomputes the
    routing exactly; the value is non-negative by construction."""
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col

    key = F.concat_ws(
        ":", F.lit(str(seed)), split.cast("string"),
        stream.cast("string"), bin_ix.cast("string"),
    )
    return F.pmod(_word_hash_col(key, "md5_52"), F.lit(num_shards)).cast("int")


def shard_assignments(
    df: DataFrame,
    budget: int,
    num_shards: int,
    text_col: str = "corrected_text",
    id_col: str = "url",
    split_col: str = "split",
    num_streams: int = 8,
    shard_seed: int = 7,
) -> DataFrame:
    """``(doc_id, split, stream, bin_ix, n_tokens, shard)`` — the full
    deterministic document→sequence→shard routing for a split corpus
    (e.g. a :func:`~llm_aided_ocr_spark.plans.curate.curate` result)."""
    from llm_aided_ocr_spark.operators.packing import pack_sequences

    packed = pack_sequences(
        df, budget, text_col=text_col, id_col=id_col,
        num_streams=num_streams, split_col=split_col,
    )
    return packed.withColumn(
        "shard",
        _shard_col(
            F.col("split"), F.col("stream"), F.col("bin_ix"),
            num_shards, shard_seed,
        ),
    )


def shard_manifest(assignments: DataFrame) -> DataFrame:
    """``(split, shard, n_docs, n_seqs, total_tokens)`` — the release
    manifest. Two-level aggregation so both exchanges carry combinable
    partials: per-sequence rows first (docs and tokens per bin), then
    per-shard rollup counting those sequence rows — never a
    ``countDistinct`` over raw document rows."""
    per_seq = assignments.groupBy("split", "shard", "stream", "bin_ix").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )
    return per_seq.groupBy("split", "shard").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
        F.sum("seq_tokens").cast("bigint").alias("total_tokens"),
    )


def epoch_order(
    assignments: DataFrame, epoch: int, split: str = "train"
) -> DataFrame:
    """``(split, stream, bin_ix, shard, epoch_pos)`` — a deterministic
    per-epoch permutation of one split's training SEQUENCES: position =
    rank of the md5-52 portable hash of ``epoch:split:stream:bin_ix``
    (the shard-routing hash family, so the driver's DuckDB oracle
    replays the permutation exactly). Every
    epoch visits every sequence exactly once in an order that is a pure
    function of (epoch, sequence identity) — reproducible across
    cluster layouts, resumable mid-epoch from a position checkpoint, and
    different every epoch (the shuffle a training loader needs without
    materializing a permuted copy of the corpus).

    Scale shape: operates on the SEQUENCE relation (one row per packed
    bin — corpus/budget rows, ~40 bytes each), never documents — and the
    rank is the TWO-PHASE distributed rank
    (:func:`~llm_aided_ocr_spark.operators.util.global_row_number`), not
    a global window. Identical output to a global ``row_number`` but
    every stage is embarrassingly parallel: no
    SinglePartition exchange anywhere (plan-asserted in
    tests/test_packing.py). The only driver action is the bounded
    per-partition count collect (``num_partitions`` rows, ≤ shuffle
    partitions). At 10^10 sequences the old no-partition window pushed
    the whole relation through one reducer; this shape never does."""
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col
    from llm_aided_ocr_spark.operators.util import global_row_number

    seqs = (
        assignments.filter(F.col("split") == split)
        .select("split", "stream", "bin_ix", "shard")
        .distinct()
    )
    key = _word_hash_col(
        F.concat_ws(
            ":", F.lit(str(epoch)), F.col("split"),
            F.col("stream").cast("string"), F.col("bin_ix").cast("string"),
        ),
        "md5_52",
    )
    ranked, _ = global_row_number(
        seqs.withColumn("_ek", key), ["_ek", "stream", "bin_ix"],
        rn_col="epoch_pos",
    )
    return ranked.select("split", "stream", "bin_ix", "shard", "epoch_pos")


def write_training_shards(
    curated: DataFrame,
    out_dir: str,
    budget: int = 2048,
    num_shards: int = 64,
    text_col: str = "corrected_text",
    id_col: str = "url",
    split_col: str = "split",
    num_streams: int = 8,
    shard_seed: int = 7,
    compression: str = "zstd",
    output_format: str = "parquet",
) -> DataFrame:
    """Write the curated corpus as training shards and return the
    manifest (also persisted under ``<out_dir>/_manifest``).
    ``output_format="json"`` writes gzip JSONL shards instead — the
    interchange layout most training readers ingest directly (one JSON
    object per line; same directory structure and in-file ordering).

    Layout: ``<out_dir>/split=<s>/shard=<k>/*.parquet`` with rows sorted
    by ``(stream, bin_ix, doc id)`` inside each task, so a reader streams
    whole sequences contiguously (assemble a sequence by concatenating a
    bin's documents in id order — the same in-order contract the packer
    filled it with). Columns: the id, ``stream``, ``bin_ix``,
    ``n_tokens``, and the text.

    The routing join streams the corpus against the shuffle-hash-built
    assignment relation (``corpus_scaled`` — O(corpus) rows, never
    broadcast); the repartition on ``(split, shard)`` is the one exchange
    the text crosses.
    """
    from llm_aided_ocr_spark.operators.util import corpus_scaled

    asg = shard_assignments(
        curated, budget, num_shards, text_col=text_col, id_col=id_col,
        split_col=split_col, num_streams=num_streams, shard_seed=shard_seed,
    )
    routed = curated.drop(split_col).join(
        corpus_scaled(asg), curated[id_col] == asg["doc_id"]
    )
    shard_out = routed.select(
        F.col(id_col), "split", "shard", "stream", "bin_ix", "n_tokens",
        F.col(text_col),
    )
    if output_format not in ("parquet", "json"):
        raise ValueError(f"unknown output_format: {output_format!r}")
    writer = (
        shard_out.repartition("split", "shard")
        .sortWithinPartitions("split", "shard", "stream", "bin_ix", id_col)
        .write.mode("overwrite")
        .option(
            "compression",
            "gzip" if output_format == "json" else compression,
        )
        .partitionBy("split", "shard")
    )
    if output_format == "json":
        writer.json(out_dir)
    else:
        writer.parquet(out_dir)
    manifest = shard_manifest(asg)
    (
        manifest.coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{out_dir.rstrip('/')}/_manifest")
    )
    return manifest
