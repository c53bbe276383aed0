"""Token-budget sequence packing — the training-data step after curation:
assemble cleaned documents into fixed-token-budget training sequences
(bins). Beyond the reference's surface (its T3/T4 ops count and chunk ONE
document, llm_aided_ocr.py:185-203 / :272-314); a pretraining pipeline
needs the corpus-level converse: many documents per sequence.

Design for 10^12 docs: global greedy packing is inherently sequential, so
packing is deterministic-stream-local — each document routes to stream
``id % num_streams``, streams pack independently (orderd by id, greedy
first-fit-in-order), and the ONLY shuffle is the stream partitioning.
Waste vs a global packer is bounded by one partial bin per stream, i.e.
``num_streams * budget`` tokens corpus-wide — noise at scale — while
every stream packs in parallel. The per-stream loop is O(docs/stream)
integer arithmetic inside one Arrow batch group; choose ``num_streams``
≈ corpus_docs / 10^6 to bound group size (and raise shuffle width to
match).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import apply_arrow


def pack_sequences(
    df: DataFrame,
    budget: int,
    token_col: Column | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_streams: int = 8,
    split_col: str | None = None,
) -> DataFrame:
    """``(doc_id, stream, bin_ix, n_tokens)`` — greedy in-order packing.
    With ``split_col`` (e.g. the ``hash_split`` output) the packing
    groups are ``(split, stream)`` instead of ``stream`` — documents of
    different splits never share a training sequence — and the output
    carries the split column through.

    Semantics (exactly mirrored by the driver's recursive-CTE oracle):
    within a stream, docs are visited in ascending id (numeric order for
    numeric ids, lexicographic for string ids like the pipeline's url); a
    doc joins the current bin unless ``fill + t > budget``, in which case
    the next bin opens with it. A document larger than the budget
    therefore occupies a bin alone. ``token_col`` defaults to the native
    T3 approximation over ``text_col``
    (functions.tokens.approx_tokens_col).

    Stream routing follows the id type: numeric ids keep the original
    ``id % num_streams`` (oracle-parity with the driver's recursive CTE);
    any other type routes via ``pmod(xxhash64(id), num_streams)`` — under
    ANSI mode a string ``%`` would throw, and a hash spreads url-keyed
    corpora evenly regardless of prefix skew. The output ``doc_id``
    column keeps the input id type (same id-type-following contract as
    minhash/simhash/repetition_metrics).
    """
    from pyspark.sql.types import NumericType

    if token_col is None:
        from llm_aided_ocr_spark.functions.tokens import approx_tokens_col

        token_col = approx_tokens_col(F.coalesce(F.col(text_col), F.lit("")))

    id_type = df.schema[id_col].dataType
    if isinstance(id_type, NumericType):
        stream_expr = (F.col(id_col) % F.lit(num_streams)).cast("int")
    else:
        stream_expr = F.pmod(
            F.xxhash64(F.col(id_col)), F.lit(num_streams)
        ).cast("int")

    sel = [F.col(id_col).alias("doc_id")]
    group = ["stream"]
    split_ddl = ""
    if split_col is not None:
        sel.append(F.col(split_col).alias("split"))
        group = ["split", "stream"]
        split_ddl = f"split {df.schema[split_col].dataType.simpleString()}, "
    prepped = df.select(
        *sel, stream_expr.alias("stream"), token_col.cast("int").alias("n_tokens")
    )
    out_schema = (
        f"doc_id {id_type.simpleString()}, {split_ddl}"
        "stream int, bin_ix bigint, n_tokens int"
    )

    def _pack(*cols):
        ids, tokens = cols[0], cols[-1]
        # null ids sort last, as pandas' sort_values placed them
        order = sorted(range(len(ids)), key=lambda i: (ids[i] is None, ids[i]))
        bins, b, fill = [], 0, 0
        for j, i in enumerate(order):
            if j and fill + tokens[i] > budget:
                b, fill = b + 1, 0
            fill += tokens[i]
            bins.append(b)
        ordered = [[c[i] for i in order] for c in cols]
        return (*ordered[:-1], bins, ordered[-1])

    return apply_arrow(prepped, group, _pack, out_schema)


def packing_stats(packed: DataFrame, budget: int) -> DataFrame:
    """Per-stream packing quality: bins used, mean fill ratio, token
    totals — the knob-tuning readout (budget vs document length
    distribution)."""
    per_bin = packed.groupBy("stream", "bin_ix").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return per_bin.groupBy("stream").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("bin_tokens").alias("total_tokens"),
        F.round(F.avg(F.col("bin_tokens") / F.lit(float(budget))), 6).alias(
            "mean_fill_ratio"
        ),
    )
