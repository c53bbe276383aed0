"""Crawl-snapshot comparison — what changed between two crawls.

Common Crawl ships monthly snapshots; an incremental curation pipeline
wants the delta, not the union: pages that appeared, vanished, changed
content, or are byte-identical refetches (the dominant class — most of
the web does not change month to month, and reprocessing it is the
single biggest avoidable cost at 100 TB). ``snapshot_diff`` labels every
url across two snapshots; downstream, `added + changed` feed the
pipeline, `unchanged` reuses the previous run's outputs (the
CheckpointStore resume path), `removed` drives retention.

No reference analogue (single-document CLI); the workflow is the public
crawl-delta pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SNAPSHOT_STATUSES = ("added", "removed", "changed", "unchanged")


def snapshot_diff(old: DataFrame, new: DataFrame, id_col: str = "url") -> DataFrame:
    """``(id, status)`` with status ∈ ``added | removed | changed |
    unchanged`` — the full-outer comparison of two snapshots keyed on
    the url.

    Scale shape: each side projects to ``(id, xxhash64(text))`` BEFORE
    the join, so the one shuffle per side carries 16-byte rows — never
    document text (the exact_keeper_ids discipline). Content equality is
    fingerprint equality (64-bit collisions are the usual negligible
    caveat; the driver oracle compares the text itself — the
    ngram_jaccard hashed-vs-string precedent). Ids are assumed unique
    per snapshot (crawl tables are url-keyed; run
    :func:`~llm_aided_ocr_spark.operators.dedup.canonical_url_keepers`
    first when they are not)."""
    fp = lambda df: df.select(  # noqa: E731
        F.col(id_col).alias("id"),
        F.xxhash64(F.coalesce(F.col("text"), F.lit(""))).alias("fp"),
    )
    o = fp(old).withColumnRenamed("fp", "old_fp")
    n = fp(new).withColumnRenamed("fp", "new_fp")
    joined = o.join(n, "id", "full_outer")
    return joined.select(
        "id",
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") == F.col("new_fp"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


def snapshot_diff_stats(diff: DataFrame) -> DataFrame:
    """``(status, n)`` rollup of a :func:`snapshot_diff` result — the
    four-row summary a crawl-delta report leads with (map-side
    combinable count; missing statuses simply absent)."""
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


def capture_novelty(df: DataFrame, n: int = 3) -> DataFrame:
    """``(url, ts, n_shingles, n_new, novelty)`` — per capture (from the
    second onward), the fraction of its word-``n``-gram shingle set NOT
    present in the SAME url's previous capture:
    ``novelty = |S_k \\ S_{k-1}| / |S_k|``.

    This is the sub-document complement to page-level
    :func:`snapshot_diff` / digest ``change_rates``: a news homepage
    whose digest changes every crawl may still be 95% yesterday's
    shingles — its novelty rate, not its change rate, is what a
    recrawl-budget allocator and an incremental dedup (ExactSubstr at
    crawl cadence) actually want. Captures with an empty shingle set
    get novelty NULL (0/0).

    Scale shape: texts collapse to per-capture DISTINCT shingle-HASH
    arrays document-locally (the ``word_shingles`` discipline), and the
    set difference runs as a native ``array_except`` after ONE
    url-keyed self-join of consecutive ranks — the relation that
    shuffles is (url, rank, hash-array): one row per capture, array
    size bounded by the document, and the raw text never enters an
    exchange. (The exploded-postings formulation — one row per
    (url, rank, shingle) through a semi-join — shuffles ~10^3 more rows
    for the same answer and measured 113 s vs this form's seconds on
    the 1.1 GB stress tier.) The previous capture's set arrives via
    ``lag`` in the SAME per-url window pass that ranks the captures —
    rank ``k`` always has exactly one rank ``k-1`` neighbor, so the
    lag is value-identical to a (url, rank−1) self-join while running
    the shingle pass, the url exchange and the window sort ONCE instead
    of twice and joining nothing (guide §2.4). The per-url window
    partitions by url (bounded by a url's capture count, no global
    sort). Two captures of one url with an IDENTICAL timestamp have no
    defined order — give captures distinct timestamps (WARC ts14
    values are) or the rank is layout-dependent for that tie only."""
    from pyspark.sql import Window

    from llm_aided_ocr_spark.operators.dedup import shingle_array_col

    w = Window.partitionBy("_url").orderBy(F.col("_ts"))
    caps = df.select(
        F.col("url").alias("_url"),
        F.col("ts").alias("_ts"),
        F.array_distinct(shingle_array_col("text", n=n)).alias("_sh"),
    ).select(
        "_url",
        "_ts",
        "_sh",
        F.row_number().over(w).alias("_rk"),
        F.lag("_sh").over(w).alias("_prev_sh"),
    )
    # two-step select: the array_except set difference is the expensive
    # per-row term and a WHEN branch is outside codegen subexpression
    # elimination, so naming it in an inner project keeps it at ONE
    # evaluation per row (CollapseProject does not inline non-cheap
    # aliases; verified in the optimized plan: 2 array_except -> 1)
    inner = caps.filter(F.col("_rk") >= 2).select(
        F.col("_url").alias("url"),
        F.col("_ts").alias("ts"),
        F.size("_sh").alias("_s"),
        F.size(F.array_except("_sh", "_prev_sh")).alias("_e"),
    )
    return inner.select(
        "url",
        "ts",
        F.col("_s").cast("bigint").alias("n_shingles"),
        F.col("_e").cast("bigint").alias("n_new"),
        F.when(
            F.col("_s") > 0, F.col("_e").cast("double") / F.col("_s")
        ).alias("novelty"),
    )
