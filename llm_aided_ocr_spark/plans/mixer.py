"""Dolma-style attribute sidecar + mixer: tag once, filter many times.

The production pattern behind Dolma/Gopher/FineWeb ablations: run the
(expensive, regex-bound) :func:`~llm_aided_ocr_spark.plans.curate.annotate`
tagger ONCE over the corpus and persist the per-document attribute table
as a parquet SIDECAR keyed by document id; every subsequent "mixer"
(a recipe of attribute predicates — quality floors, language whitelist,
Gopher pass, eTLD+1 blocks) is then a cheap relational filter + id join
that never re-reads or re-scores document text. Re-tagging 100 TB per
recipe ablation is the anti-pattern this module exists to prevent.

Scale shape: the sidecar is NARROW (id + scalar signals — ~1% of corpus
bytes); a mixer filters it with plain column predicates (pushed to the
sidecar's parquet scan) and semi-joins the surviving ids back to the
corpus. The keep-id relation is O(corpus), so the join back is pinned
``shuffle_hash`` via :func:`corpus_scaled` (never a driver-melting
broadcast); document text crosses at most its one id exchange. Writing
the sidecar bucketed by id (or co-partitioned with the corpus) removes
even that.

No reference analogue (the reference is a single-document CLI,
``llm_aided_ocr.py``); part of the brief-mandated curation suite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_attribute_table(attrs_df: DataFrame, path: str) -> None:
    """Persist an attribute table (e.g. ``annotate()`` output) as the
    parquet sidecar. Plain columnar parquet: every mixer reads ONLY the
    id column plus the attributes its predicate mentions (column
    pruning), and simple predicates push down to the footer stats."""
    attrs_df.write.mode("overwrite").parquet(path)


def mixer_keep_ids(attrs_df: DataFrame, keep: Column, id_col: str = "id") -> DataFrame:
    """``(id)`` — the documents a mixer recipe keeps. NULL predicate
    results drop the row (a predicate over an absent signal must not
    smuggle documents through)."""
    return attrs_df.filter(F.coalesce(keep, F.lit(False))).select(
        F.col(id_col).alias(id_col)
    )


def apply_mixer(
    docs_df: DataFrame,
    attrs_df: DataFrame,
    keep: Column,
    id_col: str = "id",
    doc_id_col: str = "url",
) -> DataFrame:
    """Filter the corpus by a mixer predicate over the attribute
    sidecar: semi-join on document id, original corpus schema out.
    ``keep`` is any boolean Column over ``attrs_df``'s columns
    (e.g. ``(F.col("quality_score") >= 60) & (F.col("detected_lang") ==
    "en") & F.col("gopher_pass")``)."""
    from llm_aided_ocr_spark.operators.util import corpus_scaled

    ids = mixer_keep_ids(attrs_df, keep, id_col=id_col)
    return docs_df.join(
        corpus_scaled(ids.withColumnRenamed(id_col, doc_id_col)),
        doc_id_col,
        "left_semi",
    )
