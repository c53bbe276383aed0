"""Attribute-sidecar mixer: write-once/filter-many round trip, NULL
predicate discipline, plan shape (no broadcast of the O(corpus) keep
relation; text crosses at most one exchange)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from llm_aided_ocr_spark.plans.curate import annotate
from llm_aided_ocr_spark.plans.mixer import (
    apply_mixer,
    mixer_keep_ids,
    write_attribute_table,
)


def _corpus(spark, n=40):
    return spark.range(n).select(
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example.org/p"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string")).otherwise(
            F.concat(
                F.lit("The quick brown fox jumps over the lazy dog and "
                      "that is the end of document number "),
                F.col("id").cast("string"), F.lit("."),
            )
        ).alias("text"),
    )


def test_mixer_roundtrip_matches_direct_filter(spark):
    docs = _corpus(spark)
    attrs = annotate(docs)
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "attrs")
        write_attribute_table(attrs, path)
        sidecar = spark.read.parquet(path)
        keep = (F.col("doc_bytes") > 0) & (F.col("detected_lang") == "en")
        got = sorted(
            r["url"] for r in apply_mixer(docs, sidecar, keep).collect()
        )
        want = sorted(
            r["id"] for r in attrs.filter(keep).select("id").collect()
        )
        assert got == want and 0 < len(got) < docs.count()


def test_mixer_null_predicate_drops(spark):
    docs = _corpus(spark)
    attrs = annotate(docs)
    # flesch_x1e4 is NULL for wordless (NULL-text) docs: a >= predicate
    # over it is NULL there and must DROP the row, not keep it
    kept = {
        r["id"]
        for r in mixer_keep_ids(
            attrs, F.col("flesch_x1e4") >= -10_000_000
        ).collect()
    }
    nulls = {r["id"] for r in attrs.filter("flesch_x1e4 IS NULL").collect()}
    assert nulls and not (kept & nulls)


def test_mixer_plan_shape(spark):
    import io
    from contextlib import redirect_stdout

    docs = _corpus(spark)
    attrs = annotate(docs)
    out = apply_mixer(docs, attrs, F.col("gopher_pass"))
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" not in plan  # keep relation is O(corpus)
    assert "LeftSemi" in plan
    for node in ("PythonUDF", "MapInPandas", "MapInArrow", "FlatMapGroupsInArrow"):
        assert node not in plan
