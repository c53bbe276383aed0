"""Corpus sinks/readers with scale-aware layout.

The reference writes two files per document (llm_aided_ocr.py:656-657,
:666-676); at corpus scale the equivalents are partitioned tables. Output is
hive-partitioned by crawl day (``warc_day=YYYY-MM-DD``) so downstream reads
over a date range scan only the matching partitions — on Iceberg this maps
to hidden partitioning ``days(warc_ts)``; on plain parquet it's an explicit
derived column. Partition pruning is asserted in tests (PartitionFilters in
the scan node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_corrected_docs(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write the corrected-docs table, hive-partitioned by crawl day when a
    timestamp column is available."""
    if "warc_ts" in df.columns:
        df.withColumn(
            "warc_day", F.date_format(F.col("warc_ts"), "yyyy-MM-dd")
        ).write.mode(mode).partitionBy("warc_day").parquet(path)
    else:
        df.write.mode(mode).parquet(path)


def write_raw_pages(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Write the raw-OCR table — the reference's ``__raw_ocr_output.txt``
    per document (llm_aided_ocr.py:656,665-667: the ``"\\n"``-joined page
    texts, written BEFORE correction) as the first of the two-sink output
    contract; :func:`write_corrected_docs` is the second. Same day
    partitioning as the corrected table so the two line up for joins and
    both prune on date ranges."""
    cols = ["url", F.col("raw_text")]
    if "warc_ts" in df.columns:
        (
            df.select(*cols, F.col("warc_ts"))
            .withColumn("warc_day", F.date_format(F.col("warc_ts"), "yyyy-MM-dd"))
            .write.mode(mode)
            .partitionBy("warc_day")
            .parquet(path)
        )
    else:
        df.select(*cols).write.mode(mode).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    n_buckets: int = 64,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) on the join key —
    the co-located-join primitive: two tables bucketed on the same key
    with the same bucket count join WITHOUT a shuffle (no Exchange in the
    plan), which at 100 TB turns every url-keyed join (raw↔corrected,
    resume anti-joins, quality joins) from a full-corpus shuffle into a
    local zip per bucket. Requires a catalog table (``saveAsTable``) —
    Spark's bucketing metadata lives in the catalog, not in plain parquet
    paths; on Iceberg this is ``bucket(n, url)`` hidden partitioning."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, "url")
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.format("parquet").saveAsTable(table_name)


def read_corrected_docs(
    spark: SparkSession,
    path: str,
    day: str | None = None,
    day_from: str | None = None,
    day_to: str | None = None,
) -> DataFrame:
    """Read the corrected-docs table; day filters become partition-pruning
    predicates (PartitionFilters on the scan — only matching directories
    are listed and read)."""
    df = spark.read.parquet(path)
    if (day or day_from or day_to) and "warc_day" not in df.columns:
        raise ValueError(
            f"table at {path} is not day-partitioned (no warc_day column); "
            "write it with write_corrected_docs(partition_by_day=True) and a "
            "timestamp column to enable day filters"
        )
    if day is not None:
        df = df.filter(F.col("warc_day") == day)
    if day_from is not None:
        df = df.filter(F.col("warc_day") >= day_from)
    if day_to is not None:
        df = df.filter(F.col("warc_day") <= day_to)
    return df
