"""Per-url change-rate estimation and revisit scheduling (crawl policy).

A recurring crawl has a fixed fetch budget; spending it uniformly
wastes most of it on pages that never change. Given the crawl HISTORY
relation — one row per (url, fetch timestamp, content fingerprint),
e.g. accumulated :func:`~llm_aided_ocr_spark.operators.snapshots
.snapshot_diff` output or the fingerprint column of successive WARC
ingests — this operator estimates each url's Poisson change rate with
the Cho & Garcia-Molina estimator ("Estimating Frequency of Change",
ACM TOIT 2003): observing n inter-fetch intervals of mean length
``Δt̄`` of which X showed a changed fingerprint,

    λ̂ = -ln((n - X + 0.5) / (n + 0.5)) / Δt̄

(the +0.5 terms are the paper's bias reduction, which also keeps the
estimator finite when every interval changed). The suggested revisit
interval is ``1/λ̂`` clamped to caller bounds — the classic
uniform-resource allocation; urls with NO observed change get the max
interval (nothing to estimate a rate from).

The reference repo has no crawl layer; this is part of the
brief-mandated web-curation suite, composing with
:func:`~llm_aided_ocr_spark.operators.refetch.refetch_schedule`
(server-declared freshness) — the scheduler takes the min of the two.

Scale shape: ONE exchange. The lag-window and the per-url aggregation
both hash-partition on url, so Catalyst reuses the single shuffle;
per-url partitions are history-depth-sized (crawl revisit counts, tens
— no skew hazard). Fingerprints can stay arbitrary strings; only
equality is used.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def change_rates(
    history_df: DataFrame,
    min_interval_sec: int = 3600,
    max_interval_sec: int = 30 * 86400,
) -> DataFrame:
    """``(id, n_obs, n_changes, mean_interval_sec, lambda_per_day,
    revisit_sec)`` — one row per url with ≥2 observations (a single
    fetch has no interval to learn from). ``n_obs`` counts
    observations, ``n_changes`` the intervals whose fingerprint
    differs from the previous one, ``lambda_per_day`` the bias-reduced
    MLE above scaled to changes/day, ``revisit_sec`` = ``1/λ̂``
    clamped to ``[min_interval_sec, max_interval_sec]`` (max when no
    change was ever seen). See the module docstring for provenance."""
    if min_interval_sec <= 0 or max_interval_sec < min_interval_sec:
        raise ValueError("need 0 < min_interval_sec <= max_interval_sec")
    w = Window.partitionBy("id").orderBy("ts")
    obs = history_df.select(
        F.col("url").alias("id"),
        F.col("warc_ts").cast("timestamp").alias("ts"),
        F.col("fingerprint").alias("fp"),
    ).withColumn("prev_fp", F.lag("fp").over(w))
    agg = (
        obs.groupBy("id")
        .agg(
            F.count("*").alias("n_obs"),
            F.count("prev_fp").alias("n_intervals"),
            F.sum(
                (F.col("fp") != F.col("prev_fp")).cast("long")
            ).alias("n_changes"),
            (
                F.max(F.col("ts").cast("double"))
                - F.min(F.col("ts").cast("double"))
            ).alias("span_sec"),
        )
        .where(F.col("n_intervals") > 0)
    )
    n = F.col("n_intervals").cast("double")
    x = F.col("n_changes").cast("double")
    mean_dt = F.col("span_sec") / n
    # + 0.0 normalizes the X=0 case's IEEE -0.0 to plain 0.0
    lam_per_sec = -F.log((n - x + 0.5) / (n + 0.5)) / mean_dt + 0.0
    revisit = F.when(F.col("n_changes") == 0, F.lit(float(max_interval_sec))).otherwise(
        F.greatest(
            F.least(1.0 / lam_per_sec, F.lit(float(max_interval_sec))),
            F.lit(float(min_interval_sec)),
        )
    )
    return agg.select(
        "id",
        "n_obs",
        "n_changes",
        mean_dt.alias("mean_interval_sec"),
        (lam_per_sec * 86400.0).alias("lambda_per_day"),
        revisit.alias("revisit_sec"),
    )
