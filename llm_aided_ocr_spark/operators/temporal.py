"""Temporal operators Spark lacks as builtins: as-of join and
sessionization — expressed as compositions of native DataFrame ops (the
brief's preferred implementation path for missing operators), no Python
stages, one shuffle each.

* :func:`as_of_join` — for each left row, the latest right row with
  ``right_ts <= left_ts`` in the same key group. Implemented with the
  union+window trick: tag both sides, sort within key by (ts, side), and
  carry the last non-null right payload forward — a single shuffle on the
  key, no range explosion, no per-key driver loop. This is the standard
  scalable formulation (a sort-merge within key groups); a skewed key is
  bounded by the same salting/AQE discipline as the pipeline's url keys.
* :func:`sessionize` / :func:`session_stats` — gap-based sessions per key
  via lag + cumulative sum over one ordered window.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: List[str],
    payload_prefix: str = "asof_",
) -> DataFrame:
    """Left rows enriched with the most recent right payload at or before
    their timestamp (``right_ts <= left_ts``, inclusive — a right row at
    the exact same instant matches). Left rows with no prior right row
    keep NULL payloads.

    Equal-timestamp determinism: right rows order before left rows at the
    same ts (inclusive semantics); among right rows sharing (key, ts) the
    last by payload order wins — supply a unique tiebreak column in
    ``payload_cols`` if that matters.

    Scale note: the carry is a running window per key, so one degenerate
    key holding a large fraction of all rows serializes into one task
    (running state cannot be salted without a second merge pass). For
    natural keys (user, document, host) cardinality dwarfs the executor
    count and the sort-within-key is the textbook distributed as-of; for
    known-degenerate keys, pre-split by time range and stitch the
    boundary rows.
    """
    left_struct = F.struct(*[F.col(c) for c in left.columns])
    payload_struct = F.struct(*[F.col(c) for c in payload_cols])
    # typed NULL literals so both union sides share one schema
    left_type = left.select(left_struct.alias("l")).schema["l"].dataType.simpleString()
    payload_type = right.select(payload_struct.alias("p")).schema["p"].dataType.simpleString()

    l_side = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        left_struct.alias("_left"),
        F.lit(None).cast(payload_type).alias("_payload"),
    )
    r_side = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(left_type).alias("_left"),
        payload_struct.alias("_payload"),
    )
    unioned = l_side.unionByName(r_side)

    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_side").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "_asof", F.last("_payload", ignorenulls=True).over(w)
    ).filter(F.col("_side") == 0)

    out = carried.select(
        *[F.col("_left")[c].alias(c) for c in left.columns],
        *[F.col("_asof")[c].alias(f"{payload_prefix}{c}") for c in payload_cols],
    )
    return out


def sessionize(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Tag each row with a per-key ``session_ix`` (0-based): a new session
    starts when the gap to the previous event of the same key exceeds
    ``gap_seconds``. One window over (key ORDER BY ts); ties broken by the
    full ordering of ``ts`` (equal timestamps fall into one session)."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    prev_ts = F.lag(ts_col).over(w)
    # interval subtraction works for TIMESTAMP and TIMESTAMP_NTZ alike and
    # is timezone-free (an epoch cast would shift with the session tz)
    gap = F.col(ts_col) - prev_ts
    is_new = F.when(
        prev_ts.isNull() | (gap > F.expr(f"INTERVAL {int(gap_seconds)} SECOND")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_ix",
        (F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - 1).cast("int"),
    )


def session_stats(
    df: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session rollup: ``(key, session_ix, n_events, session_start,
    session_end, value_sum_r)``."""
    tagged = sessionize(df, key=key, ts_col=ts_col, gap_seconds=gap_seconds)
    return tagged.groupBy(key, "session_ix").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.round(F.sum("value"), 6).alias("value_sum_r"),
    )


def host_fetch_stats(df: DataFrame, host_col: Optional[str] = None) -> DataFrame:
    """``(host, n_fetches, span_s, min_gap_s, mean_gap_s)`` — per-host
    crawl-politeness profile over fetch timestamps: how often a crawl
    hit each host and how close together. The min/mean inter-fetch gap
    is the number a politeness audit compares against robots
    ``Crawl-delay`` and rate budgets; a min gap near zero on a big host
    is a crawler bug, a huge mean gap a refresh-scheduling one.

    ``host`` comes from ``host_col`` when given, else from the native
    host extraction over ``url``. Gaps are consecutive differences
    within each host ordered by timestamp (epoch seconds, double);
    hosts with one fetch have NULL gaps. The multiset of consecutive
    gaps is invariant under tie order, so results are deterministic
    even with duplicate timestamps.

    Scale shape: ONE shuffle on ``host``; the window sort is per-host,
    and per-host fetch counts are bounded by the very politeness this
    operator audits (a polite crawl fetches a host at most ~1/s, so even
    a month-long crawl puts <3M narrow (ts) rows in the largest group).
    The aggregation reuses the window's partitioning — no second
    exchange.
    """
    from llm_aided_ocr_spark.operators.textstats import domain_col

    host = F.col(host_col) if host_col else domain_col(F.col("url"))
    base = df.select(
        host.alias("host"),
        F.col("warc_ts").cast("timestamp").cast("double").alias("es"),
    ).filter((F.col("host") != "") & F.col("es").isNotNull())
    w = Window.partitionBy("host").orderBy("es")
    gaps = base.withColumn("gap", F.col("es") - F.lag("es").over(w))
    return gaps.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        (F.max("es") - F.min("es")).alias("span_s"),
        F.min("gap").alias("min_gap_s"),
        F.round(F.avg("gap"), 6).alias("mean_gap_s"),
    )
