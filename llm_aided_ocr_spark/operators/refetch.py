"""Re-fetch scheduling from HTTP caching headers (crawl freshness).

A recurring crawl must decide, per url, when and HOW to fetch again:
a page served with a validator (ETag / Last-Modified) can be
revalidated with a conditional request (304 → no body transferred —
at 10^12 documents the bandwidth difference IS the crawl budget),
while ``Cache-Control: max-age`` / ``Expires`` bound how long the
stored copy is usable at all. This operator turns the long-form
header relation (:func:`~llm_aided_ocr_spark.operators.http
.http_headers` output) into one scheduling row per document. The
reference repo has no fetch layer; this is part of the brief-mandated
web-curation suite. Semantics follow RFC 9111 (HTTP caching),
pragmatically subset:

* ``ttl_seconds`` — ``max-age`` from Cache-Control if present (first
  ``max-age=N`` directive, case-insensitive), else NULL. ``no-store``
  / ``no-cache`` directives force ttl 0 (always stale).
* ``policy`` — how the NEXT fetch should be issued:
  ``revalidate_etag`` when an ETag is present (strongest validator —
  ``If-None-Match``), else ``revalidate_ims`` when Last-Modified is
  present (``If-Modified-Since``), else ``full_fetch``.
* ``next_fetch_ts`` — ``fetch_ts + ttl_seconds`` when both are known
  (NULL ttl → NULL: no server-declared freshness, the scheduler falls
  back to its own revisit policy, e.g. per-host change-rate estimates
  from :func:`~llm_aided_ocr_spark.operators.snapshots.snapshot_diff`).

Scale shape: ONE hash aggregation on the already-long header relation
(min/conditional-first per header name — no pivot, no join back); the
optional fetch-timestamp join is a plain equi-join the caller can
broadcast when the fetch-log side is small. Multi-valued headers take
the FIRST occurrence in wire order (``min_by`` on header_ix), matching
the RFC's "a recipient MUST use the first" guidance for singleton
fields.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_MAX_AGE_RE = r"(?i)(?:^|[,\s])max-age\s*=\s*([0-9]+)"
_NO_STORE_RE = r"(?i)(?:^|[,\s])no-(?:store|cache)(?:$|[,\s=])"


def refetch_schedule(
    headers_df: DataFrame,
    fetches_df: Optional[DataFrame] = None,
    id_col: str = "id",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """``(id, ttl_seconds, policy, etag, last_modified
    [, next_fetch_ts])`` — one row per document that has at least one
    parsed header. ``headers_df`` is the long form ``(id, header_ix,
    name, value)`` with lowercased names; ``fetches_df`` (optional)
    supplies ``(id_col, ts_col)`` for the absolute ``next_fetch_ts``.
    See the module docstring for the RFC 9111 subset."""

    def first_of(name: str):
        # first occurrence in wire order of one header, else NULL
        return F.min_by(
            F.when(F.col("name") == name, F.col("value")),
            F.when(F.col("name") == name, F.col("header_ix")),
        )

    agg = headers_df.groupBy(F.col(id_col).alias("id")).agg(
        first_of("cache-control").alias("cc"),
        first_of("etag").alias("etag"),
        first_of("last-modified").alias("last_modified"),
    )
    max_age = F.regexp_extract(F.col("cc"), _MAX_AGE_RE, 1)
    ttl = (
        F.when(F.col("cc").rlike(_NO_STORE_RE), F.lit(0))
        .when(max_age != "", max_age.cast("bigint"))
        .cast("bigint")
    )
    policy = (
        F.when(F.col("etag").isNotNull(), "revalidate_etag")
        .when(F.col("last_modified").isNotNull(), "revalidate_ims")
        .otherwise("full_fetch")
    )
    out = agg.select(
        "id",
        ttl.alias("ttl_seconds"),
        policy.alias("policy"),
        "etag",
        "last_modified",
    )
    if fetches_df is None:
        return out
    fetched = fetches_df.select(
        F.col(id_col).alias("id"), F.col(ts_col).alias("_fetch_ts")
    )
    return out.join(fetched, "id", "left").select(
        "id",
        "ttl_seconds",
        "policy",
        "etag",
        "last_modified",
        (
            F.col("_fetch_ts")
            + F.make_dt_interval(secs=F.col("ttl_seconds").cast("double"))
        ).alias("next_fetch_ts"),
    )


def crawl_budget(
    hosts: DataFrame,
    budget: int,
    host_col: str = "host",
    weight_col: str = "weight",
) -> DataFrame:
    """``(host, weight, alloc)`` — split an integer fetch ``budget``
    across hosts proportionally to nonnegative integer weights, by the
    LARGEST-REMAINDER (Hamilton) method: every host gets
    ``floor(budget * w / W)``, and the ``budget - Σ floor`` leftover
    fetches go one each to the hosts with the largest remainders
    ``(budget * w) mod W`` (ties by host ascending). The per-crawl-cycle
    budgeting step between host statistics (quality x size x change
    rate as the weight) and the frontier: allocations sum to EXACTLY
    the budget — no float drift to reconcile — and a zero-weight host
    gets exactly 0.

    Everything is integer arithmetic (``budget*w`` must fit int64:
    document-scale budgets ~1e9 against byte-scale weights ~1e12 —
    pre-scale weights if their product approaches 2^63), so the DuckDB
    oracle replays it exactly. The remainder ranking uses
    :func:`~llm_aided_ocr_spark.operators.util.global_row_number`
    (range partition + per-partition stamp + broadcast offsets), NOT a
    SinglePartition window — the host relation is 10^7-10^8 rows at the
    10^12-page tier and this is precisely the shape the epoch_order
    audit flagged. Driver actions: two bounded collects (the weight
    total and the per-partition counts inside the rank)."""
    from llm_aided_ocr_spark.operators.util import global_row_number

    b = int(budget)
    if b < 0:
        raise ValueError("budget must be nonnegative")
    base_rel = hosts.select(
        F.col(host_col).alias("host"),
        F.col(weight_col).cast("bigint").alias("weight"),
    )
    W = int(
        base_rel.agg(F.coalesce(F.sum("weight"), F.lit(0))).first()[0]
    )
    if W <= 0:
        return base_rel.select(
            "host", "weight", F.lit(0).cast("bigint").alias("alloc")
        )
    quotas = base_rel.select(
        "host",
        "weight",
        F.expr(f"(weight * {b}) div {W}").cast("bigint").alias("base"),
        F.expr(f"(weight * {b}) % {W}").cast("bigint").alias("rem"),
    )
    leftover = b - int(
        quotas.agg(F.coalesce(F.sum("base"), F.lit(0))).first()[0]
    )
    ranked, _n = global_row_number(
        quotas, [F.col("rem") * F.lit(-1), F.col("host")], rn_col="_rn"
    )
    return ranked.select(
        "host",
        "weight",
        (
            F.col("base")
            + F.when(F.col("_rn") < F.lit(leftover), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).cast("bigint").alias("alloc"),
    )


def politeness_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    t0: int = 0,
    default_delay_sec: int = 1,
    host_col: str = "host",
    url_col: str = "url",
    priority_col: str = "priority",
    delay_col: str = "crawl_delay_sec",
) -> DataFrame:
    """``(host, url, fetch_rank, fetch_ts)`` — serialize each host's
    frontier into an explicit fetch timetable honoring its crawl delay:
    within a host, urls fetch in (priority DESC, url) order at
    ``t0 + rank * delay`` — the politeness invariant (ONE in-flight
    fetch per host, ``delay`` seconds apart) that robots.txt
    ``Crawl-delay`` declares and :func:`crawl_budget` budgets for.
    Hosts missing from ``delays`` (or with NULL delay) use
    ``default_delay_sec``; a host with SEVERAL delay rows (appended
    robots snapshots) uses the largest — the conservative politeness
    choice — via a pre-aggregation that also stops the lookup join
    fanning every frontier row out into duplicate timetables.

    Scale shape: the rank window partitions BY HOST — embarrassingly
    parallel across the 10^7-8 hosts of a crawl; a mega-host's schedule
    is inherently a serial chain, so its single partition is the
    honest cost of the semantics, not an avoidable global sort (cap
    per-host frontiers upstream with :func:`crawl_budget` allocations).
    Delay lookup is one narrow equi-join (broadcast when the delay
    relation is small). All integer arithmetic — the timetable replays
    exactly."""
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.col("url")
    )
    f = frontier.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        F.col(priority_col).cast("bigint").alias("priority"),
    )
    d = (
        delays.select(
            F.col(host_col).alias("host"),
            F.col(delay_col).cast("bigint").alias("_delay"),
        )
        .groupBy("host")
        .agg(F.max("_delay").alias("_delay"))
    )
    return (
        f.join(d, "host", "left")
        .withColumn(
            "_d",
            F.coalesce(F.col("_delay"), F.lit(int(default_delay_sec))),
        )
        .withColumn("fetch_rank", F.row_number().over(w) - F.lit(1))
        .select(
            "host",
            "url",
            F.col("fetch_rank").cast("bigint").alias("fetch_rank"),
            (
                F.lit(int(t0)) + F.col("fetch_rank") * F.col("_d")
            ).cast("bigint").alias("fetch_ts"),
        )
    )


def rendezvous_assign(
    df: DataFrame,
    shards: list,
    id_col: str = "doc_id",
    out_col: str = "shard",
) -> DataFrame:
    """Append ``out_col`` — rendezvous (highest-random-weight) routing
    of every row to one of ``shards``: the shard maximizing the
    portable 52-bit md5 of ``'hrw:' || id || '|' || shard`` (ties by
    shard name, which md5 makes measure-zero). HRW's property is the
    point: adding or removing ONE shard remaps only ~1/n of the keys
    (only those whose new shard's weight exceeds their previous max) —
    the routing that lets a 10^12-doc corpus grow its shard set without
    a full reshuffle, vs mod-N hashing which remaps (n-1)/n of
    everything.

    ONE native projection (an ``array_max`` over a literal
    (weight, shard) struct array, no explode, no shuffle, fuses into
    the scan); ``shards`` is the bounded routing table (hundreds), not
    data. The md5-52 weight is the repo's portable-hash discipline, so
    the assignment replays bit-identically in any engine with md5."""
    if not shards:
        raise ValueError("rendezvous_assign needs at least one shard")
    sid = F.col(id_col).cast("string")
    entries = [
        F.struct(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("hrw:"), sid, F.lit("|" + str(s)))),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("bigint").alias("w"),
            F.lit(str(s)).alias("s"),
        )
        for s in shards
    ]
    return df.withColumn(
        out_col, F.array_max(F.array(*entries)).getField("s")
    )
