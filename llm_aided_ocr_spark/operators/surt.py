"""SURT keys and CDX-style capture-index records.

Web archives index captures by SURT (Sort-friendly URI Reordering
Transform — the key format of Common Crawl's CDX index and OpenWayback):
the host is lowercased, stripped of a leading ``www.``, label-REVERSED
and comma-joined, then ``)`` and the path are appended —
``https://www.Example.co.uk/a/b?q=1`` → ``uk,co,example)/a/b?q=1``.
Sorting by SURT clusters every page of a host, and every host of a
registrable domain, into one contiguous key range, so "all captures
under ``*.example.co.uk``" is a PREFIX scan instead of a full-index
filter — the property that makes CDX lookups work at archive scale.

``cdx_records`` emits the index relation itself: one row per capture
``(surt_key, ts14, digest, url)`` where ``ts14`` is the CDX 14-digit
UTC timestamp and ``digest`` the page fingerprint. Writing it sorted by
``(surt_key, ts14)`` (e.g. ``sortWithinPartitions`` after a range
repartition on ``surt_key``) reproduces the classic CDX file layout.

Normalization contract (pinned for the oracle): scheme and fragment
drop; host lowercases and loses ONE leading ``www.``; an explicit port
is kept after the reversed host (``uk,co,example:8080)/...``, matching
SURT's port form); the path+query is kept verbatim except that an empty
path becomes ``/``. Invalid/hostless urls yield NULL.

Scale shape: pure native split/reverse/concat projections — zero
Python, zero shuffle, scan-fused. Part of the web-curation suite; no
reference analogue (``llm_aided_ocr.py`` ingests PDFs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_URL_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)(:[0-9]+)?([^#]*)"


def surt_key_col(url_col: Column) -> Column:
    """The SURT key as one native column (NULL when no ``scheme://host``
    shape is present)."""
    u = F.coalesce(url_col, F.lit(""))
    host = F.lower(F.regexp_extract(u, _URL_RE, 1))
    host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(u, _URL_RE, 2)
    rest = F.regexp_extract(u, _URL_RE, 3)
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    key = F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","), port,
        F.lit(")"), path,
    )
    return F.when(host != "", key)


def cdx_records(pages_df: DataFrame) -> DataFrame:
    """``(surt_key, ts14, digest, url)`` — one CDX index row per
    capture. ``digest`` is the md5 hex of the capture's text bytes (CDX
    uses SHA-1/Base32; the fingerprint CONTRACT — same bytes ⇒ same
    digest — is what matters, and md5 is engine-portable). ``ts14`` is
    UTC wall-clock regardless of the session timezone (rendered via
    ``to_utc_timestamp(ts, current_timezone())``, so the key is stable
    across driver configs — a timezone-dependent index key would be a
    correctness bug)."""
    ts14 = F.date_format(
        F.to_utc_timestamp(F.col("warc_ts"), F.current_timezone()),
        "yyyyMMddHHmmss",
    )
    digest = F.md5(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))
    return pages_df.select(
        surt_key_col(F.col("url")).alias("surt_key"),
        ts14.alias("ts14"),
        digest.alias("digest"),
        F.col("url"),
    )


# The exclusive upper bound of a SURT prefix range. SURT keys are ASCII
# (hosts are LDH/punycode labels, paths percent-encode non-ASCII), and
# both Spark and DuckDB compare strings bytewise at default collation,
# so every key extending `prefix` sorts in [prefix, prefix + \x7f): DEL
# is strictly greater than every byte a SURT key can contain.
_PREFIX_HI = "\x7f"


def cdx_cluster_index(
    records: DataFrame, block_size: int = 3000
) -> tuple[DataFrame, DataFrame]:
    """ZipNum-style secondary index over a CDX relation (the
    ``cluster.idx`` artifact of Common Crawl / OpenWayback): the capture
    records are ranked in global ``(surt_key, ts14, url)`` order, cut
    into consecutive blocks of ``block_size``, and the index keeps ONE
    row per block — its first record's key plus the block's record
    count. A lookup then binary-searches / range-filters the index
    (corpus/block_size rows) instead of the record relation, and reads
    only the candidate blocks — the two-level structure that makes a
    10^12-capture index queryable.

    Returns ``(blocked, index)``: ``blocked`` is the record relation
    (NULL ``surt_key`` rows dropped — a keyless capture is unindexable)
    plus its ``block_ix``; ``index`` is
    ``(block_ix, first_surt_key, first_ts14, first_url, n_records)``.

    Scale shape: the rank is the two-phase distributed rank
    (:func:`~llm_aided_ocr_spark.operators.util.global_row_number`) —
    no SinglePartition exchange; ``n_records`` is pure arithmetic from
    the rank total (no per-block count aggregation). Both outputs read
    the ONE persisted ranked relation; release it with
    ``release_pinned(index)`` after both terminal actions."""
    from llm_aided_ocr_spark.operators.util import global_row_number

    recs = records.filter(F.col("surt_key").isNotNull())
    ranked, total = global_row_number(
        recs, ["surt_key", "ts14", "url"], rn_col="_rn"
    )
    block_ix = F.floor(F.col("_rn") / block_size).cast("bigint")
    blocked = ranked.withColumn("block_ix", block_ix).drop("_rn")
    index = (
        ranked.filter(F.col("_rn") % block_size == 0)
        .select(
            block_ix.alias("block_ix"),
            F.col("surt_key").alias("first_surt_key"),
            F.col("ts14").alias("first_ts14"),
            F.col("url").alias("first_url"),
            F.least(
                F.lit(block_size),
                F.lit(total) - block_ix * block_size,
            ).cast("bigint").alias("n_records"),
        )
    )
    return blocked, index


def cdx_prefix_blocks(index: DataFrame, prefix: str) -> DataFrame:
    """The candidate blocks of a SURT prefix scan: block ``b`` owns the
    key range ``[first_key_b, first_key_{b+1})`` (blocks are consecutive
    runs of the globally sorted records), so it must be read iff that
    range intersects ``[prefix, prefix + \\x7f)`` — ``first_key_b <
    hi AND (b is last OR first_key_{b+1} > lo)``. The next-leader key
    comes from a self-join on ``block_ix + 1`` (parallel, shuffle on a
    bounded corpus/block_size relation), NOT a global ``lead()`` window
    — the index itself is ~3×10^8 rows at 10^12 captures, big enough
    that a SinglePartition window would be its own scale bug."""
    lo, hi = prefix, prefix + _PREFIX_HI
    nxt = index.select(
        (F.col("block_ix") - 1).alias("block_ix"),
        F.col("first_surt_key").alias("_next_key"),
    )
    return (
        index.join(nxt, "block_ix", "left")
        .filter(
            (F.col("first_surt_key") < hi)
            & (F.col("_next_key").isNull() | (F.col("_next_key") > lo))
        )
        .drop("_next_key")
    )


def cdx_prefix_scan(
    blocked: DataFrame, index: DataFrame, prefix: str
) -> DataFrame:
    """Execute a prefix lookup through the index and report, per
    candidate block, ``(block_ix, first_surt_key, n_scanned,
    n_matched)`` — the rows the lookup had to read vs the rows that
    actually carry the prefix. Boundary blocks legitimately scan
    non-matching rows (their range straddles the prefix range's edge);
    a NON-candidate block containing a match would be a pruning bug,
    which the dual-engine oracle replay would catch as a missing row.

    Scale shape: the candidate relation is O(matched / block_size); the
    record-side join is on ``block_ix`` with the default strategy (AQE
    broadcasts it when the prefix is narrow, shuffles when someone asks
    for ``com,*``)."""
    from llm_aided_ocr_spark.operators.util import persist

    # the candidate relation is consumed twice (record-side join +
    # final projection) and is O(matched / block_size) rows by
    # construction — cache it so the index range-intersection self-join
    # runs once (guide §2.4)
    cand = persist(cdx_prefix_blocks(index, prefix))
    stats = (
        blocked.join(cand.select("block_ix"), "block_ix")
        .groupBy("block_ix")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_scanned"),
            F.sum(
                F.col("surt_key").startswith(prefix).cast("int")
            ).cast("bigint").alias("n_matched"),
        )
    )
    return cand.select("block_ix", "first_surt_key").join(stats, "block_ix")


def revisit_records(captures: DataFrame) -> DataFrame:
    """WARC ``revisit`` semantics (ISO 28500 / WARC 1.1
    identical-payload-digest profile) over a capture relation: per
    ``(url, digest)``, the FIRST capture stores the payload; every later
    capture with the same digest — consecutive or not, so an A→B→A
    flip-flop's third fetch still dedups against the first — becomes a
    revisit record pointing at the stored original. This is the
    archive-level storage dedup that keeps a recurring crawl's WARC
    volume proportional to *changed* bytes, not fetched bytes.

    Output: ``(url, ts14, digest, is_revisit, refers_to_ts14)`` with
    ``refers_to_ts14`` NULL on originals. Two captures sharing an exact
    ``(url, digest, ts)`` triple are both originals (deterministic tie).
    ``ts14`` values must be equal-width digit strings (the CDX form), so
    lexicographic min == chronological first.

    Scale shape: ONE exchange — an unordered ``min`` window over the
    ``(url, digest)`` hash partitioning; partition sizes are per-page
    revisit counts (tens), no skew hazard, nothing global."""
    from pyspark.sql import Window

    w = Window.partitionBy("url", "digest")
    first_ts = F.min("ts14").over(w)
    is_rev = F.col("ts14") > first_ts
    return captures.select(
        F.col("url"),
        F.col("ts14"),
        F.col("digest"),
        is_rev.alias("is_revisit"),
        F.when(is_rev, first_ts).alias("refers_to_ts14"),
    )


def closest_capture(captures: DataFrame, target_ts14: str) -> DataFrame:
    """The Wayback lookup: per ``url``, the capture whose timestamp
    is closest to ``target_ts14`` (absolute seconds-free ts14 integer
    distance; ties go to the EARLIER capture — the replay convention).
    Output ``(key, ts14, digest)``.

    Scale shape: a single ``min(struct(distance, ts14, digest))``
    aggregation — argmin via Spark's lexicographic struct ordering, so
    there is no per-key window, no sort, and map-side partial
    aggregation collapses each key before the one exchange. ``ts14``
    must be all-digit (CDX contract); the cast is ANSI-safe for that
    input."""
    t = int(target_ts14)
    dist = F.abs(F.col("ts14").cast("bigint") - F.lit(t))
    best = captures.groupBy(F.col("url").alias("key")).agg(
        F.min(F.struct(dist.alias("d"), F.col("ts14"), F.col("digest"),)).alias("b")
    )
    return best.select(
        "key", F.col("b.ts14").alias("ts14"), F.col("b.digest").alias("digest")
    )
