"""Host-scoped template-line detection and stripping.

Global line-frequency boilerplate removal (CCNet-style,
:mod:`.boilerplate`) catches lines common across the WHOLE corpus
("all rights reserved"), but a site template ("Acme Corp — trusted
since 1952 | Products | About | Contact") repeats only WITHIN its
host — far below any global document-frequency threshold, yet present
on every one of the host's pages. This operator learns template lines
PER HOST: a trimmed non-blank line is a template line for host H when
it appears on at least half of H's pages, provided H has at least 4
pages (small hosts carry no statistics — their
lines are never stripped, the conservative default). The reference
repo strips per-PAGE repeated headers (its 4-pass header heuristic,
/root/reference/llm_aided_ocr.py — re-expressed in
``kernels.strip_headers``); this is the cross-page generalization a
web corpus needs.

Scale shape, learn side: lines are hashed to 8 bytes document-locally
and deduplicated per page BEFORE the explode (``array_distinct``), so
the single exchange carries (host, line_hash) with map-side combine —
the page-frequency groupBy IS the document frequency; host page
counts ride the same relation via a second aggregation on its prefix
key (one more narrow exchange). Strip side: pages explode to (host,
line_hash, line_ix) and LEFT join the template relation on the 8-byte
key pair with a match flag (left ANTI would drop a page whose every
line is a template — the empty-text row must survive); the template
side of the join is a deduplicated key set, so the join never
duplicates rows. Surviving lines reassemble by ``line_ix`` with an
order-free ``sort_array`` on (ix, line) structs inside one
aggregation. Per-host skew: a mega-host's lines spread across
partitions by (host, line_hash), not host alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .boilerplate import _line_hash, _lines_col


def host_template_lines(df: DataFrame) -> DataFrame:
    """``(host, line_hash, n_pages_with, n_pages_host, frac)`` — the
    learned template relation (see module docstring for thresholds).
    ``frac`` is page frequency / host page count."""
    hashes = F.array_distinct(
        F.transform(
            F.filter(_lines_col("text"), lambda l: F.trim(l) != ""),
            lambda l: _line_hash(l, "xxhash64"),
        )
    )
    pairs = df.select(F.col("host"), F.explode(hashes).alias("line_hash"))
    per_line = pairs.groupBy("host", "line_hash").agg(
        F.count(F.lit(1)).alias("n_pages_with")
    )
    per_host = (
        df.groupBy(F.col("host"))
        .agg(F.count(F.lit(1)).alias("n_pages_host"))
        .where(F.col("n_pages_host") >= 4)
    )
    return (
        per_line.join(per_host, "host")
        .withColumn(
            "frac", F.col("n_pages_with") / F.col("n_pages_host")
        )
        .where(F.col("frac") >= 0.5)
    )


def strip_host_templates(df: DataFrame, templates_df: DataFrame = None) -> DataFrame:
    """``(id, host, text, n_lines_in, n_lines_kept)`` — pages with
    their host's template lines removed (blank lines collapse with
    the removed line; surviving lines rejoin with ``\\n`` in original
    order). ``templates_df`` defaults to :func:`host_template_lines`
    over the same input (pass a persisted relation when stripping the
    corpus it was learned from — the default recomputes it)."""
    if templates_df is None:
        templates_df = host_template_lines(df)
    lines = F.filter(_lines_col("text"), lambda l: F.trim(l) != "")
    exploded = df.select(
        F.col("url").alias("id"),
        F.col("host"),
        F.size(lines).alias("n_lines_in"),
        F.posexplode_outer(lines).alias("line_ix", "line"),
    ).withColumn("line_hash", _line_hash(F.col("line"), "xxhash64"))
    # left join with a match flag rather than left_anti: a page whose
    # EVERY line is a template must still emit its (empty-text) row
    flagged = exploded.join(
        templates_df.select(
            "host", "line_hash", F.lit(True).alias("_is_tpl")
        ),
        ["host", "line_hash"],
        "left",
    )
    survivor = F.col("_is_tpl").isNull() & F.col("line").isNotNull()
    return flagged.groupBy("id", "host").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            survivor,
                            F.struct(F.col("line_ix"), F.col("line")),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.first("n_lines_in").alias("n_lines_in"),
        F.sum(survivor.cast("long")).alias("n_lines_kept"),
    ).select("id", "host", "text", "n_lines_in", "n_lines_kept")
