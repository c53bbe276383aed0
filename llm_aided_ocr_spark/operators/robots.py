"""robots.txt parsing + URL permission evaluation (RFC 9309 subset).

A crawl pipeline that redistributes text must be able to answer "was
this url even fetchable under the site's robots policy?" — both at
fetch time (frontier gating) and retroactively (curation audits drop
pages whose site has since disallowed crawling). The reference repo
(/root/reference/llm_aided_ocr.py) ingests local PDFs and has no
crawl-policy stage; this module supplies the corpus-scale one.

Two relations:

* :func:`parse_robots` — ``(host, rule, prefix, prefix_len)`` from raw
  robots.txt bodies. Parsing is a line-state machine (groups are runs
  of ``User-agent`` lines followed by their rules, per RFC 9309 —
  blank lines do NOT end a group), which DataFrame expressions cannot
  express cleanly, so it runs as a document-local Arrow
  flatMap (``operators.util.map_arrow``) over a pure-Python kernel
  (:func:`parse_robots_text`) — one robots body is ≤ 500 KiB by spec,
  so the per-row work is bounded; zero shuffle.
* :func:`robots_allowed` — ``(id, allowed)`` per url: longest-match
  evaluation (the most specific — longest — matching prefix wins;
  on an equal-length Allow/Disallow tie, Allow wins; no match ⇒
  allowed), as a rules join on ``host`` plus ONE struct-max
  aggregation — no window, no Python. Rules relations are tiny
  (rules × hosts, ~100 B rows); broadcast by default.

Pattern subset: literal path prefixes only. Rules whose pattern uses
the ``*`` wildcard or the ``$`` end anchor are SKIPPED at parse (and
counted in ``n_skipped`` of :func:`parse_robots_text`) — matching them
needs per-rule regex compilation that neither whole-stage codegen nor
a cross-engine oracle can replay; the literal subset covers the
overwhelming majority of real rules (Google's own published corpus
stats) and errs on the permissive side, which an audit gate documents
rather than hides. Empty patterns are no-ops per the RFC and are
likewise dropped.
"""

from __future__ import annotations

from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.textstats import domain_col
from llm_aided_ocr_spark.operators.util import map_arrow


def parse_robots_text(
    text: str, agent: str = "*"
) -> Tuple[List[Tuple[str, str]], int]:
    """``([(rule, prefix), ...], n_skipped)`` — the literal-prefix rules
    applying to ``agent`` (exact token match, case-insensitive, plus
    the ``*`` group). Line state machine per RFC 9309: consecutive
    ``User-agent`` lines accumulate one group; the first Allow/Disallow
    closes the group's agent list; ``#`` starts a comment; unknown
    directives are ignored; empty patterns are no-ops. Wildcard/anchor
    patterns (``*``/trailing ``$``) are counted into ``n_skipped``."""
    agent = agent.lower()
    # pass 1: split into groups of (agent tokens, raw rule lines)
    groups: List[Tuple[List[str], List[Tuple[str, str]]]] = []
    cur_agents: List[str] = []
    cur_rules: List[Tuple[str, str]] = []
    seen_rule = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if seen_rule:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules, seen_rule = [], [], False
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow", "crawl-delay"):
            # crawl-delay is a rule line for grouping purposes (it closes
            # the agent list, Python robotparser semantics) even though
            # only allow/disallow become PERMISSION rules
            seen_rule = True
            cur_rules.append((key, val))
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules))
    # pass 2: RFC 9309 group selection — the most specific match wins:
    # if any group names the agent exactly, ONLY those groups apply and
    # the * groups are ignored; otherwise the * groups apply.
    named = [g for g in groups if agent in g[0]]
    chosen = named if named else [g for g in groups if "*" in g[0]]
    rules: List[Tuple[str, str]] = []
    skipped = 0
    for _, grules in chosen:
        for key, val in grules:
            if key == "crawl-delay":
                continue  # surfaced by crawl_delay_for_agent, not here
            if not val:
                continue  # empty pattern: no-op per RFC
            if "*" in val or val.endswith("$"):
                skipped += 1
                continue
            rules.append((key, val))
    return rules, skipped


def crawl_delay_for_agent(text: str, agent: str = "*") -> Optional[float]:
    """The ``Crawl-delay`` (seconds) applying to ``agent`` under the same
    group state machine and RFC 9309 group-selection rule as
    :func:`parse_robots_text` — named groups beat the ``*`` groups; the
    LAST valid numeric value in the chosen groups wins (later lines
    overwrite, Python robotparser semantics). Non-numeric and negative
    values are ignored; no declaration → ``None`` (no delay contract)."""
    agent = agent.lower()
    groups: List[Tuple[List[str], List[Tuple[str, str]]]] = []
    cur_agents: List[str] = []
    cur_rules: List[Tuple[str, str]] = []
    seen_rule = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, sep, val = line.partition(":")
        if not sep:
            continue
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if seen_rule:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules, seen_rule = [], [], False
            cur_agents.append(val.lower())
        elif key in ("allow", "disallow", "crawl-delay"):
            seen_rule = True
            cur_rules.append((key, val))
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules))
    named = [g for g in groups if agent in g[0]]
    chosen = named if named else [g for g in groups if "*" in g[0]]
    delay: Optional[float] = None
    for _, grules in chosen:
        for key, val in grules:
            if key != "crawl-delay":
                continue
            try:
                v = float(val)
            except ValueError:
                continue
            if v >= 0:
                delay = v
    return delay


def robots_crawl_delays(df: DataFrame) -> DataFrame:
    """``(host, crawl_delay)`` — the per-host Crawl-delay contract for
    ``agent`` (default ``*``; seconds, NULL when undeclared). Document-local Arrow
    pass like :func:`parse_robots`; zero shuffle; host-cardinality
    output."""

    def _parse(bodies):
        return ([crawl_delay_for_agent(b or "", "*") for b in bodies],)

    return map_arrow(
        df.select(F.col("host"), "robots_txt"),
        _parse, "host string, crawl_delay double", keep=("host",),
    )


def politeness_audit(fetches: DataFrame, robots_df: DataFrame) -> DataFrame:
    """``(host, n_fetches, min_gap_s, crawl_delay, violates)`` — the
    crawl-politeness audit: observed per-host fetch cadence
    (:func:`~llm_aided_ocr_spark.operators.temporal.host_fetch_stats`)
    joined against the declared Crawl-delay contract
    (:func:`robots_crawl_delays`). ``violates`` is true when the
    OBSERVED minimum inter-fetch gap undercuts the DECLARED delay;
    hosts with no declaration or a single fetch never violate.

    Scale shape: the fetch side is host_fetch_stats' one narrow
    exchange; the robots side is host-cardinality (tiny) and
    broadcast-joins. Left join keeps undeclared hosts in the audit."""
    from llm_aided_ocr_spark.operators.temporal import host_fetch_stats

    stats = host_fetch_stats(fetches)
    delays = robots_crawl_delays(robots_df)
    joined = stats.join(F.broadcast(delays), "host", "left")
    violates = F.when(
        F.col("crawl_delay").isNotNull() & F.col("min_gap_s").isNotNull(),
        F.col("min_gap_s") < F.col("crawl_delay"),
    ).otherwise(F.lit(False))
    return joined.select(
        "host", "n_fetches", "min_gap_s", "crawl_delay",
        violates.alias("violates"),
    )


def parse_robots(df: DataFrame) -> DataFrame:
    """``(host, rule, prefix, prefix_len)`` — one row per literal rule
    applying to the ``*`` agent. Document-local Arrow flatMap, zero shuffle;
    feed the output (tiny: rules × hosts) to :func:`robots_allowed`."""

    def _parse(hosts, bodies):
        rows = [
            (host, kind, prefix, len(prefix))
            for host, body in zip(hosts, bodies)
            for kind, prefix in parse_robots_text(body or "", "*")[0]
        ]
        return zip(*rows) if rows else ([],) * 4

    return map_arrow(
        df.select("host", "robots_txt"), _parse,
        "host string, rule string, prefix string, prefix_len int",
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, allowed)`` — longest-match robots evaluation per url.

    Plan shape: project the url to ``(id, host, path)`` (path ``''`` →
    ``'/'``, the RFC's default), join the rules relation on ``host``
    (broadcast — the rules table is rules × hosts, far under broadcast
    size even for a full crawl's robots corpus), keep matching rules
    (``path startswith prefix`` — literal, case-sensitive per RFC), and
    take ONE ``max(struct(prefix_len, is_allow))`` per id: longest
    prefix wins, equal-length ties resolve to Allow because the allow
    bit is the struct's second sort key. Ids with no matching rule (or
    an unparseable host) come out allowed — robots denies only what it
    names."""
    u = urls.select(
        F.col(id_col).alias("id"),
        domain_col(F.col(url_col)).alias("host"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    F.coalesce(F.col(url_col), F.lit("")),
                    r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)",
                    1,
                ),
                F.lit(""),
            ),
            F.lit("/"),
        ).alias("path"),
    )
    r = F.broadcast(rules.select(
        "host",
        "prefix",
        F.col("prefix_len").alias("_plen"),
        (F.col("rule") == "allow").cast("int").alias("_is_allow"),
    ))
    joined = u.join(r, "host", "left")
    score = F.when(
        F.col("prefix").isNotNull() & F.col("path").startswith(F.col("prefix")),
        F.struct(F.col("_plen").alias("l"), F.col("_is_allow").alias("a")),
    )
    return (
        joined.groupBy("id")
        .agg(F.max(score).alias("_best"))
        .select(
            "id",
            F.coalesce(F.col("_best.a") == 1, F.lit(True)).alias("allowed"),
        )
    )


_SITEMAP_LINE_RE = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*([^#\s]+)"


def robots_sitemaps(robots_df: DataFrame) -> DataFrame:
    """``(host, sitemap_ix, sitemap_url)`` — the ``Sitemap:`` directives
    declared in each robots.txt, in file order: the standard sitemap
    DISCOVERY channel (the sitemaps.org protocol's robots.txt
    extension), feeding :mod:`~llm_aided_ocr_spark.sources.sitemaps`'
    urlset/sitemapindex parser with the per-host crawl frontier seeds.

    Unlike Allow/Disallow rules, ``Sitemap:`` is group-independent — it
    applies regardless of any User-agent section — so no line-state
    machine is needed and the extraction is ONE native
    ``regexp_extract_all`` (case-insensitive, leading whitespace
    tolerated, trailing ``#`` comments excluded from the captured url)
    + ``posexplode``. Zero Python, zero shuffle, engine-portable
    pattern (Java∩RE2), so the oracle replays it verbatim."""
    urls = F.regexp_extract_all(
        F.coalesce(F.col("robots_txt"), F.lit("")), F.lit(_SITEMAP_LINE_RE), F.lit(1)
    )
    return robots_df.select(F.col("host"), urls.alias("u")).select(
        "host", F.posexplode("u").alias("sitemap_ix", "sitemap_url")
    )
