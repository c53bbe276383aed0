"""Linked-chain assembly over crawl link structure (pagination +
redirects).

Two chain shapes dominate a web crawl's page-relationship layer, and
neither is expressible as a plain join:

* **pagination chains** — ``<link rel="next">`` pointers stitch a
  multi-page article into an ordered list; left unstitched, the parts
  surface as near-duplicates and the article body is sharded across
  training shards. The reference repo
  (/root/reference/llm_aided_ocr.py) is a single-document OCR CLI with
  no link layer; this module is part of the brief-mandated web-curation
  suite, sized for the 10^12-page tier.
* **redirect chains** — 3xx hops between fetch records; the crawl
  frontier and canonical-dedup layers both need "where does this url
  actually land, and in how many hops" (with loop detection — redirect
  loops genuinely occur in crawls and must be *marked*, not crashed
  on).

Scale shape:

* :func:`chain_assembly` labels every node of a successor forest with
  its chain head and 0-based position by **pointer doubling** (the
  classic parallel list-ranking contraction, Wyllie 1979): each round
  replaces every node's known-ancestor pointer ``anc`` with
  ``anc(anc)`` and adds the distances, so a chain of length L resolves
  in ⌈log2 L⌉ rounds instead of L. One round = ONE self-join of a
  narrow ``(id, anc, d)`` relation (~3 small columns — page text/html
  never enters the loop), eagerly ``localCheckpoint``-ed with the
  superseded round released immediately (the ``pagerank`` /
  ``dedup_clusters`` lineage discipline). Convergence is detected with
  a bounded 1-row aggregate per round (sum of distances goes stable
  exactly when every pointer has reached a head); a cycle never
  stabilizes, so exceeding the round cap **raises** — the
  refuse-on-non-convergence discipline of ``dedup_clusters``.
* :func:`redirect_resolve` deliberately does NOT pointer-double:
  real crawlers cap redirect-following at a single-digit hop budget
  (curl defaults 50, browsers ~20, polite crawlers 5–10), so a
  linear ``max_hops``-round loop over the narrow ``(url, cur, hops)``
  state is both simpler and cheaper than doubling's self-join — the
  map side is the full redirect relation either way. Rows still
  un-terminal at the cap are emitted with ``terminal = false`` (loop
  or over-budget), never raised on.

Both operators validate structure up front: a node with two successors
(two rel-next declarations, two Location headers) is either an error
(``on_conflict="error"``, default) or resolved deterministically to the
lexicographically smallest target (``on_conflict="min"``) — the
min-struct keeper discipline of ``canonical_url_dedup``, no window.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import local_checkpoint, release_local_checkpoint


class ChainCycleError(RuntimeError):
    """Raised when chain_assembly's pointer doubling fails to converge
    inside the round cap — the successor relation contains a cycle (or
    a chain longer than ``max_len``)."""


def _dedupe_edges(
    edges: DataFrame, src: str, dst: str, on_conflict: str
) -> DataFrame:
    """Distinct edges; then enforce ≤1 successor per src and ≤1
    predecessor per dst ('min': keep the smallest partner, via a
    min-struct aggregation — no window; 'error': raise)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if on_conflict == "error":
        bad = (
            e.groupBy("src").count().where(F.col("count") > 1).limit(1).count()
            or e.groupBy("dst").count().where(F.col("count") > 1).limit(1).count()
        )
        if bad:
            raise ValueError(
                "successor relation is not a linked-list forest (a node "
                "has 2+ successors or 2+ predecessors); pass "
                "on_conflict='min' to resolve deterministically"
            )
        return e
    if on_conflict != "min":
        raise ValueError(f"on_conflict must be 'error' or 'min', got {on_conflict!r}")
    one_succ = e.groupBy("src").agg(F.min("dst").alias("dst"))
    return one_succ.groupBy("dst").agg(F.min("src").alias("src")).select("src", "dst")


def chain_assembly(
    nodes_df: DataFrame,
    edges_df: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    max_len: int = 1024,
    on_conflict: str = "error",
    compact: bool = True,
) -> DataFrame:
    """``(id, chain_head, page_ix, chain_len)`` — label every node with
    the head of its chain, its 0-based position, and the chain's total
    length. Nodes with no incident edge are singleton chains
    (``chain_head = id``, ``page_ix = 0``, ``chain_len = 1``).

    Edges whose endpoints are not both in ``nodes_df`` are ignored (a
    rel-next pointing outside the corpus cannot be followed). See the
    module docstring for the pointer-doubling scale analysis.

    ``compact=True`` (default) runs the doubling rounds on 8-byte
    ``xxhash64`` node keys instead of the raw ids — at web scale a url
    averages 60-80 bytes and appears TWICE per state row, so every
    round's self-join shuffles ~15-20× less with hashed keys; the raw
    strings appear only in the two final translation joins. Exactness
    is preserved: one aggregate compares ``count(distinct id)`` with
    ``count(distinct hash)`` up front and silently falls back to raw
    ids on any collision (never a wrong answer, only a slower plan).
    """
    if compact:
        raw_ids = nodes_df.select(F.col(id_col).alias("id")).distinct()
        n_ids, n_hashes = (
            raw_ids.agg(
                F.count("*"), F.countDistinct(F.xxhash64("id"))
            ).first()
        )
        if n_ids == n_hashes:
            idmap = local_checkpoint(
                raw_ids.select("id", F.xxhash64("id").alias("h")), eager=False
            )
            hashed_nodes = idmap.select(F.col("h").alias(id_col))
            hashed_edges = edges_df.select(
                F.xxhash64(F.col(src_col)).alias(src_col),
                F.xxhash64(F.col(dst_col)).alias(dst_col),
            )
            labeled = chain_assembly(
                hashed_nodes, hashed_edges, id_col=id_col,
                src_col=src_col, dst_col=dst_col, max_len=max_len,
                on_conflict=on_conflict, compact=False,
            )
            me = idmap.select(F.col("h").alias("id"), F.col("id").alias("_me"))
            hd = idmap.select(
                F.col("h").alias("chain_head"), F.col("id").alias("_hd")
            )
            return (
                labeled.join(me, "id")
                .join(hd, "chain_head")
                .select(
                    F.col("_me").alias("id"),
                    F.col("_hd").alias("chain_head"),
                    "page_ix", "chain_len",
                )
            )
        # hash collision among node ids: fall through to the raw-id path
    ids = nodes_df.select(F.col(id_col).alias("id")).distinct()
    e = _dedupe_edges(edges_df, src_col, dst_col, on_conflict)
    # restrict to edges internal to the node set (semi-joins keep it
    # narrow); no checkpoint of its own — it feeds exactly one plan (the
    # initial state) whose checkpoint truncates the lineage anyway
    e = e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi").join(
        ids.withColumnRenamed("id", "dst"), "dst", "left_semi"
    )
    # initial ancestor pointer: my predecessor (d=1), else myself (d=0).
    # Checkpoints are LAZY: the per-round convergence aggregate is the
    # action that materializes them, so each round costs ONE job, not
    # two — at small inputs the rounds are pure scheduler overhead and
    # this halves it; at 10^12 rows it merely avoids a second pass.
    state = local_checkpoint(
        ids.join(e, ids["id"] == e["dst"], "left").select(
            "id",
            F.coalesce(e["src"], ids["id"]).alias("anc"),
            F.when(e["src"].isNull(), F.lit(0)).otherwise(F.lit(1)).alias("d"),
        ),
        eager=False,
    )
    rounds = max(1, math.ceil(math.log2(max(2, max_len))))
    prev_total = state.agg(F.coalesce(F.sum("d"), F.lit(0))).first()[0]
    converged = prev_total == 0
    for _ in range(rounds):
        if converged:
            break
        hop = state.select(
            F.col("id").alias("a_id"), F.col("anc").alias("a_anc"),
            F.col("d").alias("a_d"),
        )
        new_state = local_checkpoint(
            state.join(hop, state["anc"] == hop["a_id"]).select(
                "id",
                F.col("a_anc").alias("anc"),
                (F.col("d") + F.col("a_d")).alias("d"),
            ),
            eager=False,
        )
        total = new_state.agg(F.coalesce(F.sum("d"), F.lit(0))).first()[0]
        release_local_checkpoint(state)
        state = new_state
        converged = total == prev_total
        prev_total = total
    if not converged:
        # one extra round distinguishes "exactly finished on the cap"
        # from "still moving" (a cycle's distances double forever)
        hop = state.select(
            F.col("id").alias("a_id"), F.col("anc").alias("a_anc"),
            F.col("d").alias("a_d"),
        )
        check = (
            state.join(hop, state["anc"] == hop["a_id"])
            .agg(F.coalesce(F.sum(F.col("d") + F.col("a_d")), F.lit(0)))
            .first()[0]
        )
        if check != prev_total:
            release_local_checkpoint(state)
            raise ChainCycleError(
                f"pointer doubling did not converge in {rounds} rounds "
                f"(cycle in the successor relation, or a chain longer "
                f"than max_len={max_len})"
            )
    lens = state.groupBy("anc").agg((F.max("d") + 1).alias("chain_len"))
    # the returned plan reads the final round's checkpoint (twice — state
    # and lens); the CALLER releases it via release_pinned after its
    # terminal action
    return state.join(lens, "anc").select(
        "id",
        F.col("anc").alias("chain_head"),
        F.col("d").alias("page_ix"),
        "chain_len",
    )


def pagination_chains(
    pages_df: DataFrame,
    max_len: int = 1024,
    on_conflict: str = "error",
) -> DataFrame:
    """``(url, chain_head, page_ix, chain_len)`` — assemble multi-page
    articles from each page's ``<link rel="next">`` declaration: the
    full extraction stack (:func:`~llm_aided_ocr_spark.operators
    .extract.link_rels` tag parse → RFC 3986 href resolution against
    the page url → restriction to urls present in the corpus) feeding
    :func:`chain_assembly`. Every corpus page appears exactly once;
    pages in no chain are singletons."""
    from llm_aided_ocr_spark.operators.extract import link_rels
    from llm_aided_ocr_spark.operators.linkgraph import resolve_href_col

    nexts = (
        link_rels(pages_df, rels=["next"])
        .select(
            F.col("id").alias("src"),
            resolve_href_col(F.col("id"), F.col("href")).alias("dst"),
        )
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    out = chain_assembly(
        pages_df.select(F.col("url")),
        nexts,
        id_col="url",
        max_len=max_len,
        on_conflict=on_conflict,
    )
    return out.select(
        F.col("id").alias("url"), "chain_head", "page_ix", "chain_len"
    )


def redirect_resolve(
    fetch_df: DataFrame,
    max_hops: int = 10,
    on_conflict: str = "error",
) -> DataFrame:
    """``(url, final_url, hops, terminal)`` — resolve every fetched
    url's redirect chain: follow ``location`` while ``status`` is 3xx,
    up to ``max_hops``. ``terminal = false`` marks urls still sitting
    on a 3xx at the cap (redirect loop or over-budget chain) — those
    rows carry the LAST url reached and the hop count spent.
    A 3xx row with a NULL/empty location is terminal where it stands
    (nothing to follow). Redirects to urls outside the fetch set are
    followed one hop and terminate there (the destination's status is
    unknown, so it cannot redirect further).

    Linear per-hop loop, not pointer doubling — see the module
    docstring for why that is the right call at a ≤10-hop budget."""
    f = fetch_df.select(
        F.col("url"),
        F.col("status").cast("int").alias("status"),
        F.col("location"),
    )
    dup = f.groupBy("url").count().where(F.col("count") > 1)
    if on_conflict == "error":
        if dup.limit(1).count():
            raise ValueError(
                "multiple fetch records per url; pass on_conflict='min'"
            )
    elif on_conflict == "min":
        f = f.groupBy("url").agg(
            F.min(F.struct("status", "location")).alias("s")
        ).select("url", F.col("s.status").alias("status"),
                 F.col("s.location").alias("location"))
    else:
        raise ValueError(f"on_conflict must be 'error' or 'min', got {on_conflict!r}")
    hop = local_checkpoint(
        f.where(
            (F.col("status") >= 300) & (F.col("status") < 400)
            & F.col("location").isNotNull() & (F.col("location") != "")
        ).select(F.col("url").alias("h_url"), F.col("location").alias("h_dst")),
        eager=False,
    )
    is_redirect = (
        (F.col("status") >= 300) & (F.col("status") < 400)
        & F.col("location").isNotNull() & (F.col("location") != "")
    )
    # lazy checkpoints, materialized by the per-hop moving-count — one
    # job per hop (see chain_assembly's round discipline)
    state = local_checkpoint(
        f.select(
            "url",
            F.col("url").alias("cur"),
            F.lit(0).alias("hops"),
            (~is_redirect).alias("done"),
        ),
        eager=False,
    )
    moving = state.where(~F.col("done")).limit(1).count()
    for _ in range(max_hops):
        if not moving:
            break
        stepped = (
            state.join(hop, state["cur"] == hop["h_url"], "left")
            .select(
                "url",
                F.when(F.col("done") | F.col("h_dst").isNull(), F.col("cur"))
                .otherwise(F.col("h_dst")).alias("cur"),
                F.when(F.col("done") | F.col("h_dst").isNull(), F.col("hops"))
                .otherwise(F.col("hops") + 1).alias("hops"),
                (F.col("done") | F.col("h_dst").isNull()).alias("done"),
            )
        )
        # a hop landing on a url that is itself a redirect keeps moving;
        # landing anywhere else (non-3xx fetch, or outside the set) is done
        new_state = local_checkpoint(
            stepped.join(hop.select(F.col("h_url").alias("n_url")),
                         stepped["cur"] == F.col("n_url"), "left")
            .select(
                "url", "cur", "hops",
                (F.col("done") | F.col("n_url").isNull()).alias("done"),
            ),
            eager=False,
        )
        moving = new_state.where(~F.col("done")).limit(1).count()
        release_local_checkpoint(state)
        state = new_state
    release_local_checkpoint(hop)
    return state.select(
        "url",
        F.col("cur").alias("final_url"),
        "hops",
        F.col("done").alias("terminal"),
    )
