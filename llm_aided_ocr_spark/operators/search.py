"""Lexical retrieval over the corpus — BM25 (Robertson/Spärck Jones).

The curation suite's retrieval gap-filler: embedding ANN
(``operators.similarity``) answers "what is semantically near this
vector"; BM25 answers "which documents match these query TERMS" — the
scoring function of Lucene/Elasticsearch and the lexical baseline in
every retrieval stack (Robertson & Zaragoza 2009, "The Probabilistic
Relevance Framework: BM25 and Beyond"):

    score(q, d) = sum over t in q of
        idf(t) * f(t,d) * (k1 + 1) / (f(t,d) + k1 * (1 - b + b*|d|/avgdl))
    idf(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Scale shape — the query is TINY and the corpus is huge, so nothing ever
shuffles per-token:

* per-document term frequencies are document-local native expressions
  (``size(filter(words, w == t))`` per query term — the term list is a
  literal, so this is one fused codegen projection, no explode);
* the corpus statistics (N, avgdl, one df per term) reduce to ONE row
  via a single aggregate and ride a broadcast cross join back (the
  repo's standard scalar pattern — never a driver collect);
* scoring is then a pure per-row expression; ``bm25_topk`` finishes
  with a TakeOrdered (per-partition heads + one k-row merge), not a
  global sort.

The only corpus-wide data movement is the 1-row statistics aggregate.
"""

from __future__ import annotations

import re

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import persist


def bm25_scores(df: DataFrame, query_terms: Sequence[str]) -> DataFrame:
    """``(id, dl, n_matched, score_r)`` — the BM25 score of every
    document against ``query_terms`` (matched on the shared normalized
    tokenization: lowercase alphanumeric runs), rounded to 6dp (the
    repo's cross-engine float contract). ``dl`` is the document token
    length, ``n_matched`` how many distinct query terms occur.

    Query terms pass through the SAME tokenizer as documents (lowercase,
    split on non-alphanumerics) before the tf columns are built — a
    verbatim ``'Hello'`` or ``'state-of-the-art'`` would otherwise never
    match the normalized token space and silently score 0; a multi-word
    term contributes each of its tokens as a query term, and a term that
    normalizes to nothing raises. Duplicate query terms (after
    normalization) are deduplicated (BM25 is defined over the query's
    term SET; Lucene does the same); term order is irrelevant. Empty
    documents score 0. ``k1 = 1.2`` and ``b = 0.75`` are the standard Okapi
    constants."""
    import re

    from llm_aided_ocr_spark.operators.dedup import _words_col

    norm_terms = []
    for raw in query_terms:
        toks = re.findall(r"[a-z0-9]+", (raw or "").lower())
        if not toks:
            raise ValueError(
                f"query term {raw!r} normalizes to no tokens under the "
                "corpus tokenizer (lowercase [a-z0-9]+ runs)"
            )
        norm_terms.extend(toks)
    terms = list(dict.fromkeys(norm_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    k1, b = 1.2, 0.75

    words = F.filter(_words_col("text"), lambda w: w != "")

    def _tf(term: str) -> F.Column:
        # NB: a closure returning a 1-ARG lambda — a `lambda w, t=t:`
        # default-arg idiom has arity 2, and filter() would pass the
        # element INDEX as t (the F.trim trap, see boilerplate.c4_clean)
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    base = persist(df.select(
        F.col("doc_id").alias("id"),
        F.size(words).alias("dl"),
        *[_tf(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    ))

    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
            *[
                F.sum((F.col(f"_tf{i}") > 0).cast("long"))
                .cast("double")
                .alias(f"_df{i}")
                for i in range(len(terms))
            ],
        )
    )

    def _term_score(i: int) -> F.Column:
        tf = F.col(f"_tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"_df{i}") + 0.5)
            / (F.col(f"_df{i}") + 0.5)
        )
        norm = F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")
        )
        return idf * tf * F.lit(k1 + 1.0) / (tf + norm)

    score = sum(
        (_term_score(i) for i in range(len(terms))), start=F.lit(0.0)
    )
    n_matched = sum(
        ((F.col(f"_tf{i}") > 0).cast("int") for i in range(len(terms))),
        start=F.lit(0),
    )
    return base.crossJoin(stats).select(
        "id",
        "dl",
        n_matched.alias("n_matched"),
        F.round(score, 6).alias("score_r"),
    )


def bm25_topk(df: DataFrame, query_terms: Sequence[str], k: int = 10) -> DataFrame:
    """The ``k`` best-scoring documents (ties broken by id for
    determinism) — a TakeOrdered over :func:`bm25_scores`, so the driver
    merge sees ``k`` rows per partition, never the corpus."""
    scores = bm25_scores(df, query_terms)
    return scores.orderBy(F.desc("score_r"), F.col("id")).limit(k)


def postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """``(term, id, tf, df)`` — the inverted-index postings relation
    over the shared normalized token space (the same ``[a-z0-9]+``
    tokenizer as :func:`bm25_scores` and the shingle family, so an
    index built here scores consistently with ad-hoc BM25). ``tf`` is
    the term's in-document count, ``df`` its document frequency —
    everything a BM25/idf-weighted serving index materializes per
    posting.

    ``min_df`` drops hapax/rare terms (classic index pruning);
    ``max_df_frac`` drops stop-like terms present in more than that
    fraction of documents (df bound computed against a 1-row broadcast
    corpus count, the repo's standard scalar pattern — no collect).

    Scale shape: explode → ``groupBy(term, id)`` — all tokens of a
    document sit in one input row, so map-side partial aggregation
    collapses to per-(doc, term) counts before the ONE data-bearing
    exchange. The tf relation is persisted (MEMORY_AND_DISK, registered
    for :func:`~llm_aided_ocr_spark.operators.util.release_pinned`) before
    the df stats derive from it: without the persist, Catalyst re-plans the
    stats subtree from the source and TOKENIZES THE CORPUS TWICE —
    verified in the physical plan — whereas tf is a ~30-byte-row
    relation that spills to disk cheaply. The stats agg is narrow
    (``term`` → count) and joins back on its own grouping key
    (vocabulary-sized relation — NOT force-broadcast: a web-scale
    vocabulary is 10^8+ terms; AQE picks the strategy). Text never
    crosses an exchange."""
    from pyspark import StorageLevel

    from llm_aided_ocr_spark.operators.dedup import _words_col

    words = F.filter(_words_col(text_col), lambda w: w != "")
    tok = df.select(F.col(id_col).alias("id"), F.explode(words).alias("term"))
    tf = tok.groupBy("term", "id").agg(F.count(F.lit(1)).alias("tf"))
    tf = persist(tf, StorageLevel.MEMORY_AND_DISK)
    stats = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    out = tf.join(stats, "term")
    if min_df:
        out = out.filter(F.col("df") >= F.lit(int(min_df)))
    if max_df_frac is not None:
        n = df.select(F.count(F.lit(1)).alias("_n_docs"))
        out = out.crossJoin(F.broadcast(n)).filter(
            F.col("df") <= F.col("_n_docs") * F.lit(float(max_df_frac))
        ).drop("_n_docs")
    return out.select("term", "id", "tf", "df")


def positional_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(term, id, pos)`` — the POSITIONAL inverted-index relation:
    one row per token occurrence with its 0-based index in the
    document's normalized token stream (the shared ``[a-z0-9]+``
    tokenizer, so positions are consistent with :func:`postings` and
    the shingle family). This is the index layout phrase and proximity
    queries need — ``tf`` is recoverable as ``count(*)`` per (term, id),
    so a serving index stores only this relation.

    Scale shape: one ``posexplode`` projection, no aggregation, no
    exchange — the relation lands partitioned however the corpus scan
    was, and a real deployment would bucket it by ``term`` at write
    time so phrase joins co-locate."""
    from llm_aided_ocr_spark.operators.dedup import _words_col

    words = F.filter(_words_col(text_col), lambda w: w != "")
    return df.select(F.col(id_col).alias("id"), words.alias("_w")).select(
        "id", F.posexplode("_w").alias("pos", "term")
    ).select("term", "id", F.col("pos").cast("bigint").alias("pos"))


def phrase_search(
    pos_postings: DataFrame, phrase: str
) -> DataFrame:
    """``(id, n_matches)`` — documents containing the exact token
    sequence of ``phrase`` (normalized through the corpus tokenizer),
    with the number of (token-level, overlap-counting) occurrences.

    Classic positional-index phrase execution: term ``i`` of a k-term
    phrase contributes the relation
    ``σ(term = tᵢ)(postings) → (id, pos - i AS anchor)``, and a phrase
    occurrence is an ``(id, anchor)`` present in ALL k relations — a
    k-way equi-join on the SAME key, so after the first shuffle every
    subsequent join reuses the ``(id, anchor)`` partitioning
    (co-partitioned, no re-exchange). The term filters prune each side
    to that term's posting list before anything moves — the whole point
    of running phrases through the index instead of re-scanning text.
    Repeated phrase terms (``"order order"``) self-join the same
    posting list at shifted anchors and count OVERLAPPING occurrences,
    the token-level semantics.

    A duplicate ``(term, id, pos)`` row in the input would double-count
    matches, so the contract requires the relation
    :func:`positional_postings` produces (one row per occurrence)."""
    terms = re.findall(r"[a-z0-9]+", phrase.lower())
    if not terms:
        raise ValueError(
            f"phrase {phrase!r} normalizes to no tokens under the corpus "
            "tokenizer (lowercase [a-z0-9]+ runs)"
        )
    sides = [
        pos_postings.filter(F.col("term") == t).select(
            "id", (F.col("pos") - i).alias("anchor")
        )
        for i, t in enumerate(terms)
    ]
    hits = sides[0]
    for s in sides[1:]:
        hits = hits.join(s, ["id", "anchor"])
    return hits.groupBy("id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matches")
    )


def related_docs(df: DataFrame, k: int = 10) -> DataFrame:
    """``(doc_id, rel_id, cosine_r, rank)`` — top-k related documents by
    TF-IDF sparse cosine THROUGH the inverted index (the classic
    "similar pages" computation): ltn weights ``w = (1 + ln tf) ·
    ln(N/df)``, pairs generated by a postings self-join on term, scored
    as ``dot / (‖a‖·‖b‖)``.

    Engine-exact scoring (the :func:`~llm_aided_ocr_spark.operators
    .similarity.quantized_topk` discipline): weights are quantized to
    ``floor(w · 1e6)`` BIGINTs, so dots and squared norms are exact
    integer sums and the final cosine is one deterministic double
    expression — ranks cannot flip between engines or partitionings.
    The 1e6 scale keeps a document's squared norm under int64 up to
    ~20k distinct terms at web-typical idf.

    Scale shape: ``df = N`` terms weight to exactly 0 and are DROPPED
    before the self-join — the mathematically-dead terms are precisely
    the corpus-wide hottest keys, so the worst join fanout eliminates
    itself. Norms derive from the same weights relation (grouped on
    its own key); the per-doc top-k window partitions on ``doc_id``
    (parallel across docs). Corpus size is ONE broadcast row.

    The weights relation ``w`` feeds FOUR plan subtrees (both sides of
    the term self-join and both norm lookups); without a persist each
    consumer re-runs the df-stats exchange over the cached tf plus its
    own corpus count (verified in the physical plan: 4 identical
    df-aggregate exchanges + 4 ``_n_docs`` scans/counts). ``w`` is the
    same narrow ~30-byte-row shape as the tf relation :func:`postings`
    already persists, so pinning it trades one more spill-friendly
    cache for three redundant aggregate exchanges and three corpus
    counts (guide §2.4: share one exchange between same-keyed
    consumers)."""
    from pyspark import StorageLevel

    p = postings(df)
    n = df.select(F.count(F.lit(1)).cast("bigint").alias("_n_docs"))
    w = persist(
        p.crossJoin(F.broadcast(n))
        .select(
            "term", "id",
            F.floor(
                (F.lit(1.0) + F.log(F.col("tf").cast("double")))
                * F.log(
                    F.col("_n_docs").cast("double")
                    / F.col("df").cast("double")
                )
                * F.lit(1e6)
            ).cast("bigint").alias("iw"),
        )
        .filter(F.col("iw") > 0),
        StorageLevel.MEMORY_AND_DISK,
    )
    # per-doc squared norms feed BOTH sides of the scored join (sa/sb);
    # without a persist each side re-runs the norm aggregation over the
    # cached w (two agg exchanges in the plan — static planning does
    # not reuse them). One (id, bigint) row per doc — the narrowest
    # relation in the operator.
    ss = persist(
        w.groupBy("id").agg(F.sum(F.col("iw") * F.col("iw")).alias("ssq")),
        StorageLevel.MEMORY_AND_DISK,
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, "term")
        .filter(F.col("a.id") != F.col("b.id"))
        .groupBy(F.col("a.id").alias("ida"), F.col("b.id").alias("idb"))
        .agg(F.sum(F.col("a.iw") * F.col("b.iw")).alias("dot"))
    )
    sa = ss.select(F.col("id").alias("ida"), F.col("ssq").alias("ssa"))
    sb = ss.select(F.col("id").alias("idb"), F.col("ssq").alias("ssb"))
    denom = F.sqrt(F.col("ssa").cast("double")) * F.sqrt(
        F.col("ssb").cast("double")
    )
    scored = (
        dots.join(sa, "ida").join(sb, "idb")
        .select(
            "ida", "idb",
            F.when(
                denom > 0, F.col("dot").cast("double") / denom
            ).otherwise(F.lit(0.0)).alias("cos"),
        )
    )
    win = Window.partitionBy("ida").orderBy(F.desc("cos"), F.col("idb"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            F.col("ida").alias("doc_id"),
            F.col("idb").alias("rel_id"),
            F.round("cos", 6).alias("cosine_r"),
            "rank",
        )
    )


def rrf_fuse(rankings: DataFrame, k: int = 60, scale: int = 10**15) -> DataFrame:
    """``(id, rrf_q, n_sources)`` — Reciprocal Rank Fusion (Cormack,
    Clarke & Buettcher, SIGIR 2009) over a LONG-FORM ranking relation
    ``(id, source, rank)`` (rank 1-based within each source): the
    score-free way to merge a lexical ranking (BM25), a dense ranking
    (cosine top-k) and any number of others without calibrating their
    incomparable score scales — the default hybrid-search combiner.

    ``rrf_q = Σ_sources floor(scale / (k + rank))`` — the INTEGER
    quantization of ``Σ 1/(k+rank)`` (the repo's order-free-sum
    discipline: a float Σ would be summation-order-dependent across
    partitionings with 3+ sources). At the default scale the
    quantization perturbs a tie only when two fused ranks differ beyond
    the 15th digit — no real ranking decision moves, and the oracle
    replays the integer sum exactly. Ids absent from a source simply
    contribute nothing (the SIGIR formulation). ONE groupBy(id) with
    map-side combine; no windows, no joins."""
    if k < 0 or scale <= 0:
        raise ValueError("need k >= 0 and scale > 0")
    return (
        rankings.select(
            F.col("id"),
            F.col("source"),
            F.expr(f"CAST({scale} AS BIGINT) div ({k} + rank)")
            .alias("_c"),
        )
        .groupBy("id")
        .agg(
            F.sum("_c").cast("bigint").alias("rrf_q"),
            F.count_distinct(F.col("source")).cast("bigint").alias(
                "n_sources"
            ),
        )
    )
