"""Reference-corpus n-gram language-model scoring (CCNet-style).

CCNet's load-bearing quality signal is per-document perplexity under a
KenLM 5-gram model trained on a high-quality reference corpus (Wenzek et
al. 2020, arXiv:1911.00359): documents whose n-gram statistics look like
the reference are kept, tail-of-the-web gibberish scores badly. This
module is that train-on-reference / score-the-corpus split as two
DataFrame operators — no reference analogue (the reference repo is a
single-document OCR CLI); semantics follow the public recipe.

Design constraint, shared with ``textstats.word_commonness``: every
aggregate stays in INTEGER space until two fixed-order IEEE divisions at
the very end, so the driver's DuckDB oracle reproduces the score
bit-for-bit (no transcendentals, no float-summation order). That rules
out true log-space perplexity (sum of libm logs is not cross-engine
stable at the hash-match bar); the shipped score is the same-family
aggregate-ratio form:

    lm_score = lam * sum(c12) / sum(c1)                 (bigram MLE mass)
             + (1-lam) * (sum(c2) + B) / (B * (T + V))  (add-one unigram)

summed over the document's B bigram positions, where c12/c1/c2 are
reference bigram / left-context / right-token counts, T the reference
token count and V its vocabulary size. A document whose bigrams are all
reference-frequent scores high; OOV-heavy text decays toward the add-one
floor. ``oov_bigram_frac`` (integer-exact) is reported alongside — it is
the cheapest strong gibberish signal on its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LAM = 0.9  # the bigram weight ``lam`` of the score above


def _bigram_rel(df: DataFrame, text_col: str, id_col: str, hashed: bool) -> DataFrame:
    """``(id, g1, g2, n)`` — per-document bigram occurrence counts over
    the shared tokenizer (``_words_col``; the artificial ``['']`` token
    of empty docs produces no bigram because single-token docs have
    none). Pre-aggregated per document BEFORE any join, so the model
    joins move distinct-bigrams-per-doc rows, not per-occurrence rows —
    the same shuffle diet as word_commonness."""
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col, _words_col
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism, let_

    ws = _words_col(text_col)
    key = (
        (lambda c: _word_hash_col(c, "xxhash64")) if hashed else (lambda c: c)
    )
    empty_t = (
        "array<struct<g1:bigint,g2:bigint>>"
        if hashed
        else "array<struct<g1:string,g2:string>>"
    )

    # let_-bind the token array: a projected alias is inlined per
    # reference by CollapseProject, so the unbound form re-split the
    # text for each of the size check and both slices (guide §1.2)
    def _pairs_col(w):
        return F.when(
            F.size(w) >= 2,
            F.zip_with(
                F.slice(w, 1, F.size(w) - 1),
                F.slice(w, 2, F.size(w) - 1),
                lambda a, b: F.struct(
                    key(a).alias("g1"), key(b).alias("g2")
                ),
            ),
        ).otherwise(F.array().cast(empty_t))

    pairs = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            let_(F.filter(ws, lambda w: w != ""), _pairs_col)
        ).alias("p"),
    )
    return pairs.groupBy(
        "id", F.col("p.g1").alias("g1"), F.col("p.g2").alias("g2")
    ).agg(F.count(F.lit(1)).alias("n"))


def train_bigram_lm(
    ref_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
) -> dict:
    """``{'uni': (g, c), 'bi': (g1, g2, c), 'stats': (t, v)}`` — the
    reference-corpus model relations. ``hashed=True`` keys grams by the
    portable word hash (8-byte join/shuffle keys; identical counts
    barring 64-bit collisions — the driver oracle uses the string form,
    exact by construction). Counts come from one explode into map-side-
    combined aggregations; the stats row is a 1-row broadcastable
    relation. The model is reference-corpus-scaled (a quality sample,
    not the 100 TB corpus) — AQE broadcasts it when it is small and
    falls back to a hash join when it is not; nothing here collects to
    the driver."""
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col, _words_col
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    ws = _words_col(text_col)
    key = (
        (lambda c: _word_hash_col(c, "xxhash64")) if hashed else (lambda c: c)
    )
    toks = (
        ensure_min_parallelism(ref_df)
        .select(F.explode(F.filter(ws, lambda w: w != "")).alias("w"))
        .select(key(F.col("w")).alias("g"))
    )
    uni = toks.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
    bi = _bigram_rel(ref_df, text_col, id_col, hashed).groupBy("g1", "g2").agg(
        F.sum("n").alias("c")
    )
    stats = uni.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    return {"uni": uni, "bi": bi, "stats": stats}


def lm_score(
    df: DataFrame,
    ref_df: DataFrame | None = None,
    model: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = True,
) -> DataFrame:
    """``(id, n_bigrams, oov_bigram_frac_r, lm_score_r)`` — every input
    document scored under the reference bigram model (pass ``ref_df`` to
    train inline, or a :func:`train_bigram_lm` result to reuse one model
    across many corpora). Zero-bigram documents (0- or 1-token) score
    0.0 with ``n_bigrams`` 0 — gate on ``n_bigrams`` first, like every
    length-sensitive signal.

    Scale shape: the document side is the pre-aggregated per-doc bigram
    relation, computed ONCE per action (the three model joins CHAIN over
    one instance of it — nothing here needs a cache, and materializing a
    corpus-scaled relation would cost storage for zero reuse); model
    joins are keyed on 8-byte gram hashes; per-doc sums are map-side
    combinable integers; the single 1-row stats relation arrives by
    broadcast; and the final all-ids rejoin is pinned to a shuffle hash
    join (``corpus_scaled``) because per-doc scores are O(corpus).

    Skew note: the ``c1`` join keys on the LEFT context gram, so stop
    words ('the', 'of') are hot keys — but the document side is
    per-document DISTINCT bigrams, which bounds any single key to one
    row per document pair-type, and AQE's skew-join split handles the
    residue; no salting needed."""
    from pyspark import StorageLevel

    from llm_aided_ocr_spark.operators.util import corpus_scaled, persist

    if (ref_df is None) == (model is None):
        raise ValueError("pass exactly one of ref_df or model")
    if model is None:
        model = train_bigram_lm(ref_df, text_col=text_col, id_col=id_col, hashed=hashed)
        # The unigram relation feeds THREE consumers (c1, c2, stats);
        # without a persist each one re-tokenizes and re-aggregates the
        # reference slice from scratch (verified in the physical plan: 3
        # identical explode+agg subtrees). ``uni`` is vocabulary-sized —
        # reference-corpus-scaled, not corpus-scaled — so the cache is
        # small by construction (guide §2.4); registered for
        # deterministic release. ``bi`` is persisted for the same
        # reason: it is distinct-reference-bigram-sized, and without the
        # persist every ACTION over the result (and every downstream
        # consumer, e.g. ccnet_buckets' quantile pass + bucket pass)
        # re-runs the reference tokenize+explode+aggregate from scratch.
        model["uni"] = persist(model["uni"], StorageLevel.MEMORY_AND_DISK)
        model["bi"] = persist(model["bi"], StorageLevel.MEMORY_AND_DISK)
    occ = _bigram_rel(df, text_col, id_col, hashed)
    uni = model["uni"]
    c1 = uni.select(F.col("g").alias("g1"), F.col("c").alias("c1"))
    c2 = uni.select(F.col("g").alias("g2"), F.col("c").alias("c2"))
    bi = model["bi"].select("g1", "g2", F.col("c").alias("c12"))
    per_doc = (
        occ.join(bi, on=["g1", "g2"], how="left")
        .join(c1, on="g1", how="left")
        .join(c2, on="g2", how="left")
        .groupBy("id")
        .agg(
            F.sum("n").alias("n_bi"),
            F.sum(F.col("n") * F.coalesce(F.col("c12"), F.lit(0))).alias("s12"),
            F.sum(F.col("n") * F.coalesce(F.col("c1"), F.lit(0))).alias("s1"),
            F.sum(F.col("n") * F.coalesce(F.col("c2"), F.lit(0))).alias("s2"),
            F.sum(
                F.when(F.col("c12").isNull(), F.col("n")).otherwise(F.lit(0))
            ).alias("n_oov"),
        )
    )
    scored = per_doc.crossJoin(F.broadcast(model["stats"])).select(
        "id",
        F.col("n_bi").cast("bigint").alias("n_bigrams"),
        F.round(
            F.col("n_oov").cast("double") / F.col("n_bi").cast("double"), 6
        ).alias("oov_bigram_frac_r"),
        F.round(
            F.when(
                F.col("s1") > 0,
                F.lit(LAM)
                * (F.col("s12").cast("double") / F.col("s1").cast("double")),
            ).otherwise(F.lit(0.0))
            + F.lit(1.0 - LAM)
            * (
                (F.col("s2") + F.col("n_bi")).cast("double")
                # greatest(..,1): an empty reference model (t+v=0) floors
                # the denominator instead of dividing by zero
                / (
                    F.col("n_bi")
                    * F.greatest(F.col("t") + F.col("v"), F.lit(1))
                ).cast("double")
            ),
            9,
        ).alias("lm_score_r"),
    )
    all_ids = df.select(F.col(id_col).alias("id"))
    return all_ids.join(corpus_scaled(scored), "id", "left").select(
        "id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("oov_bigram_frac_r", F.lit(0.0)).alias(
            "oov_bigram_frac_r"
        ),
        F.coalesce("lm_score_r", F.lit(0.0)).alias("lm_score_r"),
    )


def ccnet_buckets(
    df: DataFrame,
    ref_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, lang, lm_score_r, doc_bytes, bucket)`` — CCNet's
    head/middle/tail corpus split (Wenzek et al. 2020 §4.4): per
    language, rank documents by LM quality and cut into thirds by
    cumulative SIZE, so each bucket holds ~1/3 of the language's bytes,
    not 1/3 of its documents. ``head`` is the highest-:func:`lm_score`
    (lowest-perplexity-proxy) mass; downstream pipelines train on head,
    sample middle, and drop or re-mine tail.

    Determinism/exactness: mass is UTF-8 byte length (integer, identical
    in Spark ``octet_length`` and DuckDB ``strlen``); bucket thresholds
    compare ``3 * cum_before < total`` and ``3 * cum_before < 2 * total``
    in bigint space, where ``cum_before`` is the byte mass of strictly
    BETTER-scoring docs in the language. All documents sharing one score
    share one bucket (the boundary-straddling score group lands whole in
    the better bucket) — so the split is a pure function of
    ``(lang, score)``, independent of row order and partitioning, and
    the driver's DuckDB oracle replays it exactly.

    Scale shape: one corpus-to-corpus id join (scored ← metadata; both
    sides shuffle on the id once), then the cut runs entirely on the
    aggregated ``(lang, score) → mass`` relation — the window sort
    orders DISTINCT scores per language (scores are 9-dp-rounded
    ratios; far below corpus cardinality), never documents. The bucket
    assignment joins back on ``(lang, score)`` with the corpus side
    streaming; the tiny cut relation is left to AQE to broadcast. The
    doc relation is cached (it feeds the mass aggregation and the final
    join) and registered for deterministic release."""
    from llm_aided_ocr_spark.operators.util import corpus_scaled, persist

    scored = lm_score(
        df, ref_df=ref_df, text_col=text_col, id_col=id_col
    ).select("id", "lm_score_r")
    meta = df.select(
        F.col(id_col).alias("id"),
        F.col("lang"),
        F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).cast(
            "bigint"
        ).alias("doc_bytes"),
    )
    doc_rel = persist(meta.join(corpus_scaled(scored), "id"))
    mass = doc_rel.groupBy("lang", "lm_score_r").agg(
        F.sum("doc_bytes").alias("m")
    )
    from pyspark.sql import Window

    by_lang = Window.partitionBy("lang")
    better = (
        by_lang.orderBy(F.desc("lm_score_r"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cut = mass.select(
        "lang",
        "lm_score_r",
        F.coalesce(F.sum("m").over(better), F.lit(0)).alias("cumb"),
        F.sum("m").over(by_lang).alias("tot"),
    ).select(
        "lang",
        "lm_score_r",
        F.when(3 * F.col("cumb") < F.col("tot"), F.lit("head"))
        .when(3 * F.col("cumb") < 2 * F.col("tot"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    # null-SAFE equality on the join back: a NULL lang (e.g. the CLI
    # --from-warc path before language ID) forms its own group in the
    # mass/cut aggregations, and a null-unsafe join would silently drop
    # those documents from the output
    d, c = doc_rel.alias("d"), cut.alias("c")
    return (
        d.join(
            c,
            F.col("d.lang").eqNullSafe(F.col("c.lang"))
            & F.col("d.lm_score_r").eqNullSafe(F.col("c.lm_score_r")),
        ).select(
            F.col("d.id").alias("id"),
            F.col("d.lang").alias("lang"),
            F.col("d.lm_score_r").alias("lm_score_r"),
            F.col("d.doc_bytes").alias("doc_bytes"),
            F.col("c.bucket").alias("bucket"),
        )
    )
