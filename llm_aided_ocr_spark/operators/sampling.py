"""Deterministic sampling and dataset splitting for training pipelines.

``df.sample()`` is seed-dependent BUT partition-layout-dependent (the seed
feeds a per-partition RNG), so the same corpus sampled on two cluster
layouts yields different rows — useless for reproducible dataset releases.
These operators key every decision on a CONTENT-DERIVED portable hash
(md5 of the id, 52-bit — the repo's standard cross-engine family), so:

* the sample/split is identical on any cluster, any partitioning, any
  engine (the driver's DuckDB oracle recomputes membership exactly);
* membership is a pure narrow filter/projection — no shuffle, no RNG
  state, pushdown-friendly;
* splits are mutually exclusive and exhaustive by construction (disjoint
  hash ranges over one uniform value).
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_SPACE = 1 << 52  # md5-52 domain, exact in BIGINT everywhere


def _unit_hash_col(id_col: Column, seed: int) -> Column:
    """Uniform value in [0, 1) from the 52-bit md5 of ``seed:id`` —
    reproducible in any engine with md5 + hex parsing. Reuses the repo's
    single md5-52 definition (operators.dedup) so the whole portable-hash
    stack changes together or not at all."""
    from llm_aided_ocr_spark.operators.dedup import _word_hash_col

    h = _word_hash_col(
        F.concat(F.lit(f"{seed}:"), id_col.cast("string")), "md5_52"
    )
    return h.cast("double") / F.lit(float(HASH_SPACE))


def deterministic_sample(
    df: DataFrame, rate: float, id_col: str = "doc_id", seed: int = 1
) -> DataFrame:
    """Keep each row iff ``unit_hash(seed, id) < rate`` — a fixed,
    layout-independent ``rate`` sample. Different seeds give independent
    samples; the same seed always returns the same rows."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    return df.filter(_unit_hash_col(F.col(id_col), seed) < F.lit(rate))


def hash_split(
    df: DataFrame,
    weights: Dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 1,
) -> DataFrame:
    """Append a ``split`` column assigning every row to exactly one named
    split by disjoint hash ranges (e.g. train/val/test 0.9/0.05/0.05).
    Weights must sum to 1 (±1e-9); assignment order follows the dict
    order. RENAMING a split (same position, same weight, same seed)
    preserves every row's assignment; REORDERING entries changes the
    cumulative thresholds and reassigns rows unless the swapped weights
    are equal — keep the dict order stable across runs."""
    if weights is None:  # `or` would silently replace an empty dict
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    u = _unit_hash_col(F.col(id_col), seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


# ---------------------------------------------------------------------------
# DSIR — data selection with importance resampling
# ---------------------------------------------------------------------------

def _feature_counts(
    df: DataFrame, text_col: str, id_col: str, hash_family: str
) -> DataFrame:
    """``(id, f, n)`` — per-document hashed unigram+bigram counts, the
    DSIR feature space (Xie et al. 2023, arXiv:2302.03169 §3: hashed
    n-gram features over unigrams and bigrams). Features are built
    DOCUMENT-LOCALLY (shingle arrays, duplicates kept — counts matter),
    and every row of one document explodes inside one input partition, so
    the ``groupBy(id, f)`` exchange carries per-doc-DISTINCT features
    after map-side combine — never raw token occurrences. Full-width
    hashes (not the paper's 10k buckets): the count model is then exact
    per n-gram barring 64-bit collisions, which is what lets the driver
    oracle verify weights against string-keyed DuckDB counts."""
    from llm_aided_ocr_spark.operators.dedup import shingle_array_col

    feats = F.concat(
        shingle_array_col(text_col, n=1, hash_family=hash_family),
        shingle_array_col(text_col, n=2, hash_family=hash_family),
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(feats).alias("f"))
        .groupBy("id", "f")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_log_weights(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, log_weight)`` — per-document DSIR log importance weight
    ``sum_f n_f(d) * (ln p_target(f) - ln p_raw(f))`` with add-``a``
    smoothing over the union feature space:
    ``p(f) = (c(f)+a) / (T + a*V)`` where ``T`` is total feature mass
    and ``V`` the union vocabulary size. High weight = the document's
    n-gram distribution looks like the target corpus (the
    domain-relevance score DSIR resamples by).

    Scale shape: raw-side counts reduce the per-doc relation with
    map-side combine (8-byte hash keys); the log-ratio table is
    vocabulary-sized — broadcast — so scoring never shuffles the corpus:
    the only corpus-keyed exchanges are ``groupBy(id, f)`` and the final
    ``groupBy(id)`` sum. The 1-row totals relation rides a broadcast
    cross join (the repo's standard scalar pattern), never a driver
    collect. ``a`` is 1 (add-one smoothing)."""
    a = 1.0
    from llm_aided_ocr_spark.operators.util import persist

    docfeat = persist(_feature_counts(df, text_col, id_col, hash_family))
    rawc = docfeat.groupBy("f").agg(F.sum("n").alias("c_r"))
    tgtc = (
        _feature_counts(target_df, text_col, id_col, hash_family)
        .groupBy("f")
        .agg(F.sum("n").alias("c_t"))
    )
    union = rawc.join(tgtc, on="f", how="full").select(
        "f",
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
    )
    totals = F.broadcast(
        union.agg(
            F.sum("c_r").cast("double").alias("t_r"),
            F.sum("c_t").cast("double").alias("t_t"),
            F.count(F.lit(1)).cast("double").alias("v"),
        )
    )
    lr = union.crossJoin(totals).select(
        "f",
        (
            F.log((F.col("c_t") + a) / (F.col("t_t") + a * F.col("v")))
            - F.log((F.col("c_r") + a) / (F.col("t_r") + a * F.col("v")))
        ).alias("llr"),
    )
    return (
        docfeat.join(F.broadcast(lr), on="f")
        .groupBy("id")
        .agg(F.sum(F.col("n") * F.col("llr")).alias("log_weight"))
    )


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    k: int,
    seed: int = 1,
) -> DataFrame:
    """``(id, log_weight, gumbel_key)`` — the ``k`` documents DSIR
    selects: Gumbel-top-k sampling without replacement from the softmax
    of the log weights (key = log_weight + Gumbel(0,1); taking the top
    ``k`` keys IS a weighted sample without replacement — the
    Gumbel-max trick). The Gumbel noise is seeded by the portable md5
    unit hash of ``seed:id``, so selection is layout-independent and
    engine-reproducible, like every sampling decision in this module.
    Top-k is a TakeOrdered (per-partition heads + one small merge), not a
    global sort."""
    w = dsir_log_weights(df, target_df)
    u = F.greatest(_unit_hash_col(F.col("id"), seed), F.lit(1e-300))
    key = F.col("log_weight") - F.log(-F.log(u))
    return (
        w.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.col("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Per-domain cap — stratified down-sampling of over-represented hosts
# ---------------------------------------------------------------------------

def domain_cap(
    df: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    seed: int = 1,
    salt_partitions: int | None = None,
    domain_expr=None,
) -> DataFrame:
    """Keep at most ``max_per_domain`` documents per registrable host —
    the standard stratification pass on raw crawls, where a handful of
    spam/aggregator domains can be 10-30% of all pages (C4 and Gopher
    both cap or drop dominant hosts before any content filter sees
    them). Survivors are the ``max_per_domain`` LOWEST portable unit
    hashes (``seed:url``, ties by url) within each domain, so the choice
    is layout-independent, engine-reproducible, and a different ``seed``
    draws an independent cap sample. Returns surviving rows with their
    original schema.

    Scale shape: a map-side-combined domain count finds the OVER-cap
    domains (bounded by corpus/k, usually a short tail); under-cap
    documents — the overwhelming majority — take a join against that
    relation and bypass all ranking. Only over-cap documents flow into
    the rank window, and the window's ``partitionBy(domain)`` reuses the
    semi-join's hash partitioning (no extra exchange). A plain
    corpus-wide ``row_number`` window would shuffle-and-sort EVERY
    document by domain; here the sort touches only the skewed tail.
    When the over-cap relation is small (always, outside adversarial
    corpora) AQE broadcasts it and the bypass path never shuffles at
    all; the semi/anti pair degrades to domain-keyed shuffles — never a
    driver-side collect — when it is not.

    ``salt_partitions=S`` adds a two-phase top-k for DEGENERATE domains
    (one host owning 10^8+ documents would otherwise sort in a single
    window task — a spill-to-disk straggler, though never an OOM:
    WindowExec sorts externally): phase one ranks within
    ``(domain, salt)`` and keeps ``max_per_domain`` per salt, phase two
    re-ranks the ≤ S×k survivors per domain. The k smallest hashes of
    the domain are each among the k smallest of their own salt bucket,
    so the result is IDENTICAL to the unsalted form (a test pins this);
    only the sort sizes change. Leave ``None`` unless a single domain
    can exceed ~10^7 documents."""
    from pyspark.sql import Window

    from llm_aided_ocr_spark.operators.textstats import domain_col

    if max_per_domain < 1:
        raise ValueError(f"max_per_domain must be >= 1, got {max_per_domain}")
    # domain_expr overrides the grouping key (e.g. the PSL eTLD+1 from
    # operators.domains.registered_domain_col) — still a per-row native
    # expression, so the cap's scale shape is unchanged
    dom = domain_expr if domain_expr is not None else domain_col(F.col(url_col))
    with_dom = df.withColumn("_dc_domain", dom)
    over = (
        with_dom.groupBy("_dc_domain")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > max_per_domain)
        .select("_dc_domain")
    )
    under = with_dom.join(over, on="_dc_domain", how="left_anti")
    ranked = with_dom.join(over, on="_dc_domain", how="left_semi").withColumn(
        "_dc_h", _unit_hash_col(F.col(url_col), seed)
    )
    if salt_partitions is not None and salt_partitions > 1:
        ranked = (
            ranked.withColumn(
                "_dc_salt",
                F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_partitions)),
            )
            .withColumn(
                "_dc_rn",
                F.row_number().over(
                    Window.partitionBy("_dc_domain", "_dc_salt").orderBy(
                        "_dc_h", F.col(url_col)
                    )
                ),
            )
            .filter(F.col("_dc_rn") <= max_per_domain)
            .drop("_dc_salt", "_dc_rn")
        )
    ranked = (
        ranked.withColumn(
            "_dc_rn",
            F.row_number().over(
                Window.partitionBy("_dc_domain").orderBy(
                    "_dc_h", F.col(url_col)
                )
            ),
        )
        .filter(F.col("_dc_rn") <= max_per_domain)
        .drop("_dc_h", "_dc_rn")
    )
    return under.unionByName(ranked).drop("_dc_domain")


def temperature_rates(df: DataFrame) -> DataFrame:
    """``(domain, n_docs, rate_r)`` — square-root temperature sampling
    rates (the α=0.5 of multilingual-pretraining temperature mixing,
    mBERT/mT5 family): target share of domain d ∝ ``sqrt(count_d)``, so
    the per-document multiplier to feed :func:`mixture_resample` is
    ``rate_d = target_share / current_share = N / (isqrt(c_d) · Σ_e
    isqrt(c_e))``. Over-represented domains get rates < 1 (down-sample),
    the tail gets rates > 1 (epoch repetition) — flattening the domain
    distribution halfway toward uniform.

    Why exactly α = 0.5 and not a general-α knob: ``pow(x, α)`` is a
    transcendental whose last-bit rounding differs across libms — a
    general α would break the repo's bit-exact cross-engine oracle bar.
    ``sqrt`` is IEEE-754 correctly rounded on every engine, and the
    floor to integer makes the whole derivation integer-exact:
    ``floor(sqrt(c))`` is bit-identical in Spark and DuckDB for any
    ``c < 2^52`` (beyond that, 0.5-ulp rounding near perfect squares
    could flip the floor — far above any per-domain document count),
    the sums are bigint, and the single division pair is fixed-order
    IEEE. For other temperatures, compute rates off-engine and pass
    them to :func:`mixture_resample` directly.

    Scale shape: one map-side-combinable count aggregation on the
    domain key; the totals row arrives by broadcast; output is
    domain-cardinality-sized (collect it into
    :func:`mixture_resample`'s literal map when it is small, join it on
    ``domain_col`` when it is not)."""
    from llm_aided_ocr_spark.operators.textstats import domain_col

    counts = (
        df.select(domain_col(F.col("url")).alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    with_s = counts.select(
        "domain",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs"))).cast("bigint").alias("s"),
    )
    tot = with_s.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("s").cast("bigint").alias("s_total"),
    )
    return with_s.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        F.round(
            F.col("n_total").cast("double")
            / (F.col("s") * F.col("s_total")).cast("double"),
            9,
        ).alias("rate_r"),
    )


def mixture_resample(
    df: DataFrame,
    domain_rates: Dict[str, float],
    default_rate: float = 1.0,
    seed: int = 1,
) -> DataFrame:
    """Deterministic per-domain mixture resampling — the data-mixing
    step that tunes a crawl toward target domain weights (the
    Pile/DoReMi-style reweighting pass): every document is emitted
    ``floor(r)`` times plus one more iff ``unit_hash(seed, url) <
    frac(r)``, where ``r`` is its domain's rate. One operator covers
    both directions: ``r < 1`` down-samples (0-or-1 copies, exactly
    :func:`deterministic_sample` per domain), ``r > 1`` up-samples
    (epoch repetition with a deterministic fractional epoch), ``r = 0``
    drops the domain. Output rows carry ``copy_ix`` (0-based copy
    index) so downstream stages — packing streams, shard routing — can
    key on ``(url, copy_ix)`` and keep copies distinct.

    Determinism: copies are a pure function of (seed, url, rates) —
    layout-independent, engine-reproducible (driver-oracled), no RNG
    state. Expected corpus share of domain d converges to
    ``rate_d x count_d / Σ rate x count``; rates are per-DOCUMENT
    multipliers, not normalized target proportions — derive them as
    ``target_share / current_share`` from a :func:`domain_stats`
    readout.

    Scale shape: rates enter as ONE literal map expression (no join, no
    broadcast variable; lookup is a per-row map probe of a
    tens-to-hundreds-entry literal — for a corpus-scale rates TABLE,
    join it on :func:`~llm_aided_ocr_spark.operators.textstats.domain_col`
    and feed this operator's arithmetic instead), and the explode is a
    narrow per-row generate — the whole operator is shuffle-free and
    pushdown-transparent above the generate."""
    if any(r < 0 for r in domain_rates.values()) or default_rate < 0:
        raise ValueError("mixture rates must be non-negative")
    from llm_aided_ocr_spark.operators.textstats import domain_col

    if domain_rates:
        entries = []
        for k, v in domain_rates.items():
            entries.extend([F.lit(k), F.lit(float(v))])
        rate = F.coalesce(
            F.element_at(F.create_map(*entries), domain_col(F.col("url"))),
            F.lit(float(default_rate)),
        )
    else:
        rate = F.lit(float(default_rate))
    whole = F.floor(rate).cast("int")
    frac = rate - F.floor(rate)
    extra = (_unit_hash_col(F.col("url"), seed) < frac).cast("int")
    copies = whole + extra
    idx = F.when(
        copies > 0, F.sequence(F.lit(0), copies - F.lit(1))
    ).otherwise(F.array().cast("array<int>"))
    return df.withColumn("copy_ix", F.explode(idx))
