"""Bloom-filter membership for URL/key sets (the crawl "seen" filter).

A recurring crawl at the 10^12-page tier cannot afford an exact
anti-join against every url it has ever fetched just to decide "have I
seen this?" — the index side of that join is the whole crawl history.
The standard answer (Heritrix's already-seen module, every production
frontier) is a Bloom filter: a fixed-size bit array that answers
"definitely new" / "probably seen" with a tunable false-positive rate
and ZERO per-probe shuffle. The reference repo
(/root/reference/llm_aided_ocr.py) is a single-document OCR CLI with no
frontier; this module supplies the curation-suite version, shaped so
the driver's DuckDB oracle reproduces every bit exactly.

Design — blocked-bloom, division-free:

* the filter is ``m_words`` 62-bit words (bit 62/63 never set, so the
  words stay positive BIGINTs in every engine — DuckDB raises on
  ``1 << 63``, and a negative word would hash differently across
  engines);
* each of the ``k`` probes picks its word and its bit with two
  independent md5-52 hashes (``seed:wJ:key`` → word, ``seed:bJ:key`` →
  bit) — pure ``%`` arithmetic, no integer division anywhere, so the
  Spark expression and the oracle SQL are the same formula;
* **build** is one narrow projection (k (word_ix, mask) structs per
  key) → explode → ``groupBy(word_ix).agg(bit_or(mask))``: map-side
  partial bit_or means each task emits at most ``m_words`` rows no
  matter how many keys it saw — the exchange is bounded by the filter
  size, not the corpus;
* **probe** folds the whole filter into ONE broadcast map row and
  evaluates all k bit-tests as a per-row native expression: zero
  shuffle, zero Python on the probe side. A 62-bit-word filter of 2^20
  words ≈ 8 MiB — comfortably broadcast-able (that's ~10^7 keys at 1%
  FP).

False positives are deterministic (same hashes → same collisions), so
the oracle matches them bit for bit; false negatives are impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import md5_52

BITS_PER_WORD = 62


def _probe_cols(key: Column, k: int, m_words: int, seed: int) -> list:
    """k (word_ix, mask) column pairs for ``key``."""
    out = []
    for j in range(k):
        w = md5_52(F.concat(F.lit(f"{seed}:w{j}:"), key)) % m_words
        b = md5_52(F.concat(F.lit(f"{seed}:b{j}:"), key)) % BITS_PER_WORD
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), b.cast("int")
        )
        out.append((w, mask))
    return out


def bloom_build(
    df: DataFrame,
    key_col: str = "url",
    m_words: int = 1024,
    k: int = 4,
    seed: int = 1,
) -> DataFrame:
    """``(word_ix, word)`` — the filter as a relation of at most
    ``m_words`` rows (absent word_ix ⇒ word 0). Persist this next to
    the corpus snapshot and feed it to :func:`bloom_probe` on the next
    crawl increment; rebuilding is one pass over the key column."""
    key = F.coalesce(F.col(key_col), F.lit(""))
    entries = F.array(
        *[
            F.struct(w.alias("word_ix"), m.alias("mask"))
            for w, m in _probe_cols(key, k, m_words, seed)
        ]
    )
    return (
        df.select(F.explode(entries).alias("_e"))
        .select(F.col("_e.word_ix").alias("word_ix"), F.col("_e.mask").alias("mask"))
        .groupBy("word_ix")
        .agg(F.bit_or("mask").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "url",
    id_col: str = "doc_id",
    m_words: int = 1024,
    k: int = 4,
    seed: int = 1,
) -> DataFrame:
    """``(id, maybe_present)`` — True iff all k probed bits are set
    (possible false positive, never a false negative). ``m_words`` /
    ``k`` / ``seed`` must match the build call.

    The filter collapses to ONE broadcast map row; the probe is a pure
    per-row expression — no exchange touches the probe side at all."""
    key = F.coalesce(F.col(key_col), F.lit(""))
    bloom_map = bloom.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("word_ix", "word"))
        ).alias("_bloom")
    )
    hit = None
    for w, mask in _probe_cols(key, k, m_words, seed):
        one = (
            F.coalesce(
                F.try_element_at(F.col("_bloom"), w).bitwiseAND(mask)
                == mask,
                F.lit(False),
            )
        )
        hit = one if hit is None else (hit & one)
    return (
        df.crossJoin(F.broadcast(bloom_map))
        .select(F.col(id_col).alias("id"), hit.alias("maybe_present"))
    )


def countmin_build(
    df: DataFrame,
    key_col: str = "key",
    weight_col: str = None,
    depth: int = 4,
    width: int = 1024,
    seed: int = 1,
) -> DataFrame:
    """``(row_ix, col_ix, cnt)`` — a Count-Min sketch (Cormode &
    Muthukrishnan 2005) of key frequencies: ``depth`` hash rows of
    ``width`` counters; every key occurrence adds its weight to one
    counter per row at ``col = md5_52('seed:cmROW:' || key) % width``.
    Point estimates (:func:`countmin_estimate`) take the MIN over rows
    — never an underestimate, overestimates bounded by
    ``e·N/width`` with prob ``1 − e^-depth``. The fixed-RAM frequency
    summary a frontier/featureizer keeps when the exact (key → count)
    relation (10^9+ distinct urls/terms) no longer fits: the sketch is
    ``depth × width`` counters regardless of corpus size.

    Like the bloom module, the hash is the portable md5-52 — the
    collisions (hence every counter value and every estimate's exact
    overestimate) are DETERMINISTIC and replay bit-for-bit in the
    oracle. Build = one narrow projection (depth structs per
    occurrence) → explode → ``groupBy(row, col).sum``: map-side partial
    aggregation bounds each task's output by the sketch size, not its
    row count. Empty cells are simply absent (semantically 0)."""
    key = F.col(key_col).cast("string")
    w = (
        F.col(weight_col).cast("bigint")
        if weight_col
        else F.lit(1).cast("bigint")
    )
    # collapse to (key, total) FIRST — the word_commonness linearity
    # trick: the depth-way explode and the depth md5 evaluations then
    # run once per DISTINCT key (vocab-sized), not once per occurrence
    # (corpus-sized); the first exchange carries (key, bigint) with
    # map-side combine, the second is bounded by the sketch size
    per_key = df.select(key.alias("_k"), w.alias("_w")).groupBy("_k").agg(
        F.sum("_w").cast("bigint").alias("_n")
    )
    cells = F.array(*[
        F.struct(
            F.lit(j).alias("row_ix"),
            (
                md5_52(F.concat(F.lit(f"{seed}:cm{j}:"), F.col("_k"))) % width
            ).cast("int").alias("col_ix"),
        )
        for j in range(depth)
    ])
    return (
        per_key.select(F.explode(cells).alias("c"), F.col("_n"))
        .groupBy(
            F.col("c.row_ix").alias("row_ix"),
            F.col("c.col_ix").alias("col_ix"),
        )
        .agg(F.sum("_n").cast("bigint").alias("cnt"))
    )


def countmin_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    depth: int = 4,
    width: int = 1024,
    seed: int = 1,
) -> DataFrame:
    """``(key, estimate)`` — Count-Min point queries against a
    :func:`countmin_build` sketch (same depth/width/seed or the
    estimates are meaningless). The probe side computes its depth
    (row, col) coordinates natively, left-joins the sketch's nonzero
    cells (broadcast — the sketch is bounded by construction), and
    takes the per-key MIN with absent cells as exact 0."""
    key = F.col("key").cast("string")
    coords = F.array(*[
        F.struct(
            F.lit(j).alias("row_ix"),
            (
                md5_52(F.concat(F.lit(f"{seed}:cm{j}:"), key)) % width
            ).cast("int").alias("col_ix"),
        )
        for j in range(depth)
    ])
    exploded = probes.select(F.col("key"), F.explode(coords).alias("c")).select(
        "key",
        F.col("c.row_ix").alias("row_ix"),
        F.col("c.col_ix").alias("col_ix"),
    )
    return (
        exploded.join(F.broadcast(sketch), ["row_ix", "col_ix"], "left")
        .groupBy("key")
        .agg(
            F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias(
                "estimate"
            )
        )
    )


HLL_HASH_BITS = 52  # md5-52 portable hash width


def _hll_rho_col(rem, w: int):
    """Position of the first 1-bit from the left of a ``w``-bit field
    (1-based); ``w + 1`` for 0. Unrolled exact integer comparisons —
    floor(log2(double)) is one ULP away from an off-by-one at exact
    powers of two, so no logs anywhere."""
    expr = F.when(rem == 0, F.lit(w + 1))
    for k in range(1, w + 1):
        expr = expr.when(rem < (1 << k), F.lit(w + 1 - k))
    return expr.cast("int")


def hll_build(
    df: DataFrame,
    key_col: str = "key",
    group_cols: list = None,
    p: int = 8,
    seed: int = 1,
) -> DataFrame:
    """``(group..., bucket, m_rho)`` — HyperLogLog registers (Flajolet
    et al. 2007) for distinct-``key`` counting, optionally per group:
    bucket = md5_52 % 2^p, register = max over the bucket's keys of the
    first-1-bit position of the remaining ``52-p`` hash bits. The
    fixed-RAM distinct counter (2^p registers per group, ~1.04/√2^p
    relative error) a crawl keeps per host/day/shard when exact
    distincts (10^9+ urls) would be a full shuffle of the key space.

    DETERMINISTIC by construction — the register values are a pure
    function of the md5-52 hashes, so unlike engine-native
    approx_count_distinct (whose sketches are engine-internal and
    non-portable) the DuckDB oracle replays every register and every
    estimate bit-for-bit. Build is one narrow projection → ONE
    ``groupBy(group, bucket).max`` with map-side combine: each task
    emits at most 2^p rows per group it saw. Empty buckets are absent
    (the estimator reconstructs them arithmetically)."""
    w = HLL_HASH_BITS - p
    m = 1 << p
    key = F.col(key_col).cast("string")
    h = md5_52(F.concat(F.lit(f"{seed}:hll:"), key))
    groups = [F.col(c) for c in (group_cols or [])]
    rem = (h / F.lit(m)).cast("bigint")  # h // m: h >= 0 so trunc == floor
    return (
        df.select(
            *groups,
            (h % m).cast("int").alias("bucket"),
            _hll_rho_col(rem, w).alias("rho"),
        )
        .groupBy(*[c for c in (group_cols or [])], "bucket")
        .agg(F.max("rho").cast("int").alias("m_rho"))
    )


def _hll_alpha(m: int) -> float:
    """The HLL bias-correction constant: the published fixed values for
    the small register counts (Flajolet, Fusy, Gandouet & Meunier 2007
    define alpha_16 = 0.673, alpha_32 = 0.697, alpha_64 = 0.709) and
    the asymptotic formula only for m >= 128."""
    if m <= 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_estimate(
    registers: DataFrame,
    group_cols: list = None,
    p: int = 8,
) -> DataFrame:
    """``(group..., estimate)`` — the HLL cardinality estimate from a
    :func:`hll_build` register relation, with the standard small-range
    (linear counting) correction. All register arithmetic is integer:
    the harmonic-mean denominator is ``Σ 2^(K−M[j])`` at K=50 scaled —
    exact BIGINTs (M ≤ 45 < K, 2^p terms ≤ 2^58) — so the one IEEE
    division (and the ln of an exact integer ratio in the
    linear-counting branch) is bit-identical cross-engine."""
    w = HLL_HASH_BITS - p
    m = 1 << p
    K = 50
    if w + 1 >= K:
        raise ValueError("p too small for the fixed K=50 scaling")
    alpha = _hll_alpha(m)
    groups = [F.col(c) for c in (group_cols or [])]
    agg = registers.groupBy(*groups).agg(
        F.sum(F.pow(F.lit(2.0), F.lit(K) - F.col("m_rho")).cast("bigint"))
        .cast("bigint").alias("_s_present"),
        F.count(F.lit(1)).cast("bigint").alias("_n_present"),
    )
    # absent buckets contribute 2^K each; zeros V = absent buckets
    s = (F.col("_s_present") + (F.lit(m) - F.col("_n_present"))
         * F.lit(1 << K)).cast("bigint")
    v = (F.lit(m) - F.col("_n_present")).cast("bigint")
    e_raw = (
        F.lit(alpha * m * m)
        * F.lit(float(1 << K))
        / s.cast("double")
    )
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(e_raw)
    return agg.select(
        *[c for c in (group_cols or [])],
        est.alias("estimate"),
    )
