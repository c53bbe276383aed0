"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (its only dedup is the document-local
duplicate-paragraph rule, llm_aided_ocr.py:486-493, handled in the
correction provider), a 100 TB corpus pipeline needs corpus-level dedup.
All variants are DataFrame-native and shuffle-conscious:

* exact        — hash-groupBy on a content fingerprint (xxhash64, JVM-side)
* ngram-jaccard— shingle-set similarity of candidate pairs
* minhash-lsh  — shingles → minhash signature → banded LSH buckets →
                 candidate pairs only within buckets (never all-pairs)
* simhash      — 64-bit simhash + band-bucket candidate generation

Scale notes: every candidate-generation path buckets FIRST (groupBy on a
band/bucket key) so the pair join is per-bucket, not corpus-cross; signature
computation is one narrow Arrow pass; dedup keep-policy is min(doc_id) per
cluster (deterministic).
"""

from __future__ import annotations

from typing import List

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import (
    cache_mark,
    corpus_scaled,
    local_checkpoint,
    map_arrow,
    md5_52,
    persist,
    release_between,
    release_local_checkpoint,
)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id row per exact text fingerprint. One shuffle KEYED
    on the 64-bit hash — but the shuffle PAYLOAD is the full row (text
    included): materializing a deduped corpus inherently moves every
    surviving row once, so this is the floor for a straight rewrite. For
    bulk 100 TB dedup, prefer :func:`exact_keeper_ids` (shuffles only
    ``(id, hash)`` — 16 bytes/row) and materialize keepers with a
    bucketed-table left-semi join on the id (zero-Exchange when the corpus
    is bucketed on the id; see ``sources/io.py:write_bucketed_table``)."""
    h = F.xxhash64(F.coalesce(F.col(text_col), F.lit("")))
    w = Window.partitionBy("_fp").orderBy(F.col(id_col))
    return (
        df.withColumn("_fp", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def exact_keeper_ids(df: DataFrame) -> DataFrame:
    """``(keeper_id)`` — the min-id representative of every exact-text
    group (groups of size 1 included: a unique doc keeps itself). The
    aggregation projects to ``(id, fingerprint)`` BEFORE the shuffle, so
    the exchange carries 16 bytes/row regardless of document size — the
    100 TB-scale keep-list path. Materialize with
    ``corpus.join(keepers, corpus[id] == keepers.keeper_id, 'left_semi')``
    against a table bucketed on the id (no exchange on the corpus side)."""
    h = F.xxhash64(F.coalesce(F.col("text"), F.lit("")))
    return (
        df.select(F.col("doc_id").alias("_id"), h.alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("_id").alias("keeper_id"))
        .select("keeper_id")
    )


def canonical_url_keepers(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, canon_url, keep)`` — URL-level dedup, the standard first
    pass of a Common-Crawl curation run BEFORE content dedup: the same
    page refetched under http/https, default ports, reordered query
    params, or fragments collapses to one canonical key
    (:func:`~llm_aided_ocr_spark.operators.textstats.canonical_url_col`)
    and exactly one fetch survives per key — the LONGEST text (byte
    length; refetches routinely truncate), ties broken by the smallest
    id, so the keeper is a pure function of the group, independent of
    row order and partitioning.

    Scale shape: the one exchange is keyed on the canonical url and
    carries ``(id, canon, sz)`` — never document text. The keeper
    relation (one row per distinct canonical url) joins back on the SAME
    key the aggregation shuffled on, and is ``corpus_scaled`` (near-
    unique urls make it O(corpus) — never a broadcast build side).
    Materialize survivors with a left-semi join on the kept ids against
    an id-bucketed table, exactly like :func:`exact_keeper_ids`."""
    from pyspark import StorageLevel

    from llm_aided_ocr_spark.operators.textstats import canonical_url_col

    # ``base`` is persisted: it feeds BOTH the keeper aggregation and
    # the join-back, and without the persist each consumer re-scanned
    # the input — including the full text column, read only for its
    # byte length — and re-ran the 15-regex canonicalization (2 scans /
    # 2 canon evaluations, plans/r06/canonical_url_dedup_before.txt).
    # The cached rows are (id, canon, sz) — never document text — the
    # same narrow shape `postings`/`related_docs` already persist;
    # exchange sharing instead of a cache does not work here because
    # column pruning drops ``sz`` from the join-back side, making the
    # two exchange subtrees non-identical for ReuseExchange.
    base = persist(df.select(
        F.col(id_col).alias("id"),
        canonical_url_col(F.col(url_col)).alias("canon_url"),
        F.octet_length(F.coalesce(F.col(text_col), F.lit("")))
        .cast("bigint")
        .alias("sz"),
    ), StorageLevel.MEMORY_AND_DISK)
    # min over (-sz, id): longest text first, then smallest id — one
    # struct-min aggregate instead of a row_number window (no per-group
    # sort buffer; plain map-side-combinable min)
    keep_key = F.struct(
        (-F.col("sz")).alias("nsz"), F.col("id").alias("id")
    )
    keepers = (
        base.groupBy("canon_url")
        .agg(F.min(keep_key).alias("k"))
        .select("canon_url", F.col("k.id").alias("_keeper_id"))
    )
    return base.join(corpus_scaled(keepers), "canon_url").select(
        "id",
        "canon_url",
        (F.col("id") == F.col("_keeper_id")).alias("keep"),
    )


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """``(fingerprint, n_dups, keeper_id)`` for groups with >1 member."""
    h = F.xxhash64(F.coalesce(F.col("text"), F.lit("")))
    return (
        df.select(F.col("doc_id"), h.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keeper_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# Shingles + ngram Jaccard
# ---------------------------------------------------------------------------

def _words_col(text_col: str) -> F.Column:
    """Token array for the whole shingle/token family: the maximal
    ``[a-z0-9]+`` runs of the lowercased text, with blank/punct-only/null
    text yielding ``['']`` (one empty token — so empty documents keep a
    well-defined, engine-portable shingle story).

    This is the round-4 rewrite of the original
    ``split(regexp_replace(regexp_replace(lower(text)), ...), ' ')``
    chain, which (a) cost two regexp buffer rewrites per document —
    measured 11.6 s → 0.6 s tokenizing a 67 MB corpus on local[32], a
    ~20x win that dominated every shingle-family operator — and (b) had
    a latent artifact: ``trim`` strips SPACES only, so a leading
    separator run containing a tab/newline (every OCR page starting with
    ``\\n``!) leaked a phantom ``''`` token into the shingle space. The
    clean definition drops the artifact; the DuckDB oracle formulation
    (``_NORM_TEXT_SQL``) states the SAME clean semantics independently
    (regex split + filter), equivalence fuzz-tested against a Python
    ``re`` reference."""
    from llm_aided_ocr_spark.operators.util import let_

    raw = F.array_remove(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), "[^a-z0-9]+"),
        "",
    )
    return let_(
        raw,
        lambda a: F.when(F.size(a) == 0, F.array(F.lit(""))).otherwise(a),
    )


def _normalize_col(text_col: str) -> F.Column:
    """Canonical normalized-text STRING: the clean token sequence joined
    by single spaces ('' for empty documents). Defined via
    :func:`_words_col` so string and token consumers can never drift."""
    return F.array_join(_words_col(text_col), " ")


def _word_hash_col(word: F.Column, hash_family: str) -> F.Column:
    """``xxhash64`` (fastest, JVM-internal) or ``md5_52`` — the first 13
    hex digits of md5 as a non-negative 52-bit BIGINT, reproducible in any
    engine with md5 + hex parsing (how the driver's DuckDB oracle checks
    minhash end-to-end)."""
    if hash_family == "xxhash64":
        return F.xxhash64(word)
    if hash_family == "md5_52":
        return md5_52(word)
    raise ValueError(f"unknown hash_family {hash_family!r}")


def _rot_col(x: F.Column, j: int, bits: int) -> F.Column:
    """Rotate left by j within a ``bits``-wide domain (j < bits); for
    bits=64, shifted-out high bits wrap via Java long overflow and the
    logical right shift — a true 64-bit rotate."""
    if j == 0:
        return x
    if bits == 64:
        return F.shiftleft(x, j).bitwiseOR(F.shiftrightunsigned(x, 64 - j))
    return (
        F.shiftleft(x, j).bitwiseOR(F.shiftright(x, bits - j))
    ).bitwiseAND(F.lit((1 << bits) - 1))


def word_shingles(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, shingle_hash)`` — distinct word n-gram hashes per document,
    fully native. The shingle hash is the rotation-XOR combine of the n
    per-word hashes (position-sensitive): word hashes are computed ONCE
    per word and each shingle costs O(n) integer ops — the naive
    slice-and-concat form re-materializes every shingle's bytes and is
    ~10x slower. Dedup is DOCUMENT-LOCAL (``array_distinct`` before the
    explode), not a ``.distinct()`` — per-document shingle sets need no
    corpus-wide exchange, so this relation reaches its consumer (the
    inverted-index join) with zero shuffles of its own. PRECONDITION:
    ``id_col`` identifies a single row (the pipeline-wide url/doc_id
    uniqueness contract); duplicate ids would no longer be merged here."""
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    shingles = F.array_distinct(
        shingle_array_col(text_col, n=n, hash_family=hash_family)
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(shingles).alias("shingle")
    )


def shingle_array_col(
    text_col: str, n: int = 3, hash_family: str = "xxhash64"
) -> F.Column:
    """Document-local word-n-gram hash array as a NATIVE column expression
    (duplicates kept; ``F.array_distinct`` on top gives the shingle set).
    This is the zero-shuffle building block: the shingle set never leaves
    its document's row, so operators that only need per-document sets
    (minhash signatures) can skip the explode→distinct→collect_list round
    trip entirely."""
    from llm_aided_ocr_spark.operators.util import let_

    bits = 52 if hash_family == "md5_52" else 64
    words = _words_col(text_col)
    wh = F.transform(words, lambda w: _word_hash_col(w, hash_family))

    def _grams(whs: F.Column) -> F.Column:
        n_sh = F.greatest(F.size(whs) - F.lit(n - 1), F.lit(0))
        def _one(i: F.Column) -> F.Column:
            out = F.get(whs, i)
            for j in range(1, n):
                out = out.bitwiseXOR(_rot_col(F.get(whs, i + j), j, bits))
            return out
        return F.when(
            n_sh > 0, F.transform(F.sequence(F.lit(0), n_sh - 1), _one)
        ).otherwise(F.array().cast("array<bigint>"))

    return let_(wh, _grams)


def gram_hashes_arrow(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, ghs array<bigint>)`` — the SAME word-n-gram hash array as
    :func:`shingle_array_col`, computed as one Arrow/numpy pass over
    natively-hashed words (a parity test pins value equality).

    Why it exists: higher-order functions (``transform``/``aggregate``)
    run INTERPRETED in Spark — they never enter whole-stage codegen — so
    the native expression costs ~n interpreted tree-walks per gram
    position. Fine at the shingle family's n=3; catastrophic at
    ExactSubstr's n=50 (measured 200s for a 1.1 GB corpus on local[32],
    ~6 MB/s, with the gram projection owning the profile). Here word
    hashes stay native (portable values, no Python string handling) and
    the rotation-XOR combine is n vectorized uint64 ops over the whole
    array — the same restructuring that took winnowing ``fingerprints``
    from 4.2s to 0.4s in round 2. No shuffle; per-row compute only."""
    import numpy as np

    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    bits = 52 if hash_family == "md5_52" else 64
    prepared = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.transform(
            _words_col(text_col), lambda w: _word_hash_col(w, hash_family)
        ).alias("_whs"),
    )
    mask = np.uint64((1 << bits) - 1)

    def _grams(whss):
        out = []
        for whs in whss:
            w = whs.view(np.uint64)
            n_gr = max(len(w) - n + 1, 0)
            g = w[:n_gr].copy()
            for j in range(1, n):
                x = w[j : j + n_gr]
                r = np.uint64(j % bits)  # Java shift semantics: j mod width
                if r == 0:
                    rot = x
                else:
                    rot = (x << r) | ((x & mask) >> (np.uint64(bits) - r))
                g ^= rot & mask if bits < 64 else rot
            # hand Arrow the ndarray itself — materializing 10^8 Python
            # ints via tolist() measured 2x the whole pass
            out.append(g.view(np.int64))
        return (out,)

    id_type = dict(df.dtypes)[id_col]
    return map_arrow(prepared, _grams, f"id {id_type}, ghs array<bigint>", keep=("id",))


PREFIX_C = 8  # the ``c`` of ngram_jaccard_pairs' extended prefix


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard >= threshold — EXACT, via
    c-extended PREFIX-FILTERED candidate generation with a common-prefix
    COUNT filter (AllPairs/PPJoin family: Bayardo et al. WWW'07; the
    extended-prefix count bound follows Xiao et al.'s multi-token prefix
    schemes):

    * every document's (capped) shingle set is sorted by GLOBAL ascending
      document frequency; only its EXTENDED PREFIX of length
      ``min(sz, sz - ceil(t*sz) + c)`` is indexed (``c`` = :data:`PREFIX_C`);
    * **count-filter theorem** (the load-bearing step): if J(A,B) >= t
      then |A∩B| >= ceil(t*max(|A|,|B|)), and because both arrays are
      sorted by the same global order, at most ``ceil(t*|A|) - c``
      intersection elements can sit in A's suffix — so the
      ``min(c, ceil(t*|A|), ceil(t*|B|))`` globally-smallest elements of
      A∩B land inside BOTH extended prefixes. A qualifying pair must
      therefore co-occur on >= that many prefix shingles; the candidate
      groupBy counts co-occurrences and drops everything below the bound.
      On the round-4 stress corpus (template-heavy, like real crawl
      boilerplate) this kills 23.0M of 23.0M candidates down to 600 at
      10k docs — the single-shingle prefix join alone left 20.6M pairs
      whose 6 KB-array verification spilled the host's disk;
    * a size filter (``min(sz) >= t*max(sz)``, implied by J >= t) prunes
      survivors before arrays attach;
    * survivors are verified exactly with a native ``array_intersect``
      over the full (capped) shingle arrays — arrays are only ever
      shipped for pairs past the count filter.

    Both filters are exactness-preserving: output is identical to the
    plain quadratic spec (the DuckDB oracle) on the capped shingle space.

    ``max_shingle_df`` (document-frequency cap) still drops shingles
    present in more than that many documents before anything else — the
    guard against stopword-ish shingles at corpus scale (a shingle shared
    by 10^9 docs would otherwise dominate every prefix). The cap is ON by
    default (1000); pass ``None`` for the uncapped exact space. Sizes and
    intersections are computed on the SAME (capped) shingle space so the
    Jaccard stays internally consistent.

    Scale ledger: the candidate stream is Σ over prefix-shingles of
    df_prefix² rows — with the DF cap this is ≤ cap × total postings,
    i.e. LINEAR in corpus size (measured: 2.1e8 pairs at 320k docs →
    6.3e8 at 3.2M docs on the stress corpus); for corpora where it is
    genuinely quadratic (real duplicate clusters) the OUTPUT is
    quadratic too, so no algorithm does better asymptotically. The
    count Exchange is keyed on ``(xxhash64(id_a), xxhash64(id_b))`` —
    16-byte keys, never id strings (at 6.3e8 rows the url-string form
    is a ~55 GB shuffle; hashed it is ~20 GB). Exactness survives
    hashing: the ``id_a < id_b`` dedup runs on EXACT ids at generation
    time (inside the join stage, before any Exchange), a hash collision
    can only MERGE two pairs' counts — inflating cpp, never deflating —
    so extra candidates may survive the count filter but no qualifying
    pair is dropped, and the final fan-out joins hash→exact-id metadata,
    re-checks ``id_a < id_b``, and verifies true Jaccard on exact
    arrays. The full shingle arrays cross an Exchange exactly once per
    SURVIVING candidate pair."""
    t = float(threshold)
    sh = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if max_shingle_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_shingle_df)

    # ceil over the float product, nudged down 1e-9 so IEEE noise on an
    # exactly-integral t*sz can only LENGTHEN the prefix / LOWER the
    # required count (more candidates, never a missed pair)
    def _ceil_t(sz: F.Column) -> F.Column:
        return F.ceil(F.lit(t) * sz - F.lit(1e-9))

    # inner join = semi-join (dfreq is keyed by shingle) + df attachment
    per_doc = persist(
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("s"))
        .select(
            "id",
            F.xxhash64("id").alias("h"),
            F.transform("s", lambda x: x["shingle"]).alias("arr"),
            F.size("s").alias("sz"),
        )
        .withColumn(
            "plen",
            F.least(
                F.col("sz"),
                (F.col("sz") - _ceil_t(F.col("sz")) + F.lit(PREFIX_C)).cast("int"),
            ),
        )
    )
    prefix = per_doc.select(
        "id", "h", F.explode(F.slice("arr", F.lit(1), F.col("plen"))).alias("shingle")
    )
    # the exact-id dedup happens HERE, inside the join stage; only the
    # 16-byte hash pair crosses the count Exchange
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.h").alias("h_a"), F.col("b.h").alias("h_b"))
        .agg(F.count(F.lit(1)).alias("cpp"))
    )
    meta = per_doc.select("h", "id", "sz")
    cand = (
        cand.join(
            meta.select(
                F.col("h").alias("h_a"), F.col("id").alias("id_a"), F.col("sz").alias("sz_a")
            ),
            "h_a",
        )
        .join(
            meta.select(
                F.col("h").alias("h_b"), F.col("id").alias("id_b"), F.col("sz").alias("sz_b")
            ),
            "h_b",
        )
        # re-check on exact ids: a collision fan-out can resurrect the
        # wrong orientation; true pairs always satisfy it
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            (
                F.col("cpp")
                >= F.least(
                    F.lit(PREFIX_C).cast("bigint"),
                    _ceil_t(F.col("sz_a")),
                    _ceil_t(F.col("sz_b")),
                )
            )
            & (
                F.least("sz_a", "sz_b")
                >= F.lit(t) * F.greatest("sz_a", "sz_b") - F.lit(1e-9)
            )
        )
        .drop("h_a", "h_b")
    )
    arrs = per_doc.select("id", "arr")
    return (
        cand.join(arrs.select(F.col("id").alias("id_a"), F.col("arr").alias("arr_a")), "id_a")
        .join(arrs.select(F.col("id").alias("id_b"), F.col("arr").alias("arr_b")), "id_b")
        .withColumn("inter", F.size(F.array_intersect("arr_a", "arr_b")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All ordered pairs with shingle-set CONTAINMENT
    ``|A∩B| / |A| >= threshold`` where A is the smaller set (ties by
    id) — the ASYMMETRIC near-dup relation Jaccard cannot see: a press
    release quoted whole inside a long article, a doc page embedded in
    an aggregator, a snippet farm wrapping stolen paragraphs in chrome.
    J(A,B) ~ |A|/|B| is tiny for a small A inside a huge B, so
    :func:`ngram_jaccard_pairs` (and MinHash, which estimates J) miss
    exactly the plagiarism/inclusion cases containment is for (Broder
    1997 defines both resemblance and containment for this reason).

    Output: ``(id_sub, id_sup, containment)`` — ``id_sub`` the
    contained (smaller-set) document.

    Candidate generation is PREFIX-FILTERED like
    :func:`ngram_jaccard_pairs`, with the containment-specific bound:
    if ``|A∩B| >= ceil(t*|A|)`` then at most ``|A| - ceil(t*|A|)`` of
    A's shingles lie outside B, so A's prefix of the
    ``|A| - ceil(t*|A|) + 1`` globally-RAREST shingles (ascending
    document frequency) must intersect B — every doc indexes only that
    prefix as a potential contained side, and candidates are
    ``prefix(A) ⋈ full-postings(B)``. No size filter exists for
    containment (a 50-shingle A inside a 50,000-shingle B qualifies —
    that asymmetry is the point), which is exactly why the prefix
    filter is load-bearing here: the naive full-postings self-join is
    Σ df² and measured 335 s on the 1.1 GB template-heavy stress
    corpus, where the rarest-10% prefixes are mostly doc-unique
    (df→1) and collapse the candidate stream by orders of magnitude.
    ``max_shingle_df`` additionally caps hot shingles (consistently on
    both sides of the ratio). Exactness is preserved: the prefix bound
    is a necessary condition, candidates dedup on 16-byte xxhash64
    pair keys (collisions only ADD candidates), and every survivor is
    verified with a native ``array_intersect`` over the full (capped)
    shingle arrays — the reported containment is exact."""
    t = float(threshold)
    sh = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if max_shingle_df is not None:
        dfreq = dfreq.filter(F.col("df") <= max_shingle_df)
    per_doc = persist(
        sh.join(dfreq, "shingle")
        .groupBy("id")
        .agg(
            F.array_sort(F.collect_list(F.struct("df", "shingle"))).alias("s")
        )
        .select(
            "id",
            F.xxhash64("id").alias("h"),
            F.transform("s", lambda x: x["shingle"]).alias("arr"),
            F.size("s").alias("sz"),
        )
        .withColumn(
            "plen",
            F.greatest(
                F.lit(1),
                (
                    F.col("sz")
                    - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9))
                    + F.lit(1)
                ).cast("int"),
            ),
        )
    )
    posts = per_doc.select("id", "h", F.explode("arr").alias("shingle"))
    prefix = per_doc.select(
        "id", "h",
        F.explode(F.slice("arr", F.lit(1), F.col("plen"))).alias("shingle"),
    )
    cand = (
        prefix.alias("a")
        .join(posts.alias("b"), "shingle")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.h"), F.col("b.h")).alias("h_a"),
            F.greatest(F.col("a.h"), F.col("b.h")).alias("h_b"),
        )
        .groupBy("h_a", "h_b")
        .agg(F.count(F.lit(1)).alias("_npref"))
        .drop("_npref")
    )
    meta = per_doc.select("h", "id", "sz", "arr")
    return (
        cand.join(
            meta.select(
                F.col("h").alias("h_a"), F.col("id").alias("id_x"),
                F.col("sz").alias("sz_x"), F.col("arr").alias("arr_x"),
            ),
            "h_a",
        )
        .join(
            meta.select(
                F.col("h").alias("h_b"), F.col("id").alias("id_y"),
                F.col("sz").alias("sz_y"), F.col("arr").alias("arr_y"),
            ),
            "h_b",
        )
        # hash-collision fanout can only create EXTRA (id_x, id_y)
        # combinations; dedup on exact ids before verification
        .filter(F.col("id_x") != F.col("id_y"))
        .withColumn("inter", F.size(F.array_intersect("arr_x", "arr_y")))
        .withColumn(
            "_x_sub",
            (F.col("sz_x") < F.col("sz_y"))
            | (
                (F.col("sz_x") == F.col("sz_y"))
                & (F.col("id_x") < F.col("id_y"))
            ),
        )
        .select(
            F.when(F.col("_x_sub"), F.col("id_x"))
            .otherwise(F.col("id_y"))
            .alias("id_sub"),
            F.when(F.col("_x_sub"), F.col("id_y"))
            .otherwise(F.col("id_x"))
            .alias("id_sup"),
            (
                F.col("inter") / F.least("sz_x", "sz_y")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .distinct()
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def minhash_perms(num_perm: int = 64, seed: int = 1):
    """The (a, b) coefficients of the universal hash family
    ``h_i(x) = (a_i * (x mod p) + b_i) mod p`` over ``p = 2^31 - 1``.

    Shared by the Spark operator and the driver's DuckDB oracle builder so
    both engines evaluate the IDENTICAL family. p is chosen so every
    product ``a * (x mod p) < 2^62`` — exact in numpy int64 AND in
    DuckDB's overflow-checked BIGINT (the previous 61-bit family needed a
    mod-2^64 wrap numpy-side, which no SQL engine reproduces)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MINHASH_P, size=num_perm).astype(np.int64)
    b = rng.randint(0, MINHASH_P, size=num_perm).astype(np.int64)
    return a, b


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 64,
    n: int = 3,
    seed: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "md5_52",
) -> DataFrame:
    """``(id, sig: array<bigint>)`` — minhash over word-n-gram shingles.

    Arrow-vectorized AND shuffle-free: the shingle set is document-local,
    so it is built as a native array column (:func:`shingle_array_col` +
    ``array_distinct``) and fed straight into one Arrow pass — no
    explode, no ``distinct()`` shuffle, no ``collect_list`` shuffle. At
    10^12 docs the previous explode→distinct→groupBy form moved every
    shingle hash through two full exchanges; this form moves nothing.
    The pass computes all ``num_perm`` permutations per document with
    numpy broadcasting over the exact universal family of
    :func:`minhash_perms`. Empty documents get the ``[p] * num_perm``
    sentinel signature (p itself is never produced by ``mod p``; min over
    duplicate shingles is idempotent, so signatures are identical to the
    set form). The default portable shingle hash keeps every value
    SQL-reproducible; pass ``hash_family='xxhash64'`` to shave the md5
    cost when oracle portability is not needed."""
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    a, b = minhash_perms(num_perm, seed)

    grouped = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            shingle_array_col(text_col, n=n, hash_family=hash_family)
        ).alias("shingles"),
    )
    id_type = dict(grouped.dtypes)["id"]  # follow the input's id type

    sentinel = np.full(num_perm, MINHASH_P, dtype=np.int64)

    def _sig(shingle_rows):
        sigs = []
        for shingles in shingle_rows:
            if shingles is None or len(shingles) == 0:
                sigs.append(sentinel)
                continue
            x = shingles % MINHASH_P
            # (num_perm, n_shingles) broadcast; every term < 2^62, so
            # int64 arithmetic is exact — no wrap, no approximation
            vals = (a[:, None] * x[None, :] + b[:, None]) % MINHASH_P
            sigs.append(vals.min(axis=1))
        return (sigs,)

    return map_arrow(
        grouped, _sig, f"id {id_type}, sig array<bigint>", keep=("id",)
    )


def _band_buckets(
    sig_df: DataFrame, bands: int, rows_per_band: int
) -> DataFrame:
    """``(id, band, bucket)`` — each signature's banded LSH bucket keys
    (xxhash64 of the band index + the band's signature slice). Shared by
    the batch self-join and the incremental new-vs-index join so both
    sides of an incremental run land in IDENTICAL buckets."""
    band_cols = [
        F.xxhash64(
            F.lit(bi),
            F.concat_ws(",", F.transform(
                F.slice("sig", bi * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            )),
        ).alias("bucket")
        for bi in range(bands)
    ]
    return sig_df.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(bi).alias("band"), band_cols[bi])
                for bi in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    sig_df: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH: hash each band of the signature to a bucket; docs
    sharing any (band, bucket) are candidates. The pair join runs WITHIN
    buckets only — this is what makes near-dup tractable at 10^12 docs.

    Buckets of more than 200 documents are dropped before the self-join
    (a bucket of B docs yields B² pairs; one degenerate bucket — e.g. all
    empty documents sharing the sentinel signature — would otherwise
    dominate the job). Members of an over-full bucket almost always
    co-occur in other, smaller buckets, so recall loss is marginal."""
    buckets = _band_buckets(sig_df, bands, rows_per_band)
    small = (
        buckets.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= 200)
        .select("band", "bucket")
    )
    buckets = buckets.join(small, on=["band", "bucket"], how="left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH candidates verified by estimated Jaccard (signature agreement).
    ``(id_a, id_b, est_jaccard)``."""
    if bands * rows_per_band > num_perm:
        raise ValueError(
            f"bands({bands}) * rows_per_band({rows_per_band}) exceeds "
            f"num_perm({num_perm}); band slices would read past the signature "
            "and hash empty arrays into one degenerate bucket"
        )
    # Docs with fewer than n normalized words have NO shingles and get the
    # sentinel signature — identical for ALL of them. Pairing on it would
    # declare every short/empty doc a near-duplicate of every other
    # (est_jaccard 1.0 over zero shared content) and near_dedup would then
    # silently delete distinct short documents. Shingle-less docs therefore
    # participate in no near-dup pairs by definition; byte-identical empties
    # are exact_dedup's job. (sig[0] == p identifies the sentinel: the
    # universal family maps real shingles into [0, p).)
    sigs = persist(minhash_signatures(
        df, num_perm=num_perm, text_col=text_col, id_col=id_col,
    ).filter(F.get(F.col("sig"), 0) != F.lit(MINHASH_P)))
    cands = lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band,
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", agree / F.lit(num_perm))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 52  # width of the portable (md5-derived) word-hash domain


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "md5_52",
) -> DataFrame:
    """``(id, simhash: bigint)`` — 52-bit simhash over word hashes (each
    occurrence votes), vectorized with numpy bit unpacking per Arrow
    batch. The 52-bit portable word hash keeps every signature
    reproducible in the driver's DuckDB oracle; ``hash_family='xxhash64'``
    gives a 64-bit non-portable variant."""
    from llm_aided_ocr_spark.operators.util import ensure_min_parallelism

    df = ensure_min_parallelism(df)
    bits = SIMHASH_BITS if hash_family == "md5_52" else 64
    words = _words_col(text_col)
    hashed = df.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.filter(words, lambda w: w != ""),
            lambda w: _word_hash_col(w, hash_family),
        ).alias("word_hashes"),
    )

    def _sim(hash_rows):
        sims = []
        for hs in hash_rows:
            if hs is None or len(hs) == 0:
                sims.append(0)
                continue
            arr = hs.view(np.uint64)
            bit_mat = (
                (arr[:, None] >> np.arange(bits, dtype=np.uint64)) & 1
            ).astype(np.int64)
            votes = (2 * bit_mat - 1).sum(axis=0)
            sim = 0
            for bit_ix in np.nonzero(votes > 0)[0]:
                sim |= 1 << int(bit_ix)
            sims.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
        return (sims,)

    id_type = dict(hashed.dtypes)["id"]  # follow the input's id type
    return map_arrow(hashed, _sim, f"id {id_type}, simhash bigint", keep=("id",))


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "md5_52",
) -> DataFrame:
    """Candidate generation by 4-band equality over the signature (any
    identical band → candidate; guarantees recall for hamming<=3 by
    pigeonhole), verified by exact hamming distance via bit_count(xor).
    Band buckets of more than 200 documents are dropped before the
    self-join (same rationale as :func:`lsh_candidate_pairs`)."""
    sigs = persist(simhash_signatures(
        df, text_col=text_col, id_col=id_col, hash_family=hash_family
    ))
    band_bits = (SIMHASH_BITS if hash_family == "md5_52" else 64) // 4
    band_mask = (1 << band_bits) - 1
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright("simhash", bi * band_bits)
                        .bitwiseAND(F.lit(band_mask))
                        .alias("key"),
                    )
                    for bi in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))
    small = (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= 200)
        .select("band", "key")
    )
    bands = bands.join(small, on=["band", "key"], how="left_semi")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Dedup clusters (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

def dedup_clusters(pairs_df: DataFrame, max_iter: int = 25) -> DataFrame:
    """``(id, cluster_id)`` — connected components over a near-dup pair
    relation (cluster_id = min doc id in the component), the step that
    turns pairwise dedup output into a drop list: keep ``id ==
    cluster_id``, drop the rest (transitively: A~B, B~C puts A,C in one
    cluster even if the A~C pair was never emitted).

    Iterative min-label propagation: every node starts labeled with its
    own id; each round takes the min of its own and its neighbors' labels;
    converges in O(component diameter) rounds. Near-dup clusters are
    dense/shallow (diameter 2-4 in practice), so the loop runs a handful
    of rounds of [join + min-aggregate] — two key-partitioned shuffles per
    round on an ``(node, label)`` relation of 16-byte rows, NEVER the
    documents themselves. Each round ends in an eager ``localCheckpoint``
    (truncates the growing lineage — an iterative-join plan would
    otherwise double per round); each superseded round's checkpoint
    blocks are released immediately (and the edge list's after the loop)
    so repeated ``near_dedup`` calls in a long session do not accumulate
    executor storage, and the FINAL labels checkpoint stays registered
    for the caller's ``release_pinned``. Convergence is detected
    EXACTLY by
    counting changed labels against the previous round's checkpointed set
    — a join over the tiny (node, label) relation that works for ANY id
    type (a numeric "monotone sum" signature would crash casting string
    url ids under ANSI mode). For adversarial high-diameter graphs (long
    chains), the
    published fix is the large-star/small-star decomposition
    [Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14] — same primitives, fewer rounds; not needed for dedup
    workloads and omitted.

    Only nodes that appear in some pair are returned (singletons are
    already their own keeper). Input pairs may be duplicated/asymmetric;
    the edge set is symmetrized internally.
    """
    edges = pairs_df.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # materialize the (16-byte-row) edge list ONCE: every propagation round
    # joins against it, and without this the full pairs_df lineage (for
    # near_dedup: the whole LSH candidate generation) would re-execute per
    # round
    edges = local_checkpoint(edges)
    labels = local_checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    changed = 1
    for _ in range(max_iter):
        prop = edges.join(
            labels, edges["dst"] == labels["node"]
        ).select(F.col("src").alias("node"), F.col("label"))
        new_labels = local_checkpoint(
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # the previous round's checkpoint is superseded the moment the
        # convergence check (its last consumer) has run — release its
        # blocks now rather than letting them pile up until GC
        release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # silent truncation would return WRONG labels (multiple "keepers"
        # inside one true component) — refuse instead
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds: a "
            "component has diameter > max_iter (e.g. a long chain of "
            "pairwise near-dups). Raise max_iter, or switch to a "
            "large-star/small-star decomposition for adversarial graphs."
        )
    release_local_checkpoint(edges)
    # the result still READS the final labels checkpoint lazily; it stays
    # registered until the caller's release_pinned
    return labels.select(
        F.col("node").alias("id"), F.col("label").alias("cluster_id")
    )


def dedup_keep_list(pairs_df: DataFrame) -> DataFrame:
    """``(id, cluster_id, keep)`` — the actionable form of
    :func:`dedup_clusters`: ``keep`` is true for the cluster's min-id
    representative. Materialize survivors with an anti-join of the corpus
    against ``filter(~keep)`` (16-byte rows; bucket the corpus on the id
    for an exchange-free join, see ``sources/io.py``)."""
    c = dedup_clusters(pairs_df)
    return c.withColumn("keep", F.col("id") == F.col("cluster_id"))


def near_dedup(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    **minhash_kwargs,
) -> DataFrame:
    """One-call corpus near-dedup (the FineWeb-style recipe as a single
    operator): minhash-LSH candidate pairs → connected components →
    drop every non-keeper → anti-join the corpus. Returns the surviving
    rows with their original schema. The anti-join's right side is the
    tiny ``(id)`` drop list (broadcast-eligible; at 100 TB bucket the
    corpus on the id for an exchange-free join, see ``sources/io.py``)."""
    start = cache_mark()
    pairs = minhash_dedup_pairs(
        df, threshold=threshold, text_col=text_col, id_col=id_col,
        **minhash_kwargs,
    )
    stop = cache_mark()
    keep_list = dedup_keep_list(pairs)
    drops = keep_list.filter(~F.col("keep")).select(F.col("id").alias(id_col))
    # dedup_clusters ran eagerly (localCheckpoint rounds), so `drops` no
    # longer depends on the pairs plan — the signature cache registered
    # inside minhash_dedup_pairs is dead; release it here instead of
    # leaking it into the caller's session. The final labels checkpoint
    # (registered after `stop`) is still read by the anti-join and stays.
    release_between(df.sparkSession, start, stop)
    return df.join(drops, on=id_col, how="left_anti")


def near_dedup_incremental(
    new_df: DataFrame,
    index_sig_df: DataFrame,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    n: int = 3,
    seed: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 200,
    hash_family: str = "md5_52",
) -> DataFrame:
    """Dedupe a NEW batch against an existing corpus without touching
    the corpus: the operation a production pipeline actually runs when a
    crawl arrives. ``index_sig_df`` is a persisted
    :func:`minhash_signatures` table ``(id, sig)`` for the existing
    corpus — built ONCE, appended to after every batch — and MUST have
    been built with the same ``(num_perm, n, seed, hash_family)``;
    ``new_df`` and the index must not share ids.

    Semantics (in precedence order, each step driver-oracle-replayable):

    1. candidate buckets are built over index ∪ new with ONE combined
       size cap — a new document lands in exactly the buckets it would
       have landed in had the whole corpus been re-run;
    2. a new document whose estimated Jaccard against ANY index member
       reaches ``threshold`` is dropped (the corpus copy always wins —
       keep-first across batches, the RefinedWeb/CCNet convention);
    3. the survivors near-dedup among THEMSELVES: new-vs-new candidate
       pairs (from the same combined buckets) restricted to surviving
       endpoints → connected components → min-id keeper per cluster.

    Returns surviving new rows with their original schema. To advance
    the index, append ``minhash_signatures(kept)`` (or reuse this run's
    — the signature relation stays cached until ``release_pinned``).

    Scale shape: the index contributes ONLY 8-byte-keyed ``(id, band,
    bucket)`` rows — its text is never read — and those rows are
    filtered map-side against the batch's broadcast bucket-key set
    BEFORE any aggregation or join, so the index is scanned narrow but
    NEVER shuffled; its signatures join in just for the agreement check
    on candidate pairs (bucket-first, capped, never all-pairs — a small
    relation AQE broadcasts, streaming the signature scan too). Per
    batch this shuffles O(batch + matched-buckets) rows, not O(corpus):
    re-running batch :func:`near_dedup` over the whole corpus for each
    increment would re-shuffle every signature every time."""
    new_sigs = persist(minhash_signatures(
        new_df, num_perm=num_perm, n=n, seed=seed, text_col=text_col,
        id_col=id_col, hash_family=hash_family,
    ).filter(F.get(F.col("sig"), 0) != F.lit(MINHASH_P)))
    idx_sigs = index_sig_df.filter(F.get(F.col("sig"), 0) != F.lit(MINHASH_P))

    bn = _band_buckets(new_sigs, bands, rows_per_band)
    # the index's bucket relation is CORPUS-scaled: restrict it to
    # buckets the batch actually touches BEFORE any aggregation or join
    # — the batch's distinct bucket keys broadcast (a micro-batch is
    # small by contract; a corpus-sized "batch" belongs in batch
    # near_dedup) and the index side streams through the semi-join
    # map-side, so the index is SCANNED (8-byte keys, no text) but
    # never shuffled. Equivalence: an untouched bucket can produce no
    # cross or within pair, and a touched bucket keeps ALL its index
    # members, so the combined cap below counts exactly what the
    # all-buckets form would.
    new_keys = F.broadcast(bn.select("band", "bucket").distinct())
    bi = _band_buckets(idx_sigs, bands, rows_per_band).join(
        new_keys, on=["band", "bucket"], how="left_semi"
    )
    u = bn.withColumn("is_new", F.lit(True)).unionByName(
        bi.withColumn("is_new", F.lit(False))
    )
    if max_bucket_size is not None:
        small = (
            u.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") <= max_bucket_size)
            .select("band", "bucket")
        )
        u = u.join(small, on=["band", "bucket"], how="left_semi")
    u = persist(u)
    un = u.filter(F.col("is_new")).drop("is_new")
    ui = u.filter(~F.col("is_new")).drop("is_new")

    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    sa = new_sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb_idx = idx_sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    sb_new = new_sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))

    cross = (
        un.alias("a")
        .join(ui.alias("b"), on=["band", "bucket"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # cross_hit feeds THREE consumers (the drop union and both
    # surviving-endpoint anti-joins); uncached, each reference re-embeds
    # the whole candidate-join + signature subtree — including a fresh
    # scan of the index signatures (verified: the uncached plan held
    # 100+ duplicated Generate/Python subtrees). It is a batch-bounded
    # id set; an EAGER localCheckpoint (not .cache()) both shares the
    # materialization AND truncates the lineage to a LogicalRDD — with a
    # plain cache every later action re-analyzed/re-optimized the full
    # candidate+signature subtree once per reference (a 1000+-node plan:
    # driver-side planning was a large share of the per-action cost,
    # guide §3.3 "very large plans ... materialise an intermediate"),
    # matching the checkpoint discipline dedup_clusters already uses.
    cross_hit_plan = (
        cross.join(sa, "id_a")
        .join(sb_idx, "id_b")
        .filter(agree / F.lit(num_perm) >= threshold)
        .select(F.col("id_a").alias("id"))
        .distinct()
    )
    cross_hit = local_checkpoint(cross_hit_plan)

    within = (
        un.alias("a")
        .join(un.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    within_pairs = (
        within.join(sa, "id_a")
        .join(sb_new, "id_b")
        .filter(agree / F.lit(num_perm) >= threshold)
        # both endpoints must have survived the cross stage: a pair whose
        # member was already dropped against the index must not also drag
        # its partner into a within-batch cluster
        .join(cross_hit.withColumnRenamed("id", "id_a"), "id_a", "left_anti")
        .join(cross_hit.withColumnRenamed("id", "id_b"), "id_b", "left_anti")
        .select("id_a", "id_b")
    )
    clusters = dedup_clusters(within_pairs)
    within_drops = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    drops = cross_hit.unionByName(within_drops).distinct().withColumnRenamed(
        "id", id_col
    )
    kept = new_df.join(drops, on=id_col, how="left_anti")
    # Test probe: the candidate subtree now executes at the eager
    # checkpoint, so the index-never-shuffled plan property is no longer
    # visible in the RESULT's (truncated) plan — expose the logical
    # candidate plan for plan-shape tests.
    kept._ocr_spark_index_probe = cross_hit_plan  # type: ignore[attr-defined]
    return kept


def apply_incremental_dedup(
    batch_df: DataFrame,
    out_path: str,
    index_path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    n: int = 3,
    seed: int = 1,
    hash_family: str = "md5_52",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 200,
) -> int:
    """One incremental-dedup step against persisted state: run
    :func:`near_dedup_incremental` for ``batch_df`` against the
    signature table at ``index_path`` (created on first use), append
    survivors to ``out_path`` and their signatures to the index; returns
    the number of surviving rows. Shared by the CLI batch mode and the
    streaming ``foreachBatch`` writer — output is appended BEFORE the
    index on purpose (see ``streaming.ingest.write_stream_near_dedup``
    for the replay-semantics rationale).

    Parameters are EXPLICIT rather than ``**kwargs`` on purpose: the
    signature parameters (``num_perm``/``n``/``seed``/``hash_family``)
    route to both :func:`minhash_signatures` calls and to the dedup,
    while the LSH parameters (``bands``/``rows_per_band``/
    ``max_bucket_size``) route only to :func:`near_dedup_incremental` —
    a blind ``**kwargs`` forward raised ``TypeError`` on a valid key
    AFTER the output append but before the index append, leaving the two
    sinks inconsistent until replay. An unknown key now fails at call
    time, before anything is written."""
    from pyspark.errors import AnalysisException

    sig_kwargs = dict(
        num_perm=num_perm, n=n, seed=seed, hash_family=hash_family
    )
    spark = batch_df.sparkSession
    try:
        idx = spark.read.parquet(index_path)
    except AnalysisException as ex:
        # ONLY a missing index means "first batch"; a corrupt/unreadable
        # index must raise — silently treating it as empty would re-keep
        # every near-dup of the entire history
        if "PATH_NOT_FOUND" not in str(ex) and "Path does not exist" not in str(ex):
            raise
        sigs = minhash_signatures(
            batch_df, text_col=text_col, id_col=id_col, **sig_kwargs
        )
        idx = spark.createDataFrame([], sigs.schema)
    start = cache_mark()
    kept = persist(near_dedup_incremental(
        batch_df, idx, threshold=threshold,
        text_col=text_col, id_col=id_col,
        bands=bands, rows_per_band=rows_per_band,
        max_bucket_size=max_bucket_size, **sig_kwargs,
    ))
    try:
        kept.write.mode("append").parquet(out_path)
        minhash_signatures(
            kept, text_col=text_col, id_col=id_col, **sig_kwargs
        ).write.mode("append").parquet(index_path)
        return kept.count()
    finally:
        release_between(spark, start)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def eval_ngram_set(
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(shingle)`` — the distinct word-n-gram hashes of an evaluation
    corpus, the blocklist side of :func:`decontaminate`. The per-document
    sets are built document-locally (:func:`shingle_array_col` +
    ``array_distinct``, zero shuffle); the one ``.distinct()`` exchange
    moves 8-byte hashes of a BENCHMARK-sized relation (eval suites are
    10^3..10^6 grams, never corpus-scale), so it stays broadcastable."""
    shingles = F.array_distinct(
        shingle_array_col(text_col, n=n, hash_family=hash_family)
    )
    return (
        eval_df.select(F.explode(shingles).alias("shingle")).distinct()
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, n_hits)`` — training documents sharing at least one word
    n-gram with the evaluation corpus, with the count of DISTINCT shared
    grams. The GPT-3/PaLM eval-decontamination rule (n=13 word-gram
    collision ⇒ drop the training document) as a DataFrame operator; no
    reference analogue (the reference is single-document,
    llm_aided_ocr.py has no corpus stage).

    Scale shape: the train side never shuffles — shingle sets are
    document-local arrays and the contamination join streams them against
    the BROADCAST eval-gram set (eval benchmarks are tiny relative to a
    100 TB corpus). The only
    exchange of the whole operator is the final ``groupBy(id)`` on
    16-byte ``(id, 1)`` rows with map-side combine. Normalization matches
    the n-gram Jaccard family (lower → strip non-alnum → collapse
    whitespace), so "same gram" is casing/punctuation-insensitive."""
    ev = F.broadcast(
        eval_ngram_set(eval_df, n=n, text_col=text_col, hash_family=hash_family)
    )
    tr = word_shingles(
        train_df, n=n, text_col=text_col, id_col=id_col, hash_family=hash_family
    )
    return (
        tr.join(ev, on="shingle")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def remove_contaminated(
    train_df: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
) -> DataFrame:
    """The actionable form: the training corpus minus every document with
    at least one eval-gram collision. The anti-join's right side is
    the tiny contaminated-id list (broadcast-eligible); the corpus rows
    move at most once, same discipline as :func:`near_dedup`."""
    hits = decontaminate(train_df, eval_df, n=n)
    drops = hits.filter(F.col("n_hits") >= F.lit(1)).select(F.col("id").alias("doc_id"))
    return train_df.join(drops, on="doc_id", how="left_anti")


# ---------------------------------------------------------------------------
# Exact duplicate-span detection / removal (hashed-n-gram approximation)
# ---------------------------------------------------------------------------

def dup_span_profile(
    df: DataFrame,
    n: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_stripped: bool = True,
) -> DataFrame:
    """``(id, n_grams, n_dup, dup_frac[, stripped])`` — per-document
    profile of EXACT duplicated token spans: a position is duplicated if
    its word-n-gram occurs >= 2 times in the whole corpus (other
    documents or elsewhere in the same one). ``stripped`` is the
    document's NORMALIZED token stream with every covered token removed
    (token j is covered iff some duplicated gram starts in
    ``[j-n+1, j]``) — span identity is defined on the normalized stream,
    so that is the stream the removal rewrites.

    This is the hashed-gram approximation of suffix-array substring
    dedup (Lee et al. 2021, arXiv:2107.06499 — their ExactSubstr with
    the 50-token threshold as the default ``n``): a duplicated span of
    length >= n is exactly a run of duplicated n-gram positions, so
    coverage-removal deletes the same tokens the suffix-array method
    finds, at the cost of hash-collision false positives (~2^-64 per
    gram pair) and of missing duplicates shorter than ``n``.

    Scale shape: gram hashes are document-local arrays built by one
    Arrow/numpy pass (:func:`gram_hashes_arrow`; higher-order functions
    are interpreted, so at n=50 the pure-expression projection alone ran
    at ~6 MB/s); the frequency pass shuffles 8-byte gram hashes into a
    map-side-combined count; the duplicate-position pass streams
    ``(id, pos, gram)`` rows through a SHUFFLE-HASH semi-join against the
    dup set (the ``shuffle_hash`` hint is load-bearing twice over: it
    kills the sort-merge plan's two corpus-length sorts, and it forbids
    broadcasting the unbounded dup set) and regroups to per-doc sorted
    position arrays — document TEXT never enters an exchange; the final
    assembly joins those small arrays back to the corpus by id. (A
    measured alternative — ONE grouped exchange collecting each gram's
    occurrence list — runs the gram pass once instead of twice and is
    ~15% faster warm at 320k docs (43.2s vs 50.7s, interleaved
    same-session A/B; earlier isolated runs swung 3x either way on host
    state), but it materializes EVERY occurrence of a gram as one
    in-memory array on one executor: a boilerplate 50-gram occurring
    10^8 times across a web corpus is a guaranteed OOM, and it drew
    GCLocker allocation-stall warnings even at test scale. Streaming
    rows through a hash probe has no degenerate key, so the semi-join
    form is the default on robustness, not speed.)
    Token-level coverage-removal is a ``filter`` + ``exists`` probe over
    MERGED dup intervals — O(tokens x merged-intervals) interpreted, but
    zero Python and tiny M on real web boilerplate, where dup positions
    coalesce into a few long runs (measured 2x faster than a numpy
    difference-array UDF at 320k docs on the template bench corpus,
    where most docs are dirty and the UDF paid a token-array Arrow
    transfer for each; the UDF won 2-3x only on an interval-FRAGMENTED
    corpus of ~40 separate dup intervals per doc — numbers in BENCH.md).
    Clean documents skip the probe entirely: their stripped stream IS the
    normalized text."""
    # The gram relation feeds BOTH the frequency count and the
    # duplicate-position probe; unpersisted, each side runs its own full
    # Arrow gram pass over the corpus (two MapInPandas nodes in the
    # physical plan). Persist the per-doc hash ARRAYS (8 bytes/token,
    # pre-explode — the narrowest form both sides can derive from) so the
    # corpus crosses the Python boundary once; MEMORY_AND_DISK, registered
    # for deterministic release. The explodes stay JVM-side and cheap
    # (guide §4: pay the Python boundary once).
    from pyspark import StorageLevel

    gh_rel = persist(gram_hashes_arrow(
        df, n=n, text_col=text_col, id_col=id_col
    ), StorageLevel.MEMORY_AND_DISK)
    ex = gh_rel.select(
        F.col("id").alias("_ds_id"), F.posexplode("ghs").alias("pos", "gh")
    )
    dup = (
        ex.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    dup_pos = (
        ex.join(dup.hint("shuffle_hash"), on="gh", how="left_semi")
        .groupBy("_ds_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_dup_pos"))
    )
    out = df.join(
        corpus_scaled(dup_pos), df[id_col] == dup_pos["_ds_id"], "left"
    )
    # Hoist the token array to a NAMED column: the final projection
    # referenced _words_col (a full text split) up to four times per row
    # — thrice via n_grams (column, WHEN condition, denominator; CSE
    # does not cross WHEN branches) and once more in the strip/normalize
    # branch (_normalize_col IS array_join(_words_col)). CollapseProject
    # does not inline non-cheap aliases, so one split survives
    # (guide §1.2; same fix as capture_novelty).
    out = out.select(
        F.col(id_col).alias("_dsp_id"),
        _words_col(text_col).alias("_toks"),
        F.coalesce(F.col("_dup_pos"), F.array().cast("array<int>")).alias(
            "_ps"
        ),
    )
    tokens = F.col("_toks")
    ps = F.col("_ps")
    n_grams = F.greatest(F.size(tokens) - F.lit(n - 1), F.lit(0))
    n_dup = F.size(ps)
    cols = [
        F.col("_dsp_id").alias("id"),
        n_grams.cast("int").alias("n_grams"),
        n_dup.cast("int").alias("n_dup"),
        F.when(n_grams > 0, n_dup.cast("double") / n_grams.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    ]
    if with_stripped:
        from llm_aided_ocr_spark.operators.util import let_

        # coverage via MERGED intervals: ps is sorted, so folding the
        # [p, p+n-1] spans into their union is one pass, and the
        # per-token probe touches M merged intervals instead of D raw
        # positions. A mostly-duplicated document has D ~ tokens but M ~
        # a handful of long runs — the raw exists-probe is O(T x D)
        # interpreted (quadratic exactly on the documents this operator
        # exists to catch); merged it is O(T x M + D x M). Adjacent
        # intervals merge too (p <= last_e + 1): their union is
        # contiguous, membership is unchanged.
        itype = "array<struct<s:int,e:int>>"
        merged = F.aggregate(
            ps,
            F.array().cast(itype),
            lambda acc, p: F.when(
                (F.size(acc) > 0)
                & (p <= F.element_at(acc, -1)["e"] + 1),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(
                        F.struct(
                            F.element_at(acc, -1)["s"].alias("s"),
                            F.greatest(
                                F.element_at(acc, -1)["e"], p + F.lit(n - 1)
                            ).alias("e"),
                        )
                    ),
                ),
            ).otherwise(
                F.concat(
                    acc,
                    F.array(
                        F.struct(
                            p.alias("s"), (p + F.lit(n - 1)).alias("e")
                        )
                    ),
                )
            ),
        )

        def _strip(iv: F.Column) -> F.Column:
            kept = F.filter(
                tokens,
                lambda t, j: ~F.exists(
                    iv, lambda m: (m["s"] <= j) & (j <= m["e"])
                ),
            )
            return F.array_join(kept, " ")

        # clean documents (the overwhelming majority of a real corpus)
        # skip the probe entirely: their stripped stream IS the
        # normalized text (array_join of the hoisted token array)
        cols.append(
            F.when(n_dup == 0, F.array_join(tokens, " "))
            .otherwise(let_(merged, _strip))
            .alias("stripped")
        )
    return out.select(*cols)


# ---------------------------------------------------------------------------
# Corpus-wide exact paragraph dedup, keep-first (RefinedWeb/MassiveText style)
# ---------------------------------------------------------------------------

def paragraph_keep_positions(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, pos)`` — the positions of the paragraphs that SURVIVE
    corpus-wide keep-first exact dedup: for every distinct (trimmed)
    paragraph, only its first occurrence in ``(id, pos)`` order survives;
    every later occurrence — in other documents or later in the same one
    — is dropped. This is the paragraph-level exact dedup of
    RefinedWeb/MassiveText (keep one copy, remove repeats) as opposed to
    :func:`~llm_aided_ocr_spark.operators.boilerplate.line_dedup`'s
    frequency-threshold rule (which strips EVERY copy of corpus-frequent
    lines).

    Whitespace-only paragraphs are layout, not content: they are never
    candidates and are always kept by the rebuild.

    Scale shape: paragraphs hash document-locally; the only corpus-keyed
    exchange carries ``(hash, id, pos)`` ~24-byte rows into a map-side-
    combined ``min(struct(id, pos))`` per hash (no window, no sort —
    first-occurrence is an aggregation, combinable on the map side), and
    winners regroup to one small ``array<int>`` per document. Document
    TEXT never enters an exchange. Matching is on the 64-bit paragraph
    hash (~2^-64 false-merge per pair); ``md5_52`` is the engine-portable
    family the driver oracle replays with string keys.
    """
    paras = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n\n")
    hashes = F.transform(
        paras, lambda p: _word_hash_col(F.trim(p), hash_family)
    )
    blank_hash = _word_hash_col(F.lit(""), hash_family)
    ex = (
        df.select(
            F.col(id_col).alias("id"), F.posexplode(hashes).alias("pos", "ph")
        )
        .filter(F.col("ph") != blank_hash)
    )
    return (
        ex.groupBy("ph")
        .agg(F.min(F.struct("id", "pos")).alias("w"))
        .select(F.col("w.id").alias("id"), F.col("w.pos").alias("pos"))
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
    out_col: str | None = None,
) -> DataFrame:
    """Rewrite every document keeping only its surviving paragraphs (see
    :func:`paragraph_keep_positions`), preserving the order and the
    whitespace-only layout paragraphs of everything kept; the join
    separator is the ``"\\n\\n"`` the split consumed. A document whose
    every paragraph is a repeat comes back ``''`` — paragraph dedup edits
    documents, document-level filters decide their fate."""
    out_col = out_col or text_col
    kept = (
        paragraph_keep_positions(
            df, text_col=text_col, id_col=id_col, hash_family=hash_family
        )
        .groupBy("id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_pd_pos"))
        .withColumnRenamed("id", "_pd_id")
    )
    from llm_aided_ocr_spark.operators.util import let_

    paras = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n\n")
    pos = F.coalesce(F.col("_pd_pos"), F.array().cast("array<int>"))

    # rebuild from the position UNION (kept content + blank layout) with
    # an O(P log P) sort instead of probing the kept array per paragraph
    # (array_contains is a linear interpreted scan — O(P x K) per doc,
    # quadratic on a mega-doc that keeps most paragraphs); the paragraph
    # array is let-bound so it splits once, not once per kept position
    def _rebuild(ps_arr: F.Column) -> F.Column:
        blanks = F.filter(
            F.sequence(F.lit(0), F.size(ps_arr) - 1),
            lambda j: F.trim(F.get(ps_arr, j)) == "",
        )
        keep_all = F.array_sort(F.concat(pos, blanks))
        return F.array_join(
            F.transform(keep_all, lambda i: F.get(ps_arr, i)), "\n\n"
        )

    rebuilt = let_(paras, _rebuild)
    return (
        df.join(corpus_scaled(kept), df[id_col] == kept["_pd_id"], "left")
        .withColumn(out_col, rebuilt)
        .drop("_pd_id", "_pd_pos")
    )


def paragraph_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``(id, n_paras, n_kept, clean_len, clean_md5)`` — the audit view
    of :func:`paragraph_dedup`: paragraph counts before/after (blank
    layout paragraphs excluded from both counts) plus length and
    engine-portable md5 of the rebuilt text, so the driver oracle
    verifies the rebuilt BYTES."""
    cleaned = paragraph_dedup(
        df, text_col=text_col, id_col=id_col, hash_family=hash_family,
        out_col="_pd_clean",
    )
    def _n_content(c: F.Column) -> F.Column:
        return F.size(F.filter(F.split(c, "\n\n"), lambda p: F.trim(p) != ""))
    return cleaned.select(
        F.col(id_col).alias("id"),
        _n_content(F.coalesce(F.col(text_col), F.lit(""))).alias("n_paras"),
        _n_content(F.col("_pd_clean")).alias("n_kept"),
        F.length("_pd_clean").alias("clean_len"),
        F.md5(F.col("_pd_clean")).alias("clean_md5"),
    )


def cluster_keepers(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """``(cluster_id, keeper_id, n_members, best_quality)`` — pick the
    QUALITY-BEST representative of every near-dup cluster (ties by min
    id) instead of the positional min-id default: the FineWeb/RefinedWeb
    practice of keeping the longest / highest-scoring copy, because
    near-dup clusters routinely mix a full article with its truncated
    or boilerplate-wrapped syndications and min-id keeps an arbitrary
    one.

    ``clusters`` is a :func:`dedup_clusters`-shaped ``(id, cluster_id)``
    assignment; ``quality`` maps ``id`` to a totally-ordered score
    (length, classifier score, lm bucket — any orderable column;
    integer scores replay engine-exactly, float scores are safe too
    since no arithmetic is done on them, only comparison).

    Shape: ONE equi-join (cluster assignment x score, both narrow) and,
    for numeric ids, ONE ``max(struct(quality, -id))`` aggregation —
    the min-struct keeper discipline (no window, map-side combinable, a
    mega-cluster is just one hot groupBy key that partial aggregation
    absorbs). Non-numeric ids (``dedup_clusters`` explicitly supports
    string/url ids) cannot be negated for the mixed-direction struct
    ordering — in non-ANSI mode the cast yields NULL keepers silently —
    so they take a two-pass form with no arithmetic on the id: max
    quality + member count per cluster, then a conditional
    ``min(id | quality == best)`` over a co-partitioned join back
    (both aggregations map-side combinable; null-safe equality keeps
    the all-NULL-quality cluster's min-id keeper)."""
    from pyspark.sql.types import NumericType

    j = clusters.select(F.col("id").alias("_id"), F.col("cluster_id")).join(
        quality.select(F.col("id").alias("_id"), F.col("quality").alias("_q")),
        "_id",
    )
    if isinstance(j.schema["_id"].dataType, NumericType):
        return j.groupBy("cluster_id").agg(
            (-F.max(
                F.struct(F.col("_q").alias("q"), (-F.col("_id")).alias("ni"))
            ).getField("ni")).alias("keeper_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.max("_q").alias("best_quality"),
        ).select("cluster_id", "keeper_id", "n_members", "best_quality")
    stats = j.groupBy(F.col("cluster_id").alias("_c")).agg(
        F.max("_q").alias("best_quality"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
    )
    return (
        # null-safe: a NULL cluster_id is one group, as in the numeric path
        j.join(stats, j["cluster_id"].eqNullSafe(stats["_c"]))
        .groupBy("cluster_id")
        .agg(
            F.min(
                F.when(
                    F.col("_q").eqNullSafe(F.col("best_quality")),
                    F.col("_id"),
                )
            ).alias("keeper_id"),
            F.max("n_members").alias("n_members"),
            F.max("best_quality").alias("best_quality"),
        )
        .select("cluster_id", "keeper_id", "n_members", "best_quality")
    )
