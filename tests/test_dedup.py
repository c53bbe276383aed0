"""Dedup operator tests over small deterministic corpora with known
duplicate structure."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest tonight"
    )
    near = base.replace("tonight", "today")          # 1-word change
    other = "completely different content about pension plans and assets returns"
    rows = [
        (0, base),
        (1, base),            # exact dup of 0
        (2, near),            # near dup of 0
        (3, other),
        (4, other),           # exact dup of 3
        (5, "short text"),
        (6, ""),              # empty
        (7, None),            # null
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string").cache()


def test_exact_dedup(spark, corpus):
    from llm_aided_ocr_spark.operators.dedup import exact_dedup, exact_dup_groups

    kept = exact_dedup(corpus)
    ids = sorted(r["doc_id"] for r in kept.collect())
    # 1 dups 0, 4 dups 3; empty (6) and null (7) collide via coalesce('')
    assert ids == [0, 2, 3, 5, 6]
    groups = {r["keeper_id"]: r["n_dups"] for r in exact_dup_groups(corpus).collect()}
    assert groups == {0: 2, 3: 2, 6: 2}


def test_ngram_jaccard_pairs(spark, corpus):
    from llm_aided_ocr_spark.operators.dedup import ngram_jaccard_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, n=3, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(3, 4)] == 1.0
    assert 0.5 <= pairs[(0, 2)] < 1.0
    assert (1, 2) in pairs  # 1==0 so same near-dup relation
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_ngram_jaccard_hot_shingle_cap(spark):
    """A shingle shared by every doc must not make the pair join quadratic:
    with the DF cap on (the default), the hot shingle is dropped before the
    self-join so unrelated docs never meet."""
    import inspect

    from llm_aided_ocr_spark.operators.dedup import ngram_jaccard_pairs

    # the cap must be on by default — the uncapped quadratic path should be
    # reachable only by explicit opt-in (max_shingle_df=None)
    default = inspect.signature(ngram_jaccard_pairs).parameters["max_shingle_df"].default
    assert default is not None and default <= 10_000

    hot = "alpha beta gamma"  # one 3-gram shared by ALL docs
    rows = [(i, f"{hot} unique{i} filler{i} token{i} word{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    capped = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_shingle_df=5)
    # hot shingle dropped -> docs share nothing -> no pairs at all
    assert capped.count() == 0

    # uncapped exact mode still sees all 30*29/2 pairs through the hot shingle
    exact = ngram_jaccard_pairs(df, n=3, threshold=0.01, max_shingle_df=None)
    assert exact.count() == 30 * 29 // 2


def test_ngram_jaccard_prefix_count_filter_is_exact(spark):
    """The round-4 c-extended prefix + count filter must be invisible in
    the OUTPUT: against a randomized corpus with planted near-dup pairs of
    assorted sizes (including docs smaller than prefix_c shingles, where
    the required count clamps to ceil(t*sz)), the result equals a
    brute-force Python Jaccard over the same shingle space — at several
    thresholds, including ones landing exactly on integral t*sz."""
    import itertools
    import random

    from llm_aided_ocr_spark.operators.dedup import ngram_jaccard_pairs
    from llm_aided_ocr_spark.operators.util import release_pinned

    rng = random.Random(4)
    vocab = [f"w{i}" for i in range(300)]
    texts = {}
    i = 0
    for _ in range(25):  # random base docs, varied length (some < c+2 words)
        texts[i] = " ".join(rng.choices(vocab, k=rng.randint(4, 60)))
        i += 1
    for _ in range(10):  # planted near-dups: copy + small tail edit
        base = texts[rng.randrange(i)]
        texts[i] = base + " " + " ".join(rng.choices(vocab, k=rng.randint(0, 3)))
        i += 1
    df = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )

    def shingles(t):
        w = t.split()
        return {tuple(w[j : j + 3]) for j in range(len(w) - 2)}

    sets = {k: shingles(v) for k, v in texts.items() if len(v.split()) >= 3}
    for t in (0.5, 0.8, 1.0):
        expect = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= t:
                expect[(a, b)] = round(inter / union, 9)
        out = ngram_jaccard_pairs(df, n=3, threshold=t, max_shingle_df=None)
        got = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9) for r in out.collect()
        }
        release_pinned(out)
        assert got == expect, (t, set(got) ^ set(expect))


def test_minhash_lsh_finds_near_dups(spark, corpus):
    from llm_aided_ocr_spark.operators.dedup import minhash_dedup_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_dedup_pairs(corpus, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0          # exact dup always found
    assert pairs[(3, 4)] == 1.0
    assert (0, 2) in pairs               # near dup found by LSH
    assert not any({a, b} == {0, 3} for (a, b) in pairs)
    # shingle-less docs (5: two words < n=3; 6/7: empty) must generate NO
    # pairs — the sentinel signature is not content (regression: they all
    # paired each other at est_jaccard 1.0 before round 3)
    assert not any({a, b} & {5, 6, 7} for (a, b) in pairs)


def test_minhash_signature_determinism(spark, corpus):
    from llm_aided_ocr_spark.operators.dedup import minhash_signatures

    s1 = {r["id"]: r["sig"] for r in minhash_signatures(corpus).collect()}
    s2 = {
        r["id"]: r["sig"]
        for r in minhash_signatures(corpus.repartition(7)).collect()
    }
    assert s1 == s2, "signatures must not depend on partitioning"
    assert len(s1[0]) == 64
    assert s1[0] == s1[1]


def test_simhash(spark, corpus):
    from llm_aided_ocr_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(corpus).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[6] == 0 and sigs[7] == 0

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near-dup is closer in hamming space than an unrelated doc
    assert hamming(sigs[0], sigs[2]) < hamming(sigs[0], sigs[3])

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(corpus, max_hamming=6).collect()
    }
    assert pairs[(0, 1)] == 0
    assert pairs[(3, 4)] == 0
    assert all(h <= 6 for h in pairs.values())
    # banding guarantees recall for hamming <= 3 (pigeonhole over 4 bands):
    # every such pair must be reported
    for a in sigs:
        for b in sigs:
            if a < b and hamming(sigs[a], sigs[b]) <= 3:
                assert (a, b) in pairs, (a, b)


def test_jaccard_on_driver_documents(spark):
    """Smoke the exact-jaccard path on the driver's documents table."""
    import os

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(path).select("doc_id", "text")
    pairs = (
        __import__("llm_aided_ocr_spark.operators.dedup", fromlist=["x"])
        .ngram_jaccard_pairs(docs, n=5, threshold=0.9)
    )
    assert pairs.count() >= 0


def _executed_plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_minhash_signatures_shuffle_free(spark):
    """The shingle set is document-local, so signature computation must
    not shuffle at all: no Exchange of any kind before (or after) the
    mapInPandas stage. Guards the round-3 fix that replaced the
    explode->distinct->collect_list double shuffle with a native
    array_distinct feeding mapInPandas directly."""
    import os

    from llm_aided_ocr_spark.operators.dedup import minhash_signatures

    path = "/root/testdata/sf0.001/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("driver testdata absent")
    docs = spark.read.parquet(path).select("doc_id", "text").repartition(32)
    plan = _executed_plan(minhash_signatures(docs))
    # the .repartition(32) above is the only allowed exchange (and it makes
    # ensure_min_parallelism a no-op): strip its RoundRobin line, then the
    # signature computation itself must be exchange-free
    body = "\n".join(
        ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" not in ln
    )
    assert "Exchange" not in body, plan
    assert "MapInArrow" in plan, plan


def test_exact_keeper_ids(spark, corpus):
    from llm_aided_ocr_spark.operators.dedup import exact_keeper_ids

    keepers = exact_keeper_ids(corpus)
    ids = sorted(r["keeper_id"] for r in keepers.collect())
    # one keeper per exact-text group, singletons included; 6 (empty) and
    # 7 (null) collide via coalesce('')
    assert ids == [0, 2, 3, 5, 6]

    # the aggregation's exchange must carry ONLY (fingerprint, id) — the
    # 16-byte/row keep-list contract; 'text' must not survive the shuffle
    plan = _executed_plan(keepers)
    exchange_seen = False
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            exchange_seen = True
        if "HashAggregate" in ln:
            assert "text" not in ln, plan
    assert exchange_seen, plan


def test_dedup_clusters_transitive(spark):
    """A~B, B~C must cluster A,B,C together (min-id label) even though
    the A~C pair was never emitted; disjoint components stay apart."""
    from llm_aided_ocr_spark.operators.dedup import dedup_clusters, dedup_keep_list

    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 10), (20, 21)],
        "id_a bigint, id_b bigint",
    )
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20}

    keep = {r["id"]: r["keep"] for r in dedup_keep_list(pairs).collect()}
    assert keep == {0: True, 1: False, 2: False, 3: False,
                    10: True, 11: False, 20: True, 21: False}


def test_dedup_clusters_long_chain_refuses_not_truncates(spark):
    """Adversarial high-diameter graph: a 40-edge chain (diameter 40 >
    max_iter 25) must raise the documented RuntimeError — silent
    truncation would return multiple 'keepers' inside one true component
    — and the SAME graph must converge once max_iter covers the
    diameter, with every node labeled by the chain's min id."""
    import pytest

    from llm_aided_ocr_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_clusters(chain, max_iter=8).collect()

    got = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(chain, max_iter=50).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_dedup_clusters_releases_superseded_checkpoints(spark):
    """The propagation loop localCheckpoints a new labels relation every
    round; superseded rounds (and the edge list) must be unpersisted so
    repeated calls don't accumulate executor storage. Only the final
    labels relation may remain pinned — and release_pinned frees it."""
    from llm_aided_ocr_spark.operators.dedup import dedup_clusters
    from llm_aided_ocr_spark.operators.util import release_pinned

    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    out = dedup_clusters(pairs, max_iter=20)
    out.count()
    # everything the ≥12-round loop checkpointed is gone except the final
    # labels relation the result still reads
    assert jsc.getPersistentRDDs().size() <= base + 1
    release_pinned(out, blocking=True)
    assert jsc.getPersistentRDDs().size() <= base


def test_dedup_clusters_random_vs_union_find(spark):
    """Random graph vs a driver-side union-find reference."""
    import random

    from llm_aided_ocr_spark.operators.dedup import dedup_clusters

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    want = {n: find(n) for n in nodes}
    # union-find roots are not guaranteed min-of-component; normalize
    comp_min = {}
    for n, r in want.items():
        comp_min.setdefault(r, n)
        comp_min[r] = min(comp_min[r], n)
    want = {n: comp_min[find(n)] for n in nodes}

    pairs = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == want


def test_internal_caches_are_pinned_and_releasable(spark, corpus):
    """Every operator with an internal cache registers it in the session
    cache registry, so a long-lived session can release the storage
    deterministically — through any frame derived from the result."""
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_dedup_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
    )
    from llm_aided_ocr_spark.operators.util import (
        _registered,
        cache_mark,
        release_pinned,
    )

    release_pinned(corpus)  # start from an empty registry
    for op in (ngram_jaccard_pairs, minhash_dedup_pairs, simhash_near_dup_pairs):
        start = cache_mark()
        out = op(corpus)
        out.count()
        cached = [h for k, h in _registered(spark).items() if k > start]
        assert cached, op.__name__
        assert all(c.storageLevel.useMemory for c in cached), op.__name__
        assert release_pinned(out.select("id_a"), blocking=True) >= 1, op.__name__
        assert not any(c.storageLevel.useMemory for c in cached), op.__name__
        assert release_pinned(out) == 0  # idempotent


def test_near_dedup_one_call(spark, corpus):
    """near_dedup: transitive minhash clusters collapse to their min-id
    representative; unrelated and short/empty docs survive untouched."""
    from llm_aided_ocr_spark.operators.dedup import near_dedup

    kept = sorted(r["doc_id"] for r in near_dedup(corpus, threshold=0.5).collect())
    # 0,1,2 cluster (exact+near dup) -> keep 0; 3,4 -> keep 3;
    # 5 (short), 6 (empty), 7 (null) ALL survive — shingle-less docs
    # participate in no near-dup pairs (distinct short docs must never be
    # deleted by a sentinel-signature collision)
    assert kept == [0, 3, 5, 6, 7]


def test_near_dedup_never_deletes_distinct_short_docs(spark):
    """Two distinct sub-n-word documents share zero content; near_dedup
    must keep both (the round-3 review bug: identical sentinel minhash
    signatures paired them at est_jaccard 1.0)."""
    from llm_aided_ocr_spark.operators.dedup import minhash_dedup_pairs, near_dedup

    df = spark.createDataFrame(
        [(10, "hello world"), (11, "goodbye friend"), (12, "")],
        "doc_id bigint, text string",
    )
    assert minhash_dedup_pairs(df, threshold=0.1).count() == 0
    kept = sorted(r["doc_id"] for r in near_dedup(df, threshold=0.1).collect())
    assert kept == [10, 11, 12]


def _py_words(t):
    """Independent Python reference for the token semantics: maximal
    [a-z0-9]+ runs of the lowercased text; [''] for token-less text."""
    import re

    toks = [w for w in re.split(r"[^a-z0-9]+", (t or "").lower()) if w]
    return toks if toks else [""]


def test_words_col_matches_python_reference_on_edges(spark):
    from llm_aided_ocr_spark.operators.dedup import _normalize_col, _words_col

    texts = [
        "", "   ", "...", None, "a", " a b ", "A-b_c 9", "R&D <x>!",
        "Tabs\tand\nnewlines mixed  runs", "ALL CAPS 123",
        "\tleading tab", "trailing nl\n", "a.b,c;d:e", "1" * 50,
        "word " * 200,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", _words_col("text").alias("w"),
                     _normalize_col("text").alias("nt")).collect()
    for r in rows:
        want = _py_words(r.text)
        assert r.w == want, (r.text, r.w, want)
        assert r.nt == " ".join(w for w in want if w), (r.text, r.nt)


def test_words_col_matches_python_reference_fuzzed(spark):
    import random

    rng = random.Random(17)
    alphabet = "ab1 .,;:!?\t\n-_&<>" + "\u00e9"
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 120)))
        for _ in range(300)
    ]
    from llm_aided_ocr_spark.operators.dedup import _words_col

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select("text", _words_col("text").alias("w")).collect()
    for r in rows:
        assert r.w == _py_words(r.text), (r.text,)


# ---------------------------------------------------------------------------
# incremental near-dedup (new batch vs existing signature index)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def inc_corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away home tonight"
    )
    corpus = spark.createDataFrame(
        [
            (1, base),
            (2, "completely different text about spark dataframes and shuffles here now"),
            (3, "third unrelated document with its own words entirely"),
        ],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base + " extra"),  # near-dup of index doc 1
            (11, "brand new unique content nobody has ever written before in any corpus"),
            (12, "brand new unique content nobody has ever written before in any corpus today"),
            (13, "short"),          # shingle-less: participates in no pairs
        ],
        "doc_id bigint, text string",
    )
    return corpus, new


def test_incremental_dedup_index_wins_then_batch_dedups(spark, inc_corpus):
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_signatures,
        near_dedup_incremental,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned

    corpus, new = inc_corpus
    idx = minhash_signatures(corpus)
    kept = near_dedup_incremental(new, idx, threshold=0.5)
    ids = sorted(r.doc_id for r in kept.collect())
    release_pinned(kept, blocking=True)
    # 10 dropped against the index; 12 dropped within-batch (11 is the
    # min-id keeper); shingle-less 13 untouched
    assert ids == [11, 13]


def test_incremental_dedup_empty_index_matches_batch_near_dedup(spark, inc_corpus):
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_signatures,
        near_dedup,
        near_dedup_incremental,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned

    _, new = inc_corpus
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    kept = near_dedup_incremental(new, minhash_signatures(empty), threshold=0.5)
    inc_ids = sorted(r.doc_id for r in kept.collect())
    release_pinned(kept, blocking=True)
    batch = near_dedup(new, threshold=0.5)
    batch_ids = sorted(r.doc_id for r in batch.collect())
    release_pinned(batch, blocking=True)
    assert inc_ids == batch_ids


def test_incremental_dedup_empty_batch(spark, inc_corpus):
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_signatures,
        near_dedup_incremental,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned

    corpus, _ = inc_corpus
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    kept = near_dedup_incremental(empty, minhash_signatures(corpus))
    assert kept.count() == 0
    release_pinned(kept, blocking=True)


def test_incremental_dedup_drop_vs_index_shields_batch_partner(spark):
    """A new doc dropped against the index must NOT drag its within-batch
    near-dup into a cluster: the partner survives (precedence rule 2
    before rule 3)."""
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_signatures,
        near_dedup_incremental,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    corpus = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(20, base + " one"), (21, base + " one two")],
        "doc_id bigint, text string",
    )
    kept = near_dedup_incremental(
        new, minhash_signatures(corpus), threshold=0.5
    )
    ids = sorted(r.doc_id for r in kept.collect())
    release_pinned(kept, blocking=True)
    # both 20 and 21 are near-dups of index doc 1 -> both dropped by the
    # cross stage, none survives via within-batch keeper status
    assert ids == []


def test_incremental_dedup_index_is_never_shuffled(spark, inc_corpus):
    """The index's bucket relation must stream through a broadcast
    semi-join against the batch's bucket keys — no hash exchange may sit
    between the index signature scan and that semi-join (the whole point
    of the incremental form: the corpus is scanned narrow, never
    shuffled)."""
    from llm_aided_ocr_spark.operators.dedup import (
        minhash_signatures,
        near_dedup_incremental,
    )
    from llm_aided_ocr_spark.operators.util import release_pinned

    corpus, new = inc_corpus
    kept = near_dedup_incremental(new, minhash_signatures(corpus), threshold=0.5)
    kept.collect()
    # the candidate subtree executes at the operator's eager checkpoint
    # (lineage truncation, guide §3.3), so the semi-join lives in the
    # exposed probe plan, not in the truncated result plan
    probe = kept._ocr_spark_index_probe
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    release_pinned(kept, blocking=True)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # and the result plan itself must be truncated — the giant candidate
    # subtree must NOT be re-analyzed per action over the result
    final_plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in final_plan, final_plan


def test_apply_incremental_dedup_corrupt_index_raises(spark, inc_corpus, tmp_path):
    """A missing index means 'first batch'; a CORRUPT index must raise —
    silently treating it as empty would re-keep every historical
    near-dup."""
    import os

    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from llm_aided_ocr_spark.operators.dedup import apply_incremental_dedup

    _, new = inc_corpus
    bad = tmp_path / "sig_index"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"this is not parquet")
    with _pytest.raises(Exception):
        apply_incremental_dedup(
            new, str(tmp_path / "out"), str(bad), threshold=0.5, id_col="doc_id"
        )
    # and the happy first-batch path still works on a truly absent dir
    n = apply_incremental_dedup(
        new, str(tmp_path / "out2"), str(tmp_path / "fresh_index"),
        threshold=0.5, id_col="doc_id",
    )
    assert n > 0
    assert os.path.exists(str(tmp_path / "fresh_index"))


def test_apply_incremental_dedup_routes_custom_params_to_both_sinks(
    spark, inc_corpus, tmp_path
):
    """seed/bands/rows_per_band/max_bucket_size are now explicit params:
    a custom seed must produce a consistent output+index pair (the old
    **kwargs forward raised TypeError between the two appends), and the
    persisted index must carry the custom-seed signatures (round 2
    against it drops the same docs)."""
    import os

    from llm_aided_ocr_spark.operators.dedup import apply_incremental_dedup

    _, new = inc_corpus
    out, idx = str(tmp_path / "out"), str(tmp_path / "idx")
    n1 = apply_incremental_dedup(
        new, out, idx, threshold=0.5, id_col="doc_id",
        seed=5, bands=8, rows_per_band=8, max_bucket_size=100,
    )
    assert n1 > 0
    assert os.path.exists(idx)
    n_idx = spark.read.parquet(idx).count()
    assert n_idx == n1  # one signature row per surviving doc
    # replaying the SAME batch against the index drops every signed doc;
    # only the shingle-less 'short' doc (no signature by design) survives
    n2 = apply_incremental_dedup(
        new.withColumn("doc_id", F.col("doc_id") + 10_000),
        out, idx, threshold=0.5, id_col="doc_id",
        seed=5, bands=8, rows_per_band=8, max_bucket_size=100,
    )
    assert n2 == 1
    # an actually-unknown key still fails fast, BEFORE any write
    import pytest as _pytest

    with _pytest.raises(TypeError):
        apply_incremental_dedup(
            new, str(tmp_path / "out3"), str(tmp_path / "idx3"),
            id_col="doc_id", not_a_param=1,
        )
    assert not os.path.exists(str(tmp_path / "out3"))


# ---------------------------------------------------------------------------
# canonical_url_keepers — URL-level dedup before content dedup
# ---------------------------------------------------------------------------

def test_canonical_url_keepers_picks_longest_then_smallest_id(spark):
    from llm_aided_ocr_spark.operators.dedup import canonical_url_keepers

    df = spark.createDataFrame(
        [
            # one canonical group, four spellings
            (1, "http://a.example.org/p", "short"),
            (2, "HTTP://A.Example.org:80/p", "the longest fetch wins"),
            (3, "http://a.example.org/p#frag", "middle len"),
            (4, "http://a.example.org/p?", "the longest fetch wins"),  # tie: id 2 < 4
            # a singleton group keeps itself
            (5, "https://b.example.org/x", "z"),
            # non-url strings canonicalize to themselves -> own group
            (6, "not a url", "y"),
        ],
        "doc_id bigint, url string, text string",
    )
    out = canonical_url_keepers(df)
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 6
    assert {i for i, r in rows.items() if r["keep"]} == {2, 5, 6}
    assert len({rows[i]["canon_url"] for i in (1, 2, 3, 4)}) == 1


def test_canonical_url_keepers_deterministic_under_layout(spark):
    from llm_aided_ocr_spark.operators.dedup import canonical_url_keepers

    docs = [
        (i, f"http://s{i % 5}.example.org/p{'#f' if i % 2 else ''}",
         "x" * (i % 7))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, url string, text string")
    a = sorted(map(tuple, canonical_url_keepers(df).collect()))
    b = sorted(map(tuple, canonical_url_keepers(df.repartition(13)).collect()))
    assert a == b
    assert sum(1 for r in a if r[2]) == 5  # fragments strip: one group per host


def test_containment_pairs_asymmetric(spark):
    """A short quote embedded whole inside a long article has
    containment 1.0 while its Jaccard is far below any near-dup bar —
    the case the symmetric operators structurally miss."""
    from llm_aided_ocr_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the central bank raised rates by fifty basis points today"
    filler = " ".join(f"article word{i} sentence{i % 7} body" for i in range(40))
    rows = [
        (0, quote),
        (1, f"{filler} {quote} {filler} closing remarks and outlook"),
        (2, "unrelated page about gardening tips and tomato seedlings"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["id_sub"], r["id_sup"]): r["containment"]
        for r in containment_pairs(df, n=3, threshold=0.9).collect()
    }
    assert got[(0, 1)] == 1.0
    assert not any(2 in p for p in got)
    # and Jaccard indeed cannot see it at any realistic threshold
    j = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert not any({r["id_a"], r["id_b"]} == {0, 1} for r in j)


def test_containment_pairs_orientation_and_threshold(spark):
    from llm_aided_ocr_spark.operators.dedup import containment_pairs

    a = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (10, a),                         # 6 shingles
        (3, f"prefix words here {a} suffix words there"),  # superset
        (4, "alpha beta gamma delta nothing else matches here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r["id_sub"], r["id_sup"]): r["containment"]
        for r in containment_pairs(df, n=3, threshold=0.9).collect()
    }
    # id_sub is the smaller SET even though its id (10) sorts after 3
    assert list(got) == [(10, 3)] and got[(10, 3)] == 1.0
    # partial overlap (2 of 6 shingles) stays excluded at t=0.9 but
    # appears at t=0.3 with the exact ratio
    low = {
        (r["id_sub"], r["id_sup"]): r["containment"]
        for r in containment_pairs(df, n=3, threshold=0.3).collect()
    }
    assert low[(10, 4)] == pytest.approx(2 / 6)


def test_containment_pairs_df_cap(spark):
    """A corpus-wide hot shingle is dropped from the shingle space
    before sizes and intersections, consistently on both sides."""
    from llm_aided_ocr_spark.operators.dedup import containment_pairs

    hot = "click here to subscribe"
    rows = [(i, f"{hot} unique{i} page{i} words{i}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    # with the cap at 3, every shingle containing only hot words (df=6)
    # is dropped; remaining per-doc shingles are unique -> no pairs
    assert (
        containment_pairs(df, n=3, threshold=0.5, max_shingle_df=3).count()
        == 0
    )


def test_cluster_keepers_quality_argmax(spark):
    from llm_aided_ocr_spark.operators.dedup import cluster_keepers

    clusters = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 100), (7, 200), (8, 200)],
        "id bigint, cluster_id bigint",
    )
    quality = spark.createDataFrame(
        # cluster 100: 2 wins on quality; cluster 200: tie -> min id 7
        [(1, 10), (2, 50), (3, 50 - 1), (7, 5), (8, 5)],
        "id bigint, quality bigint",
    )
    got = {r["cluster_id"]: (r["keeper_id"], r["n_members"], r["best_quality"])
           for r in cluster_keepers(clusters, quality).collect()}
    assert got == {100: (2, 3, 50), 200: (7, 2, 5)}


def test_cluster_keepers_string_ids(spark):
    # dedup_clusters supports string/url ids; the keeper pick must not
    # negate the id (NULL keepers in non-ANSI, cast error under ANSI)
    from llm_aided_ocr_spark.operators.dedup import cluster_keepers

    clusters = spark.createDataFrame(
        [("u/a", "c1"), ("u/b", "c1"), ("u/c", "c1"), ("u/x", "c2"),
         ("u/y", "c2")],
        "id string, cluster_id string",
    )
    quality = spark.createDataFrame(
        # c1: u/b wins on quality; c2: tie -> lexicographic min id u/x
        [("u/a", 10), ("u/b", 50), ("u/c", 49), ("u/x", 5), ("u/y", 5)],
        "id string, quality bigint",
    )
    got = {r["cluster_id"]: (r["keeper_id"], r["n_members"],
                             r["best_quality"])
           for r in cluster_keepers(clusters, quality).collect()}
    assert got == {"c1": ("u/b", 3, 50), "c2": ("u/x", 2, 5)}


def test_cluster_keepers_string_ids_all_null_quality(spark):
    # all-NULL quality keeps the min-id member (null-safe equality),
    # matching the numeric path's struct ordering for NULL scores
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.dedup import cluster_keepers

    clusters = spark.createDataFrame(
        [("u/b", "c1"), ("u/a", "c1")], "id string, cluster_id string"
    )
    quality = clusters.select(
        "id", F.lit(None).cast("bigint").alias("quality")
    )
    rows = cluster_keepers(clusters, quality).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["keeper_id"], r["n_members"], r["best_quality"]) == (
        "u/a", 2, None,
    )


def test_cluster_keepers_null_cluster_same_on_both_id_paths(spark):
    # a NULL cluster_id is one group on the numeric (groupBy) path; the
    # string path's join back to the per-cluster stats must keep it too
    from llm_aided_ocr_spark.operators.dedup import cluster_keepers

    members = [(1, 10, 5), (2, 10, 9), (3, None, 7), (4, None, 7), (5, 20, 1)]

    def sid(i):  # order-preserving id mapping, so ties break alike
        return None if i is None else f"u{i:02d}"

    def keepers(rows, id_type):
        return cluster_keepers(
            spark.createDataFrame(
                [(i, c) for i, c, _ in rows], f"id {id_type}, cluster_id {id_type}"
            ),
            spark.createDataFrame(
                [(i, q) for i, _, q in rows], f"id {id_type}, quality bigint"
            ),
        )

    num = keepers(members, "bigint")
    txt = keepers([(sid(i), sid(c), q) for i, c, q in members], "string")
    want = {(10, 2, 2, 9), (None, 3, 2, 7), (20, 5, 1, 1)}
    assert {tuple(r) for r in num.collect()} == want
    assert {tuple(r) for r in txt.collect()} == {
        (sid(c), sid(k), n, q) for c, k, n, q in want
    }
