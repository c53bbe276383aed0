#!/usr/bin/env python
"""Regenerate PLANS.md — physical-plan evidence for key operators.

Run from the repo root: ``python tools/gen_plans.py``. Plans are captured
at sf0.001 (plan shapes are scale-invariant); the properties highlighted
in each caption are asserted in tests/test_providers_plans.py so they
cannot silently regress.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    out = buf.getvalue()
    return out.replace("== Physical Plan ==", "").strip()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline
    from llm_aided_ocr_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    q = entry.queries()

    sections = []

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    gate = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    sections.append((
        "F2 language gate — predicate pushdown & column pruning",
        "the lang predicate reaches the parquet scan (PushedFilters: "
        "IsNotNull(lang), EqualTo(lang,en)); ReadSchema reads 3 of 5 "
        "columns. At 100 TB this is the difference between scanning a "
        "column chunk and skipping it.",
        plan_of(gate),
    ))

    sections.append((
        "F1 page filter — native expression filter, pruned scan",
        "length/word-count predicates are expression DataFilters (not "
        "parquet-pushable by nature) evaluated inside whole-stage codegen "
        "directly over the pruned scan; no Python stage.",
        plan_of(q["page_filter"](spark, SF)),
    ))

    sections.append((
        "T3 token approximation — fully native, whole-stage codegen",
        "regexp_extract_all + aggregate lambda evaluated JVM-side; no "
        "ArrowEvalPython/BatchEvalPython operator appears anywhere in the "
        "plan.",
        plan_of(q["token_estimates"](spark, SF)),
    ))

    sections.append((
        "A1 ordered reassembly — one shuffle, order-stable aggregation",
        "collect_list(struct(ix,payload)) then array_sort then array_join; "
        "exactly one Exchange hashpartitioning(url) with partial "
        "aggregation (map-side combine) before it.",
        plan_of(q["reassembly_roundtrip"](spark, SF)),
    ))

    sections.append((
        "ANN brute-force top-k — broadcast query side",
        "the tiny query set is broadcast (BroadcastExchange / "
        "BroadcastNestedLoopJoin); the corpus side never shuffles for "
        "scoring; cosine is a native zip_with/aggregate expression.",
        plan_of(q["ann_topk"](spark, SF)),
    ))

    pages = entry._docs_as_pages(spark, SF)
    cfg = PipelineConfig(provider="identity", apply_hallucination_filter=False)
    auto = run_pipeline(pages, cfg, strategy="auto")
    sections.append((
        "Full pipeline (auto) — ONE source scan; the staged skew branch "
        "only when there is a mega document",
        "the routed relation is pruned to consumed columns and persisted; "
        "run_pipeline builds that cache with ONE global aggregate at call "
        "time, which also counts the documents above mega_doc_chars. This "
        "corpus has none, so the plan is the fused branch alone: an "
        "InMemoryTableScan over the InMemoryRelation whose lineage holds "
        "the only FileScan -> salted Exchange -> ONE MapInArrow doing "
        "chunk+correct+reassemble (zero further shuffles). With a mega "
        "document the staged branch is unioned in: its extracted input is "
        "cached once for its two readers, then MapInArrow chunk table -> "
        "chunk-salted Exchange -> MapInArrow correction -> "
        "ObjectHashAggregate reassembly, joined to the raw text "
        "(tests/test_providers_plans.py checks both outcomes).",
        plan_of(auto),
    ))
    spark.catalog.clearCache()

    from llm_aided_ocr_spark.operators.dedup import minhash_signatures

    sections.append((
        "MinHash signatures — ZERO shuffles (round 3)",
        "the shingle set is document-local: built as a native array "
        "(word-hash transform + rotation-XOR grams + array_distinct) and "
        "fed straight into MapInPandas. No key-partitioned Exchange — the "
        "round-2 form paid explode→distinct→collect_list (two full "
        "hashpartitioning exchanges of every shingle hash). The only "
        "Exchange below is the toy-input RoundRobin spread "
        "(ensure_min_parallelism — gated OFF for any input with enough "
        "splits, i.e. always at corpus scale); at 10^12 docs this plan "
        "moves nothing between executors.",
        plan_of(minhash_signatures(docs.repartition(8).select("doc_id", "text"))),
    ))

    sections.append((
        "Winnowing fingerprints — native portable hashing + one Arrow pass",
        "word hashes (md5-52, portable) and the content hash are computed "
        "in the JVM projection; the rolling rotation-XOR grams and "
        "sliding-window minima run in ONE MapInPandas (numpy int64). No "
        "shuffle; the small-input repartition appears only when the source "
        "has fewer splits than cores (a no-op at corpus scale).",
        plan_of(q["fingerprints"](spark, SF)),
    ))

    sections.append((
        "Quantized-Rademacher LSH near-dup — bucket-first, capped, Arrow verify",
        "exact-integer sketch (one MapInPandas), bucket-size cap via "
        "left-semi join on the aggregated bucket counts, same-bucket-only "
        "pair join (never all-pairs), Arrow-vectorized cosine verify. The "
        "bucketed relation is cached so the cap aggregation and both join "
        "sides share one materialization.",
        plan_of(q["ann_near_dup"](spark, SF)),
    ))
    spark.catalog.clearCache()

    from llm_aided_ocr_spark.operators.dedup import ngram_jaccard_pairs
    from llm_aided_ocr_spark.operators.util import release_pinned

    nj = ngram_jaccard_pairs(docs.select("doc_id", "text"))
    sections.append((
        "n-gram Jaccard — prefix-filtered candidates, count filter BEFORE arrays",
        "candidate pairs come from joining only each doc's c-extended "
        "df-ascending PREFIX shingles; the pair HashAggregate (count of "
        "common prefix shingles) plus the count/size filter run on "
        "fixed-width (id_a, id_b) rows, and the full shingle arrays join "
        "in AFTER that filter — the arrays cross an Exchange once per "
        "SURVIVING pair, never per candidate (the round-4 stress tier "
        "caught the per-candidate form spilling the disk at 20k docs).",
        plan_of(nj),
    ))
    release_pinned(nj)

    sections.append((
        "As-of join — union + window, one shuffle, no Python",
        "both sides tagged and unioned, one Exchange on the key, a single "
        "Window carrying the last non-null right payload forward; right "
        "rows order before left rows at equal timestamps (inclusive "
        "semantics). No MapInPandas/EvalPython node.",
        plan_of(q["events_asof_clicks"](spark, SF)),
    ))

    sections.append((
        "TPC-H Q3-style join — broadcast dimension, shuffle fact join",
        "the filtered customer dimension broadcasts (BroadcastHashJoin); "
        "orders-lineitem stays a shuffle equi-join under AQE; top-10 via "
        "TakeOrderedAndProject on the rounded revenue with a "
        "deterministic tie-break.",
        plan_of(q["tpch_q3"](spark, SF)),
    ))

    sections.append((
        "line-level boilerplate dedup — hash-table anti-join, hinted rebuild",
        "per-doc-distinct line hashes explode as 8-byte longs into ONE "
        "map-side-combined count exchange; line positions anti-join the "
        "frequent set through a REAL hash table (AQE broadcasts it when "
        "small — O(1) codegen probes, vs the linear interpreted "
        "array_contains scan of the old broadcast-array form, which was "
        "O(lines x set) and stalled a 28M-line corpus), kept positions "
        "regroup per doc, and the rebuild joins back via shuffle-hash "
        "(corpus_scaled — an O(corpus) relation must never be a "
        "broadcast build side). The line array is let-bound so the "
        "rebuild splits each document once, not once per kept line.",
        plan_of(q["line_dedup"](spark, SF)),
    ))

    sections.append((
        "benchmark decontamination — train side never shuffles before the join",
        "train shingle sets are document-local arrays streamed against "
        "the BroadcastExchange of the eval n-gram set (benchmarks are "
        "tiny vs a 100 TB corpus); the eval-side distinct runs inside "
        "the broadcast subtree. The only corpus-keyed exchange is the "
        "final groupBy(id) partial-count combine.",
        plan_of(q["decontaminate"](spark, SF)),
    ))

    sections.append((
        "DSIR importance weights — corpus shuffles only on (id,f) and id",
        "per-doc feature counts reach their groupBy with map-side "
        "combine (one doc's rows explode inside one partition, so the "
        "exchange carries per-doc-DISTINCT features); the log-ratio "
        "table is vocabulary-sized and BROADCAST into the scoring join; "
        "totals ride a broadcast 1-row cross join. All remaining "
        "exchanges key vocabulary-sized relations, not the corpus. The "
        "Gumbel-top-k selection flag is a TakeOrderedAndProject (50 "
        "rows) broadcast back as membership — no unpartitioned window "
        "anywhere.",
        plan_of(q["dsir_weights"](spark, SF)),
    ))

    sections.append((
        "duplicate-span profile — one corpus exchange, text never moves",
        "gram hashes come from one Arrow/numpy pass over natively-hashed "
        "words (the n=50 rotate-XOR combine is interpreted-HOF-hostile); "
        "the frequency pass shuffles 8-byte hashes with map-side "
        "combine; occurrences stream through a SHUFFLE-HASH semi-join "
        "(hinted: kills the sort-merge sorts AND forbids broadcasting "
        "the unbounded dup set; no per-gram occurrence array can "
        "OOM a degenerate key) and per-doc position arrays join back "
        "via shuffle-hash (corpus_scaled). The stripped stream probes "
        "MERGED coverage intervals (a handful of runs on real "
        "duplication, vs the quadratic per-token exists over raw "
        "positions) and clean documents bypass the probe entirely.",
        plan_of(q["dup_spans"](spark, SF)),
    ))

    from llm_aided_ocr_spark.operators.dedup import paragraph_dedup_stats

    sections.append((
        "paragraph dedup (keep-first) — min-struct aggregation, no window",
        "first-occurrence-wins is a map-side-combinable min(struct(id, "
        "pos)) over 24-byte (hash,id,pos) rows — NOT a row_number window "
        "(which would sort every partition). Winners regroup to one "
        "array<int> per doc and join back by id; document text never "
        "enters an exchange.",
        plan_of(paragraph_dedup_stats(docs.select("doc_id", "text"))),
    ))

    sections.append((
        "reference-bigram LM scoring — integer sums, 8-byte gram joins",
        "the document side is ONE pre-aggregated per-doc bigram relation "
        "(cached: three model joins consume it); model counts join on "
        "8-byte hashed grams (the reference model is sample-sized — AQE "
        "broadcasts it when small); per-doc sums are map-side-combinable "
        "INTEGERS (no float-summation order, so the DuckDB oracle "
        "reproduces scores exactly); the 1-row T/V stats relation rides "
        "a broadcast cross join; the all-ids rejoin is shuffle-hash "
        "pinned (corpus_scaled).",
        plan_of(q["lm_score"](spark, SF)),
    ))

    sections.append((
        "incremental near-dedup — the index contributes keys, never text",
        "a new batch dedups against an existing corpus via its persisted "
        "signature table: index rows enter the plan only as (id, band, "
        "bucket) keys and signature arrays for the agreement check; "
        "candidates are bucket-first over index ∪ new with one combined "
        "cap; drop-vs-index precedes within-batch components. Per batch "
        "this moves O(batch + matched buckets), not O(corpus) — the "
        "alternative (re-running batch near_dedup over corpus + batch) "
        "re-shuffles every signature every increment.",
        plan_of(q["incremental_dedup"](spark, SF)),
    ))

    sections.append((
        "per-domain cap — the rank window touches only the skewed tail",
        "a map-side-combined domain count finds OVER-cap domains; "
        "under-cap documents (the overwhelming majority) anti-join that "
        "relation and bypass ranking entirely; only over-cap documents "
        "flow into the row_number window, whose partitionBy(domain) "
        "reuses the semi-join's hash partitioning. A naive corpus-wide "
        "window would shuffle-and-sort EVERY document by domain.",
        plan_of(q["domain_cap"](spark, SF)),
    ))

    from llm_aided_ocr_spark.operators.boilerplate import c4_clean_stats
    from llm_aided_ocr_spark.operators.pii import pii_stats

    sections.append((
        "C4 cleaning + PII redaction — zero-shuffle narrow expressions",
        "both are single Project nodes over the scan: the C4 line rules "
        "are a native filter/transform/array_join with regexp_count for "
        "the sentence gate; PII is a regexp_replace/regexp_count chain. "
        "No Exchange, no Python — these survive any scale the scan does.",
        plan_of(c4_clean_stats(docs.select("doc_id", "text")))
        + "\n\n--- pii_stats ---\n"
        + plan_of(pii_stats(docs.select("doc_id", "text"))),
    ))

    from llm_aided_ocr_spark.operators.textstats import quality_classifier_score

    sections.append((
        "hashed linear quality classifier — per-row scoring, no exchange",
        "the hash-weight path is one codegen projection (tokenize -> "
        "bucket -> weight -> mean -> sigmoid); with trained weights the "
        "dim-row model BROADCASTS and only the per-doc bucket counts "
        "reduce. Shown: the hash-weight (driver-oracled) shape.",
        plan_of(quality_classifier_score(docs.select("doc_id", "text"))),
    ))

    sections.append((
        "BM25 — corpus stats as ONE broadcast row, scoring never shuffles",
        "per-term tf columns are document-local native filters; N/avgdl/"
        "df reduce to a single row (the only corpus-wide exchange) and "
        "ride a BroadcastNestedLoopJoin back over the cached per-doc "
        "relation; scoring is a pure projection.",
        plan_of(q["bm25_scores"](spark, SF)),
    ))
    sections.append((
        "ccnet_buckets — the cut runs on the aggregated (lang, score) relation",
        "one corpus id-join (both sides SortMergeJoin/shuffle-hash on "
        "the id, never a corpus broadcast), then Window(partitionBy "
        "lang, orderBy score) consumes the OUTPUT of a HashAggregate — "
        "distinct scores per language, not documents; the bucket "
        "assignment joins back on (lang, score) with the corpus side "
        "streaming.",
        plan_of(q["ccnet_buckets"](spark, SF)),
    ))
    spark.catalog.clearCache()

    sections.append((
        "canonical_url_dedup — one narrow exchange, struct-min keeper (no window)",
        "the keeper per canonical url is a plain map-side-combinable "
        "min over struct(-sz, id) — HashAggregate partial/final, NO "
        "per-group sort buffer; the exchange and the keeper join key on "
        "the same canon_url, and the keeper relation is pinned to the "
        "shuffle-hash build side (corpus_scaled: near-unique urls make "
        "it O(corpus), never a broadcast).",
        plan_of(q["canonical_url_dedup"](spark, SF)),
    ))

    sections.append((
        "temperature_rates — two tiny aggregations, totals by broadcast",
        "domain counts reduce map-side; the 1-row totals relation rides "
        "a BroadcastNestedLoopJoin; output is domain-cardinality-sized. "
        "Integer-exact (floor(sqrt)+bigint sums) so the oracle "
        "reproduces every bit.",
        plan_of(q["temperature_rates"](spark, SF)),
    ))

    sections.append((
        "snapshot_diff — the full-outer join moves 16-byte rows, never text",
        "both snapshots project to (id, xxhash64(text)) BEFORE the "
        "join; the text column appears only inside the scans. Statuses "
        "are a native CASE over the fingerprint pair.",
        plan_of(q["snapshot_diff"](spark, SF)),
    ))

    sections.append((
        "pooled_embeddings — integer mean-pool, map-side combinable",
        "posexplode → (group, pos)-keyed sum of quantized int64 values "
        "(partial_sum runs where the vectors live), one exact-integer "
        "IEEE division, dim-sized reassembly. No float summation order "
        "anywhere — the oracle matches bit-exactly.",
        plan_of(q["pooled_embeddings"](spark, SF)),
    ))

    sections.append((
        "annotate() — the whole attribute table is one codegen projection",
        "domain, PSL registered_domain, lang id, bytes, token estimate, "
        "quality score, Gopher pass, URL gate, Flesch x1e4, mojibake "
        "rate: zero Exchange, zero Python — tagging costs exactly one "
        "corpus read.",
        plan_of(__import__("llm_aided_ocr_spark.plans.curate", fromlist=["x"]).annotate(
            docs.selectExpr("cast(doc_id as string) as url", "text")
        )),
    ))

    # the date-ladder expressions are huge in string form (the meta-key
    # priority chain repeats per output column — runtime codegen CSE
    # dedups them, the printed plan does not), so this section shows the
    # TREE with per-line truncation: the structural claim (one Project
    # over the scan, no Exchange/Python) is what matters.
    def _tree(plan: str, width: int = 140) -> str:
        return "\n".join(
            (ln[:width] + " …") if len(ln) > width else ln
            for ln in plan.splitlines()
        )

    sections.append((
        "round-5 crawl signals — PSL eTLD+1 + date ladder, one scan",
        "registered_domains' longest-match rule ladder compiles to "
        "literal isin chains and publication_dates' three-channel "
        "precedence to native regexp/try_to_date projections: composed "
        "TOGETHER over one pages scan they stay a single codegen "
        "projection — zero Exchange, zero Python, rule/key sets live in "
        "the plan, not in a join relation (expressions truncated; "
        "tests/test_curate_signals_r5.py asserts the no-Exchange/"
        "no-Python property).",
        _tree(plan_of((lambda m_dom, m_dat: m_dat.publication_dates(
            m_dom.registered_domains(
                docs.selectExpr(
                    "cast(doc_id as string) as url",
                    "concat('h', cast(doc_id % 7 as string), "
                    "'.example.co.uk') as host",
                ),
                id_col="url",
            ).selectExpr(
                "concat('https://', host, '/2021/3/4/p?', id) as url",
                "encode(concat('<meta name=\"date\" content=\"2020-0', "
                "'1-02\">'), 'UTF-8') as html",
                "public_suffix", "registered_domain",
            )
        ))(
            __import__("llm_aided_ocr_spark.operators.domains", fromlist=["x"]),
            __import__("llm_aided_ocr_spark.operators.dates", fromlist=["x"]),
        ))),
    ))

    sections.append((
        "gopher_repetition_gate — fused: one Arrow pass, no joins",
        "all 13 repetition fractions come out of a single MapInPandas "
        "over the corpus (composed impl pays three passes + two joins; "
        "parity-tested equal). The threshold chain is a native "
        "comparison conjunction above it.",
        plan_of(q["gopher_repetition_gate"](spark, SF)),
    ))

    sections.append((
        "url_filter — the whole gate fuses into the scan's codegen stage",
        "domain blocklist (dot-boundary suffix match) + keyword scoring "
        "are literal-array exists/filter expressions over the native "
        "host extraction: no exchange, no Python, one WholeStageCodegen "
        "span above the FileScan.",
        plan_of(q["url_filter"](spark, SF)),
    ))

    sections.append((
        "gopher_repetition_gate — three Arrow passes, native threshold chain",
        "line/paragraph Counter passes and the n-gram Counter/bitmap "
        "pass join on the id; the 13-threshold pass column is a plain "
        "comparison conjunction (codegen), so filtering on "
        "repetition_pass costs no Python.",
        plan_of(q["gopher_repetition_gate"](spark, SF)),
    ))

    sections.append((
        "warc_roundtrip — segment→pages is one MapInPandas flatMap",
        "WARC record iteration (Content-Length framing, gzip members, "
        "envelope strip) runs document-local per segment blob; the only "
        "exchange in this plan belongs to the ADAPTER's segment "
        "assembly (grouping synthetic records into blobs) — a real "
        "crawl read starts from segment files and has none.",
        plan_of(q["warc_roundtrip"](spark, SF)),
    ))

    sections.append((
        "bpe_token_counts — vocab-sized Arrow pass + distinct-word count join",
        "the merge walk (MapInPandas) runs over DISTINCT words, not the "
        "corpus; per-document counts come from the pre-aggregated "
        "(id, w, n) relation joined to (w, n_syms) and summed — the "
        "word_commonness linearity trick, so the join never carries "
        "per-occurrence rows; the all-ids rejoin is pinned shuffle-hash.",
        plan_of(__import__("llm_aided_ocr_spark.operators.bpe", fromlist=["x"]).bpe_token_counts(
            docs, [(0, "e", "r", 1), (1, "i", "n", 1)]
        )),
    ))
    sections.append((
        "epoch_order — two-phase rank, no SinglePartition exchange",
        "round-5 fix for the last single-reducer stage in the suite: the "
        "global permutation rank is a RANGE repartition + per-partition "
        "sort + monotonic-id row index + broadcast per-partition offsets "
        "— identical output to a global row_number window (pinned by "
        "test), but every exchange below is parallel; 'SinglePartition' "
        "appears nowhere (asserted in tests/test_packing.py).",
        plan_of(q["epoch_order"](spark, SF)),
    ))

    sections.append((
        "html_page_signals — pre-extraction gates fuse into the scan",
        "lang attr, title, noindex, rel=canonical, link density: one "
        "native projection over the decoded html — no exchange, no "
        "Python operator; at a 100 TB crawl these gates shed pages at "
        "scan cost before the (Arrow) DOM strip ever runs.",
        plan_of(__import__(
            "llm_aided_ocr_spark.operators.extract", fromlist=["x"]
        ).html_page_signals(
            docs.select(
                "doc_id", F.col("text").cast("binary").alias("html")
            ),
            id_col="doc_id",
        )),
    ))

    sections.append((
        "normalized dedup — scan-fused normalize chain, 8-byte-key exchange",
        "the whole CCNet normalization (control strip, punct translate, "
        "case/accent fold, digit zeroing, ws collapse) is one codegen "
        "projection fused with the scan; under key='xxhash64' the min "
        "aggregation exchanges 8-byte hashes and the keeper join reuses "
        "the SAME key — document text never enters an exchange.",
        plan_of(__import__(
            "llm_aided_ocr_spark.operators.normalize", fromlist=["x"]
        ).normalized_keepers(docs, key="xxhash64")),
    ))
    spark.catalog.clearCache()

    out = [
        "# PLANS — physical-plan evidence for key operators",
        "",
        "Generated by `python tools/gen_plans.py` at sf0.001 (plan shapes",
        "are scale-invariant). The properties shown here are asserted in",
        "tests/test_providers_plans.py so they cannot silently regress.",
        "",
    ]
    for title, caption, plan in sections:
        out += [f"## {title}", "", caption, "", "```", plan, "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(sections)} sections")


if __name__ == "__main__":
    main()
