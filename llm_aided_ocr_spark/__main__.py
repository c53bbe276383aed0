"""CLI — ``python -m llm_aided_ocr_spark``.

The reference's intended CLI surface (/root/reference/llm-aided-ocr-cli.py:6-16
— which is broken in the reference: it passes parameters main() doesn't
accept) re-expressed over a corpus: read a parquet/Iceberg ``pages`` table,
run the pipeline, write ``corrected_docs`` (+ optional quality scores).

    python -m llm_aided_ocr_spark --input pages.parquet --output out_dir \
        [--provider heuristic] [--no-markdown] [--keep-headers] \
        [--check-english] [--filter-hallucinations] [--threshold 0.4] \
        [--resume --warehouse DIR] [--assess-quality] [--master local[*]]
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="llm_aided_ocr_spark")
    p.add_argument("--input", required=True, help="pages table (parquet path)")
    p.add_argument("--output", required=True, help="output directory (parquet)")
    p.add_argument("--provider", default="heuristic",
                   help="correction provider (heuristic | identity | registered name)")
    p.add_argument("--no-markdown", action="store_true",
                   help="disable markdown reformatting")
    p.add_argument("--keep-headers", action="store_true",
                   help="keep headers/footers/page numbers (as blockquotes)")
    p.add_argument("--check-english", action="store_true",
                   help="process only lang='en' rows (F2)")
    p.add_argument("--filter-hallucinations", action="store_true",
                   help="apply the difflib similarity filter (F3)")
    p.add_argument("--threshold", type=float, default=0.40,
                   help="starting hallucination-similarity threshold")
    p.add_argument("--adaptive-threshold", action="store_true",
                   help="v1 adaptive threshold search per document")
    p.add_argument("--page-filter", action="store_true",
                   help="drop near-empty documents (F1)")
    p.add_argument("--assess-quality", action="store_true",
                   help="also write per-document quality scores")
    p.add_argument("--no-raw", action="store_true",
                   help="skip the raw_pages table (reference writes both "
                        "raw and corrected outputs; default mirrors that)")
    p.add_argument("--from-warc", action="store_true",
                   help="treat --input as a directory of WARC segment "
                        "files (read via binaryFile, parsed by "
                        "sources.warc) instead of a pages parquet table; "
                        "implies --from-html")
    p.add_argument("--from-wet", action="store_true",
                   help="treat --input as a directory of WET "
                        "(extracted-text conversion) segment files; "
                        "pages arrive with text already populated, so "
                        "the DOM strip is skipped")
    p.add_argument("--from-html", action="store_true",
                   help="extract text from the html column (DOM strip)")
    p.add_argument("--density-extract", action="store_true",
                   help="with --from-html/--from-warc: use block-level "
                        "link-density content selection (JusText-style) "
                        "instead of the default DOM strip")
    p.add_argument("--sniff-charset", action="store_true",
                   help="with --from-html/--from-warc: decode each page "
                        "via the WHATWG charset sniff (BOM -> declared "
                        "-> utf-8) before the DOM strip, instead of "
                        "assuming utf-8")
    p.add_argument("--resume", action="store_true",
                   help="skip documents already in the warehouse checkpoint")
    p.add_argument("--warehouse", default="/tmp/ocr_spark_warehouse")
    p.add_argument("--run-id", default="cli")
    p.add_argument("--strategy", default="auto",
                   choices=["auto", "fused", "staged"])
    p.add_argument("--master", default=None)
    # --- one-call curation mode ---
    p.add_argument("--curate", action="store_true",
                   help="run the full curation composition instead of the "
                        "plain pipeline: correct -> quality gate -> exact "
                        "dedup -> transitive near-dedup -> train/val/test "
                        "split; writes curated_docs (+ per-split report)")
    p.add_argument("--min-quality", type=int, default=0,
                   help="curate: drop docs scoring below this (0 = off)")
    p.add_argument("--no-near-dedup", action="store_true",
                   help="curate: skip minhash near-dedup (exact only)")
    p.add_argument("--split-seed", type=int, default=1)
    p.add_argument("--drop-noindex", action="store_true",
                   help="drop pages whose html declares meta-robots "
                        "noindex (pure codegen gate, runs before "
                        "correction)")
    p.add_argument("--canonical-dedup", action="store_true",
                   help="curate: collapse same-page URL refetches before "
                        "correction (longest fetch kept)")
    p.add_argument("--normalized-dedup", action="store_true",
                   help="curate: also dedup on the CCNet-normalized text "
                        "key (case/accent/digit/punct/whitespace variants "
                        "collapse; smallest url survives)")
    p.add_argument("--host-quality-gate", action="store_true",
                   help="curate: drop every doc of hosts whose mean "
                        "quality score or Gopher pass-rate falls below "
                        "the host bars (domain-level filtering)")
    p.add_argument("--repetition-gate", action="store_true",
                   help="curate: apply the 13-threshold Gopher repetition "
                        "gate to the corrected text")
    p.add_argument("--url-block-domain", action="append", default=[],
                   metavar="DOMAIN",
                   help="curate: drop pages on DOMAIN (and subdomains) "
                        "before correction; repeatable")
    p.add_argument("--max-per-domain", type=int, default=None,
                   help="cap documents per domain before dedup")
    p.add_argument("--mojibake-gate", action="store_true",
                   help="drop pages whose encoding-damage rate exceeds "
                        "--mojibake-max (per 1000 chars)")
    p.add_argument("--mojibake-max", type=float, default=2.0)
    p.add_argument("--min-flesch", type=int, default=None,
                   help="drop pages below this Flesch reading-ease floor")
    p.add_argument("--domain-cap-registered", action="store_true",
                   help="apply --max-per-domain on the PSL eTLD+1 "
                        "instead of the raw host")
    p.add_argument("--url-trap-gate", action="store_true",
                   help="shed crawler-trap urls (calendar loops, "
                        "session-id paths, facet param explosions) "
                        "before correction")
    p.add_argument("--robots", default=None,
                   help="parquet table (host, robots_txt); pages whose "
                        "url fails the longest-match robots evaluation "
                        "for the * agent are dropped before correction")
    p.add_argument("--url-block-keyword", action="append", default=[],
                   metavar="WORD",
                   help="curate: drop pages whose url contains >= 2 "
                        "blocked keywords; repeatable")
    p.add_argument(
        "--dedup-incremental", metavar="INDEX_DIR", default=None,
        help="near-dedup the input batch against the minhash signature "
             "index at INDEX_DIR (created on first use): survivors append "
             "to OUTPUT/kept_docs, their signatures append to the index. "
             "Run per arriving batch; the corpus itself is never re-read.",
    )
    p.add_argument("--near-dup-threshold", type=float, default=0.8)
    # --- training-shard sink (composes with --curate) ---
    p.add_argument(
        "--write-shards", action="store_true",
        help="after --curate: pack the curated corpus into fixed-token "
             "sequences and write OUTPUT/shards/split=*/shard=*/ plus a "
             "manifest (plans.shards.write_training_shards)",
    )
    p.add_argument("--shard-budget", type=int, default=2048,
                   help="tokens per packed training sequence")
    p.add_argument("--num-shards", type=int, default=64)
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)

    from llm_aided_ocr_spark.config import PipelineConfig
    from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline
    from llm_aided_ocr_spark.session import get_spark

    if args.write_shards and not args.curate:
        print("warning: --write-shards only applies with --curate; ignored",
              file=sys.stderr)

    cfg = PipelineConfig(
        reformat_as_markdown=not args.no_markdown,
        suppress_headers_and_page_numbers=not args.keep_headers,
        check_if_valid_english=args.check_english,
        hallucination_similarity_threshold=args.threshold,
        adaptive_hallucination_threshold=args.adaptive_threshold,
        apply_hallucination_filter=args.filter_hallucinations,
        provider=args.provider,
        apply_page_filter=args.page_filter,
        warehouse_dir=args.warehouse,
        checkpointing=args.resume,
    )
    spark = get_spark(
        app_name="llm_aided_ocr_spark_cli",
        master=args.master,
    )
    store = CheckpointStore(args.warehouse, run_id=args.run_id) if args.resume else None

    if args.from_wet:
        from pyspark.sql import functions as F

        from llm_aided_ocr_spark.sources.warc import parse_wet, with_warc_ts

        segments = spark.read.format("binaryFile").load(args.input).select(
            F.col("path").alias("segment_path"), "content"
        )
        parsed = with_warc_ts(
            parse_wet(segments, segment_col="segment_path")
        )
        pages = parsed.select(
            "url", "warc_ts",
            F.lit(None).cast("binary").alias("html"),
            "text",
            F.lit(None).cast("string").alias("lang"),
        )
    elif args.from_warc:
        from pyspark.sql import functions as F

        from llm_aided_ocr_spark.sources.warc import parse_warc, with_warc_ts

        segments = spark.read.format("binaryFile").load(args.input).select(
            F.col("path").alias("segment_path"), "content"
        )
        parsed = with_warc_ts(
            parse_warc(segments, segment_col="segment_path")
        )
        pages = parsed.select(
            "url", "warc_ts", "html",
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
        args.from_html = True
    else:
        pages = spark.read.parquet(args.input)

    if args.dedup_incremental:
        from llm_aided_ocr_spark.operators.dedup import apply_incremental_dedup

        if args.from_html:
            # WARC/html inputs carry NULL text — signatures over the raw
            # text column would hash every page to the same empty
            # shingle set; extract first (same fix class as curate's
            # use_html)
            from llm_aided_ocr_spark.operators.extract import extract_text

            pages = extract_text(pages, use_html=True).withColumnRenamed(
                "extracted_text", "text"
            )
        n_in = pages.count()
        n_kept = apply_incremental_dedup(
            pages,
            args.output + "/kept_docs",
            args.dedup_incremental,
            threshold=args.near_dup_threshold,
            text_col="text",
            id_col="url",
        )
        print(
            f"incremental dedup: {n_in} in, {n_kept} kept "
            f"({n_in - n_kept} near-dups of the index or of this batch); "
            f"survivors appended to {args.output}/kept_docs, signatures "
            f"to {args.dedup_incremental}"
        )
        spark.stop()
        return 0

    if args.curate:
        from llm_aided_ocr_spark.operators.util import release_pinned
        from llm_aided_ocr_spark.plans.curate import (
            CurationConfig,
            curate,
            curation_report,
        )

        robots_rules = None
        if args.robots:
            from llm_aided_ocr_spark.operators.robots import parse_robots

            robots_rules = parse_robots(spark.read.parquet(args.robots))

        curated = curate(
            pages,
            CurationConfig(
                pipeline=cfg,
                use_html=args.from_html,
                min_quality_score=args.min_quality,
                near_dedup=not args.no_near_dedup,
                split_seed=args.split_seed,
                canonical_url_dedup=args.canonical_dedup,
                normalized_dedup=args.normalized_dedup,
                drop_noindex=args.drop_noindex,
                repetition_gate=args.repetition_gate,
                host_quality_gate=args.host_quality_gate,
                url_blocked_domains=tuple(args.url_block_domain),
                url_blocked_keywords=tuple(args.url_block_keyword),
                url_trap_gate=args.url_trap_gate,
                robots_rules=robots_rules,
                max_per_domain=args.max_per_domain,
                domain_cap_registered=args.domain_cap_registered,
                mojibake_gate=args.mojibake_gate,
                mojibake_max_per_kchar=args.mojibake_max,
                min_flesch=args.min_flesch,
            ),
            store=store,
        )
        curated.write.mode("overwrite").parquet(args.output + "/curated_docs")
        release_pinned(curated)
        back = spark.read.parquet(args.output + "/curated_docs")
        for r in curation_report(back).orderBy("split").collect():
            print(
                f"split={r['split']} n={r['n_docs']} "
                f"chars={r['total_chars']} avg_quality={r['avg_quality']}"
            )
        print(f"wrote {back.count()} curated documents to "
              f"{args.output}/curated_docs")
        if args.write_shards:
            from llm_aided_ocr_spark.plans.shards import write_training_shards

            manifest = write_training_shards(
                back, args.output + "/shards",
                budget=args.shard_budget, num_shards=args.num_shards,
            )
            for r in manifest.orderBy("split", "shard").collect():
                print(
                    f"shard split={r['split']} shard={r['shard']} "
                    f"docs={r['n_docs']} seqs={r['n_seqs']} "
                    f"tokens={r['total_tokens']}"
                )
            print(f"wrote training shards to {args.output}/shards")
        spark.stop()
        return 0

    extract_fn = None
    if args.density_extract or args.sniff_charset:
        flag = "--density-extract" if args.density_extract else "--sniff-charset"
        if not args.from_html:
            print(f"{flag} requires --from-html or --from-warc",
                  file=sys.stderr)
            spark.stop()
            return 2
    if args.density_extract:
        from llm_aided_ocr_spark.operators.extract import density_extract_stage

        extract_fn = density_extract_stage()
    elif args.sniff_charset:
        from llm_aided_ocr_spark.operators.extract import extract_text

        extract_fn = lambda d: extract_text(  # noqa: E731
            d, use_html=True, sniff_charset=True
        )

    result = run_pipeline(
        pages,
        cfg,
        store=store,
        use_html=args.from_html,
        strategy=args.strategy,
        validate_unique_urls=True,
        extract_fn=extract_fn,
    )

    result.write.mode("overwrite").parquet(args.output + "/corrected_docs")

    # the terminal action is done — release the staged branch's input cache
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache

    release_pipeline_cache(result)

    if not args.no_raw:
        # two-sink contract: the reference always writes the raw OCR text
        # file alongside the corrected one (llm_aided_ocr.py:656,665-667)
        from llm_aided_ocr_spark.sources.io import write_raw_pages

        write_raw_pages(
            spark.read.parquet(args.output + "/corrected_docs"),
            args.output + "/raw_pages",
        )

    if args.assess_quality:
        from llm_aided_ocr_spark.operators.quality import assess_quality, quality_rollup

        docs = spark.read.parquet(args.output + "/corrected_docs")
        scores = assess_quality(docs)
        scores.write.mode("overwrite").parquet(args.output + "/quality_scores")
        roll = quality_rollup(scores).first()
        if roll["n_docs"] and roll["avg_score"] is not None:
            print(
                f"quality: n={roll['n_docs']} avg={roll['avg_score']:.1f} "
                f"min={roll['min_score']} max={roll['max_score']}"
            )
        else:
            print("quality: no documents to assess")

    n = spark.read.parquet(args.output + "/corrected_docs").count()
    print(f"wrote {n} corrected documents to {args.output}/corrected_docs")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
