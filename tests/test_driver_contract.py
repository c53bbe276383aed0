"""Pre-validate the driver contract: run every ``queries()`` entry at
sf0.001 and compare against its ``oracle_sql()`` via DuckDB, mimicking the
driver's row-count + order-insensitive value comparison."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def entry_mod():
    import __spark_entry__ as mod

    return mod


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # sort key stringifies so NULLs (None) compare against values of any
    # type; the tuples themselves keep the real values for equality
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(
            (v is None, str(type(v)), str(v)) for v in t
        ),
    )


def test_queries_match_oracles(spark, entry_mod, duck):
    from llm_aided_ocr_spark.operators.util import release_pinned

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    jsc = spark.sparkContext._jsc
    for name, sql in oracles.items():
        before = set(jsc.getPersistentRDDs())
        sdf = qs[name](spark, SF_DIR)
        spark_cols = sdf.columns
        spark_rows = [tuple(r) for r in sdf.collect()]
        # follow each operator's documented cache lifecycle: release the
        # registered caches after the terminal action so the sweep does
        # not accumulate executor storage (and so later storage-count
        # tests see a quiet session, not ContextCleaner races)
        release_pinned(sdf, blocking=True)
        # leak gate: no RDD this query persisted may outlive the release
        # (a set difference, so GC of earlier RDDs cannot mask a leak)
        leaked = set(jsc.getPersistentRDDs()) - before
        assert not leaked, f"{name}: persistent RDDs {sorted(leaked)} left after release"
        res = duck.execute(sql)
        duck_cols = [c[0] for c in res.description]
        duck_rows = res.fetchall()
        assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
        assert len(spark_rows) == len(duck_rows), f"{name}: row counts differ"
        assert _rowset(spark_rows, spark_cols) == _rowset(duck_rows, duck_cols), (
            f"{name}: values differ"
        )


def test_rows_only_queries_run(spark, entry_mod):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    for name in set(qs) - set(oracles):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_html_extract_contract_robust_to_markup_and_whitespace(duck):
    """The html_extract equality must hold for corpora containing markup
    characters and non-canonical whitespace, not just texts that happen to
    round-trip unchanged: escaped wrapper + canonicalized-length oracle."""
    from llm_aided_ocr_spark.kernels import canonicalize_text, extract_main_text

    sql = (
        "SELECT length(trim(regexp_replace(regexp_replace(regexp_replace("
        "?, '[^\\S\\n]+', ' ', 'g'), '[^\\S\\n]*\\n[^\\S\\n]*', chr(10), 'g'), "
        "'\\n{2,}', chr(10) || chr(10), 'g'), ' ' || chr(10)))"
    )
    nasty = [
        "a & b < c > d",
        "double  spaces and\ttabs",
        "triple\n\n\nnewlines & <tags>",
        " leading and trailing ",
        "blank\n   \nline",
        "",
        "R&D <x> &amp; already-escaped",
    ]
    for t in nasty:
        esc = (
            t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace("\n", "<br/>")
        )
        html = (
            "<html><head><title>t</title></head><body><nav>chrome</nav>"
            f"<main><p>{esc}</p></main><footer>foot</footer></body></html>"
        ).encode()
        want = len(canonicalize_text(t))
        assert len(extract_main_text(html)) == want, t
        assert duck.execute(sql, [t]).fetchone()[0] == want, t


def test_entry_smoke(spark, entry_mod):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"url", "n_chunks", "corrected_len", "raw_len"}


def test_sent_count_sql_matches_python_kernel(duck):
    """The RE2-safe _SENT_COUNT_SQL must equal the Python kernel's
    sentence count (len of non-blank re.split((?<=[.!?])\\s+) segments)
    on the corpus alphabet — the equivalence the hallucination_filter
    oracle rests on."""
    import random
    import re

    import __spark_entry__ as e

    sent = re.compile(r"(?<=[.!?])\s+")

    def py_count(t: str) -> int:
        return len([s for s in sent.split(t) if s.strip()])

    rng = random.Random(0)
    atoms = list("ab .!?,\t\n") + ["  ", ". ", "! ", "? "]
    cases = ["", " ", ".", "a. b. ", "a.. b", "a. . b", "a. b ", "x"]
    cases += [
        "".join(rng.choice(atoms) for _ in range(rng.randint(0, 30)))
        for _ in range(2000)
    ]
    sql = e._SENT_COUNT_SQL.replace("coalesce(text,'')", "t")
    for t in cases:
        got = duck.execute(f"SELECT {sql} FROM (SELECT ? AS t)", [t]).fetchone()[0]
        assert got == py_count(t), repr(t)


# The driver's per-round CORRECTNESS check covers only the FIRST 50
# queries() entries in insertion order.  Rounds 1-4 verified the original
# 50; these 29 were registered later and never got a driver-side row, so
# round 5 moved them to the front.  This pin prevents a silent revert.
_R5_FRONT = [
    "line_dedup", "decontaminate",
    "semantic_dedup", "dsir_weights", "dup_spans", "paragraph_dedup",
    "c4_clean", "pii_redact", "quality_classifier", "bm25_scores",
    "lm_score", "ccnet_buckets", "domain_cap", "mixture_resample",
    "temperature_rates", "url_filter", "warc_roundtrip", "snapshot_diff",
    "epoch_order", "top_ngrams", "pooled_embeddings", "bpe_merges",
    "bpe_token_counts", "bpe_vocab", "incremental_dedup",
    "media_dimensions", "blocklist_gate", "html_signals",
    "text_normalize", "normalized_dedup", "annotate_table",
    # round-5 additions, registered inside the first-50 window so they
    # get a driver row in their debut round:
    "outlinks_resolved", "host_graph", "host_degrees", "anchor_corpus",
    "url_trap_flags", "bloom_urls", "wet_roundtrip", "sitemap_urls",
    "host_fetch_stats", "charset_detect", "script_profile", "postings",
    "content_blocks",
    "robots_rules", "robots_allowed",
    # r03-green tpch_q14/ann_lsh_topk and the two rows-only queries
    # (host_pagerank, compression_ratio) yielded their window slots to
    # these four fully-oracled never-driver-checked queries:
    "meta_props", "heading_outline", "robots_sitemaps", "decode_pages",
]


def test_registration_order_fronts_driver_unchecked_queries(entry_mod):
    keys = list(entry_mod.queries())
    assert keys[: len(_R5_FRONT)] == _R5_FRONT
    assert len(keys) == 156
    assert len(set(keys)) == 156
    # every never-driver-checked query must sit inside the 50-row window
    assert len(_R5_FRONT) <= 50
