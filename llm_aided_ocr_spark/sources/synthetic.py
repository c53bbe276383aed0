"""Deterministic synthetic Common-Crawl-style ``pages`` corpus.

Schema mandated by ``BASELINE.json.input_hint``:
    (url string, warc_ts timestamp, html binary, text string, lang string)

Generation follows ``FIXTURES.md §1``: seeded (seed=42), never fetches
external data, and mixes golden-graft rows (the reference repo's raw OCR
artifact), OCR-artifact rows, chunker-edge rows, and filter rows so every
operator quirk in SURVEY.md §2.3–§2.7 is exercised.
"""

from __future__ import annotations

import datetime as _dt
import random
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from llm_aided_ocr_spark.operators.util import map_arrow

GOLDEN_RAW_OCR_PATH = (
    "/root/reference/160301289-Warren-Buffett-Katharine-Graham-Letter__raw_ocr_output.txt"
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

_EPOCH = _dt.datetime(2024, 1, 1, 0, 0, 0)

_WORDS = (
    "pension plan asset return promise benefit investment company management "
    "cost rate bond employee decision inflation capital earnings fund corporate "
    "actuarial assumption obligation liability annual report letter chairman"
).split()

_LANGS = ("de", "fr", "es", "zh", "ja", "pt", "ru", "it", "nl", "ko")


def _load_golden_text() -> Optional[str]:
    try:
        with open(GOLDEN_RAW_OCR_PATH, "rb") as f:
            return f.read().decode("utf-8")
    except OSError:
        return None


def _sentence(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice([".", ".", ".", "!", "?"])


def _paragraph(rng: random.Random, n_sentences: int) -> str:
    return " ".join(_sentence(rng, rng.randint(6, 18)) for _ in range(n_sentences))


def _ocr_artifact_page(rng: random.Random, page_no: int) -> str:
    """A page seeded with the OCR error classes the correction pass targets
    (reference prompt rules, llm_aided_ocr.py:434-447,480-494)."""
    lines: List[str] = []
    lines.append("QUARTERLY MEMORANDUM")            # repeated header
    body = _paragraph(rng, rng.randint(2, 4))
    # hard-wrap the body at ~60 chars with a mid-word hyphen split
    wrapped: List[str] = []
    cur = ""
    for word in body.split():
        if len(cur) + len(word) + 1 > 60 and cur:
            if len(word) > 6 and rng.random() < 0.25:
                cut = len(word) // 2
                wrapped.append(cur + " " + word[:cut] + "-")
                cur = word[cut:]
            else:
                wrapped.append(cur)
                cur = word
        else:
            cur = (cur + " " + word).strip()
    if cur:
        wrapped.append(cur)
    lines.extend(wrapped)
    if rng.random() < 0.5:  # duplicated paragraph
        dup = _paragraph(rng, 1)
        lines.append("")
        lines.append(dup)
        lines.append("")
        lines.append(dup)
    lines.append("")
    lines.append(f"~{page_no}-")                    # bare page number artifact
    return "\n".join(lines)


def _edge_text(kind: str, rng: random.Random) -> str:
    if kind == "huge_paragraph":          # forces sentence-split fallback
        return " ".join(_sentence(rng, 12) for _ in range(220))
    if kind == "huge_unterminated":       # one >8000-char "sentence", no [.!?]
        return " ".join(rng.choice(_WORDS) for _ in range(2000))
    if kind == "single_paragraph":
        return _paragraph(rng, 3)
    if kind == "empty":
        return ""
    if kind == "whitespace":
        return "  \n \n\t "
    if kind == "boundary":                # lands near the 8000-char boundary
        para = ("x" * 79 + ".") * 25      # 2000 chars per paragraph
        return "\n\n".join([para] * 5)
    if kind == "tiny":                    # < 10 chars, < 5 words (F1 fodder)
        return "ok go"
    raise ValueError(kind)


def _wrap_html(text: str, title: str) -> bytes:
    import html as _h
    import re as _re

    blocks = []
    for p in _re.split(r"\n\s*\n", text):
        lines = [ln for ln in p.split("\n") if ln.strip()]
        if lines:
            blocks.append("<p>" + "<br/>".join(_h.escape(ln) for ln in lines) + "</p>")
    paras = "".join(blocks) or "<p></p>"
    doc = (
        "<html><head><title>"
        + title
        + "</title><style>body{}</style></head><body>"
        + "<nav>site navigation boilerplate</nav>"
        + "<main>"
        + paras
        + "</main>"
        + "<footer>footer boilerplate &copy; 2024</footer>"
        + "</body></html>"
    )
    return doc.encode("utf-8")


def generate_pages_rows(
    n_rows: int = 500,
    seed: int = 42,
    include_golden: bool = True,
    mega_doc: bool = False,
) -> List[Tuple]:
    """Deterministic row list for the ``pages`` table."""
    rng = random.Random(seed)
    golden = _load_golden_text() if include_golden else None
    rows: List[Tuple] = []

    def add(i: int, text: str, lang: str) -> None:
        url = f"https://example-{i % 97}.test/doc/{i}"
        ts = _EPOCH + _dt.timedelta(seconds=37 * i)
        rows.append((url, ts, _wrap_html(text, f"doc {i}"), text, lang))

    i = 0
    if golden is not None:
        add(i, golden, "en"); i += 1                      # full golden graft
        add(i, golden[:8000], "en"); i += 1               # truncated graft
    edge_kinds = [
        "huge_paragraph", "huge_unterminated", "single_paragraph",
        "empty", "whitespace", "boundary", "tiny",
    ]
    for kind in edge_kinds:
        if i >= n_rows:
            break
        add(i, _edge_text(kind, rng), "en"); i += 1
    if mega_doc and i < n_rows:                           # ~100× median skew row
        pages = [_ocr_artifact_page(rng, p + 1) for p in range(400)]
        add(i, "\n".join(pages), "en"); i += 1
    while i < n_rows:
        n_pages = rng.randint(1, 6)
        text = "\n".join(_ocr_artifact_page(rng, p + 1) for p in range(n_pages))
        lang = "en" if rng.random() < 0.9 else rng.choice(_LANGS)
        add(i, text, lang); i += 1
    return rows


def _bench_text_for_id(i: int, seed: int, mega_every: int = 10_000) -> str:
    """Deterministic per-id document text for the bench corpus: OCR-artifact
    pages, with one ~100× mega-document every ``mega_every`` ids (the north
    rule's skew row). Independent of partitioning: the RNG is keyed by
    (seed, i) only."""
    rng = random.Random((seed << 32) ^ i)
    if mega_every and i % mega_every == mega_every - 1:
        n_pages = 3000  # ~4.5 MB — a genuine mega-document (routes staged)
    else:
        n_pages = rng.randint(4, 12)  # ~12 KB avg, web-page-scale
    return "\n".join(_ocr_artifact_page(rng, p + 1) for p in range(n_pages))


def pages_dataframe_distributed(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    num_partitions: int = 64,
    mega_every: int = 10_000,
    with_html: bool = False,
) -> DataFrame:
    """Bench-scale corpus generated ON THE EXECUTORS by one Arrow pass
    (``operators.util.map_arrow``) over ``spark.range`` — the driver never
    materializes the corpus, so generation scales with the cluster like a
    real source would. ``warc_ts`` is ``_EPOCH`` (UTC) + 37 s per id under
    any session time zone."""

    def _gen(ids):
        texts = [_bench_text_for_id(i, seed, mega_every) for i in ids]
        return (
            [f"https://example-{i % 97}.test/doc/{i}" for i in ids],
            [_EPOCH + _dt.timedelta(seconds=37 * i) for i in ids],
            [
                _wrap_html(t, f"doc {i}") if with_html else None
                for i, t in zip(ids, texts)
            ],
            texts,
            [
                "en"
                if random.Random((seed << 16) ^ i).random() < 0.9
                else _LANGS[i % len(_LANGS)]
                for i in ids
            ],
        )

    return map_arrow(
        spark.range(0, n_rows, numPartitions=num_partitions),
        _gen,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def pages_dataframe(
    spark: SparkSession,
    n_rows: int = 500,
    seed: int = 42,
    include_golden: bool = True,
    mega_doc: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    rows = generate_pages_rows(
        n_rows=n_rows, seed=seed, include_golden=include_golden, mega_doc=mega_doc
    )
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
