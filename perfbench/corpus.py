"""Seeded input generation for the benchmark.

Every table is a pure function of ``(workload, seed, size)``. The text
shape (page counts, mega-document count, size and position) is fixed by
the size alone and only the words change with the seed, so two seeds
give inputs of near-identical byte count, layout and work. Tables are written once with
pyarrow under the checkout's work directory and reused on later runs.
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import json
import os
import random
import shutil
from typing import List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "ledger harbour account review margin policy steady holder treasury "
    "balance contract premium reserve dividend pension retiree quarter "
    "surplus deficit forecast auditor charter coverage pledge actuary "
    "yield capital payment trustee schedule estimate"
).split()

# words with 7+ letters, so the hyphen split below always has two halves
_LONG = [w for w in _WORDS if len(w) > 6]

_DOC_WORDS = (
    "a the row key sort scan join data line part order value table batch "
    "window group merge filter query stream spark column vector hash agg "
    "small big fast slow customer"
).split()

_LANGS = ("en", "en", "en", "en", "zh", "es", "de", "fr")

_EPOCH = _dt.datetime(2024, 1, 1)

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(6, 18))]
    words[0] = words[0].capitalize()
    return " ".join(words) + rng.choice(".....!?")


def ocr_page(rng: random.Random, page_no: int) -> str:
    """One OCR-style page: a repeated running header, a body hard-wrapped
    at ~60 columns with some mid-word hyphen breaks, sometimes a
    duplicated paragraph, and a bare page-number line."""
    body = " ".join(_sentence(rng) for _ in range(rng.randint(2, 4))).split()
    lines: List[str] = ["ANNUAL MEMORANDUM"]
    cur = ""
    for word in body:
        if cur and len(cur) + len(word) + 1 > 60:
            if word.lower() in _LONG and rng.random() < 0.3:
                cut = len(word) // 2
                lines.append(f"{cur} {word[:cut]}-")
                cur = word[cut:]
            else:
                lines.append(cur)
                cur = word
        else:
            cur = f"{cur} {word}".strip()
    lines.append(cur)
    if rng.random() < 0.5:
        dup = " ".join(_sentence(rng) for _ in range(2))
        lines += ["", dup, "", dup]
    lines += ["", f"~{page_no}-"]
    return "\n".join(lines)


def ocr_document(rng: random.Random, n_pages: int) -> str:
    return "\n".join(ocr_page(rng, p + 1) for p in range(n_pages))


def wrap_html(text: str, title: str) -> bytes:
    """Page chrome around the text: head, nav and footer boilerplate, the
    body as ``<p>`` blocks with ``<br/>`` line breaks inside ``<main>``."""
    blocks = []
    for para in text.split("\n\n"):
        lines = [ln for ln in para.split("\n") if ln.strip()]
        if lines:
            blocks.append("<p>" + "<br/>".join(_html.escape(ln) for ln in lines) + "</p>")
    return (
        f"<html><head><title>{title}</title><style>p{{margin:0}}</style></head>"
        "<body><nav>home | archive | contact</nav><main>"
        + "".join(blocks)
        + "</main><footer>&copy; 2024 the archive</footer></body></html>"
    ).encode("utf-8")


def pages_rows(
    seed: int,
    n_docs: int,
    with_html: bool,
    pages: Tuple[int, int] = (4, 12),
    n_mega: int = 0,
    mega_pages: int = 0,
) -> Tuple[List[Tuple], List[int]]:
    """Rows of the pipeline's ``pages`` table, and the row indexes of the
    ``n_mega`` mega documents of ``mega_pages`` pages each among the
    ``n_docs`` ordinary ones of ``pages[0]..pages[1]`` pages.

    Page counts, mega positions and urls are fixed by the size, so every
    seed gives the same document lengths in the same parquet files and
    the same hash partitioning of urls, hence the same split of work over
    tasks; the seed changes only the words."""
    rng = random.Random(seed)
    lo, hi = pages
    counts = [lo + (5 * i) % (hi - lo + 1) for i in range(n_docs)]
    step = n_docs // (n_mega + 1)
    megas = [(k + 1) * step + k for k in range(n_mega)]
    for i in megas:
        counts.insert(i, mega_pages)
    rows = []
    for i, n_pages in enumerate(counts):
        text = ocr_document(rng, n_pages)
        url = f"https://site-{i % 89}.example/doc/{i}"
        rows.append(
            (
                url,
                _EPOCH + _dt.timedelta(seconds=41 * i),
                wrap_html(text, f"doc {i}") if with_html else None,
                None if with_html else text,
                "en",
            )
        )
    return rows, megas


def documents_rows(seed: int, n_docs: int) -> List[Tuple]:
    """Rows of the curation queries' ``documents`` table (doc_id, text,
    lang, source, n_chars): word-soup sentences, with one exact duplicate
    in every 10 documents and a near duplicate in every 10, so the dedup
    and similarity operators find work."""
    rng = random.Random(seed)
    texts: List[str] = []
    for i in range(n_docs):
        if i % 10 == 9 and texts:
            text = texts[rng.randrange(len(texts))]
        elif i % 10 == 8 and texts:
            words = texts[rng.randrange(len(texts))].split()
            words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
            text = " ".join(words)
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(25 + (i * 7) % 66)]
            for k in range(rng.randint(5, 9), len(words), rng.randint(6, 12)):
                words[k] += "."
            text = " ".join(words)
        texts.append(text)
    return [
        (i, t, _LANGS[rng.randrange(len(_LANGS))], f"src{i % 20}", len(t))
        for i, t in enumerate(texts)
    ]


DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def to_table(rows: List[Tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) or [[] for _ in schema]
    return pa.table({f.name: pa.array(c, f.type) for f, c in zip(schema, cols)}, schema=schema)


def write_table(path: str, rows: List[Tuple], schema: pa.Schema, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files in directory ``path``
    (several files, so the scan splits over the task slots)."""
    os.makedirs(path, exist_ok=True)
    step = max(1, -(-len(rows) // n_files))
    for k in range(0, len(rows), step):
        pq.write_table(
            to_table(rows[k : k + step], schema),
            os.path.join(path, f"part-{k // step:05d}.parquet"),
        )


def cached(dir_path: str, build) -> dict:
    """Build an input directory once: ``build(tmp_dir)`` fills a temporary
    directory and returns a JSON-able description, which is stored with
    it; the rename makes a half-built directory invisible."""
    meta = os.path.join(dir_path, "meta.json")
    if os.path.exists(meta):
        with open(meta, encoding="utf-8") as f:
            return json.load(f)
    tmp = dir_path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    info = build(tmp)
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(info, f)
    shutil.rmtree(dir_path, ignore_errors=True)
    os.rename(tmp, dir_path)
    return info
