"""Document-local pure-Python kernels.

Every byte-sensitive piece of pipeline logic lives here, Spark-free, so the
same code path is (a) unit-testable without a JVM and (b) wrapped by the
Arrow-vectorized Spark operators in ``llm_aided_ocr_spark.operators``.

Semantics reproduce the reference pipeline's deterministic behavior
(``/root/reference/llm_aided_ocr.py``) including its documented quirks:

* chunker: separator-blind length counter, compounding overlap prefix,
  trailing ``"\\n\\n"`` join (reference ``llm_aided_ocr.py:534-579``);
* token approximation branch order (``llm_aided_ocr.py:185-203``);
* the four-pass header strip order (``llm_aided_ocr.py:581-582``).

The code here is written from the behavioral spec in ``SURVEY.md §2`` — it is
a re-expression, not a copy.
"""

from __future__ import annotations

import difflib
import html as _htmllib
import re
from dataclasses import dataclass
from typing import Callable, List, Optional, Tuple

# ---------------------------------------------------------------------------
# Constants (reference llm_aided_ocr.py:538 and :38-45)
# ---------------------------------------------------------------------------

CHUNK_SIZE_CHARS = 8000
OVERLAP_WORDS = 10
TOKEN_OVERLAP_WORDS = 50
CONTEXT_TAIL_CHARS = 1000
PROMPT_CONTEXT_CHARS = 500
ASSESS_SAMPLE_CHARS = 15000 // 2  # 7500; reference :585-589

_PARA_SPLIT_RE = re.compile(r"\n\s*\n")
_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")


# ---------------------------------------------------------------------------
# A1/A2/A3 — ordered concatenations (reference :665, :536, :576)
# ---------------------------------------------------------------------------

def join_pages_raw(pages: List[str]) -> str:
    """Raw-OCR sink join (reference llm_aided_ocr.py:665): ``"\\n"`` separator."""
    return "\n".join(pages)


def join_pages_for_processing(pages: List[str]) -> str:
    """Processing-path join (reference llm_aided_ocr.py:536): ``"\\n\\n"``."""
    return "\n\n".join(pages)


def assemble_chunks(chunks: List[str]) -> str:
    """Chunk reassembly (reference llm_aided_ocr.py:576): empty separator."""
    return "".join(chunks)


# ---------------------------------------------------------------------------
# §2.3 — the chunker (reference llm_aided_ocr.py:534-573)
# ---------------------------------------------------------------------------

def chunk_pieces(
    full_text: str,
    chunk_size: int = CHUNK_SIZE_CHARS,
) -> List[str]:
    """The chunker WITHOUT the overlap pass: the pre-overlap chunk list
    whose boundaries the greedy paragraph/sentence packing determines
    (reference llm_aided_ocr.py:539-569). :func:`chunk_full_text` applies
    the compounding overlap prefix on top; factored out so chunk
    boundaries are independently checkable (the driver oracle replays
    this exact state machine as a DuckDB recursive CTE — see
    ``__spark_entry__._build_chunker_cte``).

    Quirks reproduced byte-exactly:

    * the running length counter sums raw piece lengths only — join
      separators are NOT counted, so emitted chunks may exceed
      ``chunk_size`` (reference :547,:560);
    * when a paragraph overflows, it is sentence-split and sentences are
      greedily packed joined by a single space (reference :554-566);
    * sentence-mode remainder carries into the NEXT paragraph's pending,
      so a paragraph-overflow flush may ``"\\n\\n"``-join carried
      sentences with whole paragraphs (reference :556-566 state reuse);
    * the trailing remainder is joined with ``"\\n\\n"`` whenever it holds
      more than one piece, even if those pieces are sentences
      (reference :569).
    """
    paragraphs = _PARA_SPLIT_RE.split(full_text)
    chunks: List[str] = []
    pending: List[str] = []
    pending_len = 0  # separator-blind by design

    for para in paragraphs:
        if pending_len + len(para) <= chunk_size:
            pending.append(para)
            pending_len += len(para)
            continue
        # Paragraph does not fit: flush, then pack its sentences.
        if pending:
            chunks.append("\n\n".join(pending))
        pending, pending_len = [], 0
        for sent in _SENT_SPLIT_RE.split(para):
            if pending_len + len(sent) <= chunk_size:
                pending.append(sent)
                pending_len += len(sent)
            else:
                if pending:
                    chunks.append(" ".join(pending))
                pending, pending_len = [sent], len(sent)

    if pending:
        chunks.append("\n\n".join(pending) if len(pending) > 1 else pending[0])
    return chunks


def chunk_full_text(
    full_text: str,
    chunk_size: int = CHUNK_SIZE_CHARS,
    overlap_words: int = OVERLAP_WORDS,
) -> List[str]:
    """Split a document into greedy paragraph/sentence chunks with a
    compounding word-overlap prefix.

    Byte-exact reproduction of the reference chunker (llm_aided_ocr.py:
    539-573): the boundary pass is :func:`chunk_pieces` (and keeps its
    quirks); the overlap pass here walks forward reading the
    ALREADY-PREFIXED predecessor, so overlap words compound across
    boundaries (reference :571-573).
    """
    chunks = chunk_pieces(full_text, chunk_size=chunk_size)
    for i in range(1, len(chunks)):
        tail_words = chunks[i - 1].split()[-overlap_words:]
        chunks[i] = " ".join(tail_words) + " " + chunks[i]
    return chunks


def chunk_pages(
    pages: List[str],
    chunk_size: int = CHUNK_SIZE_CHARS,
    overlap_words: int = OVERLAP_WORDS,
) -> List[str]:
    """Page list → chunk list, as ``process_document`` does before the LLM
    stage (reference llm_aided_ocr.py:536-573)."""
    return chunk_full_text(
        join_pages_for_processing(pages), chunk_size=chunk_size, overlap_words=overlap_words
    )


# ---------------------------------------------------------------------------
# P3 — header strip (reference llm_aided_ocr.py:581-582)
# ---------------------------------------------------------------------------

_HEADER_STRIP_PASSES = (
    "# Corrected text\n",
    "# Corrected text:",
    "\nCorrected text",
    "Corrected text:",
)


def strip_correction_header(text: str) -> str:
    """Four chained literal replaces, in the reference's exact order — the
    order matters for overlapping patterns (llm_aided_ocr.py:581-582)."""
    for pat in _HEADER_STRIP_PASSES:
        text = text.replace(pat, "")
    return text


# ---------------------------------------------------------------------------
# T3 — token approximation (reference llm_aided_ocr.py:185-203)
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+")
_TOKEN_RE = re.compile(r"\b\w+\b|\S")
_ACRONYM_RE = re.compile(r"^[A-Z]{2,}$")
_PUNCT_RE = re.compile(r"[^\w\s]")


def approx_token_count(text: str) -> int:
    """Heuristic token estimate; branch order is semantic (digits before
    acronyms before punctuation before long words), final ×1.1 buffer with
    ``int()`` truncation (reference :203)."""
    normalized = _WS_RE.sub(" ", text.strip())
    total = 0
    for tok in _TOKEN_RE.findall(normalized):
        if tok.isdigit():
            total += max(1, len(tok) // 2)
        elif _ACRONYM_RE.match(tok):
            total += len(tok)
        elif _PUNCT_RE.search(tok):
            total += 1
        elif len(tok) > 10:
            total += len(tok) // 4 + 1
        else:
            total += 1
    return int(total * 1.1)


TokenCounter = Callable[[str], int]


def chunk_text_by_tokens(
    text: str,
    max_chunk_tokens: int,
    count_tokens: TokenCounter = approx_token_count,
    overlap_size: int = TOKEN_OVERLAP_WORDS,
) -> List[str]:
    """Token-budgeted sentence chunker + overlap adjust — the
    prompt-too-long fallback path (reference llm_aided_ocr.py:205-226).

    The reference counts tokens with the provider tokenizer; we parameterize
    on ``count_tokens`` and default to the T3 approximation so the path is
    deterministic and dependency-free.
    """
    chunks: List[str] = []
    pending: List[str] = []
    pending_tokens = 0
    for sent in _SENT_SPLIT_RE.split(text):
        n = count_tokens(sent)
        if pending_tokens + n > max_chunk_tokens:
            chunks.append(" ".join(pending))
            pending, pending_tokens = [sent], n
        else:
            pending.append(sent)
            pending_tokens += n
    if pending:
        chunks.append(" ".join(pending))
    return adjust_overlaps(chunks, max_chunk_tokens, count_tokens, overlap_size)


def adjust_overlaps(
    chunks: List[str],
    max_chunk_tokens: int,
    count_tokens: TokenCounter = approx_token_count,
    overlap_size: int = TOKEN_OVERLAP_WORDS,
) -> List[str]:
    """T6 (reference llm_aided_ocr.py:250-264), including the latent-bug
    branch: when prefixing the previous chunk's tail would blow the token
    budget, the CURRENT chunk's own last ``overlap_size`` words are dropped
    instead of simply skipping the overlap. Reproduced as written."""
    out: List[str] = []
    for i, chunk in enumerate(chunks):
        if i == 0:
            out.append(chunk)
            continue
        prev_tail = chunks[i - 1].split()[-overlap_size:]
        if count_tokens(" ".join(prev_tail)) + count_tokens(chunk) > max_chunk_tokens:
            out.append(" ".join(chunk.split()[:-overlap_size]))
        else:
            out.append(" ".join(prev_tail + chunk.split()))
    return out


def split_long_sentence(
    sentence: str,
    max_tokens: int,
    count_tokens: TokenCounter = approx_token_count,
) -> List[str]:
    """T5 — word-greedy sentence splitter. DEAD CODE in the reference
    (defined at llm_aided_ocr.py:228-248, never called); kept for API
    parity only."""
    chunks: List[str] = []
    pending: List[str] = []
    pending_tokens = 0
    for word in sentence.split():
        n = count_tokens(word)
        if pending_tokens + n > max_tokens and pending:
            chunks.append(" ".join(pending))
            pending, pending_tokens = [word], n
        else:
            pending.append(word)
            pending_tokens += n
    if pending:
        chunks.append(" ".join(pending))
    return chunks


# ---------------------------------------------------------------------------
# HTML main-content extraction (north rule: DOM boilerplate strip)
# ---------------------------------------------------------------------------
#
# The reference extracts text from PDFs via Tesseract; the north rule widens
# the input to Common-Crawl-style pages with an ``html: binary`` column and
# mandates a boilerplate-stripping extraction stage. This is OUR surface (no
# reference analogue) and is therefore defined by this deterministic kernel.

_DROP_BLOCK_RE = re.compile(
    r"<(script|style|noscript|nav|header|footer|aside|form|iframe|svg)\b[^>]*>.*?</\1\s*>",
    re.IGNORECASE | re.DOTALL,
)
_COMMENT_RE = re.compile(r"<!--.*?-->", re.DOTALL)
_MAIN_RE = re.compile(r"<(main|article)\b[^>]*>(.*?)</\1\s*>", re.IGNORECASE | re.DOTALL)
_ATTRS = r"""(?:[^>"']|"[^"]*"|'[^']*')*"""  # attribute soup, quote-aware
_BLOCK_BREAK_RE = re.compile(
    r"</?(p|div|section|h[1-6]|li|ul|ol|table|tr|blockquote|pre|figure)\b"
    + _ATTRS + r">",
    re.IGNORECASE,
)
_BR_RE = re.compile(r"<br\s*/?>", re.IGNORECASE)
_INLINE_WS_RE = re.compile(r"[^\S\n]+")  # whitespace except newline
# tolerates '>' inside quoted attribute values: <div title="a>b">
_TAG_RE = re.compile(r"""<[a-zA-Z/!][^>"']*(?:(?:"[^"]*"|'[^']*')[^>"']*)*>?""")
_HEAD_RE = re.compile(r"<head\b[^>]*>.*?</head\s*>", re.IGNORECASE | re.DOTALL)


def extract_main_text(html_bytes: Optional[bytes]) -> str:
    """Deterministic DOM-boilerplate strip: decode (utf-8, replace),
    then :func:`extract_main_text_str`. Use
    ``operators.extract.extract_text(sniff_charset=True)`` when the
    corpus carries non-utf-8 fetch bytes — it routes through the
    charset sniff before this strip.

    Pure regex (no HTML parser dependency), document-local, so it runs
    per row inside one Arrow pass (``operators.util.map_arrow``) at scale.
    """
    if not html_bytes:
        return ""
    return extract_main_text_str(html_bytes.decode("utf-8", errors="replace"))


def extract_main_text_str(raw: str) -> str:
    """The strip itself, over already-decoded text: drop <head>,
    comments, script/style/nav/header/footer/aside blocks, prefer
    <main>/<article> content when present, convert block-level tags to
    paragraph breaks, strip remaining tags, unescape entities,
    normalize whitespace."""
    if not raw:
        return ""
    raw = _COMMENT_RE.sub("", raw)
    raw = _HEAD_RE.sub("", raw)
    raw = _DROP_BLOCK_RE.sub("", raw)
    main_parts = _MAIN_RE.findall(raw)
    if main_parts:
        raw = "\n\n".join(body for _tag, body in main_parts)
    raw = _BR_RE.sub("\n", raw)           # <br> = intra-paragraph line break
    raw = _BLOCK_BREAK_RE.sub("\n\n", raw)
    raw = _TAG_RE.sub(" ", raw)
    raw = _htmllib.unescape(raw)
    return canonicalize_text(raw)


def canonicalize_text(text: str) -> str:
    """The extraction stage's whitespace contract: per line, collapse
    non-newline whitespace runs to one space and strip edges; drop blank
    lines at paragraph level; paragraphs separated by one blank line.

    ``extract_main_text(html_of(t)) == canonicalize_text(t)`` for any text
    ``t`` — and ``canonicalize_text(t) == t`` when ``t`` is already in
    canonical form (single-spaced lines, no edge whitespace), which the
    synthetic corpus and all post-correction outputs are.
    """
    paragraphs = []
    for block in _PARA_SPLIT_RE.split(text):
        lines = [_INLINE_WS_RE.sub(" ", ln).strip() for ln in block.split("\n")]
        lines = [ln for ln in lines if ln]
        if lines:
            paragraphs.append("\n".join(lines))
    return "\n\n".join(paragraphs)


# ---------------------------------------------------------------------------
# Deterministic heuristic correction provider (reference §2.5's prompt rules
# llm_aided_ocr.py:432-463,476-501, re-expressed as mechanical string ops)
# ---------------------------------------------------------------------------

_HYPHEN_LINEBREAK_RE = re.compile(r"([A-Za-z]+)-[ \t]*\n[ \t]*([a-z]+)")
_HYPHEN_SPACE_RE = re.compile(r"\b([a-z]+)- ([a-z]+)\b")
_PAGE_NUMBER_LINE_RE = re.compile(
    r"^\s*(?:~?-?\s*\d+\s*-?~?|[Pp]age\s+\d+(?:\s+of\s+\d+)?)\s*$"
)
_LLM_PREAMBLE_RE = re.compile(
    r"^(?:Here is the (?:corrected|reformatted) (?:text|markdown)[:.]?|"
    r"Reformatted markdown:|Corrected text:)\s*\n?",
    re.IGNORECASE,
)
_HEADING_LINE_RE = re.compile(r"^[A-Z][A-Z0-9 ,.'&\-]{2,79}$")
_SENT_END_RE = re.compile(r"[.!?:;]['\")\]]*$")
_LIST_ITEM_RE = re.compile(r"^(\d+[.)]\s+|[-*•]\s+)")

_ASCII_LOWER = frozenset("abcdefghijklmnopqrstuvwxyz")
_ASCII_LETTER = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ")


def _is_word_char(c: str) -> bool:
    return c.isalnum() or c == "_"


def _repair_linebreak_hyphen(text: str) -> str:
    """Byte-equivalent fast path for ``_HYPHEN_LINEBREAK_RE.sub(r"\\1\\2")``
    (pattern ``([A-Za-z]+)-[ \\t]*\\n[ \\t]*([a-z]+)``): anchors on ``\\n``
    instead of letting the regex attempt a char-class match at every
    position. Semantics preserved exactly, including the continue-after-
    the-right-word behavior on chained splits (``cor-\\ncat-\\ndog``).
    Property-tested against the regex in tests/test_kernels.py."""
    if "\n" not in text or "-" not in text:
        return text
    out = []
    i = 0  # start of the not-yet-emitted region
    pos = 0  # scan cursor (skips right-words of prior matches)
    L = len(text)
    while True:
        nl = text.find("\n", pos)
        if nl < 0:
            out.append(text[i:])
            return "".join(out)
        # walk back over [ \t]* then require '-' preceded by a letter run
        b = nl
        while b > pos and text[b - 1] in (" ", "\t"):
            b -= 1
        if b > pos and b >= 1 and text[b - 1] == "-" and b - 2 >= 0 and text[b - 2] in _ASCII_LETTER:
            hy = b - 1
            # left letter run must start at/after pos (not consumed earlier)
            k = hy
            while k > pos and text[k - 1] in _ASCII_LETTER:
                k -= 1
            if k < hy:
                # forward: [ \t]* then [a-z]+ (non-empty)
                m = nl + 1
                while m < L and text[m] in (" ", "\t"):
                    m += 1
                n = m
                while n < L and text[n] in _ASCII_LOWER:
                    n += 1
                if n > m:
                    out.append(text[i:hy])  # keep left word, drop '-..\n..'
                    out.append(text[m:n])   # right word
                    i = n
                    pos = n
                    continue
        pos = nl + 1


def _repair_space_hyphen(text: str) -> str:
    """Byte-equivalent fast path for ``_HYPHEN_SPACE_RE.sub(r"\\1\\2")``
    (pattern ``\\b([a-z]+)- ([a-z]+)\\b``): anchors on the literal ``"- "``.
    Property-tested against the regex in tests/test_kernels.py."""
    if "- " not in text:
        return text
    out = []
    i = 0
    pos = 0
    L = len(text)
    while True:
        j = text.find("- ", pos)
        if j < 0:
            out.append(text[i:])
            return "".join(out)
        # left: maximal [a-z]+ run ending at j, not reaching into consumed
        # text, preceded by a non-word char (the \b)
        k = j
        while k > pos and text[k - 1] in _ASCII_LOWER:
            k -= 1
        left_ok = k < j and (k == 0 or not _is_word_char(text[k - 1]))
        # right: maximal [a-z]+ run from j+2, followed by non-word (the \b)
        m = j + 2
        n = m
        while n < L and text[n] in _ASCII_LOWER:
            n += 1
        right_ok = n > m and (n == L or not _is_word_char(text[n]))
        if left_ok and right_ok:
            out.append(text[i:j])
            out.append(text[m:n])
            i = n
            pos = n
        else:
            pos = j + 1


def _is_heading_line(line: str) -> bool:
    # The char class admits no lowercase and the first char is a letter, so
    # a regex match already implies "has letters, all uppercase".
    line = line.strip()
    # cheap prefilter: the regex requires first char A-Z and length 3..80
    if not (3 <= len(line) <= 80 and "A" <= line[0] <= "Z"):
        return False
    return bool(_HEADING_LINE_RE.match(line))


def _ends_sentence(s: str) -> bool:
    """Exact equivalent of ``_SENT_END_RE.search(s)`` for the end-anchored
    pattern ``[.!?:;]['\")\\]]*$`` — scan back over closing chars, then
    check for terminal punctuation. The regex form re-scans the WHOLE
    accumulated line on every merge (O(n) each, quadratic over a
    paragraph); this is O(trailing closers)."""
    if s.endswith("\n"):  # re's $ also matches just before a final newline
        s = s[:-1]
    i = len(s) - 1
    while i >= 0 and s[i] in "'\")]":
        i -= 1
    return i >= 0 and s[i] in ".!?:;"


def _unwrap_paragraph(paragraph: str) -> str:
    """Remove hard line-wraps inside a paragraph while keeping heading
    lines and list items on their own lines (prompt rules 1/3 at
    llm_aided_ocr.py:441-448)."""
    lines = [ln.rstrip() for ln in paragraph.split("\n")]
    out: List[str] = []
    last_is_heading = False  # heading-ness of out[-1], maintained incrementally
    for ln in lines:
        stripped = ln.strip()
        if not stripped:
            continue
        cur_is_heading = _is_heading_line(stripped)
        if (
            out
            and not cur_is_heading
            and not _LIST_ITEM_RE.match(stripped)
            and not last_is_heading
            and not _ends_sentence(out[-1])
        ):
            # a merged non-heading line stays non-heading (its lowercase /
            # invalid char / >80 length / bad first char persists) EXCEPT
            # when the previous text was shorter than the regex's 3-char
            # minimum — only then recheck
            prev_short = len(out[-1]) < 3
            out[-1] = out[-1] + " " + stripped
            if prev_short:
                last_is_heading = _is_heading_line(out[-1])
        else:
            out.append(stripped)
            last_is_heading = cur_is_heading
    return "\n".join(out)


def _drop_duplicate_paragraphs(paragraphs: List[str]) -> List[str]:
    """First-wins removal of exact/near-exact repeated paragraphs within a
    chunk (prompt rule 8, llm_aided_ocr.py:486-493). Near-exact = identical
    after whitespace/case normalization."""
    seen = set()
    kept: List[str] = []
    for para in paragraphs:
        # equivalent to _WS_RE.sub(" ", para).strip().lower(): split() eats
        # any whitespace runs incl. edges; ~3x faster than the regex sub
        key = " ".join(para.split()).lower()
        if not key:
            continue
        if key in seen:
            continue
        seen.add(key)
        kept.append(para)
    return kept


def correct_chunk_text(
    chunk: str,
    reformat_as_markdown: bool = True,
    suppress_headers_and_page_numbers: bool = True,
) -> str:
    """The default deterministic correction provider.

    Implements the mechanical subset of the reference's two LLM prompts
    (OCR-correction rules at llm_aided_ocr.py:432-463; markdown rules at
    :476-501) as pure string transforms:

    1. rejoin words split across line breaks (``cor-\\nrect`` → ``correct``)
       and mid-line hyphen splits (``cor- rect`` → ``correct``);
    2. strip spurious LLM preamble lines (rule 7);
    3. remove page-number / header-footer lines (rule 9, suppress mode) or
       leave them as blockquotes (non-suppress mode);
    4. unwrap hard line breaks inside sentences, preserving paragraph
       breaks and headings (rules 1.3/3);
    5. drop exact/near-exact duplicate paragraphs, first occurrence wins
       (rule 8);
    6. optionally retitle ALL-CAPS lines as markdown ``##`` headings with
       surrounding blank lines (markdown rule 1).

    This provider is what the byte-identity goldens freeze; real LLM
    providers plug in behind the same interface (see operators/correct.py).
    """
    text = _LLM_PREAMBLE_RE.sub("", chunk)
    # fast scanners, byte-equivalent to:
    #   _HYPHEN_LINEBREAK_RE.sub(r"\1\2", ...) then _HYPHEN_SPACE_RE.sub(...)
    text = _repair_linebreak_hyphen(text)
    text = _repair_space_hyphen(text)

    out_paragraphs: List[str] = []
    for para in _PARA_SPLIT_RE.split(text):
        kept_lines: List[str] = []
        for ln in para.split("\n"):
            if _PAGE_NUMBER_LINE_RE.match(ln):
                if not suppress_headers_and_page_numbers:
                    kept_lines.append("> " + ln.strip())
                continue
            kept_lines.append(ln)
        if not any(s.strip() for s in kept_lines):
            continue
        para2 = _unwrap_paragraph("\n".join(kept_lines))
        if not para2:
            continue
        out_paragraphs.append(para2)

    out_paragraphs = _drop_duplicate_paragraphs(out_paragraphs)

    if reformat_as_markdown:
        formatted: List[str] = []
        for para in out_paragraphs:
            lines = para.split("\n")
            buf: List[str] = []
            for ln in lines:
                if _is_heading_line(ln) and not ln.startswith(">"):
                    if buf:
                        formatted.append("\n".join(buf))
                        buf = []
                    formatted.append("## " + ln.strip())
                else:
                    buf.append(ln)
            if buf:
                formatted.append("\n".join(buf))
        out_paragraphs = formatted

    return "\n\n".join(out_paragraphs)


def identity_correct(chunk: str, *_args, **_kwargs) -> str:
    """Identity provider — used for byte-parity against the reference's
    deterministic skeleton (extract → chunk → reassemble → header strip)."""
    return chunk


# ---------------------------------------------------------------------------
# F3 — difflib fuzzy-similarity hallucination/quality filter
# (v1 semantics per CHANGELOG.md:171-173, deterministic difflib variant
#  as mandated by BASELINE.json.north_star)
# ---------------------------------------------------------------------------

def _similarity(a: str, b: str) -> float:
    return difflib.SequenceMatcher(None, a, b).ratio()


def filter_hallucinated_sentences(
    original_text: str,
    processed_text: str,
    threshold: float = 0.40,
) -> Tuple[str, List[float]]:
    """Keep processed sentences whose best difflib ratio against any
    original sentence is >= threshold. Returns (filtered_text, per-sentence
    best scores). Document-local O(n*m) — bounded because both texts belong
    to one document."""
    orig_sents = [s for s in _SENT_SPLIT_RE.split(original_text) if s.strip()]
    proc_sents = [s for s in _SENT_SPLIT_RE.split(processed_text) if s.strip()]
    if not proc_sents:
        return "", []
    if not orig_sents:
        return "", [0.0] * len(proc_sents)
    kept: List[str] = []
    scores: List[float] = []
    for ps in proc_sents:
        best = max(_similarity(ps, os) for os in orig_sents)
        scores.append(best)
        if best >= threshold:
            kept.append(ps)
    return " ".join(kept), scores


def adaptive_similarity_threshold(
    original_text: str,
    processed_text: str,
    start_threshold: float = 0.40,
    step: float = 0.05,
    max_threshold: float = 0.95,
) -> float:
    """v1's adaptive search (CHANGELOG.md:171-173): raise the threshold
    until the filtered text is shorter than the original, then roll back
    one step."""
    t = start_threshold
    while t <= max_threshold:
        filtered, _ = filter_hallucinated_sentences(original_text, processed_text, t)
        if len(filtered) < len(original_text):
            return max(start_threshold, t - step)
        t += step
    return max_threshold


def filter_document(
    original_text: Optional[str],
    processed_text: Optional[str],
    threshold: float = 0.40,
    adaptive: bool = False,
) -> Tuple[str, int, int, float, float]:
    """F3 over one document (NULL reads as empty): ``(filtered_text,
    n_sentences, n_kept, min_score, threshold_used)``, the threshold
    raised by :func:`adaptive_similarity_threshold` when ``adaptive``."""
    orig, proc = original_text or "", processed_text or ""
    t = adaptive_similarity_threshold(orig, proc, threshold) if adaptive else threshold
    filtered, scores = filter_hallucinated_sentences(orig, proc, t)
    n_kept = sum(1 for s in scores if s >= t)
    return filtered, len(scores), n_kept, min(scores) if scores else 1.0, t


# ---------------------------------------------------------------------------
# A4 — quality assessment (reference llm_aided_ocr.py:584-632), with a
# deterministic scorer standing in for the LLM judge
# ---------------------------------------------------------------------------

def assess_quality_response(original_text: str, processed_text: str) -> str:
    """Deterministic stand-in for the LLM judge: truncates both inputs to
    7500 chars (reference :585-589), scores via difflib similarity, and
    emits the reference's expected ``SCORE:``/``EXPLANATION:`` wire format
    (:610-612) so the parsing path stays honest."""
    orig = original_text[:ASSESS_SAMPLE_CHARS]
    proc = processed_text[:ASSESS_SAMPLE_CHARS]
    sim = _similarity(orig, proc)
    score = int(round(sim * 100))
    return (
        f"SCORE: {score}\n"
        f"EXPLANATION: deterministic difflib similarity {sim:.4f} over "
        f"{len(orig)}/{len(proc)} sampled chars."
    )


def parse_quality_response(response: Optional[str]) -> Tuple[Optional[int], Optional[str]]:
    """Parse ``SCORE:``/``EXPLANATION:`` lines (reference :622-625);
    None-safe like the reference (:617-619,629-632)."""
    if response is None:
        return None, None
    score: Optional[int] = None
    explanation_lines: List[str] = []
    for line in response.strip().split("\n"):
        if line.startswith("SCORE:") and score is None:
            try:
                # reference parity: split(':')[1] — a line like
                # "SCORE: 95: near-perfect" parses to 95 (:624)
                score = int(line.split(":")[1].strip())
            except (ValueError, IndexError):
                return None, None
        elif line.startswith("EXPLANATION:"):
            explanation_lines.append(line[len("EXPLANATION:"):].strip())
    if score is None:
        return None, None
    return score, "\n".join(explanation_lines).strip()


# ---------------------------------------------------------------------------
# End-to-end document kernel (the reference's main() dataflow,
# llm_aided_ocr.py:659-676, minus I/O)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class DocumentResult:
    raw_text: str
    corrected_text: str
    n_chunks: int


def process_document_text(
    pages: List[str],
    correct: Callable[[str], str] = identity_correct,
    reformat_as_markdown: bool = True,  # noqa: ARG001 — parity surface
    chunk_size: int = CHUNK_SIZE_CHARS,
    overlap_words: int = OVERLAP_WORDS,
) -> DocumentResult:
    """Reference main() semantics on one document: raw join (A1), chunk
    (§2.3), per-chunk correction, empty-join reassembly (A3), header strip
    (P3)."""
    raw = join_pages_raw(pages)
    chunks = chunk_pages(pages, chunk_size=chunk_size, overlap_words=overlap_words)
    corrected = assemble_chunks([correct(c) for c in chunks])
    return DocumentResult(
        raw_text=raw,
        corrected_text=strip_correction_header(corrected),
        n_chunks=len(chunks),
    )
