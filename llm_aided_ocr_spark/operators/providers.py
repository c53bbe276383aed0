"""LLM completion-provider plumbing (reference C3-C6, S3/S4).

Mirrors ``generate_completion`` dispatch (llm_aided_ocr.py:156-165) and the
per-provider token-budget mechanics — clamping with buffer/cushion
(:271-272,:314,:354) and the prompt-too-long fallback that re-chunks via the
token-budget chunker and joins results with ``" "`` (:273-290). Network /
native-model calls are injectable; nothing here imports an SDK eagerly and
no API is called unless a transport is supplied.

Executor-local model bootstrap (the reference's FileLock-guarded download +
newest-mtime load, llm_aided_ocr.py:72-153) maps to a process-local
singleton: one initialization per Python worker, no cross-node lock needed.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass
from typing import Callable, Dict, Optional

from llm_aided_ocr_spark.kernels import chunk_text_by_tokens

# reference llm_aided_ocr.py:38-45
CLAUDE_MAX_TOKENS = 4096
OPENAI_MAX_TOKENS = 12000
LOCAL_CONTEXT_TOKENS = 2048
TOKEN_BUFFER = 500
TOKEN_CUSHION = 300

Transport = Callable[[str, int], Optional[str]]
"""(prompt, max_tokens) -> completion text or None."""

TokenEstimator = Callable[[str], int]


def _approx(text: str) -> int:
    from llm_aided_ocr_spark.kernels import approx_token_count

    return approx_token_count(text)


# ---------------------------------------------------------------------------
# T1/T2 — tokenizer dispatch with graceful fallback
# ---------------------------------------------------------------------------

_TOKENIZER_CACHE: Dict[str, object] = {}
_TOKENIZER_LOCK = threading.Lock()


def get_tokenizer(model_name: str):
    """Prefix-routed tokenizer (reference llm_aided_ocr.py:167-175):
    gpt-* → tiktoken, claude-*/llama-* → HF. Raises ``ValueError`` on an
    unknown prefix; callers needing safety use :func:`estimate_tokens`."""
    key = model_name.lower()
    with _TOKENIZER_LOCK:
        if key in _TOKENIZER_CACHE:
            return _TOKENIZER_CACHE[key]
    if key.startswith("gpt-"):
        import tiktoken  # lazy; absent in this sandbox → ImportError

        tok = tiktoken.encoding_for_model(model_name)
    elif key.startswith("claude-") or key.startswith("llama-"):
        from transformers import AutoTokenizer  # lazy

        repo = (
            "EleutherAI/gpt-neox-20b" if key.startswith("claude-") else "huggyllama/llama-7b"
        )
        tok = AutoTokenizer.from_pretrained(repo, clean_up_tokenization_spaces=False)
    else:
        raise ValueError(f"Unsupported model: {model_name}")
    with _TOKENIZER_LOCK:
        _TOKENIZER_CACHE[key] = tok
    return tok


def estimate_tokens(text: str, model_name: str) -> int:
    """T2 — tokenizer length, falling back to the T3 approximation on ANY
    failure (reference llm_aided_ocr.py:177-183), including missing
    tokenizer packages in this sandbox."""
    try:
        return len(get_tokenizer(model_name).encode(text))
    except Exception:
        return _approx(text)


# ---------------------------------------------------------------------------
# Completion providers
# ---------------------------------------------------------------------------

@dataclass
class CompletionProvider:
    """Token-budget wrapper around a transport.

    ``complete`` reproduces the reference budget algebra: clamp
    ``max_tokens`` to ``context_tokens - prompt_tokens - TOKEN_BUFFER``;
    when the prompt itself blows the context, re-chunk it with the
    token-budget chunker at ``context_tokens - TOKEN_CUSHION`` and join the
    per-chunk completions with a single space (reference :273-290).
    """

    name: str
    context_tokens: int
    transport: Transport
    estimate: TokenEstimator = _approx

    def complete(self, prompt: str, max_tokens: int = 5000) -> Optional[str]:
        prompt_tokens = self.estimate(prompt)
        adjusted = min(max_tokens, self.context_tokens - prompt_tokens - TOKEN_BUFFER)
        if adjusted <= 0:
            chunks = chunk_text_by_tokens(
                prompt, self.context_tokens - TOKEN_CUSHION, self.estimate
            )
            results = []
            for chunk in chunks:
                out = self.transport(chunk, self.context_tokens // 2)
                if out is not None:
                    results.append(out)
            return " ".join(results) if results else None
        return self.transport(prompt, max(1, adjusted))


def _unconfigured_transport(name: str) -> Transport:
    def _t(_prompt: str, _max_tokens: int) -> Optional[str]:
        raise NotImplementedError(
            f"provider {name!r} has no transport configured; inject one "
            "(API clients are never constructed implicitly — unlike the "
            "reference's eager client at llm_aided_ocr.py:48)"
        )

    return _t


def make_claude_provider(transport: Optional[Transport] = None) -> CompletionProvider:
    return CompletionProvider(
        "claude", CLAUDE_MAX_TOKENS, transport or _unconfigured_transport("claude")
    )


def make_openai_provider(transport: Optional[Transport] = None) -> CompletionProvider:
    return CompletionProvider(
        "openai", OPENAI_MAX_TOKENS, transport or _unconfigured_transport("openai")
    )


# -- C6: local provider — grammar-constrained decoding + escape postprocess

GrammarTransport = Callable[[str, int, Optional[object]], Optional[str]]
"""(prompt, max_tokens, grammar-or-None) -> completion text or None."""


def select_grammar_file(grammar_file_string: str, grammar_dir: str = "./grammar_files") -> str:
    """Reference grammar selection (llm_aided_ocr.py:373-380): among
    ``*.gbnf`` files in ``grammar_dir``, those whose basename contains the
    lowercased selector; the NEWEST by mtime wins. ``FileNotFoundError``
    when nothing matches, like the reference."""
    import glob as _glob
    import os

    key = grammar_file_string.lower()
    candidates = _glob.glob(os.path.join(grammar_dir, "*.gbnf"))
    matching = [
        x
        for x in candidates
        if key in os.path.splitext(os.path.basename(x).lower())[0]
    ]
    if not matching:
        raise FileNotFoundError(
            f"no grammar file matching {grammar_file_string!r} in {grammar_dir}"
        )
    return max(matching, key=os.path.getmtime)


def _read_grammar(path: str) -> str:
    with open(path, encoding="utf-8") as f:
        return f.read()


@dataclass
class LocalCompletionProvider(CompletionProvider):
    """C6 — the local-model provider's extra contract on top of the shared
    budget algebra (reference llm_aided_ocr.py:340-399):

    * grammar-constrained decoding: when ``grammar_file_string`` is set,
      the matching newest-mtime GBNF file is selected and handed (via
      ``grammar_loader`` — injectable; the SDK's ``LlamaGrammar.from_file``
      in the reference, the raw grammar text by default) to the transport
      as a third argument. The prompt-too-long re-chunk fallback runs
      WITHOUT the grammar, exactly like the reference (:361-365).
    * json escape postprocess: with ``grammar_file_string == 'json'`` the
      completion is ``unicode_escape``-encoded (:395-396), quirk included.
    """

    grammar_file_string: str = ""
    grammar_dir: str = "./grammar_files"
    grammar_loader: Callable[[str], object] = _read_grammar

    def complete(self, prompt: str, max_tokens: int = 5000) -> Optional[str]:
        prompt_tokens = self.estimate(prompt)
        adjusted = min(max_tokens, self.context_tokens - prompt_tokens - TOKEN_BUFFER)
        if adjusted <= 0 or not self.grammar_file_string:
            out = super().complete(prompt, max_tokens)
        else:
            grammar = self.grammar_loader(
                select_grammar_file(self.grammar_file_string, self.grammar_dir)
            )
            out = self.transport(prompt, max(1, adjusted), grammar)
        if out is not None and self.grammar_file_string == "json":
            out = out.encode("unicode_escape").decode()
        return out


def make_local_llm_provider(
    transport: Optional[Transport] = None,
    grammar_file_string: str = "",
    grammar_dir: str = "./grammar_files",
    grammar_loader: Callable[[str], object] = _read_grammar,
) -> CompletionProvider:
    """Without a grammar selector this behaves exactly like the other
    providers (2-arg transport). With one, the transport must accept the
    third ``grammar`` argument."""
    return LocalCompletionProvider(
        "local_llm",
        LOCAL_CONTEXT_TOKENS,
        transport or _unconfigured_transport("local_llm"),
        grammar_file_string=grammar_file_string,
        grammar_dir=grammar_dir,
        grammar_loader=grammar_loader,
    )


# ---------------------------------------------------------------------------
# C1 — the two-step LLM chunk flow (reference llm_aided_ocr.py:428-510)
# ---------------------------------------------------------------------------
#
# Prompt builders express the reference prompts' RULE LISTS in this repo's
# own wording (capability parity, not byte parity — prompt text is
# provider-tunable configuration). Rule provenance: OCR-correction rules at
# llm_aided_ocr.py:432-463; markdown rules at :476-501.

def build_ocr_correction_prompt(chunk: str, prev_context: str) -> str:
    # NOTE the 500/1000 asymmetry is reference-faithful: the flow CARRIES a
    # 1000-char context tail (llm_aided_ocr.py:508) but the prompt embeds
    # only its last 500 chars (:457).
    return (
        "Repair OCR damage in the text below. Rules: rejoin words split "
        "across line breaks; fix classic OCR confusions (such as 'rn' read "
        "as 'm'); change only clear errors and never the content; add no "
        "punctuation; keep every heading; drop line breaks inside "
        "sentences but keep paragraph breaks; keep the text flowing from "
        "the prior context, tolerating mid-sentence boundaries. Reply with "
        "the repaired text only — no preamble, no commentary.\n\n"
        f"Prior context:\n{prev_context[-500:]}\n\n"
        f"Text to repair:\n{chunk}\n\nRepaired text:\n"
    )


def build_markdown_prompt(chunk: str, suppress_headers_and_page_numbers: bool) -> str:
    header_rule = (
        "Remove headers, footers, and page numbers; keep all other content."
        if suppress_headers_and_page_numbers
        else "Keep headers, footers, and page numbers, formatted as blockquotes."
    )
    return (
        "Convert the text below to markdown. Rules: map headings to #/## "
        "levels, each on its own line with blank lines around it; keep "
        "paragraph structure; merge words split by stray hyphens (e.g. "
        "'cor- rect' is 'correct'); format lists; apply *emphasis* and "
        "**strong** only where the source implies it; never add or alter "
        "punctuation or content; delete any assistant preamble lines like "
        "'Here is the corrected text:'; delete exact or near-exact "
        "duplicated paragraphs (first occurrence wins) while keeping "
        "merely-similar content; "
        + header_rule
        + " Reply with the markdown only.\n\n"
        f"Text to convert:\n{chunk}\n\nMarkdown:\n"
    )


def process_chunk_with_provider(
    chunk: str,
    prev_context: str,
    provider: CompletionProvider,
    reformat_as_markdown: bool = True,
    suppress_headers_and_page_numbers: bool = True,
):
    """The reference's per-chunk control flow (llm_aided_ocr.py:428-510):

    step 1 — OCR-correction completion with ``max_tokens=len(chunk)+500``;
    a ``None`` completion falls back to the ORIGINAL chunk (:468-470).
    step 2 (optional) — markdown completion over step 1's output with
    ``max_tokens=len(step1)+500``; ``None`` keeps step 1 (:503-506).
    Returns ``(processed, new_context)`` where new_context is the last
    1000 chars (:508).
    """
    corrected = provider.complete(
        build_ocr_correction_prompt(chunk, prev_context), max_tokens=len(chunk) + 500
    )
    if corrected is None:
        corrected = chunk
    processed = corrected
    if reformat_as_markdown:
        md = provider.complete(
            build_markdown_prompt(corrected, suppress_headers_and_page_numbers),
            max_tokens=len(corrected) + 500,
        )
        if md is not None:
            processed = md
    new_context = processed[-1000:] if processed else ""
    return processed, new_context


def make_llm_chunk_corrector(provider: CompletionProvider):
    """Adapt a CompletionProvider into the sequential path's
    ``ContextChunkCorrector`` signature (operators.correct)."""

    def _correct(chunk: str, prev_context: str, md: bool, sup: bool) -> str:
        processed, _ctx = process_chunk_with_provider(
            chunk, prev_context, provider, md, sup
        )
        return processed

    return _correct


# ---------------------------------------------------------------------------
# Executor-local resource bootstrap (S3/S4 analogue)
# ---------------------------------------------------------------------------

_RESOURCE_CACHE: Dict[str, object] = {}
_RESOURCE_LOCK = threading.Lock()


def executor_local(name: str, factory: Callable[[], object]) -> object:
    """Process-local lazy singleton — the Spark analogue of the reference's
    FileLock-guarded model download + load (llm_aided_ocr.py:81-153). One
    ``factory()`` call per Python worker process, thread-safe within it."""
    with _RESOURCE_LOCK:
        if name not in _RESOURCE_CACHE:
            _RESOURCE_CACHE[name] = factory()
        return _RESOURCE_CACHE[name]


def fetch_model(
    model_url: str,
    models_dir: str,
    fetcher: Optional[Callable[[str, str], None]] = None,
    min_size_mb: float = 100.0,
    lock_timeout_s: float = 1200.0,
) -> dict:
    """S3 — idempotent, lock-guarded model fetch with the reference's
    size sanity check (llm_aided_ocr.py:81-103): skip when the file
    already exists; otherwise fetch under an exclusive inter-process file
    lock (so co-located executors bootstrap once per node, the Spark
    analogue of the reference's FileLock); delete and fail when the
    artifact is smaller than ``min_size_mb`` (a truncated download or an
    HTML error page, not a model).

    ``fetcher(url, dest)`` is injectable — this sandbox has no network, and
    production deployments want their own retry/auth stack; the default
    raises ``NotImplementedError``. Returns the reference-shaped status
    dict ``{"url", "status", "message"}``.
    """
    import errno
    import time as _time

    if fetcher is None:
        def fetcher(_url: str, _dest: str) -> None:  # noqa: ANN001
            raise NotImplementedError(
                "no fetcher injected; this environment performs no network IO"
            )

    os.makedirs(models_dir, exist_ok=True)
    filename = os.path.join(models_dir, os.path.basename(model_url))
    status = {"url": model_url, "status": "success", "message": "File already exists."}
    lock_path = os.path.join(models_dir, "download.lock")

    deadline = _time.monotonic() + lock_timeout_s
    lock_fd = None
    try:
        while lock_fd is None:
            try:
                lock_fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except OSError as e:
                if e.errno != errno.EEXIST:
                    raise
                if _time.monotonic() >= deadline:
                    status["status"] = "failure"
                    status["message"] = "Could not acquire lock for downloading."
                    return status
                _time.sleep(0.05)
        if os.path.exists(filename):
            return status
        fetcher(model_url, filename)
        size_mb = os.path.getsize(filename) / (1024 * 1024)
        if size_mb < min_size_mb:
            os.remove(filename)
            status["status"] = "failure"
            status["message"] = (
                f"Downloaded file is too small ({size_mb:.2f} MB), probably "
                "not a valid model file."
            )
        else:
            status["message"] = f"Successfully downloaded ({size_mb:.2f} MB)."
        return status
    finally:
        if lock_fd is not None:
            os.close(lock_fd)
            os.unlink(lock_path)


def load_newest_model(
    models_dir: str, model_name: str, loader: Callable[[str], object]
) -> object:
    """S4 — newest-mtime model file matching ``model_name*`` handed to an
    injectable ``loader`` (the reference's GPU→CPU Llama construction,
    llm_aided_ocr.py:110-153; no SDK import here). ``FileNotFoundError``
    when nothing matches, like the reference."""
    import glob as _glob

    matching = _glob.glob(os.path.join(models_dir, f"{model_name}*"))
    if not matching:
        raise FileNotFoundError(f"no model file matching {model_name!r} in {models_dir}")
    return loader(max(matching, key=os.path.getmtime))
