"""Stage 3 — per-chunk correction via a pluggable provider.

Mirrors the reference's ``generate_completion`` dispatch
(llm_aided_ocr.py:156-165): a registry keyed by provider name. The default
``heuristic`` provider is the deterministic engine the byte-identity goldens
freeze; ``identity`` reproduces the reference's deterministic skeleton; real
LLM providers would register here and initialize an executor-local client
lazily (the Spark analogue of the FileLock-guarded model bootstrap at
llm_aided_ocr.py:81-103).

Runs as one Arrow pass over chunk rows — narrow, zero shuffle; Spark task
parallelism is the reference's asyncio.gather (its parallel path passes
``prev_context=""`` for every chunk, llm_aided_ocr.py:526, which is the
license for embarrassing parallelism).
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame

from llm_aided_ocr_spark.kernels import correct_chunk_text, identity_correct
from llm_aided_ocr_spark.operators.util import apply_arrow, map_arrow

ChunkCorrector = Callable[[str, bool, bool], str]

_PROVIDERS: Dict[str, ChunkCorrector] = {}


def register_provider(name: str, fn: ChunkCorrector) -> None:
    _PROVIDERS[name] = fn


def get_provider(name: str) -> ChunkCorrector:
    try:
        return _PROVIDERS[name]
    except KeyError:
        raise ValueError(
            f"Unknown correction provider {name!r}; registered: {sorted(_PROVIDERS)}"
        ) from None


register_provider("identity", lambda c, *_: identity_correct(c))
register_provider(
    "heuristic",
    lambda c, md, sup: correct_chunk_text(
        c, reformat_as_markdown=md, suppress_headers_and_page_numbers=sup
    ),
)

CORRECTED_SCHEMA = "url string, chunk_ix int, n_chunks int, corrected string"


def correct_chunks(
    chunks_df: DataFrame,
    provider: str = "heuristic",
    reformat_as_markdown: bool = True,
    suppress_headers_and_page_numbers: bool = True,
) -> DataFrame:
    """``(url, chunk_ix, n_chunks, chunk)`` → ``(url, chunk_ix, n_chunks,
    corrected)``."""

    def _correct(chunks):
        # Provider resolved once per batch (executor-local), not per row.
        fn = get_provider(provider)
        return ([
            fn(
                c if c is not None else "",
                reformat_as_markdown,
                suppress_headers_and_page_numbers,
            )
            for c in chunks
        ],)

    keep = ("url", "chunk_ix", "n_chunks")
    return map_arrow(
        chunks_df.select(*keep, "chunk"), _correct, CORRECTED_SCHEMA, keep=keep
    )


ContextChunkCorrector = Callable[[str, str, bool, bool], str]
"""(chunk, prev_context, reformat_as_markdown, suppress_headers) -> text."""


def correct_chunks_sequential(
    chunks_df: DataFrame,
    provider: str = "heuristic",
    context_provider: "ContextChunkCorrector | None" = None,
) -> DataFrame:
    """Sequential-context mode — the reference's local-LLM path
    (llm_aided_ocr.py:517-523): chunks of one document processed in
    chunk_ix order, each seeing the previous PROCESSED chunk's last 1000
    chars (:508) as context.

    One grouped Arrow pass (``operators.util.apply_arrow``) over
    ``groupBy(url)`` — one shuffle, document-local ordered loop inside the
    group. The context is threaded to
    ``context_provider`` (a 4-arg callable receiving ``prev_context``);
    when omitted, the registered context-free ``provider`` is wrapped and
    the context is ignored — matching the deterministic providers, whose
    output is context-free. The parallel path (:func:`correct_chunks`)
    passes ``prev_context=""`` exactly as the reference's API path
    does (:526).
    """
    fn: "ContextChunkCorrector | None" = context_provider

    def _seq(urls, ixs, ns, chunks):
        nonlocal fn
        if fn is None:
            base = get_provider(provider)
            fn = lambda chunk, _ctx, md, sup: base(chunk, md, sup)  # noqa: E731
        order = sorted(range(len(ixs)), key=ixs.__getitem__)
        outs = []
        context = ""
        for i in order:
            processed = fn(
                chunks[i] if chunks[i] is not None else "",
                context,
                True,  # reformat_as_markdown
                True,  # suppress_headers_and_page_numbers
            )
            outs.append(processed)
            context = processed[-1000:] if processed else ""
        return (
            [urls[i] for i in order], [ixs[i] for i in order],
            [ns[i] for i in order], outs,
        )

    return apply_arrow(
        chunks_df.select("url", "chunk_ix", "n_chunks", "chunk"),
        ["url"], _seq, CORRECTED_SCHEMA,
    )
