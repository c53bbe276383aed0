"""The benchmark's workloads: seeded inputs, the reference output each is
checked against, and the timed action.

* ``ocr_text``: bench-style OCR documents on the ``text`` column, none
  above ``mega_doc_chars``, so every document takes the fused
  correction pass. It is the flagship number.
* ``html_skew_resume``: the same generator with the ``html`` column
  filled and two mega documents holding over a third of the input bytes,
  so they take the staged path (salted chunk repartition, ``groupBy``
  reassembly). Checkpointing is on. The set-up's warm-up action commits
  half the urls (one mega document among them) and its warehouse is
  restored before each timed action: the timed action is the resume run
  over the other half, which writes three checkpoint stages.

Pipeline outputs are checked by an order-independent digest: the row
count and the sum over rows of the first 40 bits of
``md5(url || 0x00 || corrected_text)``. The reference digest applies the
kernels to each document in plain Python (extract, chunk, correct,
reassemble, header strip), so a run passes only when the Spark plan
reproduces the per-document kernel result for every url. The curation
sweep traced with ``html_skew_resume`` is checked query by query against
the DuckDB oracles.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from dataclasses import dataclass, field
from typing import Callable, List, Optional, Tuple

import corpus

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "pinned.json"), encoding="utf-8") as _f:
    PINNED = json.load(_f)

# Per-run sizes. ``small`` is the self-test size.
SIZES = {
    "ocr_text": {"full": dict(n_docs=2000), "small": dict(n_docs=60)},
    "html_skew_resume": {
        "full": dict(n_docs=900, n_mega=2, mega_pages=3000),
        "small": dict(n_docs=40, n_mega=2, mega_pages=100),
    },
    "sweep": {"full": dict(n_docs=400), "small": dict(n_docs=120)},
}

# Mega-document routing threshold for html_skew_resume: below the 4 M
# default so two mega documents can hold a third of the input bytes at a
# size one run can repeat; the small size lowers it further. The full size
# is large enough that the per-byte work, not the fixed cost of the ~25
# Spark jobs of a checkpointed resume, sets the action's time: that fixed
# cost is what slows most when other tenants take the host's CPUs.
MEGA_DOC_CHARS = {"full": 1_500_000, "small": 20_000}


def url_hash(url: str, text: str) -> int:
    return int(hashlib.md5(f"{url}\x00{text}".encode("utf-8")).hexdigest()[:10], 16)


def spark_digest(df, text_col: str = "corrected_text") -> List[int]:
    """The pipeline digest, computed by Spark over ``df`` in one aggregate
    job; this is the timed action's terminal step."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x00", F.col("url"), F.col(text_col))), 1, 10), 16, 10
    ).cast("long")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).first()
    return [int(row["n"]), int(row["h"] or 0)]


def _reference_one(url: str, text: Optional[str], html: Optional[bytes]) -> Tuple[str, str]:
    """Kernel-level reference for one document."""
    from llm_aided_ocr_spark.kernels import (
        assemble_chunks,
        chunk_full_text,
        correct_chunk_text,
        extract_main_text,
        strip_correction_header,
    )

    raw = extract_main_text(html) if html is not None else (text or "")
    chunks = chunk_full_text(raw, chunk_size=8000, overlap_words=10)
    out = strip_correction_header(
        assemble_chunks([correct_chunk_text(c, True, True) for c in chunks])
    )
    return url, out


def reference_digest(rows) -> List[int]:
    refs = [_reference_one(r[0], r[3], r[2]) for r in rows]
    return [len(refs), sum(url_hash(u, t) for u, t in refs)]


@dataclass
class Inputs:
    dir: str
    meta: dict

    @property
    def n_docs(self) -> int:
        return self.meta["n_docs"]

    @property
    def input_mb(self) -> float:
        return self.meta["input_bytes"] / 1e6


@dataclass
class Workload:
    name: str
    ctx: dict = field(default_factory=dict)
    before_action: Optional[Callable] = None  # untimed, e.g. restore state
    warm_up: Optional[Callable] = None  # (spark, ctx): set-up's own step, before its actions
    # untimed actions at the end of set-up: an action's time falls over
    # the first few of a session while the JVM compiles its hot paths
    warm_actions: int = 1


def _pipeline_build(with_html: bool, mega_doc_chars: int):
    def build(tmp: str, seed: int, size: dict) -> dict:
        rows, megas = corpus.pages_rows(seed, with_html=with_html, **size)
        corpus.write_table(os.path.join(tmp, "pages"), rows, corpus.PAGES_SCHEMA, 8)
        col = 2 if with_html else 3
        sizes = [len(r[col]) for r in rows]
        meta = {
            "n_docs": len(rows),
            "input_bytes": sum(sizes),
            # run_pipeline routes on the length of the source column
            "staged_docs": sum(1 for b in sizes if b > mega_doc_chars),
            "staged_bytes": sum(b for b in sizes if b > mega_doc_chars),
            "reference": reference_digest(rows),
        }
        if with_html:
            # the resume state: half of the ordinary documents and half of
            # the mega documents are committed before each timed run
            ordinary = [i for i in range(len(rows)) if i not in set(megas)]
            done = set(ordinary[::2]) | set(megas[: len(megas) // 2])
            corpus.write_table(
                os.path.join(tmp, "committed"),
                [rows[i] for i in sorted(done)],
                corpus.PAGES_SCHEMA,
                4,
            )
            meta["n_committed"] = len(done)
        return meta

    return build


def pipeline_cfg(ctx: dict):
    from llm_aided_ocr_spark.config import PipelineConfig

    return PipelineConfig(
        provider="heuristic",
        mega_doc_chars=ctx["mega_doc_chars"],
        checkpointing=ctx.get("warehouse") is not None,
        warehouse_dir=ctx.get("warehouse") or PipelineConfig.warehouse_dir,
    )


def pages(spark, ctx: dict):
    return spark.read.parquet(os.path.join(ctx["inputs"].dir, "pages"))


def store(ctx: dict, run_id: str):
    from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore

    if ctx.get("warehouse") is None:
        return None
    return CheckpointStore(warehouse_dir=ctx["warehouse"], run_id=run_id)


def check_digest(ctx: dict, digest, what: str = "output") -> int:
    """1 if ``digest`` differs from the reference (reported on stderr)."""
    want = ctx["inputs"].meta["reference"]
    if digest == want:
        return 0
    print(f"{what} digest {digest} != reference {want}", file=sys.stderr, flush=True)
    return 1


def corrupt(df, ctx: dict):
    """``df`` with one url's text replaced, when the self-test asks."""
    if not ctx.get("corrupt"):
        return df
    from pyspark.sql import functions as F

    bad = F.col("url") == F.lit(ctx["corrupt"])
    return df.withColumn(
        "corrected_text", F.when(bad, F.lit("x")).otherwise(F.col("corrected_text"))
    )


def pipeline_action(spark, ctx: dict) -> Tuple[int, int]:
    """One fresh ``run_pipeline`` plan from the parquet scan to the digest
    aggregate; the plan's caches are released afterwards. Returns
    ``(operations, failed)``."""
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache, run_pipeline

    ctx["runs"] = ctx.get("runs", 0) + 1
    result = run_pipeline(
        pages(spark, ctx),
        pipeline_cfg(ctx),
        store=store(ctx, f"run{ctx['runs']}"),
        use_html=ctx["use_html"],
        strategy="auto",
    )
    try:
        digest = spark_digest(corrupt(result, ctx))
    finally:
        release_pipeline_cache(result)
    return 1, check_digest(ctx, digest)


def _restore_warehouse(ctx: dict) -> None:
    shutil.rmtree(ctx["warehouse"], ignore_errors=True)
    shutil.copytree(ctx["snapshot"], ctx["warehouse"])
    # write the restored files back now, so the timed action does not
    # share the disk with their writeback
    os.sync()


def _build_snapshot(spark, ctx: dict) -> None:
    """The resume workload's warm-up action: a checkpointed pipeline run
    over the ``committed`` pages, whose warehouse is the snapshot each
    timed action resumes from. It is the timed action's twin over the
    other half of the documents: extraction, one mega document on the
    staged path, three checkpoint commits."""
    from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore
    from llm_aided_ocr_spark.plans.pipeline import release_pipeline_cache, run_pipeline

    snap = ctx["snapshot"]
    shutil.rmtree(snap, ignore_errors=True)
    committed = spark.read.parquet(os.path.join(ctx["inputs"].dir, "committed"))
    result = run_pipeline(
        committed,
        pipeline_cfg(dict(ctx, warehouse=snap)),
        store=CheckpointStore(warehouse_dir=snap, run_id="seed"),
        use_html=True,
    )
    n = result.count()
    release_pipeline_cache(result)
    if n != ctx["inputs"].meta["n_committed"]:
        raise RuntimeError(f"warehouse snapshot holds {n} documents, expected "
                           f"{ctx['inputs'].meta['n_committed']}")


# -- curation sweep ------------------------------------------------------------

# Curation operators with an exact DuckDB oracle that read only the
# ``documents`` table: dedup, near-duplicate pairs, the Gopher gate,
# quality features, PII redaction and the F3 sentence filter.
SWEEP_QUERIES = (
    "exact_dedup_keep",
    "simhash_pairs",
    "gopher_flags",
    "quality_features",
    "pii_redact",
    "hallucination_filter",
)


def _row_key(row):
    return tuple((v is None, str(v)) for v in row)


def rows_digest(rows) -> str:
    """Digest of a result as a sorted list of rows."""
    canon = sorted((tuple(r) for r in rows), key=_row_key)
    return hashlib.md5(repr([_row_key(r) for r in canon]).encode("utf-8")).hexdigest()


def _sweep_build(tmp: str, seed: int, size: dict) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    rows = corpus.documents_rows(seed, **size)
    sf = os.path.join(tmp, "sf")
    os.makedirs(sf)
    pq.write_table(
        corpus.to_table(rows, corpus.DOCUMENTS_SCHEMA), os.path.join(sf, "documents.parquet")
    )
    duck = duckdb.connect()
    duck.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{sf}/documents.parquet')"
    )
    oracles = entry.oracle_sql()
    reference = {q: rows_digest(duck.execute(oracles[q]).fetchall()) for q in SWEEP_QUERIES}
    duck.close()
    return {
        "n_docs": len(rows),
        "input_bytes": sum(len(r[1]) for r in rows),
        "reference": reference,
    }


def sweep(spark, inputs: Inputs, per_query: Callable) -> Tuple[int, int]:
    """Every sweep query from a fresh plan, checked against its oracle
    digest, with ``release_pinned`` after each. ``per_query(name, start,
    end, rows, pinned_left)`` sees each query that ran; ``pinned_left``
    counts the persistent RDDs the query left registered after the
    release (those registered after it less those before it, so a cache
    held by anything else is not charged to the query).
    Returns ``(operations, failed)``."""
    import __spark_entry__ as entry

    from llm_aided_ocr_spark.operators.util import release_pinned

    registry = entry.queries()
    sf = os.path.join(inputs.dir, "sf")
    failed = 0
    jsc = spark.sparkContext._jsc
    for name in SWEEP_QUERIES:
        before = jsc.getPersistentRDDs().size()
        t0 = time.perf_counter()
        try:
            df = registry[name](spark, sf)
            rows = df.collect()
        except Exception as ex:  # noqa: BLE001 -- a failing query is counted, not fatal
            print(f"query {name} failed: {type(ex).__name__}: {ex}", file=sys.stderr, flush=True)
            failed += 1
            continue
        t1 = time.perf_counter()
        release_pinned(df)
        left = jsc.getPersistentRDDs().size() - before
        if rows_digest(rows) != inputs.meta["reference"][name]:
            print(f"query {name}: result differs from its oracle", file=sys.stderr, flush=True)
            failed += 1
        per_query(name, t0, t1, rows, left)
    return len(SWEEP_QUERIES), failed


# -- inputs --------------------------------------------------------------------

WORKLOADS = ("ocr_text", "html_skew_resume")


def make(name: str, size_name: str) -> Workload:
    from llm_aided_ocr_spark.config import PipelineConfig

    if name == "ocr_text":
        return Workload(name, {"use_html": False,
                               "mega_doc_chars": PipelineConfig.mega_doc_chars},
                        warm_actions=4)
    if name == "html_skew_resume":
        return Workload(
            name,
            {"use_html": True, "mega_doc_chars": MEGA_DOC_CHARS[size_name]},
            before_action=_restore_warehouse,
            warm_up=_build_snapshot,
            warm_actions=2,
        )
    raise ValueError(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")


def check_pinned(name: str, seed: int, size_name: str, reference) -> None:
    """Inputs of a pinned (workload, seed, size) must reproduce the
    recorded reference digest; a drift in the generator or the kernels
    fails the run."""
    want = PINNED["digests"].get(f"{name}/{seed}/{size_name}")
    if want is not None and want != reference:
        raise RuntimeError(f"{name} seed {seed}: reference {reference} != pinned {want}")


def check_routing(name: str, meta: dict) -> None:
    """A generator drift must not silently empty or fill the staged
    branch: ``ocr_text`` routes nothing there, ``html_skew_resume`` routes
    at least a third of its input bytes there."""
    if name == "ocr_text" and meta["staged_docs"] != 0:
        raise RuntimeError(f"ocr_text routes {meta['staged_docs']} documents to the staged path")
    if name == "html_skew_resume" and (
        meta["staged_docs"] == 0 or 3 * meta["staged_bytes"] < meta["input_bytes"]
    ):
        raise RuntimeError(
            f"html_skew_resume stages {meta['staged_docs']} documents holding "
            f"{meta['staged_bytes']} of {meta['input_bytes']} bytes; want over a third"
        )


def load_inputs(name: str, seed: int, size_name: str, work: str) -> Inputs:
    """The inputs of ``name`` (a workload or ``sweep``), generated once and
    cached on disk keyed by name, seed and size."""
    size = SIZES[name][size_name]
    if name == "sweep":
        build, key = _sweep_build, size
    else:
        mega = make(name, size_name).ctx["mega_doc_chars"]
        build, key = _pipeline_build(name == "html_skew_resume", mega), dict(size, mega=mega)
    # the generator's source is part of the key, so an edit to it cannot
    # reuse inputs it no longer makes
    with open(corpus.__file__, "rb") as f:
        key = [key, hashlib.md5(f.read()).hexdigest()]
    tag = hashlib.md5(json.dumps(key, sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(work, "inputs", f"{name}-s{seed}-{size_name}-{tag}")
    meta = corpus.cached(path, lambda tmp: build(tmp, seed, size))
    check_pinned(name, seed, size_name, meta["reference"])
    if name in WORKLOADS:
        check_routing(name, meta)
    return Inputs(path, meta)
