"""The traced run behind ``--trace 1``: per-layer metrics.

Spans are recorded from the benchmark's own files around calls into the
package's public functions (name, start, end, parent, run id), kept in
memory and written to ``.perfbench/traces/`` at the end. A span's self
time is its duration minus the time its children cover. Spark's per-node
SQL metrics are read from the session's status store for the executions
a span started.

A pipeline workload is driven three ways after the set-up and its warm-up actions:

* untraced, as in ``--trace 0``, for the reference wall time and the
  peak RSS;
* whole, through ``run_pipeline`` under a job group: the scan, routing,
  Python-worker, exchange and task metrics of that plan. Two untraced
  and two whole traced actions interleave; the median traced time
  minus the median untraced one is the tracing overhead;
* stage by stage, split like the auto strategy: the source read →
  ``CheckpointStore.remaining`` (resume workload) → the routing cache →
  ``extract_text`` on both branches (html only: for text it is a column
  rename) → the fused pass (``run_pipeline(strategy="fused")`` over the
  extracted text) for the documents up to ``mega_doc_chars``, and, when
  there are larger ones, ``chunk_documents`` (with the salted
  repartition) → ``correct_chunks`` → ``assemble_documents`` for them →
  ``hallucination_filter`` (resume workload, on a
  fixed sample of ordinary documents). On the resume workload
  ``CheckpointStore.write`` commits the staged branch's chunks and
  corrected chunks and the union of both branches' documents, as
  ``run_pipeline`` does. Each stage's output is materialised before the
  next starts, so each layer's self time is the time of its own stage.
  The output is checked against the same reference digest as the whole
  run.

``html_skew_resume`` also runs the curation sweep (an untimed warm-up
sweep, then one span per query) for the ``sweep.*`` and ``util.*``
metrics. Every workload times the kernels on one core, outside Spark,
over a fixed sample of its inputs; ``ocr_text`` also measures
``scaling.eff`` from its untraced actions on 4 cores and a child run
pinned to 2.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
from typing import Dict, List

import pyarrow.parquet as pq

import corpus
import sparkstats
import workloads


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []

    def add(self, name: str, start: float, end=None) -> dict:
        span = {"id": len(self.spans), "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "start": start, "end": end, "run": self.run_id}
        self.spans.append(span)
        return span

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.span = tracer.add(name, time.perf_counter())
                tracer._stack.append(self.span["id"])
                return self

            def __exit__(self, *exc):
                tracer._stack.pop()
                self.span["end"] = time.perf_counter()

        return _Span()

    def children(self, span: dict) -> List[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the children's intervals."""
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in sorted((c["start"], c["end"]) for c in self.children(span)):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def last(self, name: str) -> dict:
        return [s for s in self.spans if s["name"] == name][-1]

    def self_of(self, name: str) -> float:
        return sum(self.self_time(s) for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump([dict(s, self_s=self.self_time(s)) for s in self.spans], f, indent=1)


# -- kernels, outside Spark ---------------------------------------------------


def _timed(fn, items) -> tuple:
    t0 = time.perf_counter()
    out = [fn(x) for x in items]
    return out, time.perf_counter() - t0


def kernel_rates(texts: List[str], htmls: List[bytes]) -> Dict[str, float]:
    from llm_aided_ocr_spark.kernels import (
        assemble_chunks,
        chunk_full_text,
        correct_chunk_text,
        extract_main_text,
        filter_hallucinated_sentences,
        strip_correction_header,
    )

    mb = sum(len(t) for t in texts) / 1e6
    chunked, t_chunk = _timed(chunk_full_text, texts)
    corrected, t_corr = _timed(
        lambda cs: [correct_chunk_text(c, True, True) for c in cs], chunked
    )
    joined, t_asm = _timed(assemble_chunks, corrected)
    stripped, t_strip = _timed(strip_correction_header, joined)
    _, t_ext = _timed(extract_main_text, htmls)
    few = list(zip(texts, stripped))[:4]
    _, t_filter = _timed(lambda p: filter_hallucinated_sentences(p[0], p[1], 0.40), few)
    return {
        "kernels.chunk_mb_per_s": mb / t_chunk,
        "kernels.correct_mb_per_s": mb / t_corr,
        "kernels.assemble_mb_per_s": mb / t_asm,
        "kernels.strip_header_mb_per_s": mb / t_strip,
        "kernels.extract_mb_per_s": sum(len(h) for h in htmls) / 1e6 / t_ext,
        "kernels.filter_docs_per_s": len(few) / t_filter,
    }


def kernel_sample(inputs, n: int = 48) -> tuple:
    """``n`` ordinary documents of the workload's inputs, as text and as
    html (for a text corpus, the generator's html wrapper around it)."""
    table = pq.read_table(os.path.join(inputs.dir, "pages"), columns=["html", "text"])
    htmls = table.column("html").to_pylist()
    if htmls[0] is None:
        texts = table.column("text").to_pylist()[:n]
        return texts, [corpus.wrap_html(t, "doc") for t in texts]
    from llm_aided_ocr_spark.kernels import extract_main_text

    # keep the sample to ordinary documents, so it does not depend on
    # where the seed placed the mega documents
    htmls = [h for h in htmls if len(h) < 200_000][:n]
    return [extract_main_text(h) for h in htmls], htmls


# -- Spark-side helpers -------------------------------------------------------


# span of the tracer's own reads of the status store: tracing overhead,
# not a layer
BOOKKEEPING = "trace.bookkeeping"


class Probe:
    """Job-group and SQL-metric bookkeeping around one traced step."""

    def __init__(self, spark, tracer: Tracer):
        self.spark, self.tracer = spark, tracer
        self.sql = sparkstats.SqlMetrics(spark)
        self._n = 0

    def run(self, name: str, fn):
        """Call ``fn`` in a span under a fresh job group; returns its
        result, the SQL metrics and executions it started and its job
        ids."""
        self._n += 1
        group = f"perfbench-{self._n}"
        sc = self.spark.sparkContext
        with self.tracer.span(BOOKKEEPING):
            sc.setJobGroup(group, group)
            self.sql.mark()
        try:
            with self.tracer.span(name):
                out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        with self.tracer.span(BOOKKEEPING):
            sql, executions = self.sql.collect()
            jobs = sparkstats.job_ids(self.spark, group)
        return out, sql, executions, jobs


def _route(src, source_col: str, mega_doc_chars: int):
    """The auto strategy's routing cache, materialised by the aggregate
    that counts its documents, and its split: returns the persisted
    relation (so it can be released), the documents up to
    ``mega_doc_chars`` and those above it (the fused and the staged
    branch, as ``run_pipeline`` splits them), the document count and the
    count of those the staged path takes."""
    from pyspark.sql import functions as F

    routed = src.select(
        "url", "warc_ts", "lang", source_col,
        F.length(source_col).cast("bigint").alias("_route_sz"),
    ).persist()
    row = routed.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("_route_sz") > mega_doc_chars, 1)).alias("staged"),
    ).first()
    size = F.col("_route_sz")
    small = routed.filter(size <= mega_doc_chars).drop("_route_sz")
    big = routed.filter(size > mega_doc_chars).drop("_route_sz")
    return routed, small, big, row["n"], row["staged"]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _whole_run(runner, probe: Probe, m: dict) -> float:
    """One traced ``run_pipeline`` action; sets the whole-plan metrics and
    returns its seconds (restore excluded)."""
    if runner.wl.before_action is not None:
        runner.wl.before_action(runner.ctx)
    (ops, failed), sql, _, jobs = probe.run(
        "pipeline.run", lambda: workloads.pipeline_action(runner.spark, runner.ctx)
    )
    runner.count(ops, failed)
    span = probe.tracer.last("pipeline.run")
    fused = sparkstats.python_node_sums(sql, "MapInArrow")
    tasks = sparkstats.task_durations(runner.spark, jobs)
    m.update({
        "pipeline.fused_python_boot_s": fused["boot_s"],
        "pipeline.fused_python_init_s": fused["init_s"],
        "pipeline.fused_python_run_s": fused["run_s"],
        "pipeline.fused_bytes_to_python": fused["bytes_to_python"],
        "pipeline.fused_bytes_from_python": fused["bytes_from_python"],
        "pipeline.exchange_bytes": sparkstats.metric_sum(sql, "shuffle bytes written"),
        "pipeline.task_p50_s": statistics.median(tasks) if tasks else 0.0,
        "pipeline.task_max_s": max(tasks, default=0.0),
        "pipeline.jobs": len(jobs),
        "sources.scan_s": sparkstats.metric_sum(sql, "scan time", "Scan parquet"),
        "sources.scan_mb": sparkstats.metric_sum(sql, "size of files read", "Scan parquet") / 1e6,
    })
    return span["end"] - span["start"]


def _is_commit(names: List[str]) -> bool:
    return any(n.startswith("Execute InsertInto") for n in names)


def _staged_stages(probe: Probe, m: dict, ext, cfg, store, write, materialise):
    """The staged path over the extracted mega documents ``ext``, one span
    per operator, with the checkpoint writes ``_staged_correct`` makes;
    returns the reassembled documents."""
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.assemble import assemble_documents
    from llm_aided_ocr_spark.operators.chunker import chunk_documents
    from llm_aided_ocr_spark.operators.correct import correct_chunks
    from llm_aided_ocr_spark.plans.pipeline import salted_repartition

    (chunks, m["chunker.chunks_out"]), _, _, _ = probe.run(
        "chunker",
        lambda: materialise(salted_repartition(
            chunk_documents(ext, chunk_size=cfg.chunk_size_chars,
                            overlap_words=cfg.overlap_words),
            cfg, "chunk_ix",
        )),
    )
    if store is not None:
        chunks = write(chunks, "chunks", "chunk", False)
    (corr, _), py, _, _ = probe.run("correct", lambda: materialise(correct_chunks(chunks)))
    m["correct.python_run_s"] = sparkstats.python_node_sums(py)["run_s"]
    if store is not None:
        corr = write(corr, "corrected_chunks", "corrected", False)
    raw = ext.select("url", F.col("extracted_text").alias("raw_text"))
    (assembled, _), sql, _, _ = probe.run(
        "assemble",
        lambda: materialise(
            assemble_documents(corr).join(raw, on="url", how="inner")
            .select("url", "raw_text", "corrected_text", "n_chunks")
        ),
    )
    m["assemble.exchange_bytes"] = sparkstats.metric_sum(sql, "shuffle bytes written")
    return assembled


def _stage_by_stage(runner, probe: Probe, m: dict) -> None:
    from pyspark.sql import functions as F

    from llm_aided_ocr_spark.operators.extract import extract_text
    from llm_aided_ocr_spark.operators.filters import hallucination_filter
    from llm_aided_ocr_spark.operators.util import release_pinned
    from llm_aided_ocr_spark.plans.pipeline import run_pipeline

    spark, ctx, tracer = runner.spark, runner.ctx, probe.tracer
    use_html = ctx["use_html"]
    cfg = workloads.pipeline_cfg(ctx)
    store = None
    if ctx.get("warehouse") is not None:
        runner.wl.before_action(ctx)
        store = workloads.store(ctx, "traced")
        wh_before = _dir_bytes(ctx["warehouse"])
    held = []

    def materialise(df):
        """``df`` persisted (and released after the run) and computed;
        returns it and its row count."""
        df = df.persist()
        held.append(df)
        return df, df.count()

    def write(df, name, col, committed):
        out, _, executions, jobs = probe.run(
            f"checkpoint.write.{name}",
            lambda: store.write(df, name, counted_col=col, return_committed=committed),
        )
        held.append(out)
        span = tracer.last(f"checkpoint.write.{name}")
        m[f"checkpoint.write_s.{name}"] = span["end"] - span["start"]
        m["checkpoint.jobs_per_commit"] = max(m["checkpoint.jobs_per_commit"], len(jobs))
        # the lineage counters come from a second pass over the increment
        m["checkpoint.counter_pass_s"] += sum(s for s, names in executions if not _is_commit(names))
        return out

    with tracer.span("pipeline.stages") as root:
        with tracer.span("sources.read"):
            src = workloads.pages(spark, ctx)
        if store is not None:
            (src, _), _, _, _ = probe.run(
                "checkpoint.remaining",
                lambda: materialise(store.remaining(src, "corrected_docs", key="url")),
            )
        (routed, small, big, n_docs, staged), _, _, _ = probe.run(
            "pipeline.route_cache",
            lambda: _route(src, "html" if use_html else "text", ctx["mega_doc_chars"]),
        )
        held.append(routed)
        m["pipeline.staged_docs"] = staged
        m["pipeline.fused_docs"] = n_docs - staged
        # the staged spans run only when the staged branch has documents;
        # on a corpus without mega documents they would time empty jobs
        branches = [small, big] if staged else [small]
        if use_html:
            exts, py, _, _ = probe.run(
                "extract",
                lambda: [materialise(extract_text(b, use_html=True))[0] for b in branches],
            )
            m["extract.python_run_s"] = sparkstats.python_node_sums(py)["run_s"]
        else:
            # without html, extraction is a column rename that the next
            # stage's plan absorbs
            exts = [extract_text(b, use_html=False) for b in branches]

        def fused_pass():
            # fed the extracted text back as a ``text`` column: with
            # use_html=False the pipeline's extraction is that rename
            text_in = exts[0].select(
                "url", "warc_ts", "lang", F.col("extracted_text").alias("text")
            )
            cfg_plain = workloads.pipeline_cfg(dict(ctx, warehouse=None))
            return materialise(run_pipeline(text_in, cfg_plain, strategy="fused"))

        (docs, _), _, _, _ = probe.run("pipeline.fused", fused_pass)
        if staged:
            docs = docs.unionByName(_staged_stages(probe, m, exts[1], cfg, store, write, materialise))
        if use_html:
            # F3 costs ~1000x the correction kernel per byte: filter a
            # fixed, seed-independent share of the ordinary documents
            def filter_sample():
                sample = docs.filter(
                    (F.length("raw_text") < 20_000) & (F.abs(F.xxhash64("url")) % 24 == 0)
                )
                return materialise(hallucination_filter(sample))

            (kept, _), py, _, _ = probe.run("filters.hallucination", filter_sample)
            m["filters.python_run_s"] = sparkstats.python_node_sums(py)["run_s"]
            row = kept.agg(F.sum("n_sentences").alias("s"), F.sum("n_kept").alias("k")).first()
            m["filters.sentences"] = row["s"] or 0
            m["filters.kept_ratio"] = (row["k"] or 0) / max(1, row["s"] or 0)
        if store is not None:
            docs = write(docs, "corrected_docs", "corrected_text", True)
            m["checkpoint.bytes_written"] = _dir_bytes(ctx["warehouse"]) - wh_before
    digest = workloads.spark_digest(docs)
    for df in held:
        release_pinned(df)
        df.unpersist()
    runner.count(1, workloads.check_digest(ctx, digest, "stage-by-stage"))

    for name, key in (("extract", "extract.self_s"), ("pipeline.fused", "pipeline.fused_self_s"),
                      ("chunker", "chunker.self_s"), ("correct", "correct.self_s"),
                      ("assemble", "assemble.self_s"),
                      ("filters.hallucination", "filters.hallucination_self_s"),
                      ("checkpoint.remaining", "checkpoint.remaining_s"),
                      ("pipeline.route_cache", "pipeline.route_cache_s")):
        m[key] = tracer.self_of(name)
    wall = root.span["end"] - root.span["start"]
    m["trace.stages_wall_s"] = wall
    layers = [s for s in tracer.children(root.span) if s["name"] != BOOKKEEPING]
    bookkeeping = sum(s["end"] - s["start"] for s in tracer.children(root.span)
                      if s["name"] == BOOKKEEPING)
    # the share of the stages' wall time, net of the tracer's own reads,
    # that the layer spans account for
    m["trace.coverage"] = sum(tracer.self_time(s) for s in layers) / (wall - bookkeeping)


def _traced_sweep(runner, probe: Probe, inputs, m: dict) -> None:
    spark, tracer = runner.spark, probe.tracer
    runner.count(*workloads.sweep(spark, inputs, lambda *a: None))  # warm-up
    totals = {"exchange": 0.0, "py": 0.0, "codegen": 0.0, "spill": 0.0, "left": 0}
    times = []

    def per_query(name, t0, t1, rows, left):
        tracer.add(f"query.{name}", t0, t1)
        sql, _ = probe.sql.collect()
        times.append(t1 - t0)
        totals["exchange"] += sparkstats.metric_sum(sql, "shuffle bytes written")
        totals["py"] += sparkstats.python_node_sums(sql)["run_s"]
        totals["codegen"] += sparkstats.metric_sum(sql, "duration", "WholeStageCodegen")
        totals["spill"] += sparkstats.metric_sum(sql, "spill size")
        totals["left"] += left

    (ops, failed), _, _, jobs = probe.run(
        "sweep", lambda: workloads.sweep(spark, inputs, per_query)
    )
    runner.count(ops, failed)
    times.sort()
    m.update({
        "sweep.query_p50_s": statistics.median(times),
        "sweep.query_p90_s": times[min(len(times) - 1, int(0.9 * len(times)))],
        "sweep.exchange_bytes": totals["exchange"],
        "sweep.python_run_s": totals["py"],
        "sweep.codegen_s": totals["codegen"],
        "sweep.spill_bytes": totals["spill"],
        "sweep.jobs": len(jobs),
        "util.pinned_rdds_left": totals["left"],
    })


def scaling(args, docs_per_s_all: float) -> Dict[str, float]:
    """``scaling.eff``: the ``docs_per_s`` of this run's untraced actions
    on all the cores (4 here) over twice that of a fresh child run pinned
    to half of them (2 here), checked against the same reference digest.
    Both sides are the first actions after a set-up on the same corpus;
    a second child for the full side would start another JVM and push the
    traced run past its time limit."""
    from run import log

    half = len(os.sched_getaffinity(0)) // 2
    cmd = [
        "taskset", "-c", f"0-{half - 1}", sys.executable,
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        # a zero window: the three actions every run makes
        "--seconds", "0", "--trace", "0",
        "--size", args.size,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=170)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"scaling child at {half} cores failed:\n{proc.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise RuntimeError(f"scaling child at {half} cores produced a wrong digest")
    docs_per_s_half = res["metrics"]["docs_per_s"]["value"]
    log(f"scaling child at {half} cores: {docs_per_s_half:.1f} docs/s")
    return {
        "scaling.docs_per_s_2": docs_per_s_half,
        "scaling.docs_per_s_4": docs_per_s_all,
        "scaling.eff": docs_per_s_all / (2 * docs_per_s_half),
    }


def per_layer(runner, args, work: str, names) -> dict:
    from run import host_record, log

    m = {k: 0.0 for k in names}
    runner.setup()
    spark = runner.spark
    print(json.dumps({"host": host_record(spark, runner.cores)}), flush=True)
    tracer = Tracer(f"{args.workload}-s{args.seed}-{int(time.time())}")
    probe = Probe(spark, tracer)
    gc0 = sparkstats.jvm_gc_seconds(spark)
    # untraced (U) and traced (T) actions in the order U T T U: actions
    # speed up while the JIT warms and the host's speed drifts, and this
    # order puts both kinds at the same mean position. The whole-plan
    # metrics are those of the last traced action.
    untraced, traced = [], []
    with sparkstats.PeakRss(sparkstats.jvm_pid(spark)) as rss:
        for traced_first in (False, True):
            if traced_first:
                traced.append(_whole_run(runner, probe, m))
            untraced.append(runner.action())
            if not traced_first:
                traced.append(_whole_run(runner, probe, m))
    m["memory.peak_rss_mb"] = rss.peak
    m["trace.untraced_wall_s"] = statistics.median(untraced)
    m["trace.traced_wall_s"] = statistics.median(traced)
    m["trace.overhead_s"] = m["trace.traced_wall_s"] - m["trace.untraced_wall_s"]
    _stage_by_stage(runner, probe, m)
    if args.workload == "html_skew_resume":
        sweep_inputs = workloads.load_inputs("sweep", args.seed, args.size, work)
        _traced_sweep(runner, probe, sweep_inputs, m)
    m["jvm.gc_s"] = sparkstats.jvm_gc_seconds(spark) - gc0
    runner.stop()
    log("traced phases done")
    m.update(kernel_rates(*kernel_sample(runner.inputs)))
    if args.workload == "ocr_text":
        m.update(scaling(args, runner.inputs.n_docs / m["trace.untraced_wall_s"]))
    tracer.dump(os.path.join(work, "traces", f"{tracer.run_id}.json"))
    log(f"trace {tracer.run_id}: {len(tracer.spans)} spans, "
        f"coverage {m['trace.coverage']:.3f}, overhead {m['trace.overhead_s']:.3f}s")
    return m
