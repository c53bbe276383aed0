#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One driver process runs the workload's
pipeline at ``local[<nproc>]``, one action at a time (closed loop), and
prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The line before it is
the host record (cores, master, ``spark.local.dir`` and its file system,
pyspark / pyarrow / JDK versions, git SHA).

* ``--trace 0``: the end-to-end metrics of ``BENCHMARK.json``.
  ``setup_s`` is one set-up: a JVM and session start, the workload's
  own warm-up (``html_skew_resume``: building the checkpoint snapshot it
  resumes from) and a few untimed actions (4 for ``ocr_text``, 2 for
  ``html_skew_resume``), until action times level off. Then actions run back to back for
  ``--seconds`` (at least three); each builds a fresh plan, ends in a digest of its output
  that is checked against the reference, and releases its caches. ``wall_s`` is the median action time,
  ``docs_per_s`` and ``mb_per_s`` divide the documents and input MB of
  one action by it. ``failed / attempted`` is the error rate.
* ``--trace 1``: the per-layer metrics of ``BENCHMARK.json`` (see
  ``layers.py``); those a workload does not exercise read 0.

Inputs, reference digests, Spark scratch space and traces live under
``.perfbench/`` in the checkout. Workloads: ``ocr_text`` and
``html_skew_resume`` (see ``workloads.py``). ``selftest.py`` runs every
workload at its smallest size and checks that a corrupted output is
caught.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def metric_units(kind: str) -> dict:
    """``{name: unit}`` of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# The driver heap. The package defaults to 8g for its 32-core bench host;
# the largest input here (html_skew_resume: 7.3 MB of html in ~900
# pages, two of them ~1.6 MB mega documents) runs in far less, and a smaller
# ceiling keeps the JVM's resident size, and so ``memory.peak_rss_mb``,
# from growing with garbage the collector has no reason to reclaim.
DRIVER_MEM = "2g"


def configure_env(work: str) -> None:
    """Keep every file Spark and its workers write inside ``work``; must
    run before the JVM starts."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(cores: int):
    from llm_aided_ocr_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _fs_type(path: str) -> str:
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts", encoding="ascii", errors="replace") as f:
            for line in f:
                parts = line.split()
                if len(parts) > 2 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, fstype = parts[1], parts[2]
    except OSError:
        pass
    return fstype


def _git_sha():
    """HEAD's commit when the checkout is a git work tree, else None."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="ascii") as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(git, ref[5:]), encoding="ascii") as f:
            return f.read().strip()
    except OSError:
        return None


def host_record(spark, cores: int) -> dict:
    import pyarrow
    import pyspark

    local_dir = spark.sparkContext.getConf().get("spark.local.dir", "")
    return {
        "nproc": os.cpu_count(),
        "pinned_cores": sorted(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "cores": cores,
        "spark.local.dir": local_dir,
        "spark.local.dir_fs": _fs_type(os.path.realpath(local_dir)) if local_dir else None,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "jdk": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_sha": _git_sha(),
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


class Runner:
    """Holds the session and the action bookkeeping of one benchmark run."""

    def __init__(self, wl, inputs, cores: int):
        self.wl, self.inputs, self.cores = wl, inputs, cores
        self.ctx = dict(wl.ctx, inputs=inputs)
        if wl.before_action is not None:
            self.ctx["warehouse"] = os.path.join(WORK, "warehouse")
            self.ctx["snapshot"] = os.path.join(WORK, "warehouse_snapshot")
        self.spark = None
        self.attempted = self.failed = 0

    def start(self) -> None:
        self.spark = start_session(self.cores)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def count(self, ops: int, failed: int) -> None:
        self.attempted += ops
        self.failed += failed

    def action(self) -> float:
        """One checked action; returns its seconds (restore excluded)."""
        import workloads

        if self.wl.before_action is not None:
            self.wl.before_action(self.ctx)
        t0 = time.perf_counter()
        self.count(*workloads.pipeline_action(self.spark, self.ctx))
        return time.perf_counter() - t0

    def setup(self) -> float:
        """JVM and session start, the workload's own warm-up when it has
        one, and its untimed warm-up actions; returns its seconds."""
        t0 = time.perf_counter()
        self.start()
        if self.wl.warm_up is not None:
            self.wl.warm_up(self.spark, self.ctx)
        for _ in range(self.wl.warm_actions):
            self.action()
        return time.perf_counter() - t0


def stop_jvm() -> None:
    """End the JVM the session ran in and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def cpu_jiffies():
    """``(steal, total)`` clock ticks of all CPUs since boot, from the
    ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def end_to_end(runner: Runner, seconds: float) -> dict:
    setup_s = runner.setup()
    print(json.dumps({"host": host_record(runner.spark, runner.cores)}), flush=True)
    times, t_end = [], time.perf_counter() + seconds
    # the share of all CPU time the hypervisor gave to other guests while
    # each action ran, logged to tell a slow host from a slow action
    steal = []
    # at least three actions; after that, an action starts only if it
    # would end about within the window, so a run lasts ~``seconds``
    while len(times) < 3 or time.perf_counter() + statistics.median(times) / 2 < t_end:
        s0, n0 = cpu_jiffies()
        times.append(runner.action())
        s1, n1 = cpu_jiffies()
        steal.append((s1 - s0) / max(1, n1 - n0))
    wall = statistics.median(times)
    log(f"setup {setup_s:.3f} actions {[round(t, 3) for t in times]} "
        f"steal {[round(x, 3) for x in steal]}")
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "docs_per_s": runner.inputs.n_docs / wall,
        "mb_per_s": runner.inputs.input_mb / wall,
    }


def first_url(inputs) -> str:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(inputs.dir, "pages"), columns=["url"]).column(0)[0].as_py()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", choices=("full", "small"))
    p.add_argument("--corrupt", action="store_true",
                   help="corrupt one output row (self-test of the digest check)")
    args = p.parse_args(argv)

    kind = "per_layer" if args.trace else "end_to_end"
    units = metric_units(kind)
    configure_env(WORK)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    wl = workloads.make(args.workload, args.size)
    t0 = time.perf_counter()
    inputs = workloads.load_inputs(args.workload, args.seed, args.size, WORK)
    log(f"inputs {inputs.dir} in {time.perf_counter() - t0:.2f}s")
    runner = Runner(wl, inputs, len(os.sched_getaffinity(0)))
    if args.corrupt:
        runner.ctx["corrupt"] = first_url(inputs)
    try:
        if args.trace:
            import layers

            metrics = layers.per_layer(runner, args, WORK, set(units))
        else:
            metrics = end_to_end(runner, args.seconds)
    finally:
        runner.stop()
        stop_jvm()
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} missing or extra")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
