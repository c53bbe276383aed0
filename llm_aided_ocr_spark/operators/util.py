"""Small shared operator utilities."""

from __future__ import annotations

import itertools
import os
import threading

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def let_(expr: Column, fn) -> Column:
    """Bind ``expr`` to a lambda variable so ``fn`` can reference it many
    times with ONE evaluation (transform over a 1-element array; lambda
    variables are evaluated once per element, and unlike a projected alias
    the binding cannot be inlined-per-reference by CollapseProject)."""
    return F.get(F.transform(F.array(expr), fn), 0)


def md5_52(s: Column) -> Column:
    """The first 13 hex digits of ``md5(s)`` as a non-negative 52-bit
    BIGINT — the engine-portable hash: any engine with md5 and hex
    parsing reproduces it (the driver's DuckDB oracles do), and 52 bits
    leave headroom for shifts inside a signed 64-bit value."""
    return F.conv(F.substring(F.md5(s), 1, 13), 16, 10).cast("bigint")


_BYTE_SUFFIX = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def _parse_bytes(v: str) -> int:
    """Spark size-conf parser ("134217728", "128MB", "1g", ...)."""
    s = str(v).strip().lower()
    i = len(s)
    while i > 0 and not s[i - 1].isdigit():
        i -= 1
    num, suffix = s[:i], s[i:].strip()
    return int(num) * _BYTE_SUFFIX.get(suffix, 1)


def _logical_plan_node_names(df: DataFrame) -> set:
    """Class simple-names of every node in the analyzed logical plan,
    walked structurally through py4j (TreeNode.children()). Private Spark
    API — deliberately NOT wrapped in try/except here so the compat test
    (tests/test_review_fixes.py::test_plan_node_walk_compat) breaks loudly
    when a Spark upgrade changes the layout; the production caller
    (ensure_min_parallelism) adds its own failure-safe wrapper."""
    names = set()
    stack = [df._jdf.queryExecution().logical()]
    while stack:
        node = stack.pop()
        names.add(node.getClass().getSimpleName())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return names


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than half of ``defaultParallelism`` — the same gate the pipeline's
    salted document spread applies.

    Compute-heavy per-document operators (hashing, winnowing, signatures)
    are scan-parallel at corpus scale — a 100 TB table has millions of
    splits and this is a no-op. On a small table (one parquet row-group =
    one task) the same operator would run serially on one core; spreading
    a few megabytes is free and restores the parallelism the operator
    would have on a real input. The condition keeps the big-input path
    shuffle-free.

    The gate is estimated WITHOUT ``df.rdd`` (which forces a
    plan-to-RDD conversion per call): for file-backed plans, scan
    partitions are estimated from ``df.inputFiles()`` + local file sizes
    against ``spark.sql.files.maxPartitionBytes`` (Spark packs splits to
    that size); non-file and non-local sources skip the repartition —
    at scale they are many-partition anyway, and guessing wrong merely
    costs parallelism on a toy input, never a shuffle on a big one.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if scan_partitions_below(df, max(1, target // 2)):
        return df.repartition(target)
    return df


def scan_partitions_below(df: DataFrame, threshold: int) -> bool:
    """True iff ``df`` is a plain local-file-backed plan whose scan would
    run on FEWER than ``threshold`` partitions — the shared gate behind
    :func:`ensure_min_parallelism` and the pipeline's scale-adaptive
    salted spread. Conservative on every uncertainty (shuffle-bearing
    plan, non-file or remote source, stat failure): returns False, i.e.
    "leave the partitioning alone" — guessing wrong merely costs
    parallelism on a toy input, never a shuffle on a big one. A streaming
    frame is partitioned per micro-batch: False."""
    if df.isStreaming:
        return False
    spark = df.sparkSession
    try:
        # If the plan already contains a partitioning-defining operator
        # (an explicit repartition, or a shuffle-inducing window/agg/join/
        # sort/distinct), its output width is spark.sql.shuffle.partitions
        # or the caller's choice — adding a RoundRobin on top would either
        # stack a redundant full exchange or silently override an explicit
        # repartition(N). The file-size estimate below only judges plain
        # scans. Matched STRUCTURALLY on plan-node class names (a
        # substring scan of the plan string can false-positive on column
        # names / string literals like "Join"); the private-API walk is
        # version-pinned by test_plan_node_walk_compat so a Spark upgrade
        # fails CI loudly instead of silently disabling this gate.
        names = _logical_plan_node_names(df)
        if names & {
            "Repartition", "RepartitionByExpression", "RebalancePartitions",
            "Window", "Aggregate", "Join", "Sort", "Deduplicate",
        }:
            return False
        files = df.inputFiles()
    except Exception:
        return False
    if not files:  # in-memory relation: createDataFrame already slices
        return False
    max_split_conf = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _parse_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    sizes = []
    for uri in files:
        if uri.startswith("file:"):
            path = uri[5:]
            while path.startswith("//"):
                path = path[1:]
        elif uri.startswith("/"):
            path = uri
        else:  # remote FS — stat is an RPC per file; assume big input
            return False
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return False
    # Replay Spark's actual FilePartition packing (FilePartition.scala):
    # maxSplitBytes = min(maxPartitionBytes, max(openCost, total/parallelism));
    # files split into <= maxSplitBytes chunks, chunks sorted descending,
    # greedily closed when currentSize + chunk > maxSplitBytes, and every
    # chunk pads currentSize by openCost. A closed-form ceil(total/max)
    # over-counts the openCost remainder (one small file would estimate 2
    # vs Spark's actual 1 and the gate would skip the repartition it
    # exists to apply).
    parallelism = spark.sparkContext.defaultParallelism
    total_cost = sum(sizes) + open_cost * len(sizes)
    max_split = min(
        max_split_conf, max(open_cost, -(-total_cost // max(1, parallelism)))
    )
    chunks: list = []
    for size in sizes:
        while size > max_split:
            chunks.append(max_split)
            size -= max_split
        if size > 0:
            chunks.append(size)
        else:
            chunks.append(0)  # empty file still occupies a slot
    chunks.sort(reverse=True)
    est, current = 0, None
    for c in chunks:
        if current is None or current + c > max_split:
            est += 1
            current = 0
        current += c + open_cost
        if est >= threshold:
            return False
    return True


def corpus_scaled(derived: DataFrame) -> DataFrame:
    """Mark a derived relation whose row count scales WITH the corpus
    (one row per document — keep-positions, dup-positions, per-doc
    scores) so that joining it back to the corpus never picks a
    broadcast: a ``shuffle_hash`` strategy hint pins the join to a
    ShuffledHashJoin with this side as the build side.

    Why this exists: Spark's size estimate for an aggregate output (and
    AQE's compressed-shuffle-bytes measure) can land such a relation
    under ``autoBroadcastJoinThreshold`` at test scale, and a broadcast
    of an O(corpus) relation is (a) measured 2.6x SLOWER here even at
    320k docs (41.4s -> 16.1s on the stress corpus — single-threaded
    driver collect + hash-table build on the critical path) and (b) a
    guaranteed driver OOM at 10^12 rows, where "one small array per
    document" is still petabyte-adjacent. The hint trades one narrow
    ``(id, array<int>)`` exchange — rows the plan already shuffled once
    to group — for removing the driver from the data path entirely.

    NOT for genuinely bounded relations (keep-lists of dropped ids,
    dimension tables, frequency caps): those stay broadcast-eligible on
    purpose."""
    return derived.hint("shuffle_hash")


def skip_unchanged_zip_refreshes() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed, for the rest of this process.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task. Before Python 3.13 that makes each ``zipimporter`` in
    ``sys.path_importer_cache`` re-read its archive's whole central
    directory: pyspark.zip, the Spark jar, and the package zip under
    ``--py-files`` — 0.3–0.5 s per task on a 4-vCPU host. The guard keeps
    the ``(st_ino, st_size, st_mtime_ns)`` stamp of the archive on each
    importer and calls the original method when the stamp is new or
    ``os.stat`` fails, so a rewritten or deleted archive is handled
    exactly as before. The stamp is taken before the re-read it guards: a
    write racing that re-read leaves a stale stamp, and the next call
    reads again. Idempotent; the first guarded call per importer reads."""
    import zipimport

    refresh = zipimport.zipimporter.invalidate_caches
    if refresh.__module__ == __name__:
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            self._archive_stamp = stamp
            refresh(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _list_rows(arr, values) -> list:
    """One slice of ``values`` (``arr``'s flattened values, converted
    once) per row of the list array ``arr``; a null row is ``None``."""
    import numpy as np

    off = arr.offsets.to_numpy().tolist()
    rows = [values[a:b] for a, b in zip(off[:-1], off[1:])]
    if arr.null_count:
        for i in np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False)):
            rows[i] = None
    return rows


def _reader(dtype):
    """How ``map_arrow`` hands one input column of Spark type ``dtype`` to
    ``fn``, chosen once per column at plan time. An array of numbers: one
    read-only numpy view per row over the Arrow values buffer (a null
    element reads as NaN, as in pandas). An array of strings: one Python
    list per row, sliced from one conversion of the flat values —
    ``to_pylist`` builds a scalar per element, ~10x slower on word
    arrays. Everything else: ``to_pylist``."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        FloatType,
        IntegralType,
        StringType,
    )

    if isinstance(dtype, ArrayType):
        element = dtype.elementType
        if isinstance(element, (IntegralType, FloatType, DoubleType)):
            return lambda arr: _list_rows(
                arr, arr.values.to_numpy(zero_copy_only=False)
            )
        if isinstance(element, StringType):
            return lambda arr: _list_rows(
                arr, arr.values.to_numpy(zero_copy_only=False).tolist()
            )
    return lambda arr: arr.to_pylist()


def _arrow_pass(df: DataFrame, fn, schema: str, keep):
    """The batch function shared by :func:`map_arrow` and
    :func:`apply_arrow`: one input ``RecordBatch`` in, one output
    ``RecordBatch`` of ``schema`` (DDL or ``StructType``) out. Column
    readers and output types are fixed here, once, at plan time."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    keep = frozenset(keep)
    inputs = [
        (f.name, _reader(f.dataType)) for f in df.schema.fields
        if f.name not in keep
    ]
    # pyarrow writes an aware datetime's wall-clock time as UTC, dropping
    # its offset: fields of a zoned timestamp type take each aware value
    # as its instant in UTC
    zoned = frozenset(
        f.name for f in arrow_schema if getattr(f.type, "tz", None) is not None
    )

    def build(f, values):
        import pyarrow as pa

        if f.name in zoned:
            from datetime import timezone

            values = [
                v.astimezone(timezone.utc) if getattr(v, "tzinfo", None) else v
                for v in values
            ]
        return pa.array(values, f.type, from_pandas=True)

    def run(batch):
        import pyarrow as pa

        built = iter(fn(*(read(batch.column(c)) for c, read in inputs)))
        return pa.RecordBatch.from_arrays(
            [
                batch.column(f.name) if f.name in keep else build(f, next(built))
                for f in arrow_schema
            ],
            names=arrow_schema.names,
        )

    return run, arrow_schema


def map_arrow(df: DataFrame, fn, schema: str, keep=()) -> DataFrame:
    """``df.mapInArrow`` with the package's Arrow batch handling in one
    place — the one way a Python pass crosses the JVM boundary.

    ``fn`` is called once per non-empty batch with the batch's columns
    that are NOT in ``keep``, in ``df``'s column order, and returns one
    sequence per non-kept field of the DDL ``schema``, in schema order.
    A column whose Spark type is an array of numbers reaches ``fn`` as
    one read-only numpy view per row (``None`` for a null row); every
    other column as a Python list, of lists for an array of strings
    (``to_pylist`` values: a timestamp is a UTC-aware ``datetime``,
    binary is ``bytes``). Each ``keep`` column
    goes back as the input's own Arrow array, zero-copy, so it must
    already have the schema's type, and ``fn`` must then return one
    value per input row (a pass that expands rows keeps nothing).

    Every built array takes the schema field's Arrow type: a value of the
    wrong type fails here, at the boundary, instead of passing through
    pandas dtype inference. Rows may be numpy arrays or scalars. A NaN in
    a float field becomes NULL, as the pandas conversion made it. A timestamp
    field takes a naive ``datetime`` as UTC, whatever the session time
    zone, and an aware one as the instant it names.

    Each task first installs :func:`skip_unchanged_zip_refreshes` in its
    worker (a no-op after the worker's first task), so later tasks of that
    worker skip the per-task re-read of unchanged zip archives on
    ``sys.path``."""
    run, _ = _arrow_pass(df, fn, schema, keep)

    def _run(batches):
        skip_unchanged_zip_refreshes()
        for batch in batches:
            if batch.num_rows:
                yield run(batch)

    return df.mapInArrow(_run, schema=schema)


def apply_arrow(df: DataFrame, by, fn, schema: str) -> DataFrame:
    """``df.groupBy(*by).applyInArrow``: :func:`map_arrow`'s contract,
    with ``fn`` called once per group (every column of ``df``, the
    grouping columns included) and free to return any number of rows."""
    run, arrow_schema = _arrow_pass(df, fn, schema, ())

    def _run(table):
        import pyarrow as pa

        skip_unchanged_zip_refreshes()
        return pa.Table.from_batches(
            [run(b) for b in table.combine_chunks().to_batches()],
            schema=arrow_schema,
        )

    return df.groupBy(*by).applyInArrow(_run, schema=schema)


# -- cache lifetime ---------------------------------------------------------
#
# One owner: a cache an operator leaves behind for its result is created
# through persist() / local_checkpoint() below, which register it in a
# lock-guarded registry on the SparkContext. release_pinned() frees every
# registered cache after the caller's terminal action, whichever frame
# derived from the result it is called on; marks (cache_mark /
# release_between) free only what one dead sub-result registered. A
# persisted relation is held as its DataFrame (CacheManager keeps it alive
# until unpersisted anyway), a local checkpoint only as its RDD id, so
# ContextCleaner still frees a checkpoint that nobody releases once its
# plan is garbage-collected.

_CACHE_LOCK = threading.Lock()
_CACHE_SEQ = itertools.count(1)


def _registered(spark) -> dict:
    """The SparkContext's registry: registration number -> DataFrame
    (persisted) or int (local-checkpoint RDD id). Caller holds the lock."""
    sc = spark.sparkContext
    if not hasattr(sc, "_ocr_spark_caches"):
        sc._ocr_spark_caches = {}
    return sc._ocr_spark_caches


def _register(spark, handle) -> None:
    with _CACHE_LOCK:
        _registered(spark)[next(_CACHE_SEQ)] = handle


def persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)`` (the default is ``df.cache()``'s level),
    registered for :func:`release_pinned`."""
    out = df.persist(level)
    _register(df.sparkSession, out)
    return out


def _checkpoint_rdd(df: DataFrame):
    """The internal RDD behind a ``localCheckpoint`` relation (its
    ``LogicalRDD`` plan node; private API, pinned by test for this Spark
    version) or None on any layout change."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def local_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, registered for :func:`release_pinned`
    by RDD id. ``DataFrame.unpersist`` cannot free a checkpoint's blocks —
    they belong to the internal RDD. If the RDD cannot be reached the
    checkpoint is left to ContextCleaner GC: a bounded leak, never an
    error."""
    out = df.localCheckpoint(eager=eager)
    rdd = _checkpoint_rdd(out)
    if rdd is not None:
        _register(out.sparkSession, rdd.id())
    return out


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a dead ``local_checkpoint`` mid-operator (an iterative loop's
    previous round) and drop it from the registry."""
    rdd = _checkpoint_rdd(df)
    if rdd is None:
        return
    rid = rdd.id()
    with _CACHE_LOCK:
        reg = _registered(df.sparkSession)
        for k in [k for k, h in reg.items() if isinstance(h, int) and h == rid]:
            del reg[k]
    rdd.unpersist(False)


def cache_mark() -> int:
    """A position in the registry: caches registered after it compare
    greater. Pass two marks to :func:`release_between`."""
    return next(_CACHE_SEQ)


def release_between(spark, start: int, stop=None, blocking: bool = True) -> int:
    """Release the caches registered between marks ``start`` and ``stop``
    (None: up to now), newest first so a cache built on another is
    dropped before its input. Returns the number released."""
    with _CACHE_LOCK:
        reg = _registered(spark)
        keys = sorted(
            (k for k in reg if k > start and (stop is None or k < stop)),
            reverse=True,
        )
        handles = [reg.pop(k) for k in keys]
    live_rdds = None
    for h in handles:
        if isinstance(h, int):
            if live_rdds is None:
                live_rdds = spark.sparkContext._jsc.getPersistentRDDs()
            jrdd = live_rdds.get(h)
            if jrdd is not None:  # None: already freed by ContextCleaner
                jrdd.unpersist(blocking)
        else:
            h.unpersist(blocking=blocking)
    return len(handles)


def release_pinned(result: DataFrame, blocking: bool = True) -> int:
    """Free every cache registered on ``result``'s SparkContext and not yet
    released — both persisted relations and local checkpoints. Call it
    after the terminal action on ``result``: a relation derived from
    ``result`` (or any other result of the session) recomputes, and a
    local checkpoint is gone, after the release. Idempotent; returns the
    number of caches released.

    ``blocking`` defaults to True (round 6): an async unpersist lets
    block eviction run concurrently with whatever the session does next
    — in a many-query sweep that bleeds one query's cache cleanup into
    the next query's measured window; waiting costs the CALLER nothing
    measurable and keeps timings independent. Pass ``blocking=False``
    for fire-and-forget callers on a latency-sensitive path."""
    return release_between(result.sparkSession, 0, blocking=blocking)


def global_row_number(
    df: DataFrame, order_cols, rn_col: str = "_rn"
) -> tuple[DataFrame, int]:
    """Distributed 0-based global ``row_number`` over ``order_cols``
    with NO SinglePartition exchange (the scale-killer a bare
    ``Window.orderBy`` hides): range-partition on the full sort key,
    sort within partitions, stamp the within-partition row index from
    ``monotonically_increasing_id`` (consecutive per partition in row
    order by contract — the upper bits are the partition id, the lower
    33 the row index), then add broadcast per-partition cumulative
    offsets. Range boundaries guarantee partition ``i``'s keys all
    precede partition ``i+1``'s, so the output is IDENTICAL to a global
    window rank — but every stage is embarrassingly parallel, and the
    only driver action is the bounded per-partition count collect
    (≤ ``spark.sql.shuffle.partitions`` rows).

    ``order_cols`` must be a deterministic total order (pass tiebreak
    columns) or ranks within a tie are layout-dependent. Returns
    ``(ranked, total_rows)``; ``ranked`` reads a registered persisted
    relation (the range sampler must not run twice against a recomputed
    input) — release with :func:`release_pinned` after the terminal
    action."""
    spark = df.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    local = persist(
        df.repartitionByRange(num_partitions, *[c.asc() for c in cols])
        .sortWithinPartitions(*[c.asc() for c in cols])
        .withColumn("_grn_mid", F.monotonically_increasing_id())
        .withColumn("_grn_pid", F.shiftrightunsigned(F.col("_grn_mid"), 33))
        .withColumn(
            "_grn_lix", F.col("_grn_mid").bitwiseAND(F.lit((1 << 33) - 1))
        )
    )
    counts = sorted(
        (r["_grn_pid"], r["n"])
        for r in local.groupBy("_grn_pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    off_df = spark.createDataFrame(
        offsets or [(0, 0)], "_grn_pid bigint, _grn_off bigint"
    )
    ranked = (
        local.join(F.broadcast(off_df), "_grn_pid")
        .withColumn(
            rn_col, (F.col("_grn_off") + F.col("_grn_lix")).cast("bigint")
        )
        .drop("_grn_mid", "_grn_pid", "_grn_lix", "_grn_off")
    )
    return ranked, acc
