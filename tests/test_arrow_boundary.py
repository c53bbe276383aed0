"""The package's one Python boundary: ``operators.util.map_arrow``.

Every Python pass in ``llm_aided_ocr_spark/`` and ``__spark_entry__.py``
crosses into Python through ``map_arrow`` (or its grouped form
``apply_arrow``); ``streaming.ingest``'s stateful dedup is the one pandas
survivor. These tests pin the boundary's column conversion, the
session-zone independence of timestamp outputs, and the worker import
footprint of the operator package."""

from __future__ import annotations

import datetime as dt
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_synthetic_warc_ts_is_utc_under_any_session_zone(spark):
    """``pages_dataframe_distributed`` stamps ``_EPOCH`` (UTC) + 37 s per
    id, whatever the session zone — the pandas form read the naive epoch
    as session-local time."""
    from llm_aided_ocr_spark.sources.synthetic import (
        _EPOCH,
        pages_dataframe_distributed,
    )

    base = int(_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    want = [(i, base + 37 * i * 1_000_000) for i in range(6)]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Australia/Lord_Howe"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            df = pages_dataframe_distributed(spark, 6, num_partitions=2)
            got = df.select(
                F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long"),
                F.unix_micros("warc_ts"),
            ).collect()
            assert sorted(map(tuple, got)) == want, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


_TYPES = {
    "string": T.StringType(), "int": T.IntegerType(), "bigint": T.LongType(),
    "double": T.DoubleType(), "timestamp": T.TimestampType(),
    "array<bigint>": T.ArrayType(T.LongType()),
    "array<double>": T.ArrayType(T.DoubleType()),
    "array<string>": T.ArrayType(T.StringType()),
}


def _struct(ddl: str) -> T.StructType:
    """A flat DDL schema as a ``StructType`` — built in Python, because
    ``StructType.fromDDL`` needs a running JVM."""
    return T.StructType([
        T.StructField(name, _TYPES[typ])
        for name, typ in (f.split() for f in ddl.split(", "))
    ])


def _pass(ddl_in, fn, schema, keep=()):
    """``map_arrow``'s batch function over an input of DDL ``ddl_in``,
    without a Spark session (the pass only reads ``df.schema``)."""
    from types import SimpleNamespace

    from llm_aided_ocr_spark.operators.util import _arrow_pass

    df = SimpleNamespace(schema=_struct(ddl_in))
    return _arrow_pass(df, fn, _struct(schema), keep)[0]


def _in_buffer(view, arr) -> bool:
    """True iff ``view``'s data lies inside ``arr``'s values buffer."""
    buf = arr.values.buffers()[1]
    start = view.__array_interface__["data"][0]
    return buf.address <= start and start + view.nbytes <= buf.address + buf.size


def test_numeric_list_columns_reach_fn_as_buffer_views():
    ints = pa.array([[1, 2, 3], None, [], [-(2**62)]], pa.list_(pa.int64()))
    dbls = pa.array([[0.5], [], None, [1.0, float("nan")]], pa.list_(pa.float64()))
    words = pa.array([["x", None], None, [], ["y"]], pa.list_(pa.string()))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "b", "c", "d"]), ints.slice(0), dbls, words],
        names=["s", "i", "d", "w"],
    )
    seen = {}

    def fn(s, i, d, w):
        seen.update(s=s, i=i, d=d, w=w)
        return ([len(x) if x is not None else None for x in i],)

    out = _pass(
        "s string, i array<bigint>, d array<double>, w array<string>", fn, "n int"
    )(batch)
    assert seen["s"] == ["a", "b", "c", "d"]
    # an array of strings arrives as Python lists, equal to to_pylist's
    assert seen["w"] == words.to_pylist()
    assert [type(r) for r in seen["w"]] == [list, type(None), list, list]
    for col, arr, nulls, dtype in (
        ("i", ints, {1}, np.int64), ("d", dbls, {2}, np.float64)
    ):
        rows = seen[col]
        assert [r is None for r in rows] == [k in nulls for k in range(4)]
        for r, want in zip(rows, arr.to_pylist()):
            if r is None:
                continue
            assert type(r) is np.ndarray and r.dtype == dtype
            assert not r.flags.writeable  # a view, not a copy
            if len(r):
                assert _in_buffer(r, arr)
            np.testing.assert_array_equal(r, np.asarray(want, dtype=dtype))
    assert out.column("n").to_pylist() == [3, None, 0, 1]


def test_numeric_views_follow_a_sliced_batch():
    arr = pa.array([[1], [2, 3], None, [4, 5, 6]], pa.list_(pa.int64()))
    batch = pa.RecordBatch.from_arrays([arr], names=["i"]).slice(1, 3)
    got = []
    _pass("i array<bigint>", lambda i: (got.extend(i) or [0] * len(i),), "z int")(
        batch
    )
    assert [None if r is None else r.tolist() for r in got] == [
        [2, 3], None, [4, 5, 6]
    ]


def test_outputs_take_the_schema_types():
    plus11 = dt.timezone(dt.timedelta(hours=11))
    batch = pa.RecordBatch.from_arrays(
        [pa.array([1, 2, 3], pa.int64()), pa.array([[1.0], [2.0], [3.0]])],
        names=["id", "v"],
    )

    def fn(v):
        return (
            v,  # a column read AND returned: the sketch passes' shape
            [np.arange(3, dtype=np.int64), np.array([], np.int64), None],
            [float("nan"), 1.5, None],
            [dt.datetime(2024, 1, 1), None, dt.datetime(2024, 1, 1, 11)],
            [dt.datetime(2024, 1, 1, 11, tzinfo=plus11), None,
             dt.datetime(2024, 1, 1, 11, tzinfo=dt.timezone.utc)],
        )

    out = _pass(
        "id bigint, v array<double>", fn,
        "id bigint, v array<double>, g array<bigint>, f double, ts timestamp, "
        "aware timestamp",
        keep=("id",),
    )(batch)
    kept, given = out.column("id"), batch.column("id")
    assert kept.buffers()[1].address == given.buffers()[1].address  # zero-copy
    assert out.column("v").to_pylist() == [[1.0], [2.0], [3.0]]
    assert out.column("g").type == pa.list_(pa.int64())
    assert out.column("g").to_pylist() == [[0, 1, 2], [], None]
    # a NaN float output is NULL, as mapInPandas made it
    assert out.column("f").to_pylist() == [None, 1.5, None]
    # a naive datetime is read as UTC
    assert out.column("ts").to_pylist() == [
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), None,
        dt.datetime(2024, 1, 1, 11, tzinfo=dt.timezone.utc),
    ]
    # an aware datetime is written as the instant it names: 11:00 at
    # +11:00 is 00:00 UTC
    assert out.column("aware").to_pylist() == [
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), None,
        dt.datetime(2024, 1, 1, 11, tzinfo=dt.timezone.utc),
    ]


def test_timestamp_inputs_arrive_utc_aware():
    utc = dt.datetime(2024, 4, 6, 14, 40, tzinfo=dt.timezone.utc)
    batch = pa.RecordBatch.from_arrays(
        [pa.array([utc, None], pa.timestamp("us", tz="UTC"))], names=["ts"]
    )
    seen = []
    _pass("ts timestamp", lambda ts: (seen.extend(ts) or [1, 1],), "z int")(batch)
    assert seen == [utc, None] and seen[0].utcoffset() == dt.timedelta(0)


def test_grouped_pass_returns_any_number_of_rows(spark):
    from llm_aided_ocr_spark.operators.util import apply_arrow

    df = spark.createDataFrame(
        [("a", 2, [1, 2]), ("a", 1, [3]), ("b", 5, [])],
        "k string, x int, v array<bigint>",
    )

    def fn(ks, xs, vs):
        assert all(type(v) is np.ndarray for v in vs)
        return [ks[0]], [sum(xs)], [int(sum(v.sum() for v in vs))]

    got = apply_arrow(df, ["k"], fn, "k string, sx int, sv bigint").collect()
    assert sorted(map(tuple, got)) == [("a", 3, 6), ("b", 5, 0)]


def test_operator_modules_import_lazily():
    """A worker that unpickles an extraction, correction or kernel pass
    imports neither pandas nor the other operator modules."""
    code = (
        "import sys\n"
        "import llm_aided_ocr_spark.operators.util\n"
        "import llm_aided_ocr_spark.operators.extract\n"
        "import llm_aided_ocr_spark.operators.correct\n"
        "import llm_aided_ocr_spark.kernels\n"
        "print('pandas' in sys.modules,"
        " 'llm_aided_ocr_spark.operators.dedup' in sys.modules)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out == ["False", "False"]


PANDAS_BOUNDARY = re.compile(
    r"\.(mapInPandas|applyInPandas|applyInPandasWithState)\(|pandas_udf"
    r"|^\s*(import pandas|from pandas)",
    re.M,
)
PANDAS_ALLOWED = {
    # pyspark has no Arrow form of applyInPandasWithState
    ("llm_aided_ocr_spark/streaming/ingest.py", "import pandas"),
    ("llm_aided_ocr_spark/streaming/ingest.py", ".applyInPandasWithState("),
}


def test_no_pandas_boundary_outside_streaming_dedup():
    found = set()
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "llm_aided_ocr_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    for path in paths:
        src = open(path, encoding="utf-8").read()
        rel = os.path.relpath(path, REPO)
        found |= {(rel, m.group(0).strip()) for m in PANDAS_BOUNDARY.finditer(src)}
    assert len(paths) > 50
    assert found == PANDAS_ALLOWED
