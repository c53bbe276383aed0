"""As-of join and sessionization semantics."""

from __future__ import annotations

import datetime as dt

from llm_aided_ocr_spark.operators.temporal import (
    as_of_join,
    session_stats,
    sessionize,
)


def _t(minute, second=0):
    return dt.datetime(2024, 1, 1, 12, minute, second)


def test_as_of_join_semantics(spark):
    left = spark.createDataFrame(
        [(1, "u", _t(0)), (2, "u", _t(10)), (3, "u", _t(20)), (4, "v", _t(5))],
        "id bigint, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", _t(10), 100.0), ("u", _t(15), 200.0), ("w", _t(0), 9.0)],
        "k string, ts timestamp, px double",
    )
    out = {
        r["id"]: r["asof_px"]
        for r in as_of_join(
            left, right, key="k", left_ts="ts", right_ts="ts", payload_cols=["px"]
        ).collect()
    }
    assert out[1] is None          # no right row at or before t0
    assert out[2] == 100.0         # inclusive: right at the same instant matches
    assert out[3] == 200.0         # latest prior wins
    assert out[4] is None          # key with no right rows at all


def test_sessionize_gap_splits(spark):
    rows = [
        ("u", _t(0)), ("u", _t(10)), ("u", _t(50)),   # 40min gap -> new session
        ("u", _t(55)), ("v", _t(0)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    tagged = {
        (r["user_id"], r["ts"].minute): r["session_ix"]
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert tagged[("u", 0)] == 0 and tagged[("u", 10)] == 0
    assert tagged[("u", 50)] == 1 and tagged[("u", 55)] == 1
    assert tagged[("v", 0)] == 0

    stats = {
        (r["user_id"], r["session_ix"]): r["n_events"]
        for r in session_stats(
            df.withColumn("value", df.ts.cast("double") * 0 + 1.0),
            gap_seconds=1800,
        ).collect()
    }
    assert stats[("u", 0)] == 2 and stats[("u", 1)] == 2 and stats[("v", 0)] == 1


def test_as_of_join_is_native(spark):
    """No Python stage: the as-of join is a union + window composition."""
    import io
    from contextlib import redirect_stdout

    left = spark.createDataFrame([(1, "u", _t(0))], "id bigint, k string, ts timestamp")
    right = spark.createDataFrame([("u", _t(0), 1.0)], "k string, ts timestamp, px double")
    df = as_of_join(left, right, key="k", left_ts="ts", right_ts="ts", payload_cols=["px"])
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "Window" in plan and "Union" in plan
    for node in ("EvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInArrow"):
        assert node not in plan


def test_host_fetch_stats(spark):
    from datetime import datetime

    from llm_aided_ocr_spark.operators.temporal import host_fetch_stats

    t = lambda s: datetime(2024, 3, 1, 0, 0, s)  # noqa: E731
    df = spark.createDataFrame(
        [
            ("https://a.io/1", t(0)),
            ("https://a.io/2", t(10)),
            ("https://a.io/3", t(40)),
            ("https://b.io/x", t(5)),   # single fetch -> NULL gaps
            ("https://c.io/p", t(7)),   # duplicate ts -> gap 0
            ("https://c.io/q", t(7)),
        ],
        "url string, warc_ts timestamp",
    )
    rows = {r["host"]: r for r in host_fetch_stats(df).collect()}
    a = rows["a.io"]
    assert (a["n_fetches"], a["span_s"], a["min_gap_s"], a["mean_gap_s"]) == (
        3, 40.0, 10.0, 20.0,
    )
    b = rows["b.io"]
    assert b["n_fetches"] == 1 and b["min_gap_s"] is None
    c = rows["c.io"]
    assert (c["min_gap_s"], c["span_s"]) == (0.0, 0.0)
