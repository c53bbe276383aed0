"""CCNet-style normalization: Spark column chain vs an independent
pure-Python replay, DuckDB cross-engine parity on the same inputs, the
normalized-dedup keeper rule, and the plan-shape guarantees (pure
projection; hash-key exchange carries no text)."""
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.normalize import (
    ACCENT_FOLD,
    MULTI_CHAR,
    UNICODE_PUNCT,
    normalize_text,
    normalize_text_col,
    normalized_dedup,
    normalized_keeper_ids,
    normalized_keepers,
)


def py_normalize(s):
    """Independent replay of the documented recipe (dict-driven
    character walk, not a copy of the column chain)."""
    if s is None:
        return ""
    s = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "", s)
    for k, v in sorted(MULTI_CHAR.items()):
        s = s.replace(k, v)
    s = "".join(UNICODE_PUNCT.get(ch, ch) for ch in s)
    s = s.lower()
    s = "".join(ACCENT_FOLD.get(ch, ch) for ch in s)
    s = re.sub("[0-9]", "0", s)
    s = re.sub("[ \t\n\r\x0b\f]+", " ", s).strip()
    return s


CASES = [
    None,
    "",
    "   \t\n  ",
    "Hello,  World!  123",
    "ÀÉÎÕÜ — «déjà vu» … 42% façade",
    "naïve CŒUR straße, ærø",
    "「引用」と、句読点。テスト・ケース！",
    "ctrl\x00chars\x1fstripped\x7fhere",
    "tabs\tand\nnewlines\r\nand\x0bvtab\x0cff",
    "‘single’ “double” „low” ´acute` ｜pipe￥yen",
    "phone 555-1234 on 2024-01-01 at 12:30",
    "ŁÓDŹ łódź Śląsk ţārget ĥĵķŵ",
    "（full）width：punct；marks？yes！",
]


def test_spark_matches_python_replay(spark):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(CASES)], "i int, s string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text_col(F.col("s")).alias("n")).collect()
    }
    for i, s in enumerate(CASES):
        assert got[i] == py_normalize(s), repr(s)


def test_duckdb_oracle_parity():
    """The exact SQL emitted by __spark_entry__._normalize_sql produces
    byte-identical output in DuckDB on every tricky case."""
    import __spark_entry__ as e

    sql = e._normalize_sql("s")
    con = duckdb.connect()
    for s in CASES:
        got = con.execute(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS s)", [s]
        ).fetchone()[0]
        assert got == py_normalize(s), repr(s)


def test_flags_disable_stages(spark):
    df = spark.createDataFrame([("Ab 12 É…\x01",)], "s string")

    def one(**flags):
        return df.select(
            normalize_text_col(F.col("s"), **flags).alias("n")
        ).first()["n"]

    assert one() == "ab 00 e..."
    assert one(lowercase=False) == "Ab 00 E..."
    assert one(zero_digits=False) == "ab 12 e..."
    assert one(strip_accents=False) == "ab 00 é..."
    assert one(unicode_punct=False) == "ab 00 e..."  # … handled by accents' MULTI pass too
    assert one(unicode_punct=False, strip_accents=False) == "ab 00 é…"
    assert one(strip_controls=False) == "ab 00 e...\x01"
    assert one(collapse_whitespace=False) == "ab 00 e..."  # single spaces unchanged


def test_normalized_keepers_and_dedup(spark):
    rows = [
        (1, "Hello,  World! 123"),
        (2, "hello world 456"),          # same after digits->0 + punct/ws
        (3, "héllo wörld 789"),          # accents fold to the same key
        (4, "something else entirely"),
        (5, None),                        # NULL normalizes to ''
        (6, "   "),                       # whitespace-only also ''
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    # "hello, world! 000" (keeps comma+bang) vs "hello world 000" differ:
    # punctuation is MAPPED, not removed — 1 and 2 are distinct keys
    keep = {r["id"]: r["keep"] for r in normalized_keepers(df).collect()}
    assert keep == {1: True, 2: True, 3: False, 4: True, 5: True, 6: False}
    kept_ids = sorted(r["doc_id"] for r in normalized_dedup(df).collect())
    assert kept_ids == [1, 2, 4, 5]
    # hash-key production flag: identical survivors
    kept_h = sorted(
        r["doc_id"] for r in normalized_dedup(df, key="xxhash64").collect()
    )
    assert kept_h == kept_ids
    # keeper_ids (the one-scan bulk path) agrees with the flags table
    # under both key families
    for k in ("text", "xxhash64"):
        ids = sorted(
            r["keeper_id"] for r in normalized_keeper_ids(df, key=k).collect()
        )
        assert ids == [i for i, v in sorted(keep.items()) if v]
    with pytest.raises(ValueError):
        normalized_keepers(df, key="md5")


def test_normalize_is_pure_projection(spark):
    """normalize_text adds no exchange and no Python stage — the whole
    chain fuses into the scan."""
    df = spark.createDataFrame([("x", "A b 1 É")], "doc_id string, text string")
    plan = normalize_text(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "MapInArrow", "FlatMapGroupsInArrow"):
        assert marker not in plan


def test_hash_key_exchange_carries_no_text(spark):
    """Under key='xxhash64' the aggregation exchange is keyed on the
    8-byte hash — the normalized string never appears below the first
    Exchange."""
    df = spark.createDataFrame([("x", "A b 1 É")], "doc_id string, text string")
    plan = (
        normalized_keepers(df, key="xxhash64")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "xxhash64" in plan


def test_normalized_dedup_normalizes_once(spark, tmp_path):
    """The bulk path runs the normalize chain exactly ONCE (fused into
    the keeper-id scan); the materialization side re-reads the corpus
    but never re-normalizes, and text appears in no exchange."""
    p = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "A b"), (2, "a B"), (3, "c")], "doc_id int, text string"
    ).write.parquet(p)
    df = spark.read.parquet(p)
    plan = normalized_dedup(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("translate(lower(translate(") == 1
    got = sorted(r["doc_id"] for r in normalized_dedup(df).collect())
    assert got == [1, 3]


def test_normalize_works_on_stream(spark, tmp_path):
    """Pure projection → the SAME call works unchanged on a stream."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(CASES[3:8])], "doc_id int, text string"
    )
    df.write.parquet(src)
    stream = spark.readStream.schema("doc_id int, text string").parquet(src)
    q = (
        normalize_text(stream)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, normalize_text(df).collect()))
    assert got == want and got


def test_normalize_engine_parity_fuzz():
    """Property fuzz: on random strings drawn from the mapped alphabets
    plus assorted unicode, the DuckDB oracle SQL and the Python replay
    agree byte-for-byte (the Spark chain is pinned to the same replay by
    test_spark_matches_python_replay — transitively all three agree).
    Driver-side (no Spark session) so hypothesis can run many examples."""
    from hypothesis import given, settings, strategies as st

    import __spark_entry__ as e

    alphabet = (
        "".join(UNICODE_PUNCT) + "".join(ACCENT_FOLD) + "".join(MULTI_CHAR)
        + "abcXYZ 019\t\n\r\x0b\x0c\x01\x7f'\"\\%_…ß漢字éÉ"
    )
    con = duckdb.connect()
    sql = e._normalize_sql("s")

    @settings(max_examples=300, deadline=None)
    @given(st.text(alphabet=alphabet, max_size=60))
    def prop(s):
        got = con.execute(
            f"SELECT {sql} FROM (SELECT ?::VARCHAR AS s)", [s]
        ).fetchone()[0]
        assert got == py_normalize(s), repr(s)

    prop()
