"""Checkpoint, lineage, and resume tests (SURVEY.md §5.2.6)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark import StorageLevel

from llm_aided_ocr_spark.config import PipelineConfig
from llm_aided_ocr_spark.operators.util import release_pinned
from llm_aided_ocr_spark.plans.checkpoint import CheckpointStore
from llm_aided_ocr_spark.plans.pipeline import run_pipeline
from llm_aided_ocr_spark.sources.synthetic import pages_dataframe


def test_checkpoint_write_read_lineage(spark):
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="t1")
        df = pages_dataframe(spark, n_rows=10, include_golden=False)
        out = store.write(df.select("url", "text"), "stage_a", counted_col="text")
        assert out.count() == 10
        assert store.exists("stage_a")
        recs = store.lineage_records()
        assert len(recs) == 1
        assert recs[0]["stage"] == "stage_a"
        assert recs[0]["total_rows"] == 10
        assert sum(p["rows"] for p in recs[0]["partitions"]) == 10
        assert all("payload_chars" in p for p in recs[0]["partitions"])


def test_resume_skips_completed_documents(spark):
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="t2")
        cfg = PipelineConfig(provider="heuristic", checkpointing=True)
        full = pages_dataframe(spark, n_rows=20, include_golden=False).cache()
        first_half = full.limit(10)

        r1 = run_pipeline(first_half, cfg, store=store, strategy="fused")
        n1 = r1.count()
        assert n1 == 10

        # Re-run over the FULL input: only the 10 new docs process.
        r2 = run_pipeline(full, cfg, store=store, strategy="fused")
        assert r2.count() == 20  # checkpoint now holds everything
        recs = [r for r in store.lineage_records() if r["stage"] == "corrected_docs"]
        assert len(recs) == 2
        # Second increment appended only the remaining 10 rows on top of 10.
        assert recs[0]["total_rows"] == 10
        assert recs[1]["total_rows"] == 20
        # Lineage counters are per-increment (O(increment), not O(history)):
        assert recs[0]["increment_rows"] == 10
        assert recs[1]["increment_rows"] == 10
        assert sum(p["rows"] for p in recs[1]["partitions"]) == 10

        # Third run: nothing left to do; checkpoint unchanged.
        r3 = run_pipeline(full, cfg, store=store, strategy="fused")
        assert r3.count() == 20
        urls = [r["url"] for r in r3.collect()]
        assert len(urls) == len(set(urls)), "no duplicate processing on resume"


def test_staged_checkpoints_and_resume(spark):
    """Staged strategy writes chunk-level checkpoints; resume still works."""
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="ts")
        cfg = PipelineConfig(provider="heuristic", checkpointing=True)
        full = pages_dataframe(spark, n_rows=12, include_golden=True).cache()

        r1 = run_pipeline(full.limit(6), cfg, store=store, strategy="staged")
        assert r1.count() == 6
        stages = {r["stage"] for r in store.lineage_records()}
        assert {"chunks", "corrected_chunks", "corrected_docs"} <= stages

        r2 = run_pipeline(full, cfg, store=store, strategy="staged")
        got = {r["url"]: r["corrected_text"] for r in r2.collect()}
        single = run_pipeline(
            full, PipelineConfig(provider="heuristic"), strategy="staged"
        )
        want = {r["url"]: r["corrected_text"] for r in single.collect()}
        assert got == want


def test_mid_pipeline_checkpoint_reads_back_parquet(spark):
    """With return_committed=False the returned plan must READ the
    just-written increment, not recompute its upstream — otherwise every
    checkpointed mid-pipeline stage executes twice."""
    import io
    from contextlib import redirect_stdout

    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="t4")
        df = pages_dataframe(spark, n_rows=8, include_golden=False)
        out = store.write(
            df.select("url", "text"), "mid", counted_col="text",
            return_committed=False,
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain()
        plan = buf.getvalue()
        assert "Scan parquet" in plan or "FileScan parquet" in plan, plan
        assert "Range" not in plan, "upstream plan leaked into the checkpoint read"
        assert out.count() == 8


def test_increment_reread_keeps_the_written_schema(spark, monkeypatch):
    """``write`` re-reads an increment with the schema it just wrote
    instead of inferring it from the parquet footers: for each of the
    pipeline's three stage schemas the returned increment's schema equals
    the inferred one."""
    import os

    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="sc")
        write = CheckpointStore.write
        returned = {}

        def recording_write(self, df, stage, *args, **kwargs):
            kwargs["return_committed"] = False
            out = write(self, df, stage, *args, **kwargs)
            commit = self.lineage_records()[-1]["commit"]
            returned[stage] = (out, os.path.join(self.stage_path(stage), commit))
            return out

        monkeypatch.setattr(CheckpointStore, "write", recording_write)
        cfg = PipelineConfig(provider="heuristic", checkpointing=True)
        pages = pages_dataframe(spark, n_rows=6, include_golden=True)
        assert run_pipeline(pages, cfg, store=store, strategy="staged").count() == 6
        assert set(returned) == {"chunks", "corrected_chunks", "corrected_docs"}
        for stage, (out, inc_path) in returned.items():
            assert out.schema == spark.read.parquet(inc_path).schema, stage
            assert out.count() == spark.read.parquet(inc_path).count(), stage


def test_uncommitted_increment_invisible(spark):
    """Atomic-commit contract: an increment directory without _SUCCESS (a
    crashed writer) must be invisible to readers, resume, and exists()."""
    import os
    import shutil

    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="t6")
        df = pages_dataframe(spark, n_rows=5, include_golden=False)
        store.write(df.select("url"), "at")
        assert store.read(spark, "at").count() == 5

        # simulate a crashed writer: copy a committed increment, drop its
        # _SUCCESS marker
        committed = store._committed_increments("at")[0]
        crashed = os.path.join(store.stage_path("at"), "inc_t6_9999999999999999999")
        shutil.copytree(committed, crashed)
        os.remove(os.path.join(crashed, "_SUCCESS"))

        assert store.read(spark, "at").count() == 5  # ghost rows invisible
        assert len(store._committed_increments("at")) == 1
        # resume sees only committed urls
        remaining = store.remaining(df.select("url"), "at")
        assert remaining.count() == 0


def test_time_travel_read(spark):
    """as_of_commit reads the table as it was after that commit — the
    Iceberg VERSION AS OF analogue on the parquet-backed store."""
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="t5")
        df = pages_dataframe(spark, n_rows=9, include_golden=False)
        store.write(df.limit(4).select("url"), "tt")
        store.write(df.subtract(df.limit(4)).select("url"), "tt")
        recs = [r for r in store.lineage_records() if r["stage"] == "tt"]
        assert len(recs) == 2
        assert store.read(spark, "tt").count() == 9
        assert store.read(spark, "tt", as_of_commit=recs[0]["commit"]).count() == 4
        assert store.read(spark, "tt", as_of_commit=recs[1]["commit"]).count() == 9


def test_resume_byte_identity_vs_single_run(spark):
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="t3")
        cfg = PipelineConfig(provider="heuristic", checkpointing=True)
        full = pages_dataframe(spark, n_rows=16, include_golden=True).cache()

        run_pipeline(full.limit(7), cfg, store=store, strategy="fused").count()
        resumed = run_pipeline(full, cfg, store=store, strategy="fused")
        got = {r["url"]: r["corrected_text"] for r in resumed.collect()}

        single = run_pipeline(full, PipelineConfig(provider="heuristic"), strategy="fused")
        want = {r["url"]: r["corrected_text"] for r in single.collect()}
        assert got == want


def test_stage_counters_api(spark):
    """stage_counters(): cumulative rows/payload, commit list, partition
    histogram, and the same summary as a DataFrame."""
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="tc")
        df = pages_dataframe(spark, n_rows=10, include_golden=False).select(
            "url", "text"
        )
        store.write(df, "s", counted_col="text")
        store.write(df.limit(4), "s", counted_col="text")
        store.write(df.limit(3), "other")

        c = store.stage_counters("s")
        assert c["total_rows"] == 14
        assert c["n_commits"] == 2
        assert [x["increment_rows"] for x in c["commits"]] == [10, 4]
        assert c["total_payload_chars"] > 0
        h = c["partition_histogram"]
        assert h["n_partitions"] == sum(x["n_partitions"] for x in c["commits"])
        assert h["min_rows"] >= 0 and h["max_rows"] >= h["min_rows"]
        assert sum(c["partition_rows"]) == 14

        allc = store.stage_counters()
        assert set(allc) == {"s", "other"}
        assert allc["other"]["total_payload_chars"] == 0  # no counted_col

        sdf = store.stage_counters_df(spark)
        rows = {r["stage"]: r for r in sdf.collect()}
        assert rows["s"]["total_rows"] == 14
        assert rows["other"]["n_commits"] == 1


def test_iceberg_mode_dispatch(spark, monkeypatch):
    """use_iceberg=True routes commits through DataFrameWriterV2
    (writeTo().append() / .createOrReplace()) while keeping the lineage
    log and O(increment) counters identical. No Iceberg jar in this
    sandbox, so the writer is a recording stub — this pins the dispatch
    contract a cluster adopter toggles into."""
    calls = []
    existing = set()

    class FakeWriterV2:
        def __init__(self, table):
            self.table = table

        def createOrReplace(self):
            calls.append(("createOrReplace", self.table))
            existing.add(self.table)

        def append(self):
            calls.append(("append", self.table))

    # patch the CONCRETE DataFrame class (pyspark 4's pyspark.sql.DataFrame
    # is a facade; classic sessions instantiate a subclass with its own
    # writeTo)
    probe = pages_dataframe(spark, n_rows=1, include_golden=False)
    monkeypatch.setattr(type(probe), "writeTo", lambda self, t: FakeWriterV2(t))
    real_exists = spark.catalog.tableExists
    monkeypatch.setattr(
        spark.catalog,
        "tableExists",
        lambda name: name in existing or real_exists(name),
    )

    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="ti", use_iceberg=True)
        table = store.iceberg_table("s")
        df = pages_dataframe(spark, n_rows=6, include_golden=False).select(
            "url", "text"
        )
        inc = store.write(df, "s", counted_col="text", return_committed=False)
        assert inc.count() == 6
        # the staged increment stays cached for the stages downstream of
        # it, and a release through any frame derived from it frees it
        assert inc.storageLevel.useMemory
        release_pinned(inc.select("url"), blocking=True)
        assert inc.storageLevel == StorageLevel.NONE
        inc2 = store.write(df.limit(2), "s", return_committed=False)
        assert inc2.count() == 2
        assert calls == [("createOrReplace", table), ("append", table)]

        recs = store.lineage_records()
        assert [r["increment_rows"] for r in recs] == [6, 2]
        assert recs[0]["total_rows"] == 6 and recs[1]["total_rows"] == 8
        assert all(r["commit"].startswith("iceberg_ti_") for r in recs)
        assert store.stage_counters("s")["total_rows"] == 8

        with pytest.raises(NotImplementedError):
            store.read(spark, "s", as_of_commit=recs[0]["commit"])


def test_remaining_ignores_a_recommitted_increment(spark):
    """The same urls committed in two increments (a re-commit, e.g. by
    two overlapping runs): remaining() must still exclude every committed
    url, and return each other input row exactly once."""
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="tr")
        pages = pages_dataframe(spark, n_rows=12, include_golden=False).select(
            "url", "text"
        )
        first = pages.orderBy("url").limit(5)
        store.write(first, "s")
        store.write(first, "s")  # the same urls, re-committed
        assert store.read(spark, "s").count() == 10

        done = {r["url"] for r in first.collect()}
        urls = [r["url"] for r in store.remaining(pages, "s").collect()]
        assert len(urls) == 7 and len(set(urls)) == 7
        assert set(urls).isdisjoint(done)


def test_remaining_plan_has_no_aggregate(spark):
    """The resume anti-join reads the committed keys as they are: a left
    anti join ignores duplicate keys on its right side, so the optimized
    plan of remaining() carries no Aggregate (a distinct would add one and
    its shuffle)."""
    with tempfile.TemporaryDirectory() as tmp:
        store = CheckpointStore(tmp, run_id="tp")
        pages = pages_dataframe(spark, n_rows=8, include_golden=False).select(
            "url", "text"
        )
        store.write(pages.limit(3), "s")
        rem = store.remaining(pages, "s")
        plan = rem._jdf.queryExecution().optimizedPlan().toString()
        assert "Join LeftAnti" in plan, plan
        assert "Aggregate" not in plan, plan
        assert rem.count() == 5
