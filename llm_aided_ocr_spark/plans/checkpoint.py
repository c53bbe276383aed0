"""Per-stage checkpointing with per-partition lineage + counters, and
anti-join resume (north rule: "each stage checkpointed ... so runs resume
mid-pipeline at 10^12-document scale"). A stage only ever grows: each
commit appends one increment, and a run resumes by anti-joining its input
against the stage's committed keys.

Backend is parquet-table-per-stage under a warehouse directory. On a real
cluster this maps 1:1 onto Iceberg tables (``df.writeTo(...).append()`` with
snapshot metadata); the sandbox has no Iceberg runtime jar, so the store
keeps Iceberg's operational contract — atomic per-stage commits (the
``_SUCCESS`` marker), append-only increments, lineage/counter records per
commit — on plain parquet. The reference's analogue is its two output files
(llm_aided_ocr.py:656-657) plus the v1 SQLite embedding cache
(CHANGELOG.md:172) that this subsumes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from dataclasses import dataclass
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from llm_aided_ocr_spark.operators.util import persist


@dataclass
class CheckpointStore:
    """Stage tables under ``warehouse_dir`` committed as append-only
    increments, one lineage record (with per-partition counters) per
    commit, and one resume path: :meth:`remaining`'s anti-join against
    the stage's committed keys."""

    warehouse_dir: str
    run_id: str = "run0"
    # Iceberg toggle: with a configured Iceberg catalog on the cluster
    # (spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog),
    # set use_iceberg=True and stage tables commit via the DataFrameWriterV2
    # (`df.writeTo(catalog.namespace.stage).append()`) instead of the
    # parquet-increment layout — no code rewrite for adopters. The lineage
    # log, counters, and resume API are identical in both modes. This
    # sandbox has no Iceberg runtime jar, so the path is dispatch-tested
    # with a recording stub (tests/test_checkpoint_resume.py).
    use_iceberg: bool = False
    iceberg_catalog: str = "spark_catalog"
    iceberg_namespace: str = "ocr_ckpt"

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse_dir, "stages", stage)

    def iceberg_table(self, stage: str) -> str:
        return f"{self.iceberg_catalog}.{self.iceberg_namespace}.{stage}"

    def _lineage_dir(self) -> str:
        return os.path.join(self.warehouse_dir, "_lineage")

    def _committed_increments(self, stage: str) -> List[str]:
        """Increment directories with a ``_SUCCESS`` marker — the committed
        set; a crashed half-written increment is invisible to readers."""
        return sorted(
            os.path.dirname(p)
            for p in glob.glob(os.path.join(self.stage_path(stage), "inc_*", "_SUCCESS"))
        )

    def exists(self, stage: str) -> bool:
        return bool(self._committed_increments(stage))

    # -- commit -----------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        stage: str,
        counted_col: Optional[str] = None,
        return_committed: bool = True,
    ) -> DataFrame:
        """Commit a stage increment and record lineage counters.

        Every commit lands in its own ``inc_<run>_<ts>`` subdirectory, so
        lineage counters are computed over THIS increment only (rows and
        ``counted_col`` bytes per file partition) — O(increment), never
        O(history); the cumulative ``total_rows`` comes from summing the
        lineage log, not from rescanning the table.

        ``return_committed=True`` returns the re-read FULL stage table
        (history + this increment) — right for terminal stages where the
        caller wants the cumulative result. With ``False`` the re-read
        INCREMENT is returned, so downstream stages read the just-written
        parquet instead of recomputing the increment's upstream plan, and
        history is never reprocessed on resume.
        """
        spark = df.sparkSession
        if self.use_iceberg:
            # DataFrameWriterV2 commit: one Iceberg snapshot per increment.
            # The increment is persisted so the commit and the counter pass
            # share one computation of the upstream plan. An increment
            # handed back to the caller (return_committed=False) stays
            # cached for the downstream stages, registered so that
            # release_pinned frees it.
            table = self.iceberg_table(stage)
            increment = df.persist() if return_committed else persist(df)
            commit_name = f"iceberg_{self.run_id}_{time.time_ns()}"
            writer = increment.writeTo(table)
            if spark.catalog.tableExists(table):
                writer.append()
            else:
                writer.createOrReplace()
        else:
            inc_path = os.path.join(
                self.stage_path(stage), f"inc_{self.run_id}_{time.time_ns()}"
            )
            df.write.mode("errorifexists").parquet(inc_path)
            # the schema just written: inferring it from the footers is a
            # Spark job of its own
            increment = spark.read.schema(df.schema).parquet(inc_path)
            commit_name = os.path.basename(inc_path)

        agg_cols = [F.count(F.lit(1)).alias("rows")]
        if counted_col is not None:
            agg_cols.append(
                F.sum(F.length(F.col(counted_col))).cast("long").alias("payload_chars")
            )
        counters = (
            increment.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*agg_cols)
            .collect()
        )
        inc_rows = int(sum(r["rows"] for r in counters))
        prev_rows = sum(
            r.get("increment_rows", r.get("total_rows", 0))
            for r in self.lineage_records()
            if r["stage"] == stage
        )
        record = {
            "run_id": self.run_id,
            "stage": stage,
            "ts": time.time(),
            "mode": "append",  # every commit appends; kept for log readers
            "commit": commit_name,
            "increment_rows": inc_rows,
            "total_rows": prev_rows + inc_rows,
            "partitions": [r.asDict() for r in counters],
        }
        os.makedirs(self._lineage_dir(), exist_ok=True)
        log_path = os.path.join(self._lineage_dir(), "lineage.jsonl")
        with open(log_path, "a", encoding="utf-8") as f:
            f.write(json.dumps(record) + "\n")
        if self.use_iceberg and return_committed:
            increment.unpersist()
        return self.read(spark, stage) if return_committed else increment

    # -- read / resume ----------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        stage: str,
        as_of_commit: Optional[str] = None,
    ) -> DataFrame:
        """Read the committed stage table. ``as_of_commit`` (a ``commit``
        value from the lineage log, i.e. an ``inc_<run>_<ns>`` name) gives
        snapshot/time-travel semantics: only increments committed up to
        and including that commit's nanosecond timestamp are read — the
        parquet-backed analogue of Iceberg's ``VERSION AS OF``. The
        comparison uses the trailing timestamp, not the raw name (run ids
        would break lexicographic order across runs)."""

        if self.use_iceberg:
            if as_of_commit is not None:
                raise NotImplementedError(
                    "on Iceberg, time travel is native — query "
                    f"'SELECT * FROM {self.iceberg_table(stage)} VERSION AS OF "
                    "<snapshot>' (or TIMESTAMP AS OF) instead of as_of_commit"
                )
            return spark.table(self.iceberg_table(stage))

        def _ns(name: str) -> int:
            return int(name.rsplit("_", 1)[1])

        incs = self._committed_increments(stage)
        if as_of_commit is not None:
            cutoff = _ns(as_of_commit)
            incs = [p for p in incs if _ns(os.path.basename(p)) <= cutoff]
        if not incs:
            raise FileNotFoundError(f"stage '{stage}' has no committed increments")
        return spark.read.parquet(*incs)

    def remaining(
        self, input_df: DataFrame, stage: str, key: str = "url"
    ) -> DataFrame:
        """Rows of ``input_df`` whose ``key`` is not yet committed in
        ``stage`` — the resume anti-join. The committed keys join as they
        are read, with no ``distinct``: a left anti join is insensitive to
        duplicate keys on its right side (a key committed in two
        increments, e.g. by two overlapping runs, still excludes its input
        rows once), so an aggregate would only add a shuffle.
        Broadcast-eligible when the committed key set is small; at scale
        AQE picks the join strategy from runtime stats."""
        spark = input_df.sparkSession
        if self.use_iceberg:
            if not spark.catalog.tableExists(self.iceberg_table(stage)):
                return input_df
        elif not self.exists(stage):
            return input_df
        done_keys = self.read(spark, stage).select(key)
        return input_df.join(done_keys, on=key, how="left_anti")

    def lineage_records(self) -> List[dict]:
        log_path = os.path.join(self._lineage_dir(), "lineage.jsonl")
        if not os.path.exists(log_path):
            return []
        with open(log_path, encoding="utf-8") as f:
            return [json.loads(line) for line in f if line.strip()]

    # -- reporting --------------------------------------------------------

    def stage_counters(self, stage: Optional[str] = None) -> dict:
        """The lineage log as a queryable per-stage summary — the north
        rule's "per-partition lineage and counters" as an API, not just a
        JSONL file. Per stage: cumulative rows, payload chars, commit
        count/list, and the partition histogram of the commits' per-file-
        partition row counts (min/max/mean + the raw counts), so skew in
        what each commit wrote is visible without rescanning any table.
        ``stage=None`` returns all stages keyed by name."""
        out: dict = {}
        for rec in self.lineage_records():
            s = rec["stage"]
            if stage is not None and s != stage:
                continue
            agg = out.setdefault(s, {
                "total_rows": 0,
                "total_payload_chars": 0,
                "n_commits": 0,
                "commits": [],
                "partition_rows": [],
            })
            parts = rec.get("partitions", [])
            prow = [int(p.get("rows", 0)) for p in parts]
            inc_payload = sum(int(p.get("payload_chars") or 0) for p in parts)
            agg["total_rows"] += int(rec.get("increment_rows", 0))
            agg["total_payload_chars"] += inc_payload
            agg["n_commits"] += 1
            agg["commits"].append(
                {
                    "commit": rec.get("commit"),
                    "run_id": rec.get("run_id"),
                    "increment_rows": int(rec.get("increment_rows", 0)),
                    "increment_payload_chars": inc_payload,
                    "n_partitions": len(parts),
                }
            )
            agg["partition_rows"].extend(prow)
        for agg in out.values():
            pr = agg["partition_rows"]
            agg["partition_histogram"] = {
                "n_partitions": len(pr),
                "min_rows": min(pr) if pr else 0,
                "max_rows": max(pr) if pr else 0,
                "mean_rows": round(sum(pr) / len(pr), 2) if pr else 0.0,
            }
        return out if stage is None else out.get(stage, {})

    def stage_counters_df(self, spark: SparkSession) -> DataFrame:
        """The same summary as a DataFrame (one row per stage) for SQL
        dashboards: ``store.stage_counters_df(spark).createOrReplaceTempView
        ('lineage')``."""
        rows = [
            (
                s,
                agg["total_rows"],
                agg["total_payload_chars"],
                agg["n_commits"],
                agg["partition_histogram"]["n_partitions"],
                agg["partition_histogram"]["min_rows"],
                agg["partition_histogram"]["max_rows"],
                float(agg["partition_histogram"]["mean_rows"]),
            )
            for s, agg in sorted(self.stage_counters().items())
        ]
        return spark.createDataFrame(
            rows,
            "stage string, total_rows long, total_payload_chars long, "
            "n_commits long, n_partitions long, min_partition_rows long, "
            "max_partition_rows long, mean_partition_rows double",
        )
