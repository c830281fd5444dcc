"""Checkpointed per-partition lineage + metrics ledger (north_rule: "resumable
from checkpoint with per-partition lineage + metrics").

A validation run over a 10^12-row table is hours of work; a mid-run failure
must not restart from zero and a retry must not double-count.  The ledger is
an append-only parquet directory of per-(partition, rule) result rows keyed by
``run_id`` + ``part_key``:

  resume     = anti-join the pending partition list against completed ledger
               entries (only unfinished partitions are re-scanned)
  idempotent = each partition's rows are written atomically per partition
               task batch; re-processing a completed partition overwrites the
               same key, and readers dedupe on (run_id, part_key, name) taking
               the latest commit_ts

This is a batch ledger, deliberately NOT Structured Streaming: the source is
a static Iceberg/Parquet table and the unit of recovery is a partition, not a
micro-batch (SURVEY.md §2.5).
"""

from __future__ import annotations

import time
import uuid
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .check import check_data_by
from .rules import Rule, Ruleset

__all__ = ["ValidationLedger"]

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_key", T.StringType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("expr", T.StringType(), False),
        T.StructField("tests", T.LongType(), False),
        T.StructField("pass", T.LongType(), False),
        T.StructField("fail", T.LongType(), False),
        T.StructField("commit_ts", T.DoubleType(), False),
        # batch metrics (north_rule "lineage + metrics"): wall seconds of the
        # validation job that committed this batch of partitions, and its
        # aggregate row rate — same value across the batch's rows (ONE fused
        # job validates all pending partitions)
        T.StructField("batch_wall_s", T.DoubleType(), True),
        T.StructField("batch_rows_per_s", T.DoubleType(), True),
    ]
)


class ValidationLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        try:
            return self.spark.read.schema(LEDGER_SCHEMA).parquet(self.path)
        except Exception:
            return None

    def completed_partitions(self, run_id: str) -> DataFrame:
        """Distinct part_keys with at least one committed rule row."""
        led = self._read()
        if led is None:
            return self.spark.createDataFrame([], "part_key string")
        return led.filter(F.col("run_id") == run_id).select("part_key").distinct()

    def pending_partitions(self, df: DataFrame, part_col: str, run_id: str) -> DataFrame:
        """All partition keys of df minus completed ones (left-anti join —
        the resume primitive)."""
        all_parts = df.select(F.col(part_col).cast("string").alias("part_key")).distinct()
        return all_parts.join(self.completed_partitions(run_id), "part_key", "left_anti")

    def run(
        self,
        df: DataFrame,
        rules: Ruleset | Rule,
        part_col: str,
        run_id: str | None = None,
        datasets: Mapping[str, DataFrame] | None = None,
    ) -> str:
        """Validate only pending partitions; append their per-partition rows.

        ``datasets`` holds the lookup tables of reference rules by name, as
        for :func:`check_data_by` (which raises without it when the ruleset
        has reference rules).  Rules that fail to compile or analyse commit
        error rows (pass=0, fail=tests), as in ``check_data``.

        Safe to re-invoke with the same run_id after a crash: completed
        partitions are skipped (anti-join), partially-written output is
        re-keyed by a fresh commit_ts and deduped on read.
        """
        run_id = run_id or uuid.uuid4().hex[:12]
        pending = self.pending_partitions(df, part_col, run_id)
        n_pending = pending.count()
        if n_pending == 0:
            return run_id
        scoped = df.join(
            pending.withColumnRenamed("part_key", "__pk"),
            df[part_col].cast("string") == F.col("__pk"),
            "left_semi",
        )
        t0 = time.perf_counter()
        rows = check_data_by(scoped, rules, by=part_col, datasets=datasets).collect()
        wall = max(time.perf_counter() - t0, 1e-9)
        # data rows per partition = max(tests) across that partition's rules
        # (robust to error rows with tests>0/pass=0 and to rules that test
        # fewer rows), summed across partitions — not an average over rules
        per_part: dict[str, int] = {}
        for r in rows:
            k = str(r[part_col])
            per_part[k] = max(per_part.get(k, 0), int(r["tests"] or 0))
        n_rows = sum(per_part.values())
        out = self.spark.createDataFrame(
            [
                (
                    run_id,
                    str(r[part_col]),
                    r["name"],
                    r["expr"],
                    r["tests"],
                    r["pass"],
                    r["fail"],
                    time.time(),
                    round(wall, 4),
                    round(n_rows / wall, 1),
                )
                for r in rows
            ],
            LEDGER_SCHEMA,
        )
        out.write.mode("append").parquet(self.path)
        return run_id

    def run_incremental(
        self,
        df: DataFrame,
        rules: Ruleset | Rule,
        run_id: str,
        file_col: str = "_ingest_file",
        datasets: Mapping[str, DataFrame] | None = None,
    ) -> str:
        """Validate only files ADDED since the last invocation with this
        ``run_id`` — the daily-ingest pattern: a corpus directory grows by
        appended parquet files, and each invocation scans just the delta,
        never the 100 TB already validated.

        The unit of lineage is the source FILE (``input_file_name()``),
        reusing the same anti-join resume primitive the partition ledger
        uses within a run — so this is simultaneously incremental across
        ingests and crash-resumable within one.  With an Iceberg source the
        same composition runs over a snapshot-diff read instead; for plain
        parquet directories the file listing IS the delta.

        ``df`` must be a file-based source (parquet/json/csv scan):
        ``input_file_name()`` is empty for non-file sources, which would
        collapse every row into one ledger key.  Guarded driver-side via
        ``df.inputFiles()`` (a listing, not a scan — no extra pass over the
        data)."""
        if not df.inputFiles():
            raise ValueError(
                "run_incremental needs a file-based source "
                "(df.inputFiles() is empty — input_file_name() would be '')"
            )
        # stamp via the shared guard (r6 ADVICE): a bare input_file_name()
        # withColumn passes the inputFiles() listing check yet stamps ''
        # when an exchange (repartition/join) sits between the scan and the
        # stamp — every row would collapse into part_key '' and mark the
        # whole delta completed for future resumes.  stamp_file_col raises
        # IN the scan on empty lineage and collision-guards file_col.
        from .check import stamp_file_col

        scoped = stamp_file_col(df, file_col, basename=False, caller="run_incremental")
        return self.run(scoped, rules, part_col=file_col, run_id=run_id, datasets=datasets)

    def results(self, run_id: str) -> DataFrame:
        """Per-(partition, rule) rows, deduped to the latest commit."""
        led = self._read()
        if led is None:
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        mine = led.filter(F.col("run_id") == run_id)
        latest = mine.groupBy("part_key", "name").agg(F.max("commit_ts").alias("commit_ts"))
        return mine.join(latest, ["part_key", "name", "commit_ts"], "left_semi")

    def totals(self, run_id: str) -> DataFrame:
        """Roll the ledger up to one row per rule (the check_data shape)."""
        return (
            self.results(run_id)
            .groupBy("name", "expr")
            .agg(
                F.sum("tests").alias("tests"),
                F.sum("pass").alias("pass"),
                F.sum("fail").alias("fail"),
            )
        )
