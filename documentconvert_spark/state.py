"""Resumable checkpoint state table (SURVEY.md §2.10, §4 item 4).

The reference persists task state in SQLAlchemy (`database/models.py:35-126`)
and recovers by resetting in-flight rows on restart
(`enhanced_task_processor.py:196-235`). Here the state table IS the store:
each run appends one row per processed document (status completed|failed,
attempt, timing, metrics, lineage), and the next run's work set is an
anti-join of the input against it.

Production target is an Iceberg table (atomic snapshot appends, MERGE for
idempotent upsert). No Iceberg catalog ships in this sandbox, so the store
is an interface with a parquet-directory implementation that keeps the same
contract: each run writes to a fresh `run_id=...` subdirectory (atomic at
the directory level — a crashed run leaves at most a partial directory that
Spark ignores thanks to _SUCCESS-marker filtering), reads union all runs.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from documentconvert_spark.schemas import EXTRACTION_STATE

MAX_ATTEMPTS = 3  # reference max_retry_count (models.py:76-78)


class StateStore:
    """Parquet-directory state store with Iceberg-like append semantics.

    The row type is pinned by the SCHEMA class attribute — subclasses with
    a different row shape (e.g. the callback delivery log) override ONLY
    that and inherit the commit protocol verbatim, so the _SUCCESS-gating
    and backfill rules can never drift between the two stores."""

    SCHEMA = EXTRACTION_STATE
    # resume-over-corruption is right for the state table (a lost row just
    # re-extracts a doc); logs with delivered-exactly-once semantics
    # override this to fail loudly instead
    IGNORE_CORRUPT = True
    # backfill src_run_id from the run_id= directory name for runs
    # appended before the column existed (state-table schema evolution);
    # subclasses whose directory name is NOT an extraction run id opt out
    BACKFILL_SRC_RUN_ID = True

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def _committed_run_dirs(self) -> list[str]:
        """run_id= subdirectories whose write COMMITTED (_SUCCESS marker
        present). A crashed mid-append run may leave part files visible
        before commitJob finishes — those must be invisible to every
        reader, or the exactly-once guarantees silently break."""
        if not os.path.isdir(self.path):
            return []
        out = []
        for e in os.listdir(self.path):
            if e.startswith("run_id=") and os.path.exists(
                os.path.join(self.path, e, "_SUCCESS")
            ):
                out.append(e)
        return sorted(out)

    def is_empty(self) -> bool:
        """True when no run has ever committed — a METADATA-ONLY check
        (directory listing here; current-snapshot row count on Iceberg),
        so callers can skip work-selection joins on a fresh corpus
        without touching data files."""
        return not self._committed_run_dirs()

    def read(self) -> DataFrame:
        dirs = self._committed_run_dirs()
        if not dirs:
            return self.spark.createDataFrame([], type(self).SCHEMA)
        from documentconvert_spark.tableio import table_format

        loaded = (
            self.spark.read
            .option("ignoreCorruptFiles",
                    "true" if type(self).IGNORE_CORRUPT else "false")
            .option("mergeSchema", "true")
            .format(table_format())
            .option("basePath", self.path)
            .load([os.path.join(self.path, d) for d in dirs])
        )
        # schema evolution: runs appended before src_run_id existed carry
        # the producing run only in the directory name — backfill so the
        # committed-output link holds across the upgrade
        if type(self).BACKFILL_SRC_RUN_ID:
            if "src_run_id" in loaded.columns:
                loaded = loaded.withColumn(
                    "src_run_id",
                    F.coalesce(F.col("src_run_id"), F.col("run_id").cast("string")),
                )
            else:
                loaded = loaded.withColumn(
                    "src_run_id", F.col("run_id").cast("string")
                )
        return loaded.drop("run_id")

    def append(self, df: DataFrame, run_id: str | None = None) -> str:
        from documentconvert_spark.tableio import overwrite_table

        run_id = run_id or uuid.uuid4().hex[:12]
        df = df.withColumn(
            "src_run_id", F.coalesce(F.col("src_run_id"), F.lit(run_id))
        ) if "src_run_id" in df.columns else df.withColumn("src_run_id", F.lit(run_id))
        overwrite_table(
            df.select([f.name for f in type(self).SCHEMA.fields]),
            os.path.join(self.path, f"run_id={run_id}"),
        )
        return run_id

    def read_run(self, run_id: str) -> DataFrame:
        """Rows of ONE committed run directory (empty frame if the run
        never committed) — per-run accounting without scanning history."""
        d = os.path.join(self.path, f"run_id={run_id}")
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            return self.spark.createDataFrame([], type(self).SCHEMA)
        from documentconvert_spark.tableio import table_format

        return self.spark.read.format(table_format()).load(d)

    def run_ids(self) -> DataFrame:
        """Committed producing-run ids — a run is committed iff its state
        append landed (the output directory is written FIRST, so an
        orphan output run_id without state rows marks a crash window).
        Derived from the src_run_id DATA column, so the link survives
        compact() rewriting the directory names; reads only
        _SUCCESS-marked dirs, so a half-appended run never counts."""
        return self.read().select(
            F.col("src_run_id").cast("string").alias("run_id")
        ).where(F.col("run_id").isNotNull()).distinct()

    # ---- derived view --------------------------------------------------

    def latest(self) -> DataFrame:
        """Latest state row per doc_id (by attempt, then completed_at)."""
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("attempt"), F.desc_nulls_last("completed_at")
        )
        return (
            self.read().withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def compact(self) -> str:
        """Collapse all runs into one snapshot holding only the latest row
        per doc_id (Iceberg `expire_snapshots` + rewrite analogue;
        reference GC worker, workspace_manager.py:178-241). Safe to run
        any time: readers between the write and the cleanup see the union,
        and latest() de-duplicates by (attempt, completed_at)."""
        import shutil

        latest = self.latest().cache()
        latest.count()
        old_runs = [e for e in os.listdir(self.path) if e.startswith("run_id=")]
        run_id = self.append(latest)
        latest.unpersist()
        for e in old_runs:
            shutil.rmtree(os.path.join(self.path, e), ignore_errors=True)
        return run_id
