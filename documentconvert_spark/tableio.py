"""Table format indirection: Iceberg in production, parquet in-sandbox.

BASELINE.json targets Iceberg tables; this container ships no Iceberg
runtime jar (verified), so every writer goes through this hook. With
`SPARK_GRAFT_TABLE_FORMAT=iceberg` (and the catalog configured on the
session) the same code writes Iceberg; the parquet default preserves the
semantics the engine needs from Iceberg — atomic per-run appends
(run-directory granularity in state.py) and schema-stable scans. The one
Iceberg feature without a parquet analogue, MERGE INTO upserts, is
replaced by the latest-row-per-doc view (state.latest()) + compaction
(state.compact()), which yields the same observable state."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def table_format() -> str:
    return os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def read_table(spark, path: str) -> DataFrame:
    """Read-side counterpart of the writers: honors the same format
    switch, so jobs chain on Iceberg or parquet without special-casing."""
    return spark.read.format(table_format()).load(path)


def overwrite_table(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").format(table_format()).save(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 8,
    partition_cols: list[str] | None = None,
) -> None:
    """Range-clustered, sorted layout: repartitionByRange gives files
    DISJOINT key ranges, sortWithinPartitions orders rows inside each.
    Parquet min/max footer stats (and Iceberg's file-level bounds) then
    prune whole files/row-groups for range predicates on the sort key —
    at 100 TB a date- or doc_id-ranged query scans ~1/n_files of the
    data. (Iceberg analogue: WRITE ORDERED BY; same layout, same skip.)"""
    out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(*sort_cols)
    writer = out.write.mode("overwrite").format(table_format())
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)
