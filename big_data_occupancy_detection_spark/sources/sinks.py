"""Batch sinks.

The reference's one custom sink is the single-file CSV writer: ``coalesce(1)``
+ write + driver-side rename of the ``part-*.csv`` (``eda/merge_datasets.py:87-119``).
That is reproduced here as an explicit small-result edge utility — it funnels
everything through one task, so it is only for driver-scale outputs (reports,
samples); big results go to partitioned parquet via :func:`write_parquet`.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame


def write_single_csv(df: DataFrame, out_path: str) -> str:
    """Write ``df`` as ONE named CSV file with header.

    Scale note: coalesce(1) serializes the final write through a single task;
    use only for small (driver-scale) results.
    """
    tmp_dir = out_path + "._tmp"
    (
        df.coalesce(1)
        .write.option("header", "true")
        .mode("overwrite")
        .csv(tmp_dir)
    )
    part = glob.glob(os.path.join(tmp_dir, "part-*.csv"))[0]
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    shutil.move(part, out_path)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return out_path


def write_parquet(df: DataFrame, out_path: str, partition_by: list[str] | None = None) -> None:
    """Partitioned parquet sink — the scale path for materialized results."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out_path)


def write_jsonl(df: DataFrame, out_path: str) -> None:
    """Newline-delimited JSON sink (the batch twin of the streaming
    ``to_json`` wire format, ``stream_inference.py:132-148``).

    Scale note: JSONL is ~5-10× bigger than parquet and loses types on
    re-read — treat it as an interchange edge, not a storage format;
    partitioned parquet remains the scale path.
    """
    df.write.mode("overwrite").json(out_path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed parquet table (external, at ``path``): pre-shuffled on the
    bucket columns at write time so repeated joins/aggregations on those
    keys skip their exchange entirely.

    This is THE amortization lever at 100 TB: a fact table bucketed on its
    join key turns every subsequent sort-merge join against a same-bucketed
    table into a zero-shuffle, zero-sort local join (Spark requires
    ``saveAsTable`` — bucket metadata lives in the catalog, not the files).
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_orc(df: DataFrame, out_path: str) -> None:
    """ORC sink (zlib, Spark-native writer). Interop surface for
    Hive/Trino-resident warehouses; same pushdown/pruning contract as
    parquet on re-read (predicate pushdown + column projection reach the
    ORC reader, asserted in tests)."""
    df.write.mode("overwrite").orc(out_path)


def write_range_sorted_parquet(
    df: DataFrame,
    out_path: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Range-partitioned, within-file-sorted parquet layout — the
    data-skipping lever for time-series / range-scanned tables.

    ``repartitionByRange`` (sampled range exchange) makes FILES disjoint on
    the leading sort column and ``sortWithinPartitions`` makes ROW GROUPS
    disjoint inside each file, so every parquet footer carries tight
    min/max stats. A later ``WHERE ts BETWEEN …`` prunes whole files and
    row groups at scan planning instead of reading 100 TB to filter it.
    Unlike static ``partitionBy`` directories this works for high-cardinality
    keys (no small-file explosion) and keeps file count = ``num_files``.
    """
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(
        out_path
    )

