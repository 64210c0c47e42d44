"""Batch sources.

Reference surface (SURVEY.md §2.1): header CSV with type inference
(``eda/main.py:22-27``, ``ml/train_model.py:120-125``), defensively cast
afterwards because inference is untrusted. The engine keeps both paths but
prefers **declared schemas** on hot paths — ``inferSchema`` scans the data
twice, which is unacceptable at 100 TB (SURVEY.md §4 "double schema-inference
scan").

Parquet is the engine's primary columnar format: predicate pushdown, column
pruning and partition pruning all reach the scan (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_inferred(spark: SparkSession, path: str) -> DataFrame:
    """Ad-hoc CSV ingestion with schema inference (two scans — small data only)."""
    return spark.read.option("header", "true").option("inferSchema", "true").csv(path)


def read_csv_declared(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Production CSV path: single scan, declared schema, malformed rows → nulls
    (PERMISSIVE), mirroring the reference's nullable-by-default contract
    (``infrastructure/stream_inference.py:28-42``)."""
    return (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def read_jsonl_declared(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Newline-delimited JSON source with a declared schema: single scan,
    PERMISSIVE mode — type-mismatched fields degrade to nulls, the same
    contract the streaming plane gets from ``from_json``
    (``infrastructure/stream_inference.py:28-42``). Never use inference on
    JSONL at scale: like CSV, it costs a full extra pass over the data.
    """
    return (
        spark.read.option("mode", "PERMISSIVE").schema(schema).json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same Catalyst pushdown contract as parquet."""
    return spark.read.orc(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_parquet_evolved(
    spark: SparkSession,
    *paths: str,
    schema: StructType | None = None,
) -> DataFrame:
    """Schema-evolution scan: read every generation of a drifting parquet
    dataset under one reconciled schema. Columns added later in the
    dataset's life come back NULL for files written before them; each
    file's scan still prunes to the columns it physically has, and
    filter pushdown works per-file.

    Two modes, both footer-cheap relative to the alternative (rewriting
    historical files to the newest schema is a full-dataset write — a
    non-starter at 100 TB):

    - ``schema=None``: Spark's ``mergeSchema`` reconciles by UNION of all
      file schemas. Planning cost is one footer read per file (parallel
      in the driver's listing job) — fine for maintenance/backfill reads,
      wasteful on a hot path with millions of files.
    - ``schema=StructType``: the declared CURRENT schema is projected
      onto every file; no footer merging at all. This is the production
      path — the catalog owns the schema, old files yield NULL for new
      columns.

    Same-name columns whose types conflict across generations fail the
    merge loudly (Spark refuses int-vs-string merges rather than guess);
    widen upstream with an explicit cast-and-compact instead.
    """
    reader = spark.read
    if schema is not None:
        return reader.schema(schema).parquet(*paths)
    return reader.option("mergeSchema", "true").parquet(*paths)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic star-schema table from an sf directory.

    Two timestamp flavors seen across driver-generated datasets, both
    normalized here to a plain (LTZ) timestamp under the UTC session pin:

    - TIMESTAMP(NANOS), which Spark's parquet reader rejects natively:
      read as long nanos (legacy conf, runtime-settable) and rebuild a
      microsecond timestamp with exact integer division — NOT double
      division, which loses sub-µs precision at 1.7e18 nanos.
    - TIMESTAMP(MICROS) without isAdjustedToUTC, which Spark infers as
      TIMESTAMP_NTZ: cast to TIMESTAMP (wall-clock == UTC instant under
      the pinned session TZ) so downstream numeric casts — which Spark
      forbids on NTZ — keep working.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # parquet timestamps are UTC-naive; temporal extractions (hour/isodow)
    # must agree with a UTC-naive oracle even if the caller's session was
    # built on a non-UTC machine
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_parquet_stats_only(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan prepared for AGGREGATE pushdown: unfiltered
    min/max/count over the returned frame are answered from file footer
    statistics — zero data pages read, the cheapest possible full-table
    profile at 100 TB.

    Spark only implements aggregate pushdown in the v2 parquet source, so
    the v1 fallback list is emptied just for this read's resolution and
    restored immediately (v1 bucketed-table reads elsewhere in the session
    stay on v1); ``spark.sql.parquet.aggregatePushdown`` stays on, which
    v1 scans ignore. Pushdown applies to min/max/count WITHOUT filters or
    nested fields — anything else falls back to a normal scan, still
    correct.
    """
    prior = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try:
        return spark.read.parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", prior)

