"""Streaming inference plane (SURVEY.md §2.9, T1-T6).

Source-agnostic rebuild of the reference's Kafka→model→Kafka pipeline
(``infrastructure/stream_inference.py``): the transform chain is a pure
DataFrame→DataFrame function, so the SAME code runs on a Kafka stream, a
file stream (tests/CI need no broker), or a batch frame.

Semantics preserved exactly:
- schema-enforced ``from_json`` parse — wrong types/missing keys coerce to
  NULL, never throw (T3);
- validity routing: all four features non-null and not NaN → model
  output; anything else → sentinel (prediction −1, probability −1.0). The
  reference routes with two filtered branches and a union; here it is one
  projection (``when(valid, model).otherwise(sentinel)``), so each input
  row is scanned and parsed once and a micro-batch stays one task per
  input partition;
- one append-only output whose JSON envelope echoes request_id/timestamp
  and the features as sent (T1/T3);
- batch-trained MLlib PipelineModel applied to the stream (T5);
- Kafka sink with checkpointing (T4), key = request_id.

Scale: the pipeline is stateless (no watermarks/state stores needed), so
throughput scales with source partitions — on a real cluster, match Kafka
topic partitions to executor cores and the micro-batch parallelizes for
free.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import (
    FEATURE_NAMES,
    REQUEST_SCHEMA,
    SENTINEL_PREDICTION,
    SENTINEL_PROBABILITY,
)

ScoreFn = Callable[[DataFrame], DataFrame]


# ---------------------------------------------------------------- sources

def kafka_source(
    spark: SparkSession, bootstrap_servers: str, topic: str
) -> DataFrame:
    """Kafka request stream → raw JSON strings (S2), from the latest
    offsets. Requires the spark-sql-kafka package on the classpath."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", "latest")
        .load()
    )
    return raw.select(F.col("value").cast("string").alias("json"))


def file_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 10,
    clean_source: str | None = None,
) -> DataFrame:
    """File-based request stream (JSON lines) — broker-free source with the
    same downstream contract; used by tests and CI.

    ``clean_source='delete'`` (or ``'archive'``) makes Spark remove each
    input file once its micro-batch commits, so a long-running request dir
    doesn't grow without bound and per-trigger directory listing stays O(new
    files). Off by default: tests re-read their fixture dirs.
    """
    reader = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
    raw = reader.load(path)
    return raw.select(F.col("value").alias("json"))


# ---------------------------------------------------------------- transform

def parse_requests(raw: DataFrame) -> DataFrame:
    """JSON strings → flattened typed columns. Nulls survive (by design)."""
    parsed = raw.select(F.from_json("json", REQUEST_SCHEMA).alias("req"))
    return parsed.select(
        F.col("req.request_id").alias("request_id"),
        F.col("req.timestamp").alias("timestamp"),
        *[F.col(f"req.payload.{name}").alias(name) for name in FEATURE_NAMES],
    )


def logistic_score(features: DataFrame) -> DataFrame:
    """Deterministic logistic stand-in scorer (used where no trained model
    artifact is wanted — e.g. oracle-checkable batch parity runs)."""
    z = (
        0.02 * F.col("Temperature")
        + 0.01 * F.col("Humidity")
        + 0.002 * F.col("CO2")
        + 5.0 * F.col("HumidityRatio")
        - 2.0
    )
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return features.withColumn("probability", prob).withColumn(
        "prediction", (F.col("probability") > 0.5).cast("int")
    )


def model_score(model) -> ScoreFn:
    """Wrap a fitted PipelineModel (T5): transform, extract P(class=1) from
    the probability vector, cast prediction to int.

    ``build_inference_pipeline`` hands the model only non-null, non-NaN
    features, so a ``VectorAssembler(handleInvalid="skip")`` stage could
    drop nothing. It scores with ``handleInvalid="keep"`` instead: the skip
    filter would otherwise be pushed below the JSON parse and repeat
    ``from_json`` once per feature test.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.functions import vector_to_array

    stages = [
        stage.copy({stage.handleInvalid: "keep"})
        if isinstance(stage, VectorAssembler)
        else stage
        for stage in getattr(model, "stages", [model])
    ]

    def score(features: DataFrame) -> DataFrame:
        scored = features
        for stage in stages:
            scored = stage.transform(scored)
        return scored.select(
            *features.columns,
            vector_to_array(F.col("probability"))[1].alias("probability"),
            F.col("prediction").cast("int").alias("prediction"),
        )

    return score


def build_inference_pipeline(raw: DataFrame, score_fn: ScoreFn) -> DataFrame:
    """The full parse → score → sentinel transform, as one projection.

    A row is valid when all four features are non-null and not NaN. Every
    row goes through ``score_fn`` once, with the features of an invalid row
    replaced by ``0.0``; the parsed values ride alongside for the echo, and
    an invalid row takes the sentinel in place of the model output. There
    is no filter pair and no union, so the input is scanned and parsed once.
    ``score_fn`` must keep every row.

    Works identically on streaming and batch DataFrames (tests exploit
    this; so can backfills).
    """
    is_valid = F.lit(True)
    for name in FEATURE_NAMES:
        is_valid = is_valid & F.col(name).isNotNull() & ~F.isnan(name)
    parsed = parse_requests(raw).withColumn("__valid", is_valid)
    valid = F.col("__valid")
    scorable = parsed.select(
        "request_id",
        "timestamp",
        "__valid",
        *[F.col(name).alias(f"__echo_{name}") for name in FEATURE_NAMES],
        *[F.when(valid, F.col(name)).otherwise(0.0).alias(name) for name in FEATURE_NAMES],
    )
    return score_fn(scorable).select(
        "request_id",
        "timestamp",
        *[F.col(f"__echo_{name}").alias(name) for name in FEATURE_NAMES],
        F.when(valid, F.col("prediction").cast("int"))
        .otherwise(F.lit(SENTINEL_PREDICTION))
        .alias("prediction"),
        F.when(valid, F.col("probability").cast("double"))
        .otherwise(F.lit(SENTINEL_PROBABILITY))
        .alias("probability"),
    )


def to_response_json(responses: DataFrame) -> DataFrame:
    """Responses → (key, value) JSON envelope rows for a Kafka-style sink
    (nested ``features`` struct, echoed request_id/timestamp)."""
    envelope = F.to_json(
        F.struct(
            F.col("request_id"),
            F.col("timestamp"),
            F.struct(*[F.col(n) for n in FEATURE_NAMES]).alias("features"),
            F.col("prediction"),
            F.col("probability"),
        ),
        # keep explicit nulls: a sentinel response's null features are part
        # of the envelope contract, and to_json drops them by default
        {"ignoreNullFields": "false"},
    )
    return responses.select(
        F.col("request_id").alias("key"), envelope.alias("value")
    )


# ---------------------------------------------------------------- sinks

def kafka_sink(
    responses: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
):
    """Exactly-once Kafka response sink (S3/T4)."""
    return (
        to_response_json(responses)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def memory_sink(responses: DataFrame, query_name: str, checkpoint_dir: str | None = None):
    """In-memory append sink for tests: results land in a queryable temp
    view named ``query_name``."""
    writer = (
        to_response_json(responses)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def console_sink(responses: DataFrame):
    """Debug sink (SURVEY §2.1 S4): print each micro-batch to stdout.

    No checkpoint — a second console query re-executes the plan
    independently of the durable Kafka sink, exactly as the reference runs
    both (``stream_inference.py:171-178``).
    """
    return (
        responses.writeStream.format("console")
        .option("truncate", "false")
        .outputMode("append")
        .start()
    )
