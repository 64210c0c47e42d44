"""SparkSession factory.

The reference builds ad-hoc ``local[*]`` sessions per script
(``ml/train_model.py:108-116``, ``infrastructure/stream_inference.py:45``).
Here a single factory owns the config so every entry point — tests, bench,
driver verify — gets the same scale-aware defaults:

- **AQE on** (runtime partition coalescing, skew-join splitting): at 100 TB
  the static shuffle-partition count is always wrong somewhere; AQE re-plans
  per stage from actual map output sizes.
- **UTC session timezone**: Spark timestamps are session-TZ-relative while
  parquet/DuckDB are UTC-naive — pinning UTC makes results engine-portable.
- **Arrow on** for any driver-edge ``toPandas``/pandas-UDF transfer.
- **shuffle.partitions ~= cores** locally; on a real cluster AQE's
  coalescing makes the initial number mostly irrelevant, and
  ``maxPartitionBytes`` keeps scan tasks memory-bounded.
- **FileSystem-based streaming checkpoint manager**: fewer forks per
  micro-batch than the FileContext default (see the conf comment).
- **Generated code stays warm**: the codegen cache holds 4096 classes
  instead of 100, and whole-stage class names carry no AQE stage id, so a
  repeated query reuses the classes it compiled before. At 100 entries
  the nine-query perfbench ``batch_small`` mix (about 190 classes)
  recompiled and re-JIT-compiled over 150 classes every pass. The cap
  bounds the cache at about 200 MB of metaspace (see the conf comment).
  A session built outside this factory keeps Spark's defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "big_data_occupancy_detection_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``master=None`` defers to an existing session / spark-submit; tests and
    bench pass ``local[N]`` explicitly.
    """
    cpus = cpu_count()
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bound each Arrow batch crossing into Python (multimodal payloads
        # can be MBs per row; 10k-row default batches would balloon memory)
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        # Keep scan tasks memory-bounded regardless of file layout; at
        # cluster scale this is the knob that sizes tasks, not file count.
        "spark.sql.files.maxPartitionBytes": "128m",
        # Auto-broadcast small dimension tables (region/nation/supplier…).
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.ui.enabled": "false",
        # Streaming checkpoint logs (offsets/, commits/, sources/) written
        # through the FileSystem API: rename is atomic on local disk and
        # HDFS, and the default FileContext manager shells out to
        # ``readlink`` on every atomic write where Hadoop has no native
        # library, several forks per micro-batch.
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        # Codegen cache entries (Spark default 100). A query mix larger
        # than the cache recompiles and re-JITs its classes on every pass;
        # 4096 holds a whole-registry pass (~2 900 classes at sf0.001)
        # with room to spare, and bounds the cache at ~200 MB of metaspace
        # (~50 KB per class). Static: read once, when the JVM first
        # compiles generated code.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # Whole-stage class names without the AQE codegen stage id: the id
        # depends on the order AQE plans stages, so the same stage's code
        # missed the cache whenever that order changed.
        "spark.sql.codegen.useIdInClassName": "false",
        "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_local_session(app_name: str = "bdo-spark-local") -> SparkSession:
    """local[N] session for tests/bench on this machine."""
    return get_session(app_name=app_name, master=f"local[{cpu_count()}]")
