"""Streaming-inference entry point — the engine's equivalent of the
reference's ``infrastructure/stream_inference.py``: request JSON →
schema-enforced parse → validity routing → model scoring or sentinel
→ response JSON, against Kafka (production) or a file directory (local /
CI, no broker needed).

Usage:
    # Kafka (requires the spark-sql-kafka package on the classpath):
    python scripts/stream_inference.py --kafka <bootstrap> <model_dir>
    # File source (reads *.json request files from a directory):
    python scripts/stream_inference.py --dir <requests_dir> <model_dir>

The malformed-payload contract matches the reference exactly: any
missing/null/mistyped feature routes to the sentinel response
(prediction=-1, probability=-1.0) and the stream never dies.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_occupancy_detection_spark.session import get_local_session
from big_data_occupancy_detection_spark.streaming.inference import (
    build_inference_pipeline,
    console_sink,
    file_source,
    kafka_sink,
    kafka_source,
    model_score,
    to_response_json,
)


def main() -> None:
    if len(sys.argv) < 4 or sys.argv[1] not in ("--kafka", "--dir"):
        sys.exit(
            "usage: stream_inference.py --kafka <bootstrap> <model_dir>\n"
            "       stream_inference.py --dir <requests_dir> <model_dir>"
        )
    mode, source_arg, model_dir = sys.argv[1], sys.argv[2], sys.argv[3]

    spark = get_local_session("occupancy-stream-inference")
    spark.sparkContext.setLogLevel("WARN")

    from pyspark.ml import PipelineModel

    model = PipelineModel.load(model_dir)

    if mode == "--kafka":
        raw = kafka_source(spark, source_arg, "occupancy_requests")
    else:
        raw = file_source(spark, source_arg)

    responses = build_inference_pipeline(raw, model_score(model))

    if mode == "--kafka":
        # kafka_sink JSON-encodes internally (S3 + checkpoint, T4)
        query = kafka_sink(
            responses,
            source_arg,
            "occupancy_responses",
            checkpoint_dir=os.environ.get(
                "CHECKPOINT_DIR", "/tmp/checkpoints/occupancy_inference"
            ),
        )
        debug = console_sink(to_response_json(responses))
        query.awaitTermination()
        debug.stop()
    else:
        query = console_sink(to_response_json(responses))
        query.awaitTermination()
    spark.stop()


if __name__ == "__main__":
    main()
