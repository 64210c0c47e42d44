"""big_data_occupancy_detection_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark engine exposing the query and data-processing
capabilities of the reference system (KaNiuSii/big-data-occupancy-detection,
surveyed in SURVEY.md) as a composable, testable operator library:

- ``session``    — SparkSession factory tuned for both local[*] tests and
                   multi-executor clusters (AQE, UTC, Arrow).
- ``sources``    — batch/stream readers and sinks (CSV declared/inferred,
                   Parquet, Kafka/file streams, single-file CSV sink).
- ``functions``  — scalar/column helper functions kept JVM-side
                   (date remaps, array cosine, text shingles/hashes).
- ``operators``  — relational operator library (null census, describe,
                   percentiles, correlation, dedup+re-key, class weights).
- ``plans``      — the query registry the driver verifies against DuckDB.
- ``streaming``  — schema-enforced parse → validity routing → score or
                   sentinel, one pass (Kafka or file/memory inference plane).
- ``ml``         — MLlib pipeline builders (class-weighted LR, oversampled
                   CV-tuned RF) and evaluation/report helpers.
- ``ext``        — scale-oriented extension operators: dedup (exact, MinHash
                   LSH, SimHash, n-gram Jaccard, embedding cosine),
                   similarity search, text analysis, multimodal columns.

Everything is built on the public Apache Spark DataFrame/SQL API; custom
logic drops to Pandas UDFs only where built-ins cannot express the
semantics. No code is copied from the reference.
"""

__version__ = "0.1.0"
