"""Time registry queries at one data dir and count what each one ran.

Usage: python tools/measure.py <data_dir> [name1,name2,...]
Env:   SPARK_GRAFT_CPUS (core count), SPARK_GRAFT_BENCH_RUNS (best-of-N,
       default 2)

The default query list is ``bench.HEADLINE``; the session, warm-up and
timing (noop sink, best of N) are bench.py's. Prints one JSON line per
query with ``wall_s``, ``jobs`` and ``stages`` (DAGScheduler id deltas),
``codegen_classes`` (Janino compilations during the reported run; 0 once
the query's generated classes are cached) and
``shuffle_read_mb``/``shuffle_write_mb``/``input_mb`` (status store, so
the UI stays off), then one totals line with the persisted-index hit/miss
map. A larger scale comes from ``scripts/make_sf_scaled.py``:

    python scripts/make_sf_scaled.py /tmp/sf1.0 10
    python tools/measure.py /tmp/sf1.0

To A/B two revisions, run each checkout's own ``tools/measure.py``; it
puts its own repo root first on ``sys.path``. The scale scripts under
``scripts/`` import ``bench_session`` and ``timed`` from here.
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import Any, Callable

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from bench import HEADLINE, N_RUNS, bench_session, index_cache, warm_up
from big_data_occupancy_detection_spark.plans import REGISTRY
from big_data_occupancy_detection_spark.session import cpu_count

# output key -> StageData getter, summed over the stages an action ran
BYTES = {
    "shuffle_read_mb": "shuffleReadBytes",
    "shuffle_write_mb": "shuffleWriteBytes",
    "input_mb": "inputBytes",
}


def noop(df: DataFrame) -> None:
    """Execute the full plan into the noop sink; nothing reaches the driver."""
    df.write.format("noop").mode("overwrite").save()


def timed(spark: SparkSession, action: Callable[[], Any]) -> tuple[Any, dict]:
    """Run ``action()`` and return its result with its wall time, job,
    stage and codegen compilation counts and summed stage bytes. The clock
    and the counters start before ``action`` is called: some plans
    checkpoint eagerly while they are being built."""
    sc = spark.sparkContext._jsc.sc()
    dag = sc.dagScheduler()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    job0, stage0, classes0 = dag.nextJobId(), dag.nextStageId(), compiles.getCount()
    t0 = time.perf_counter()
    out = action()
    wall = time.perf_counter() - t0
    job1, stage1, classes1 = dag.nextJobId(), dag.nextStageId(), compiles.getCount()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    sums = dict.fromkeys(BYTES, 0)
    for sid in range(stage0, stage1):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # never submitted, or evicted (retainedStages)
            continue
        for key, getter in BYTES.items():
            sums[key] += getattr(sd, getter)()
    rec = {
        "wall_s": round(wall, 3),
        "jobs": job1 - job0,
        "stages": stage1 - stage0,
        "codegen_classes": classes1 - classes0,
    }
    return out, {**rec, **{k: round(v / 1e6, 3) for k, v in sums.items()}}


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    data_dir = sys.argv[1]
    names = sys.argv[2].split(",") if len(sys.argv) > 2 else HEADLINE
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown query name(s): {unknown}")
    spark = bench_session("bdo-spark-measure")
    warm_up(spark, data_dir)
    cache = index_cache(data_dir)
    totals = dict.fromkeys(("wall_s", "jobs", "stages", "codegen_classes", *BYTES), 0)
    for name in names:
        best = None
        for _ in range(max(N_RUNS, 1)):
            _, rec = timed(spark, lambda: noop(REGISTRY[name].fn(spark, data_dir)))
            if best is None or rec["wall_s"] < best["wall_s"]:
                best = rec
        print(json.dumps({"query": name, **best}), flush=True)
        for k in totals:
            totals[k] += best[k]
    print(
        json.dumps(
            {
                "total": {k: round(v, 3) for k, v in totals.items()},
                "queries": len(names),
                "data_dir": data_dir,
                "cpus": cpu_count(),
                "index_cache": cache,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
