"""Server process of the ``predict_rpc`` workload: Spark session, model fit,
streaming scorer and the ``/predict`` HTTP server, kept out of the load
generator's interpreter so the two do not share a GIL.

Usage: python3 perfbench/serve_worker.py <spec.json>

Prints one JSON ``ready`` line, then obeys stdin lines: ``go`` (the timed
window starts), ``trace 1`` / ``trace 0`` (record bus spans or not) and
``stop``, after which it prints one JSON ``done`` line and exits.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import prepare_process  # noqa: E402

SERVER_HEAP_GB = 1


def _traced_bus_class():
    from big_data_occupancy_detection_spark.serving import FileRpcBus

    class TracedBus(FileRpcBus):
        """Records publish and poll-wait time per request_id while on."""

        def __init__(self, root: str):
            super().__init__(root)
            self.tracing = False
            self.spans: dict[str, dict] = {}

        def publish_request(self, envelope: dict) -> None:
            if not self.tracing:
                return super().publish_request(envelope)
            t0 = time.perf_counter()
            super().publish_request(envelope)
            self.spans[envelope["request_id"]] = {"publish_s": time.perf_counter() - t0}

        def poll_response(self, request_id, deadline_s=None):
            args = () if deadline_s is None else (deadline_s,)
            rec = self.spans.get(request_id)
            if rec is None:
                return super().poll_response(request_id, *args)
            t0 = time.perf_counter()
            body = super().poll_response(request_id, *args)
            rec["poll_s"] = time.perf_counter() - t0
            return body

    return TracedBus


def _post(port: int, payload: dict) -> None:
    req = urllib.request.Request(f"http://127.0.0.1:{port}/predict",
                                 data=json.dumps(payload).encode(), method="POST")
    with urllib.request.urlopen(req, timeout=30) as r:
        r.read()


def _progress(query, since: int) -> list[dict]:
    out = []
    for p in query.recentProgress[since:]:
        d = json.loads(p.json) if hasattr(p, "json") else p
        out.append({"rows": d["numInputRows"], "durations": d["durationMs"]})
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    prepare_process(spec["scratch"])

    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    from big_data_occupancy_detection_spark.ml.pipelines import (
        build_weighted_lr_pipeline,
        strip_training_summary,
    )
    from big_data_occupancy_detection_spark.operators.relational import class_weights
    from big_data_occupancy_detection_spark.serving import serve, start_scoring_query
    from big_data_occupancy_detection_spark.sources.readers import read_parquet
    from big_data_occupancy_detection_spark.streaming.inference import (
        build_inference_pipeline,
        model_score,
    )
    from big_data_occupancy_detection_spark.streaming.schemas import FEATURE_NAMES
    from common import StageMeter, jvm_pid, noop, start_session, stop_session, vm_hwm_mb, warm_up

    trace = spec["trace"]
    t0 = time.perf_counter()
    # the scorer holds a 4-feature model and micro-batches of a few rows
    spark = start_session(
        "perfbench-predict", SERVER_HEAP_GB,
        {"spark.sql.streaming.numRecentProgressUpdates": "100000"},
    )
    t1 = time.perf_counter()
    warm_up(spark)
    t2 = time.perf_counter()
    train = read_parquet(spark, spec["train"])
    model = strip_training_summary(
        build_weighted_lr_pipeline(FEATURE_NAMES).fit(class_weights(train, "label"))
    )
    t3 = time.perf_counter()

    # reference answers: one batch model.transform over the valid payloads
    pool = spec["pool"]
    valid = [(i, *[float(p["payload"][k]) for k in FEATURE_NAMES])
             for i, p in enumerate(pool) if p["case"] == "valid"]
    ref = model.transform(spark.createDataFrame(valid, ["idx", *FEATURE_NAMES])).select(
        "idx", F.col("prediction").cast("int"), vector_to_array("probability")[1])
    expected = {int(r[0]): [int(r[1]), float(r[2])] for r in ref.collect()}

    layers = {"session.start_s": t1 - t0, "session.warmup_s": t2 - t1, "ml.fit_s": t3 - t2}
    if trace:
        t = time.perf_counter()
        noop(train)
        layers["sources.scan_s"] = time.perf_counter() - t
        batch = spark.createDataFrame(
            [(json.dumps({"request_id": str(i), "timestamp": None, "payload": pool[i % len(pool)]["payload"]}),)
             for i in range(1000)], ["json"])
        times = []
        for _ in range(3):
            t = time.perf_counter()
            noop(build_inference_pipeline(batch, model_score(model)))
            times.append(time.perf_counter() - t)
        layers["ml.transform_ms"] = 1e3 * sorted(times)[1]

    bus = _traced_bus_class()(os.path.join(spec["scratch"], "bus"))
    query = start_scoring_query(spark, model, bus, os.path.join(spec["scratch"], "checkpoint"))
    server = serve(bus, port=0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    # the first micro-batches pay scoring codegen: warm the whole path
    warm = [threading.Thread(target=_post, args=(port, p["payload"])) for p in pool[:4]]
    for t in warm:
        t.start()
    for t in warm:
        t.join()
    print(json.dumps({"ready": True, "port": port, "expected": expected,
                      "layers": layers}), flush=True)

    meter = StageMeter(spark)
    mark, since = meter.mark(), 0
    go = time.perf_counter()
    for line in sys.stdin:
        cmd = line.split()
        if cmd == ["go"]:
            mark, since, go = meter.mark(), len(query.recentProgress), time.perf_counter()
        elif cmd[:1] == ["trace"]:
            bus.tracing = cmd[1] == "1"
        elif cmd == ["stop"]:
            break
    window = time.perf_counter() - go
    server.shutdown()
    server.server_close()
    query.stop()
    done = {"done": True, "window_s": window,
            "rss_mb": vm_hwm_mb(jvm_pid()) + vm_hwm_mb(os.getpid())}
    if trace:
        done.update(spans=bus.spans, progress=_progress(query, since),
                    stats=meter.since(mark))
    stop_session(spark)
    print(json.dumps(done), flush=True)


if __name__ == "__main__":
    main()
