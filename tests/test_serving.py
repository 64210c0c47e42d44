"""End-to-end RPC façade test: HTTP /predict → file bus → streaming scorer
→ response — the reference's full §3.3 lifecycle without Kafka/FastAPI."""

from __future__ import annotations

import json
import threading
import urllib.request
import urllib.error

import pytest
from pyspark.sql import Row

from big_data_occupancy_detection_spark.ml.pipelines import (
    build_weighted_lr_pipeline,
    strip_training_summary,
)
from big_data_occupancy_detection_spark.operators.relational import class_weights
from big_data_occupancy_detection_spark.serving import (
    FileRpcBus,
    serve,
    start_scoring_query,
)

FEATURES = ["Temperature", "Humidity", "CO2", "HumidityRatio"]


@pytest.fixture(scope="module")
def tiny_model(spark):
    rows = [
        Row(
            Temperature=21.0 + (3.0 if i % 2 else 0.0),
            Humidity=30.0,
            CO2=500.0 + (700.0 if i % 2 else 0.0),
            HumidityRatio=0.004,
            label=i % 2,
        )
        for i in range(200)
    ]
    df = class_weights(spark.createDataFrame(rows), "label")
    return strip_training_summary(build_weighted_lr_pipeline(FEATURES).fit(df))


def _post(port, body: dict, timeout=40):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/predict",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.status, json.loads(r.read())


def test_predict_rpc_end_to_end(spark, tmp_path, tiny_model):
    bus = FileRpcBus(str(tmp_path / "bus"))
    query = start_scoring_query(
        spark, tiny_model, bus, str(tmp_path / "ckpt")
    )
    server = serve(bus, port=18742, deadline_s=30.0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        # valid request → real prediction with probability in [0,1]
        status, resp = _post(
            18742,
            {"Temperature": 24.0, "Humidity": 30.0, "CO2": 1200.0, "HumidityRatio": 0.004},
        )
        assert status == 200
        assert resp["prediction"] in (0, 1)
        assert 0.0 <= resp["probability"] <= 1.0

        # malformed request (missing + wrong-typed field) → sentinel, stream alive
        status, resp = _post(
            18742, {"Temperature": "oops", "Humidity": 30.0}
        )
        assert status == 200
        assert resp["prediction"] == -1
        assert resp["probability"] == -1.0

        # a JSON NaN feature parses as a non-null double: sentinel, not a
        # row the model's skip filter drops (which left the client a 504)
        status, resp = _post(
            18742,
            {"Temperature": 24.0, "Humidity": float("nan"), "CO2": 1200.0, "HumidityRatio": 0.004},
        )
        assert status == 200
        assert (resp["prediction"], resp["probability"]) == (-1, -1.0)
        assert resp["features"]["CO2"] == 1200.0

        # stream survived: another valid request still answers
        status, resp = _post(
            18742,
            {"Temperature": 21.0, "Humidity": 30.0, "CO2": 500.0, "HumidityRatio": 0.004},
        )
        assert status == 200 and resp["prediction"] in (0, 1)
    finally:
        server.shutdown()
        query.stop()


def test_restart_with_requests_in_flight(spark, tmp_path, tiny_model):
    """Stop the scoring query while clients wait on their replies, restart
    it from the same checkpoint, and check every accepted request: exactly
    one reply, either correct (the batch model's answer, or the sentinel
    for a malformed payload) or a 504, never a wrong or repeated one."""
    import math
    import time

    from pyspark.ml.functions import vector_to_array
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    valid = [
        {"Temperature": 20.5 + i, "Humidity": 28.0 + i, "CO2": 450.0 + 150 * i, "HumidityRatio": 0.004}
        for i in range(6)
    ]
    payloads = valid + [
        {"Temperature": 22.0, "Humidity": None, "CO2": 600.0, "HumidityRatio": 0.004},
        {"Temperature": "warm", "Humidity": 30.0, "CO2": 600.0, "HumidityRatio": 0.004},
        {"Temperature": 22.0, "Humidity": 30.0, "CO2": float("nan"), "HumidityRatio": 0.004},
    ]
    ref = tiny_model.transform(
        spark.createDataFrame([(i, *p.values()) for i, p in enumerate(valid)], ["idx", *FEATURES])
    ).select("idx", F.col("prediction").cast("int"), vector_to_array("probability")[1])
    expected = {r[0]: (r[1], r[2]) for r in ref.collect()}

    bus = FileRpcBus(str(tmp_path / "bus"))
    ckpt = str(tmp_path / "ckpt")
    query = start_scoring_query(spark, tiny_model, bus, ckpt)
    server = serve(bus, port=0, deadline_s=10.0)
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    results: list[tuple[int, int, dict | None]] = []
    in_flight = [0]
    lock = threading.Lock()
    stop = threading.Event()

    def client(first: int, step: int) -> None:
        i = first
        while not stop.is_set():
            idx = i % len(payloads)
            with lock:
                in_flight[0] += 1
            try:
                status, body = _post(port, payloads[idx])
            except urllib.error.HTTPError as e:
                status, body = e.code, None
            with lock:
                in_flight[0] -= 1
                results.append((idx, status, body))
            i += step

    def wait_for(n: int) -> None:
        end = time.monotonic() + 120
        while len(results) < n and time.monotonic() < end:
            time.sleep(0.05)
        assert len(results) >= n, f"{len(results)} replies, wanted {n}"

    clients = [threading.Thread(target=client, args=(c, 4), daemon=True) for c in range(4)]
    try:
        for t in clients:
            t.start()
        wait_for(8)
        query.stop()
        with lock:
            before_restart, waiting = len(results), in_flight[0]
        time.sleep(1.0)  # more requests land while the query is down
        query = start_scoring_query(spark, tiny_model, bus, ckpt)
        wait_for(before_restart + 12)
    finally:
        stop.set()
        for t in clients:
            t.join(timeout=60)
        server.shutdown()
        query.stop()

    assert not any(t.is_alive() for t in clients)
    assert waiting > 0
    answered = [body["request_id"] for _, status, body in results if status == 200]
    assert len(answered) == len(set(answered))
    assert sum(status == 200 for _, status, _ in results[before_restart:]) > 0
    for idx, status, body in results:
        assert status in (200, 504), status
        if status != 200:
            continue
        if idx in expected:
            pred, prob = expected[idx]
            assert body["features"] == payloads[idx]
            assert body["prediction"] == pred
            assert math.isclose(body["probability"], prob, rel_tol=1e-9, abs_tol=1e-12)
        else:
            assert (body["prediction"], body["probability"]) == (-1, -1.0), body


def test_file_rpc_bus_cleanup(tmp_path):
    """poll_response consumes (deletes) its file; gc_responses sweeps
    orphans past the TTL but leaves fresh files (ADVICE r1)."""
    import json
    import os
    import time

    from big_data_occupancy_detection_spark.serving import FileRpcBus

    bus = FileRpcBus(str(tmp_path / "bus"))
    for rid in ("r1", "r2", "r3"):
        with open(os.path.join(bus.responses_dir, f"{rid}.json"), "w") as f:
            f.write(json.dumps({"request_id": rid, "prediction": 1}))

    assert bus.poll_response("r1", deadline_s=1.0)["request_id"] == "r1"
    assert not os.path.exists(os.path.join(bus.responses_dir, "r1.json"))

    old = os.path.join(bus.responses_dir, "r2.json")
    past = time.time() - 120
    os.utime(old, (past, past))
    assert bus.gc_responses(ttl_s=60.0) == 1
    assert not os.path.exists(old)
    assert os.path.exists(os.path.join(bus.responses_dir, "r3.json"))
