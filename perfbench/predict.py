"""``predict_rpc`` workload: a closed loop of C HTTP clients POSTing
``/predict`` to a server process (``serve_worker.py``) that scores through
the streaming plane. Each client sends its next request only after the
previous reply arrives.

Every reply is checked: its request_id must be a fresh UUID, a valid
payload must echo its features and get the prediction and probability of a
batch ``model.transform`` of them, and a malformed payload must get exactly
``-1`` / ``-1.0``.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import select
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid

import numpy as np
import pandas as pd

from common import RUN_DIR, busy_cpu_s, geomean, host_cpus, metric, percentile, vm_hwm_mb

FEATURES = ["Temperature", "Humidity", "CO2", "HumidityRatio"]
CASES = ["missing_field", "null_field", "wrong_type", "broken_payload"]
MALFORMED_SHARE = 0.2
POOL = 1000
TRACE_WINDOW_S = 1.0
# untimed load before the window: micro-batch time keeps falling for the
# first few seconds of traffic as the JIT compiles the scoring path
WARM_S = 6.0
# Seeded think time between a reply and the client's next request, spread
# over about one micro-batch cycle. Without it the clients fall into
# lockstep with the micro-batches, every latency of a run lands on the same
# step of the 50 ms poll loop, and runs differ by whole steps.
THINK_S = 0.4
# a failed request counts as the client timeout, beyond every limit
CLIENT_TIMEOUT_S = 30.0


# ---------------------------------------------------------------- inputs

def _features(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "Temperature": np.round(rng.uniform(19.0, 24.0, n), 3),
        "Humidity": np.round(rng.uniform(16.0, 40.0, n), 3),
        "CO2": np.round(rng.uniform(400.0, 2000.0, n), 2),
        "HumidityRatio": np.round(rng.uniform(0.003, 0.006, n), 6),
    })


def training_frame(seed: int, n: int = 5000) -> pd.DataFrame:
    """Synthetic occupancy readings; about a quarter occupied, driven
    mostly by CO2 and temperature."""
    rng = np.random.default_rng(seed)
    df = _features(rng, n)
    z = 0.004 * (df.CO2 - 1200) + 0.8 * (df.Temperature - 21.5) - 1.2
    df["label"] = (rng.uniform(0, 1, n) < 1 / (1 + np.exp(-z))).astype(np.int32)
    return df


def payload_pool(seed: int, n: int = POOL) -> list[dict]:
    """Seeded request payloads: mostly valid, MALFORMED_SHARE spread over
    the four malformed cases of the request taxonomy."""
    rng = np.random.default_rng(seed + 1)
    feats = _features(rng, n).to_dict("records")
    pool = []
    for i, f in enumerate(feats):
        case = "valid" if rng.uniform() >= MALFORMED_SHARE else CASES[i % len(CASES)]
        p = dict(f)
        if case == "missing_field":
            del p["CO2"]
        elif case == "null_field":
            p["CO2"] = None
        elif case == "wrong_type":
            p["Temperature"] = str(p["Temperature"])
        elif case == "broken_payload":
            p = {"foo": "bar", "something": 123}
        pool.append({"case": case, "payload": p})
    return pool


# ---------------------------------------------------------------- checking

def check_reply(item: dict, idx: int, body: dict, expected: dict, seen: set) -> str | None:
    rid = body.get("request_id")
    try:
        uuid.UUID(str(rid))
    except ValueError:
        return f"request_id {rid!r} is not a UUID"
    if rid in seen:
        return f"request_id {rid} answered twice"
    seen.add(rid)
    if item["case"] != "valid":
        if body["prediction"] != -1 or body["probability"] != -1.0:
            return f"{item['case']} got {body['prediction']}/{body['probability']}"
        return None
    if body["features"] != item["payload"]:
        return f"features {body['features']} != sent {item['payload']}"
    pred, prob = expected[str(idx)]
    if body["prediction"] != pred or not math.isclose(body["probability"], prob,
                                                       rel_tol=1e-9, abs_tol=1e-12):
        return f"got {body['prediction']}/{body['probability']}, batch says {pred}/{prob}"
    return None


# ---------------------------------------------------------------- server

class Server:
    def __init__(self, spec: dict):
        path = os.path.join(spec["scratch"], "spec.json")
        with open(path, "w") as f:
            json.dump(spec, f)
        self.log = open(os.path.join(spec["scratch"], "server.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "serve_worker.py"), path],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True)

    def read(self, timeout: float) -> dict:
        end = time.monotonic() + timeout
        while True:
            left = end - time.monotonic()
            if left <= 0 or not select.select([self.proc.stdout], [], [], left)[0]:
                raise TimeoutError("server did not answer")
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError("server exited; see server.log")
            if line.startswith("{"):
                return json.loads(line)

    def send(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=60)
        self.log.close()


# ---------------------------------------------------------------- clients

def _client(port, pool, order, stop, out, tracing):
    for idx, think in order:
        if stop.is_set():
            return
        time.sleep(think)
        item = pool[idx]
        t0 = time.perf_counter()
        traced = tracing[0]
        status, body = None, None
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=CLIENT_TIMEOUT_S)
            conn.request("POST", "/predict", json.dumps(item["payload"]),
                         {"Content-Type": "application/json"})
            resp = conn.getresponse()
            status, raw = resp.status, resp.read()
            conn.close()
            if status == 200:
                body = json.loads(raw)
        except (OSError, http.client.HTTPException, ValueError):
            pass
        out.append((idx, t0, time.perf_counter(), status, body, traced))


def run(seed: int, seconds: float, trace: bool, toy: bool = False,
        corrupt: bool = False) -> tuple[bool, int, int, dict, dict]:
    scratch = os.path.join(RUN_DIR, f"predict-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    train = os.path.join(scratch, "train.parquet")
    training_frame(seed, 500 if toy else 5000).to_parquet(train)
    pool = payload_pool(seed, 100 if toy else POOL)

    t0 = time.perf_counter()
    server = Server({"scratch": scratch, "train": train, "pool": pool, "trace": trace})
    try:
        ready = server.read(timeout=150)
        expected = ready["expected"]
        n_clients = host_cpus()
        rngs = [random.Random(seed * 1000 + c) for c in range(n_clients)]
        orders = [[(r.randrange(len(pool)), r.uniform(0, THINK_S)) for _ in range(20_000)]
                  for r in rngs]
        stop, tracing = threading.Event(), [False]
        out: list[tuple] = []
        threads = [threading.Thread(target=_client, args=(ready["port"], pool, o, stop, out, tracing))
                   for o in orders]
        for t in threads:
            t.start()
        time.sleep(WARM_S)
        server.send("go")
        start, cpu0 = time.perf_counter(), busy_cpu_s()
        setup_s = start - t0
        while time.perf_counter() - start < seconds:
            time.sleep(TRACE_WINDOW_S if trace else 0.05)
            if trace:
                tracing[0] = not tracing[0]
                server.send(f"trace {int(tracing[0])}")
        stop.set()
        for t in threads:
            t.join(timeout=60)
        wall, cpu_s = time.perf_counter() - start, busy_cpu_s() - cpu0
        out = [r for r in out if r[1] >= start]
        server.send("stop")
        done = server.read(timeout=120)
    finally:
        server.close()
        shutil.rmtree(scratch, ignore_errors=True)

    seen: set = set()
    bad = []
    lat = []
    for idx, a, b, status, body, _ in out:
        why = (f"HTTP {status}" if status != 200 else
               check_reply(pool[idx], idx, body, expected, seen))
        if corrupt and not bad and why is None:
            why = "corrupted by --corrupt"
        if why:
            bad.append(why)
        dt = CLIENT_TIMEOUT_S if why else b - a
        lat.append(dt)
    ok = len(out) - len(bad)
    for why in sorted(set(bad))[:10]:
        print(f"perfbench: predict reply failed: {why}", flush=True)
    info = {"clients": n_clients, "requests": len(out),
            "mix": {c: sum(p["case"] == c for p in pool) for c in ["valid", *CASES]},
            "wall": {"window_s": wall, "ops_per_s": ok / wall,
                     "query_geomean_s": geomean(lat),
                     "latency_p50_ms": 1e3 * percentile(lat, 50),
                     "latency_p90_ms": 1e3 * percentile(lat, 90)}}
    rss = done["rss_mb"] + vm_hwm_mb(os.getpid())
    if not trace:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "cpu_ms_per_op": metric(1e3 * cpu_s / max(ok, 1), "ms"),
            "peak_rss_mb": metric(rss, "MB"),
        }
    else:
        metrics = _layer_metrics(ready["layers"], done, out)
        with open(os.path.join(RUN_DIR, f"trace-predict_rpc-{seed}.json"), "w") as f:
            json.dump({"workload": "predict_rpc", "seed": seed, "info": info,
                       "server": done, "client": out}, f)
    return not bad, len(out), len(bad), metrics, info


def _layer_metrics(layers: dict, done: dict, out: list) -> dict:
    spans, progress, stats = done["spans"], done["progress"], done["stats"]
    on = [r for r in out if r[5] and r[4] and r[4].get("request_id") in spans]
    pub = [spans[r[4]["request_id"]]["publish_s"] for r in on]
    poll = [spans[r[4]["request_id"]]["poll_s"] for r in on]
    lat_on = [r[2] - r[1] for r in on]
    lat_off = [r[2] - r[1] for r in out if not r[5] and r[3] == 200]
    replies = [r[4] for r in out if r[4]]
    busy = [p for p in progress if p["rows"] > 0]
    trig = [p["durations"].get("triggerExecution", 0) for p in busy]

    def dur(key):
        return statistics.fmean(p["durations"].get(key, 0) for p in busy)

    n = max(len(out), 1)
    mb = 1024.0 * 1024.0
    m = {
        "session.start_s": metric(layers["session.start_s"], "s"),
        "session.warmup_s": metric(layers["session.warmup_s"], "s"),
        "sources.input_mb": metric(stats["inputBytes"] / mb / n, "MB"),
        "sources.input_rows": metric(stats["inputRecords"] / n, "count"),
        "sources.scan_s": metric(layers["sources.scan_s"], "s"),
        "operators.executor_run_s": metric(stats["executorRunTime"] / 1e3 / n, "s"),
        "operators.executor_cpu_s": metric(stats["executorCpuTime"] / 1e9 / n, "s"),
        "operators.gc_s": metric(stats["jvmGcTime"] / 1e3 / n, "s"),
        "operators.shuffle_write_mb": metric(stats["shuffleWriteBytes"] / mb / n, "MB"),
        "operators.shuffle_read_mb": metric(stats["shuffleReadBytes"] / mb / n, "MB"),
        "operators.spill_mb": metric(
            (stats["memoryBytesSpilled"] + stats["diskBytesSpilled"]) / mb / n, "MB"),
        "operators.slot_busy_share": metric(
            stats["executorRunTime"] / 1e3 / (done["window_s"] * host_cpus()), "ratio"),
        "ml.fit_s": metric(layers["ml.fit_s"], "s"),
        "ml.transform_ms": metric(layers["ml.transform_ms"], "ms"),
        "streaming.batches": metric(len(busy), "count"),
        "streaming.rows_per_batch": metric(
            statistics.fmean(p["rows"] for p in busy), "count"),
        "streaming.empty_batch_share": metric(
            1 - len(busy) / max(len(progress), 1), "ratio"),
        "streaming.trigger_ms_p50": metric(percentile(trig, 50), "ms"),
        "streaming.trigger_ms_p99": metric(percentile(trig, 99), "ms"),
        "streaming.latest_offset_ms": metric(dur("latestOffset"), "ms"),
        "streaming.get_batch_ms": metric(dur("getBatch"), "ms"),
        "streaming.query_planning_ms": metric(dur("queryPlanning"), "ms"),
        "streaming.add_batch_ms": metric(dur("addBatch"), "ms"),
        "streaming.wal_commit_ms": metric(dur("walCommit"), "ms"),
        "serving.publish_ms": metric(1e3 * statistics.fmean(pub), "ms"),
        "serving.poll_wait_ms": metric(1e3 * statistics.fmean(poll), "ms"),
        "serving.http_other_ms": metric(
            1e3 * statistics.fmean(lat_on) - 1e3 * statistics.fmean(pub)
            - 1e3 * statistics.fmean(poll), "ms"),
        "serving.timeouts": metric(sum(r[3] == 504 for r in out), "count"),
        "serving.sentinel_share": metric(
            sum(b["prediction"] == -1 for b in replies) / max(len(replies), 1), "ratio"),
        "trace.accounted_share": metric((sum(pub) + sum(poll)) / sum(lat_on), "ratio"),
        "trace.overhead_share": metric(
            statistics.fmean(lat_on) / statistics.fmean(lat_off) - 1.0, "ratio"),
    }
    return m
