"""Request/response RPC façade over the streaming plane — the engine's
equivalent of the reference's FastAPI+Kafka ``be/api_fast.py``, built on
the broker-free file source so the full system runs anywhere.

Shape parity with the reference (SURVEY.md §3.3):
- POST /predict builds a ``{request_id, timestamp, payload}`` envelope,
  publishes it (file write ⇔ producer.send), and polls for the matching
  response until a 5 s deadline (``be/api_fast.py:25,145-183``);
- deadline miss → 504 (``:192-195``);
- sentinel responses (prediction −1 / probability −1.0) pass through with
  the reference's tolerant int/float coercion (``:212-213``).

Correlation is by request_id, exactly as the reference's per-request
consumer loop — but files keyed by request_id make the match O(1) instead
of a topic scan. Swap ``FileRpcBus`` for a Kafka-backed bus in production;
the HTTP layer doesn't change.

A micro-batch holds a few requests, so its fixed cost sets the CPU per
request. The scoring query keeps that cost down: the request files of a
micro-batch are read as one task (``coalesce(1)``), the pipeline scans and
parses them once (``build_inference_pipeline``), and the checkpoint logs are
written through the FileSystem API (``session.get_session``). A restart from
the same checkpoint re-runs an uncommitted micro-batch; a re-written
response whose requester already has its reply is an orphan that
``gc_responses`` sweeps.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


RPC_DEADLINE_S = 5.0  # be/api_fast.py:25


class FileRpcBus:
    """File-directory request/response bus with the Kafka topic contract."""

    def __init__(self, root: str):
        self.requests_dir = os.path.join(root, "requests")
        self.responses_dir = os.path.join(root, "responses")
        os.makedirs(self.requests_dir, exist_ok=True)
        os.makedirs(self.responses_dir, exist_ok=True)

    def publish_request(self, envelope: dict) -> None:
        rid = envelope["request_id"]
        path = os.path.join(self.requests_dir, f"{rid}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(json.dumps(envelope))
        os.rename(tmp, path)  # atomic: the stream never sees partial JSON

    def poll_response(self, request_id: str, deadline_s: float = RPC_DEADLINE_S):
        path = os.path.join(self.responses_dir, f"{request_id}.json")
        end = time.monotonic() + deadline_s
        while time.monotonic() < end:
            if os.path.exists(path):
                with open(path) as f:
                    body = json.loads(f.read())
                try:  # consumed — delete so the dir stays O(in-flight requests)
                    os.unlink(path)
                except OSError:
                    pass
                return body
            time.sleep(0.05)
        return None

    def gc_responses(self, ttl_s: float = 60.0) -> int:
        """Delete orphaned response files older than ``ttl_s`` (responses
        whose requester hit the 504 deadline are never polled away). Returns
        the number removed. Request files are cleaned by the stream source
        itself (``cleanSource='delete'``)."""
        cutoff = time.time() - ttl_s
        removed = 0
        for name in os.listdir(self.responses_dir):
            path = os.path.join(self.responses_dir, name)
            try:
                if os.path.getmtime(path) < cutoff:
                    os.unlink(path)
                    removed += 1
            except OSError:
                pass  # concurrently consumed
        return removed


def start_scoring_query(spark, model, bus: FileRpcBus, checkpoint_dir: str):
    """The streaming plane: file requests → parse/score/sentinel → one
    response file per request_id (foreachBatch sink), one task and one job
    per micro-batch of up to 100 request files."""
    from .streaming.inference import (
        build_inference_pipeline,
        file_source,
        model_score,
        to_response_json,
    )

    # one task per micro-batch: each request file would otherwise be its own
    # scan partition, and a batch holds a few rows
    raw = file_source(
        spark, bus.requests_dir, max_files_per_trigger=100, clean_source="delete"
    ).coalesce(1)
    responses = to_response_json(build_inference_pipeline(raw, model_score(model)))

    def write_batch(batch_df, _batch_id: int) -> None:
        for row in batch_df.collect():
            path = os.path.join(bus.responses_dir, f"{row.key}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                f.write(row.value)
            os.rename(tmp, path)
        # sweep orphaned responses (timed-out requesters never poll theirs)
        bus.gc_responses(ttl_s=12 * RPC_DEADLINE_S)

    return (
        responses.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def make_predict_handler(bus: FileRpcBus, deadline_s: float = RPC_DEADLINE_S):
    class PredictHandler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def do_POST(self):
            if self.path != "/predict":
                self.send_error(404)
                return
            length = int(self.headers.get("Content-Length", 0))
            try:
                payload = json.loads(self.rfile.read(length) or b"{}")
            except json.JSONDecodeError:
                payload = None  # forwarded as-is → sentinel path downstream
            request_id = str(uuid.uuid4())
            envelope = {
                "request_id": request_id,
                "timestamp": datetime.now(timezone.utc).isoformat(),
                "payload": payload,
            }
            bus.publish_request(envelope)
            resp = bus.poll_response(request_id, deadline_s)
            if resp is None:
                self.send_error(504, "prediction timed out")  # api_fast.py:192-195
                return
            body = json.dumps(
                {
                    "request_id": resp.get("request_id"),
                    "prediction": int(resp.get("prediction", -1)),  # :212
                    "probability": float(resp.get("probability", -1.0)),  # :213
                    "features": resp.get("features"),
                    "timestamp": resp.get("timestamp"),
                }
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return PredictHandler


def serve(bus: FileRpcBus, port: int = 8000, deadline_s: float = RPC_DEADLINE_S):
    """Blocking HTTP server; returns the server object if you start it in a
    thread and want to ``shutdown()`` it."""
    server = ThreadingHTTPServer(("127.0.0.1", port), make_predict_handler(bus, deadline_s))
    return server


__all__ = ["FileRpcBus", "start_scoring_query", "serve", "RPC_DEADLINE_S"]
