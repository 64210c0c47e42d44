"""Streaming-plane tests: the reference's 5-case malformed-payload taxonomy
(the sharpest spec in the repo — ``infrastructure/test_stream_interfaces.py``)
run against a file-source structured stream with a REAL batch-trained
PipelineModel applied on-stream, plus stream-survival and multi-sink fusion."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from big_data_occupancy_detection_spark.ml.pipelines import (
    build_weighted_lr_pipeline,
    strip_training_summary,
)
from big_data_occupancy_detection_spark.streaming.inference import (
    build_inference_pipeline,
    file_source,
    logistic_score,
    memory_sink,
    model_score,
)
from big_data_occupancy_detection_spark.streaming.schemas import (
    FEATURE_NAMES,
    SENTINEL_PREDICTION,
    SENTINEL_PROBABILITY,
)

# The 5-case taxonomy (FIXTURES.md §2).
CASES = {
    "valid": {
        "request_id": "r-valid",
        "timestamp": "2026-01-01T00:00:00Z",
        "payload": {"Temperature": 23.1, "Humidity": 27.2, "CO2": 700.0, "HumidityRatio": 0.0048},
    },
    "missing_field": {
        "request_id": "r-missing",
        "timestamp": "2026-01-01T00:00:01Z",
        "payload": {"Temperature": 23.1, "Humidity": 27.2, "HumidityRatio": 0.0048},
    },
    "null_field": {
        "request_id": "r-null",
        "timestamp": "2026-01-01T00:00:02Z",
        "payload": {"Temperature": 23.1, "Humidity": 27.2, "CO2": None, "HumidityRatio": 0.0048},
    },
    "wrong_type": {
        "request_id": "r-wrongtype",
        "timestamp": "2026-01-01T00:00:03Z",
        "payload": {"Temperature": "23.1C", "Humidity": 27.2, "CO2": 700.0, "HumidityRatio": 0.0048},
    },
    "broken_payload": {
        "request_id": "r-broken",
        "timestamp": "2026-01-01T00:00:04Z",
        "payload": {"foo": "bar", "something": 123},
    },
    # JSON NaN parses (json.loads and from_json both accept it) and is not
    # null, but the fitted assembler's handleInvalid="skip" would drop it
    "nan_field": {
        "request_id": "r-nan",
        "timestamp": "2026-01-01T00:00:05Z",
        "payload": {"Temperature": 23.1, "Humidity": float("nan"), "CO2": 700.0, "HumidityRatio": 0.0048},
    },
}
SENTINEL_IDS = {"r-missing", "r-null", "r-wrongtype", "r-broken", "r-nan"}


@pytest.fixture(scope="module")
def trained_model(spark):
    """Tiny but real class-weighted LR pipeline, batch-trained (T5)."""
    rows = []
    for i in range(200):
        occupied = i % 3 == 0
        rows.append(
            Row(
                Temperature=22.0 + (2.5 if occupied else 0.0) + (i % 7) * 0.1,
                Humidity=25.0 + (i % 11) * 0.5,
                CO2=(900.0 if occupied else 500.0) + (i % 13) * 10,
                HumidityRatio=0.004 + (0.001 if occupied else 0.0),
                label=int(occupied),
                class_weight=1.0,
            )
        )
    train = spark.createDataFrame(rows)
    return strip_training_summary(build_weighted_lr_pipeline(FEATURE_NAMES).fit(train))


def _write_requests(dirpath, name, payloads):
    path = dirpath / name
    path.write_text("\n".join(json.dumps(p) for p in payloads))


def test_taxonomy_with_model_on_stream(spark, tmp_path, trained_model):
    src = tmp_path / "requests"
    src.mkdir()
    _write_requests(src, "batch1.json", list(CASES.values()))

    raw = file_source(spark, str(src))
    responses = build_inference_pipeline(raw, model_score(trained_model))
    query = memory_sink(responses, "taxonomy_out", str(tmp_path / "ckpt"))
    try:
        query.processAllAvailable()
        out = {
            json.loads(r.value)["request_id"]: json.loads(r.value)
            for r in spark.table("taxonomy_out").collect()
        }
    finally:
        query.stop()

    assert set(out) == {c["request_id"] for c in CASES.values()}
    valid = out["r-valid"]
    assert valid["prediction"] in (0, 1)
    assert 0.0 <= valid["probability"] <= 1.0
    assert valid["features"]["CO2"] == 700.0
    for rid in SENTINEL_IDS:
        assert out[rid]["prediction"] == SENTINEL_PREDICTION, rid
        assert out[rid]["probability"] == SENTINEL_PROBABILITY, rid
    # wrong-type field was nulled by from_json, not coerced
    assert out["r-wrongtype"]["features"]["Temperature"] is None
    # the NaN feature is echoed as sent, not as the 0.0 the model saw
    assert out["r-nan"]["features"]["Humidity"] == "NaN"
    assert out["r-nan"]["features"]["CO2"] == 700.0
    # envelope echoes the request timestamp
    assert out["r-valid"]["timestamp"] == "2026-01-01T00:00:00Z"


def test_stream_survives_bad_data_across_batches(spark, tmp_path, trained_model):
    """Malformed payloads must never kill the query (T3): feed garbage in
    batch 1, valid data in batch 2, assert batch 2 still processes."""
    src = tmp_path / "requests"
    src.mkdir()
    _write_requests(src, "b1.json", [CASES["broken_payload"], CASES["wrong_type"]])

    raw = file_source(spark, str(src))
    responses = build_inference_pipeline(raw, model_score(trained_model))
    query = memory_sink(responses, "survival_out", str(tmp_path / "ckpt"))
    try:
        query.processAllAvailable()
        n1 = spark.table("survival_out").count()
        _write_requests(src, "b2.json", [CASES["valid"]])
        query.processAllAvailable()
        rows = spark.table("survival_out").collect()
        assert query.isActive
    finally:
        query.stop()
    assert n1 == 2
    assert len(rows) == 3
    by_id = {json.loads(r.value)["request_id"]: json.loads(r.value) for r in rows}
    assert by_id["r-valid"]["prediction"] in (0, 1)


def test_batch_stream_transform_equivalence(spark, tmp_path):
    """The pipeline is one pure function: batch and streaming runs over the
    same records must agree (backfill == live)."""
    payloads = list(CASES.values())
    batch_raw = spark.createDataFrame(
        [(json.dumps(p),) for p in payloads], ["json"]
    )
    batch_out = {
        r["request_id"]: (r["prediction"], round(r["probability"], 9))
        for r in build_inference_pipeline(batch_raw, logistic_score).collect()
    }

    src = tmp_path / "requests"
    src.mkdir()
    _write_requests(src, "b.json", payloads)
    raw = file_source(spark, str(src))
    query = memory_sink(
        build_inference_pipeline(raw, logistic_score), "equiv_out", str(tmp_path / "ckpt")
    )
    try:
        query.processAllAvailable()
        stream_out = {}
        for r in spark.table("equiv_out").collect():
            v = json.loads(r.value)
            stream_out[v["request_id"]] = (v["prediction"], round(v["probability"], 9))
    finally:
        query.stop()
    assert batch_out == stream_out


@pytest.mark.parametrize("scorer", ["model", "logistic"])
def test_inference_plan_is_one_pass(spark, tmp_path, trained_model, scorer):
    """Routing is one projection: no Union, one scan of the requests and
    one from_json, with either scorer (a filter pair would scan twice, and
    a pushed-down validity filter repeats the parse)."""
    src = tmp_path / "requests"
    src.mkdir()
    _write_requests(src, "b.json", list(CASES.values()))
    raw = spark.read.text(str(src)).select(F.col("value").alias("json"))
    score = model_score(trained_model) if scorer == "model" else logistic_score
    out = build_inference_pipeline(raw, score)

    plan = out._jdf.queryExecution().executedPlan().toString()
    # operator name of each plan tree line, past the tree drawing and codegen ids
    nodes = [re.sub(r"^[\s:+\-|*()0-9]*", "", line).split(" ")[0] for line in plan.splitlines()]
    assert "Union" not in nodes, nodes
    assert sum(n.endswith("Scan") for n in nodes) == 1, nodes
    assert plan.count("from_json(") == 1, plan
    got = {r["request_id"]: r["prediction"] for r in out.collect()}
    assert set(got) == {c["request_id"] for c in CASES.values()}
    assert {rid for rid, p in got.items() if p == SENTINEL_PREDICTION} == SENTINEL_IDS


def test_scoring_micro_batch_is_one_task(spark, tmp_path, trained_model):
    """A serving micro-batch of three request files runs as one job of one
    task (read from the status store), and answers all three."""
    from big_data_occupancy_detection_spark.serving import (
        FileRpcBus,
        start_scoring_query,
    )

    bus = FileRpcBus(str(tmp_path / "bus"))
    names = ["valid", "null_field", "nan_field"]
    for name in names:
        bus.publish_request(CASES[name])
    sc = spark.sparkContext._jsc.sc()
    first_job = sc.dagScheduler().numTotalJobs()
    query = start_scoring_query(spark, trained_model, bus, str(tmp_path / "ckpt"))
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    sc.listenerBus().waitUntilEmpty()

    batches = [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]
    assert [b["numInputRows"] for b in batches if b["numInputRows"]] == [3]
    last_job = sc.dagScheduler().numTotalJobs()
    assert last_job - first_job == 1
    store = sc.statusStore()
    tasks = 0
    for job in range(first_job, last_job):
        stages = store.job(job).stageIds().iterator()
        while stages.hasNext():
            stage = store.lastStageAttempt(stages.next())
            if stage.status().toString() != "SKIPPED":
                tasks += stage.numCompleteTasks()
    assert tasks == 1
    answered = {name[: -len(".json")] for name in os.listdir(bus.responses_dir)}
    assert answered == {CASES[name]["request_id"] for name in names}


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """T4 hardened: stop a checkpointed file->file query, restart it from
    the SAME checkpoint with old + new input present, and assert the output
    holds every request exactly once — the restart must resume from the
    committed offset log, not reprocess batch 1 (VERDICT r1 item 5;
    reference behavior: infrastructure/stream_inference.py:165).
    """
    src = tmp_path / "requests"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        raw = file_source(spark, str(src), max_files_per_trigger=1)
        responses = build_inference_pipeline(raw, logistic_score)
        q = (
            responses.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    _write_requests(src, "batch1.json", list(CASES.values()))
    run_once()
    first = spark.read.parquet(out).select("request_id").collect()
    assert sorted(r["request_id"] for r in first) == sorted(
        c["request_id"] for c in CASES.values()
    )

    # second generation of requests lands while the query is DOWN
    second_gen = []
    for i in range(3):
        env = dict(CASES["valid"])
        env = {**env, "request_id": f"r-gen2-{i}"}
        second_gen.append(env)
    _write_requests(src, "batch2.json", second_gen)

    run_once()  # restart from the same checkpoint
    final = [r["request_id"] for r in spark.read.parquet(out).select("request_id").collect()]
    expected = sorted(
        [c["request_id"] for c in CASES.values()] + [p["request_id"] for p in second_gen]
    )
    # exactly once: batch-1 rows NOT duplicated, batch-2 rows all present
    assert sorted(final) == expected


def test_available_now_trigger_drains_and_stops(spark, tmp_path, trained_model):
    """Trigger.AvailableNow: the incremental-backfill mode — process every
    pending file in bounded micro-batches, then stop on its own. This is
    how a 100 TB catch-up run works without a long-lived query (vs
    processAllAvailable, which needs a live driver loop). The parquet file
    sink + shared checkpoint also proves exactly-once across reruns: a
    second drain with no new input emits nothing."""
    from big_data_occupancy_detection_spark.streaming.inference import (
        to_response_json,
    )

    src = tmp_path / "requests"
    src.mkdir()
    _write_requests(src, "batch1.json", list(CASES.values()))
    _write_requests(src, "batch2.json", [CASES["valid"]])

    raw = file_source(spark, str(src), max_files_per_trigger=1)
    responses = build_inference_pipeline(raw, model_score(trained_model))
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            to_response_json(responses)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # availableNow terminates by itself once the backlog is drained
        assert q.awaitTermination(120), "query did not self-terminate"

    drain()
    assert spark.read.parquet(out_dir).count() == len(CASES) + 1
    # rerun from the same checkpoint with no new files: exactly-once, no dupes
    drain()
    assert spark.read.parquet(out_dir).count() == len(CASES) + 1


def test_python_datasource_stream_source(spark, tmp_path):
    """Custom Python streaming connector (SimpleDataSourceStreamReader):
    micro-batches advance a deterministic offset; a restart from the same
    checkpoint continues exactly-once (no duplicate ids, no gaps)."""
    import time

    from big_data_occupancy_detection_spark.sources.pyds import (
        gen_row,
        register_eventgen,
    )

    register_eventgen(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_until(n_rows, max_rows):
        stream = (
            spark.readStream.format("eventgen")
            .option("batch_rows", 50)
            .option("max_rows", max_rows)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 120
            while time.time() < deadline:
                q.processAllAvailable()
                if spark.read.parquet(out).count() >= n_rows:
                    break
            return [tuple(r) for r in spark.read.parquet(out).collect()]
        finally:
            q.stop()

    first = run_until(150, max_rows=150)
    assert sorted(r[0] for r in first) == list(range(150))
    # every row matches the deterministic recipe
    assert sorted(first) == sorted(gen_row(i) for i in range(150))
    # restart from the same checkpoint with a higher cap: continues, no dups
    second = run_until(250, max_rows=250)
    ids = sorted(r[0] for r in second)
    assert ids == list(range(250)), (len(ids), ids[:3], ids[-3:])


def test_event_time_pipeline_capstone_restart(spark, tmp_path):
    """Round-6 capstone: the production event-time shape composed from
    the individually-proven pieces — file source → exact re-delivery
    dedup (dropDuplicatesWithinWatermark) → watermarked session windows
    (append) → keyed upsert snapshot. Three stateful planes (dedup
    state, session state, on-disk snapshot), the query KILLED
    mid-stream and restarted from its checkpoint; final state must
    equal the batch twin."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from big_data_occupancy_detection_spark.streaming.upsert import (
        read_snapshot,
        upsert_sink,
    )
    from big_data_occupancy_detection_spark.streaming.windows import (
        session_counts,
    )

    BASE = "the quick brown fox jumps over the lazy dog again and again"
    NEAR = "the quick brown fox jumps over the lazy dog again and often"
    OTHER = "completely different content about spark execution plans here"
    THIRD = "yet another unrelated document that talks about parquet files"
    FRESH = "some genuinely fresh text with no overlap at all"

    def _write(name, rows):
        p = src / name
        p.write_text(
            "\n".join(
                _json.dumps(
                    {
                        "doc_id": d,
                        "user_id": u,
                        "ts": f"2026-01-01T{t}:00",
                        "text": x,
                    }
                )
                for d, u, t, x in rows
            )
        )
        # FileStreamSource orders a listing by modification time; files
        # written within one mtime tick would batch in UNSTABLE order and
        # could process a flush file (advancing the watermark to 22:50)
        # before b2 — making doc 6 late. Stagger mtimes explicitly.
        _write.seq += 1
        _os.utime(p, (1700000000 + _write.seq, 1700000000 + _write.seq))

    _write.seq = 0

    src = tmp_path / "docs"
    src.mkdir()
    schema = "doc_id long, user_id long, ts timestamp, text string"
    # phase 1 files — doc 3 is RE-DELIVERED in b1 (its event time is still
    # above the watermark, so the dedup state is alive and drops it).
    # Every event in the fixture arrives ABOVE the watermark at its
    # processing time — the batch twin is only an equality oracle for
    # on-time data; late-data routing has its own taxonomy tests.
    _write("b0.json", [(1, 1, "09:00", BASE), (2, 1, "09:05", OTHER),
                       (3, 2, "09:45", THIRD)])
    _write("b1.json", [(3, 2, "09:45", THIRD), (5, 2, "10:00", FRESH),
                       (4, 1, "10:30", NEAR)])

    target = str(tmp_path / "sessions_snapshot")
    ckpt = str(tmp_path / "ck_sess")

    def _start_query():
        raw = (
            spark.readStream.format("json")
            .schema(schema)
            .option("maxFilesPerTrigger", 1)
            .load(str(src))
        )
        deduped = raw.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
            ["doc_id"]
        )
        sessions = session_counts(
            deduped, ts_col="ts", gap="30 minutes", watermark=None
        )
        return upsert_sink(
            sessions,
            target,
            ["user_id", "session_start"],
            "session_end",
            ckpt,
            output_mode="append",
        )

    q = _start_query()
    q.processAllAvailable()
    q.stop()  # the kill: the stateful query dies mid-stream

    # phase 2: doc 6 merges into u1's open 10:30 session across the
    # restart; the two flush docs push the watermark past every real
    # session end
    _write("b2.json", [(6, 1, "10:32", OTHER)])
    _write("b3.json", [(99, 99, "23:00", "flush marker one unique words")])
    _write("b4.json", [(100, 99, "23:30", "flush marker two other tokens")])

    q = _start_query()
    q.processAllAvailable()
    q.stop()

    # --- session/upsert plane vs the batch twin ---
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in read_snapshot(spark, target).collect()
    }
    static = spark.read.schema(schema).json(str(src))
    batch_twin = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in session_counts(
            static.dropDuplicates(["doc_id"]),
            ts_col="ts",
            gap="30 minutes",
            watermark=None,
        )
        .filter(F.col("user_id") != 99)  # flush sessions never close
        .collect()
    }
    assert got == batch_twin
    # pinned shape: u2's session counts re-delivered doc 3 ONCE (dedup
    # stage participated) and u1's second session merged ACROSS the
    # restart (session state survived the kill)
    assert got == {
        (1, "2026-01-01 09:00:00", "2026-01-01 09:35:00", 2),
        (1, "2026-01-01 10:30:00", "2026-01-01 11:02:00", 2),
        (2, "2026-01-01 09:45:00", "2026-01-01 10:30:00", 2),
    }

