"""applyInPandasWithState: state must carry across micro-batches."""

from __future__ import annotations

import json

from big_data_occupancy_detection_spark.streaming.stateful import running_user_stats

BATCH1 = [
    {"ts": "2026-01-01T09:00:00", "user_id": 1, "value": 10.0},
    {"ts": "2026-01-01T09:01:00", "user_id": 1, "value": 20.0},
    {"ts": "2026-01-01T09:02:00", "user_id": 2, "value": 5.0},
]
BATCH2 = [
    {"ts": "2026-01-01T09:10:00", "user_id": 1, "value": 30.0},
]


def test_running_user_stats_across_batches(spark, tmp_path):
    src = tmp_path / "ev"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(json.dumps(e) for e in BATCH1))
    stream = (
        spark.readStream.format("json")
        .schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
    )
    q = (
        running_user_stats(stream)
        .writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        first = {r.user_id: r for r in spark.table("user_stats").collect()}
        # EMA folds in ts order: u1 = 0.3*20 + 0.7*10 = 13.0
        assert (first[1].n_events, first[1].total_value, first[1].ema_value) == (
            2,
            30.0,
            13.0,
        )
        assert (first[2].n_events, first[2].total_value, first[2].ema_value) == (
            1,
            5.0,
            5.0,
        )

        (src / "b2.json").write_text("\n".join(json.dumps(e) for e in BATCH2))
        q.processAllAvailable()
        rows = spark.table("user_stats").collect()
        # update mode appends the batch-2 row; take user 1's latest emission
        latest = max(
            (r for r in rows if r.user_id == 1), key=lambda r: r.n_events
        )
        # state carried: n 2→3, total 30→60, ema 0.3*30 + 0.7*13 = 18.1
        assert (latest.n_events, latest.total_value, latest.ema_value) == (
            3,
            60.0,
            18.1,
        )
    finally:
        q.stop()
