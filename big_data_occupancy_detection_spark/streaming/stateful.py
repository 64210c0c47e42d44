"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's stream is stateless (SURVEY.md §2.9 T2). This adds the one
streaming shape built-in windows can't express: arbitrary per-key running
state carried across micro-batches — here a per-user event counter with a
running sum and an exponential moving average, the canonical "online
feature" pattern for a streaming feature store.

Scale notes: state lives in Spark's per-key state store (RocksDB-backed on
a real cluster), partitioned by the grouping key, O(1) per key per batch;
the Arrow batch transfer means the Python hop is columnar, not per-row.
Pair with a watermark + ``GroupStateTimeout`` in production to bound state
for keys that go quiet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = "n LONG, total DOUBLE, ema DOUBLE"
OUTPUT_SCHEMA = (
    "user_id LONG, n_events LONG, total_value DOUBLE, ema_value DOUBLE"
)

EMA_ALPHA = 0.3


def running_user_stats(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, EMA) over an event stream.

    Emits one row per user per micro-batch that touched that user
    (``update`` output mode). Rows within a batch are folded in ``ts``
    order so the EMA is deterministic regardless of partition read order.
    """

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        n, total, ema = state.get if state.exists else (0, 0.0, None)
        chunks = [pdf for pdf in pdfs]
        batch = pd.concat(chunks).sort_values("ts") if chunks else None
        if batch is not None:
            for v in batch["value"]:
                v = float(v)
                n += 1
                total += v
                ema = v if ema is None else EMA_ALPHA * v + (1.0 - EMA_ALPHA) * ema
        state.update((n, total, ema))
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "total_value": round(total, 6),
                    "ema_value": round(ema, 6) if ema is not None else None,
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
