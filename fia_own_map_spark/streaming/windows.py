"""Structured Streaming operators over the events stream: watermarked
windowed aggregation and a custom stateful operator.

The reference is strictly batch (SURVEY.md §2.10); these are the engine's
streaming-native surface for the same aggregations the batch queries run
(`events_hourly`, per-user event totals), required of a training-data
pipeline ingesting append-only event/page feeds:

  * ``hourly_event_counts_stream`` — event-time tumbling window + watermark:
    late rows beyond the watermark are dropped, windows finalize
    incrementally (append/update mode both work).
  * ``running_user_totals_stream`` — applyInPandasWithState: per-user
    running (n_events, total_value) maintained in group state across
    micro-batches, emitting the updated totals each batch. The demo state is
    a pair of counters; the same shape carries any custom per-key
    accumulator Spark lacks natively.

Both are verified against their batch equivalents by streaming the same
parquet data through availableNow triggers (tests/test_streaming_windows.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def hourly_event_counts_stream(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour event-time windows with a late-data watermark:
    (window_start, event_type, n_events, avg_value)."""
    # watermarks require TIMESTAMP (ltz); parquet written by pandas/arrow is
    # often TIMESTAMP_NTZ — normalize (no-op when already ltz)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "avg_value")
    )


_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("user_n_events", LongType()),
        StructField("user_total_value", DoubleType()),
    ]
)
_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def _totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "user_n_events": [n], "user_total_value": [round(total, 4)]}
    )


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running totals across
    micro-batches via applyInPandasWithState (update output mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _totals_fn,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
