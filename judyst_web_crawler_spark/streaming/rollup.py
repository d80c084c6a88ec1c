"""Structured Streaming operators: watermarked rollups + stateful sessions.

The reference is batch-only (SURVEY §2.8 "No streaming"), but the engine's
event/metrics tables are naturally continuous at crawl scale — these
operators give the same aggregations in incremental form:

- ``hourly_rollup_stream``: tumbling-window count/sum with a watermark for
  late data; append-mode compatible (finalized windows only), so the sink
  below can snapshot-append without rewrites.
- ``sessionize_stream``: gap-based sessions per user via
  ``applyInPandasWithState`` (the custom-stateful-operator path when
  windowed aggs can't express the semantics).
- ``run_to_catalog``: ``foreachBatch`` → SnapshotCatalog append — each
  micro-batch is one atomic snapshot, the same commit protocol the batch
  frontier uses (crash-safe, resume = checkpoint + last snapshot).

Batch/stream parity is pinned by tests/test_streaming.py: the streamed
result must equal the batch groupBy on the same input.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def stream_events(
    spark: SparkSession, path: str, schema: str = EVENTS_SCHEMA, glob: str | None = None
) -> DataFrame:
    """File-source stream over a parquet directory (new files = new data;
    the production source is the same with a Kafka/Iceberg reader).
    ``glob`` restricts to matching files when ``path`` is a directory of
    mixed tables (file sources require a directory, not a file)."""
    reader = spark.readStream.schema(schema)
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path).withColumn("ts", F.col("ts").cast("timestamp"))


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour rollup, late rows beyond ``watermark`` dropped.

    Same output shape as the batch ``events_hourly_rollup`` query:
    (bucket, event_type, n_events, sum_value).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("bucket"), "event_type", "n_events", "sum_value")
    )


_SESSION_STATE = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ]
)

_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_sessions", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap-based (30-min) session counting per user, incremental.

    State = (last event epoch, sessions so far, events so far). Equivalent
    to the batch window-lag sessionizer on the full history when events
    arrive in order (pinned by tests).
    """
    gap_s = 1800
    if state.exists:
        last_ts, n_sessions, n_events = state.get
    else:
        last_ts, n_sessions, n_events = None, 0, 0
    # accumulate EVERY chunk before sorting: a key whose micro-batch
    # spans multiple Arrow chunks gets them in arbitrary post-shuffle
    # order, and a per-chunk sort would let a later chunk's earlier
    # timestamps regress last_ts (batch-oracle divergence)
    all_ts: list[int] = []
    for pdf in pdfs:
        all_ts.extend(
            (pd.to_datetime(pdf["ts"]).astype("int64") // 1_000_000_000).tolist()
        )
    for t in sorted(all_ts):
        if last_ts is None or t - last_ts > gap_s:
            n_sessions += 1
        last_ts = t
        n_events += 1
    state.update((last_ts, n_sessions, n_events))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_catalog(
    stream_df: DataFrame,
    catalog: Any,
    table: str,
    checkpoint_dir: str,
    mode: str = "append",
) -> None:
    """Drain available input into a snapshot table: one micro-batch = one
    atomic snapshot commit (availableNow trigger → returns when done)."""

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a crash between the snapshot
        # commit and the streaming checkpoint replays this batch_id —
        # skip it so the sink is exactly-once per batch
        if (
            catalog.exists(table)
            and catalog.read(table).filter(F.col("batch_id") == batch_id).limit(1).count() > 0
        ):
            return
        catalog.append(table, batch_df.withColumn("batch_id", F.lit(batch_id)))

    q = (
        stream_df.writeStream.foreachBatch(commit)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
