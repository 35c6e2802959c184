"""Watermarked tumbling-window aggregation over a replayed stream.

The APPEND-mode contract: a window is emitted exactly once, when the
event-time watermark (max event time seen in a COMPLETED batch, minus
the lateness allowance) passes its end. Late events inside the
allowance still count; windows the watermark never passes are withheld
— that is the price of exactly-once append emission, and it is
DETERMINISTIC: with input replayed as time-ordered micro-batches, the
emitted set is exactly the windows ending at or before
``max(event_time of all but the final batch) - delay`` (the watermark
used while the final batch runs; watermarks advance between batches).

Reference analogue: none (the reference is batch-only); this is the
Structured-Streaming-native form of the tumbling-window rollup
(queries.q_events_tumbling_window).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

EVENTS_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


def stream_window_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    delay: str = "10 minutes",
) -> None:
    """Drain the replayed batches through a watermarked tumbling-window
    count into a parquet sink (append mode, exactly-once)."""
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def stream_window_counts_with_drops(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    delay: str = "10 minutes",
) -> int:
    """Like stream_window_counts but grouped by window only, and
    returns the total ``numRowsDroppedByWatermark`` across the run —
    the engine-reported count of input rows that arrived AFTER the
    watermark had passed their window and were therefore excluded
    from state (the late-data drop semantics the append contract
    implies but stream_window_counts never exercises, because its
    replay is time-ordered)."""
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    agg = (
        stream.withWatermark("ts", delay)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )
    first_batch = _next_batch_id(checkpoint_dir)
    query = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # recentProgress retains only the last numRecentProgressUpdates - 1
    # (default 100) batches: a longer replay would silently undercount
    # drops — assert instead of undercounting. The buffer never grows
    # past its cap, so its length cannot tell a run that fills it from a
    # longer one; the oldest retained batchId can: it is this run's
    # first batch unless one was evicted.
    progress = list(query.recentProgress)
    if progress and int(progress[0]["batchId"]) > first_batch:
        retention = spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
        raise RuntimeError(
            f"stream_window_counts_with_drops: progress for batches "
            f"{first_batch}..{int(progress[0]['batchId']) - 1} was evicted by the "
            f"recentProgress retention limit ({retention}); drop counts would be "
            "incomplete — raise the limit or use a listener"
        )
    dropped = 0
    for prog in progress:
        for op in prog.get("stateOperators") or []:
            dropped += int(op.get("numRowsDroppedByWatermark") or 0)
    return dropped


def _next_batch_id(checkpoint_dir: str) -> int:
    """Id of the first micro-batch a query on this checkpoint runs: one
    past the last committed batch, 0 on a fresh checkpoint."""
    commits = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits):
        return 0
    done = [int(f) for f in os.listdir(commits) if f.isdigit()]
    return max(done) + 1 if done else 0
