"""Watermarked tumbling-window aggregation over the turn stream
(task brief §streaming: watermarks + windowed aggs for late data).

``turn_rate_windows`` computes per-conversation turn-rate metrics in
event-time windows; in append mode a window is emitted exactly once —
when the watermark passes its end — and rows arriving later than the
watermark delay are dropped by the state store instead of corrupting
an already-emitted window (tests/test_streaming.py pins both
behaviors). The same plan runs in batch (`spark.read`) for backfills:
Structured Streaming's incremental execution and the batch plan share
the aggregation operator, so the two paths cannot drift.
"""

from __future__ import annotations

from pdf2gtfs_spark.sources.transcripts import TRANSCRIPT_DDL


def stream_turn_rate(spark, inp: str, out: str, ckpt: str,
                     window: str = "10 minutes",
                     watermark: str = "5 minutes") -> None:
    """Incremental windowed aggregation over a growing transcript
    directory: Trigger.AvailableNow drains whatever files exist, the
    checkpoint carries the watermark + window state across runs, and
    the append-mode parquet sink receives each finalized window
    exactly once."""
    stream = (spark.readStream.schema(TRANSCRIPT_DDL).parquet(inp))
    q = (turn_rate_windows(stream, window, watermark)
         .writeStream.outputMode("append")
         .format("parquet")
         .option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


def turn_rate_windows(turns, window: str = "10 minutes",
                      watermark: str = "5 minutes"):
    """turns(conv_id, turn_idx, role, text, tool, ts) ->
    (window_start, window_end, conv_id, n_turns, n_chars).

    Works on both a streaming and a batch DataFrame; the streaming
    form requires ``ts`` to be the event-time column and emits
    append-mode finalized windows only.
    """
    from pyspark.sql import functions as F

    src = turns
    if turns.isStreaming:
        src = turns.withWatermark("ts", watermark)
    return (src
            .groupBy(F.window("ts", window).alias("w"), "conv_id")
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.length("text")).alias("n_chars"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "conv_id", "n_turns", "n_chars"))
