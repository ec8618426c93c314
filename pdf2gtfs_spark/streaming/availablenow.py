"""Incremental extraction via Structured Streaming (SURVEY.md §2.9).

The reference is a batch CLI; the north_rule's streaming-ish demands
are resumability + lineage, which plans.lineage provides at bucket
grain. This module adds the orthogonal *file-grain* incremental skin:
``Trigger.AvailableNow`` over a transcripts directory — new parquet
files appended between runs are processed exactly once (Spark's
streaming checkpoint tracks seen files), so a cron-style ingest loop
needs no custom bookkeeping. No watermarks/session windows: event time
is irrelevant to the per-turn invariant (SURVEY.md §2.9).
"""

from __future__ import annotations

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.plans.pipeline import map_extract
from pdf2gtfs_spark.sources.transcripts import TRANSCRIPT_DDL


def stream_extract(spark, input_dir: str, output_dir: str,
                   checkpoint_dir: str,
                   cfg: ExtractConfig = DEFAULT_CONFIG,
                   await_termination: bool = True):
    """Process all currently-available transcript files, then stop.

    Returns the StreamingQuery (already terminated if
    ``await_termination``).
    """
    stream = (spark.readStream
              .schema(TRANSCRIPT_DDL)
              .parquet(input_dir)
              .select("conv_id", "turn_idx", "text"))
    extracted = map_extract(stream, cfg)
    query = (extracted.writeStream
             .format("parquet")
             .option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
    if await_termination:
        query.awaitTermination()
    return query
