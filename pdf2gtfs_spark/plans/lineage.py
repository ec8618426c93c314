"""Lineage + checkpoint/resume (north_rule requirement; FIXTURES.md §7).

The checkpoint unit is a *conversation bucket*: pmod(xxhash64(conv_id),
n_buckets). Pending buckets run in commit groups of one Spark action
each: extract + parquet write partitioned by bucket, with the lineage
metrics observed during the write. Then one lineage row per bucket of
the group (0 counts included) is appended as one parquet file. A
killed job resumes by anti-joining pending buckets against the lineage
committed from the same input snapshot — finished partitions are never
recomputed, and a new snapshot of the input is processed in full
(reference precedent: the fingerprinted OSM cache protocol,
locate/osm_fetcher.py:40-100).

On Iceberg this becomes snapshot-id bookkeeping; the sandbox uses
parquet + an input fingerprint column with identical semantics.
"""

from __future__ import annotations

import time
from pathlib import Path

LINEAGE_COLUMNS = (
    "run_id string, input_snapshot_id string, bucket int, "
    "input_rows long, extracted_tables long, malformed_turns long, "
    "started_ts double, committed_ts double"
)


def bucket_col(n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def committed_buckets(spark, lineage_dir: str,
                      input_snapshot_id: str) -> set[int]:
    """Buckets committed from this input snapshot: a bucket committed
    from another snapshot of the input is pending again."""
    from pyspark.sql import functions as F

    p = Path(lineage_dir)
    if not p.exists() or not any(p.glob("*.parquet")):
        return set()
    rows = spark.read.schema(LINEAGE_COLUMNS).parquet(lineage_dir).where(
        F.col("input_snapshot_id") == input_snapshot_id)
    return {r[0] for r in rows.select("bucket").collect()}


def run_with_checkpoint(spark, transcripts_df, out_dir: str,
                        run_id: str, input_snapshot_id: str,
                        n_buckets: int = 8, group_size: int = 4,
                        max_groups: int | None = None,
                        cfg=None, num_partitions: int | None = None
                        ) -> list[int]:
    """Process pending buckets in commit groups; returns the buckets
    processed this invocation. ``max_groups`` simulates a mid-run kill
    for resume tests."""
    from pyspark.sql import Observation, functions as F

    from pdf2gtfs_spark.config import DEFAULT_CONFIG
    from pdf2gtfs_spark.plans.pipeline import run_extract
    from pdf2gtfs_spark.sources import literal_frame

    cfg = cfg or DEFAULT_CONFIG
    lineage_dir = str(Path(out_dir) / "lineage")
    tables_dir = str(Path(out_dir) / "tables")

    done = committed_buckets(spark, lineage_dir, input_snapshot_id)
    pending = [b for b in range(n_buckets) if b not in done]
    groups = [pending[i:i + group_size]
              for i in range(0, len(pending), group_size)][:max_groups]

    # one kernel row per input turn has table_id NULL or 0 (pipeline.py).
    # SQL text, not the Column API: one py4j call per observed metric
    # instead of ~8 keeps the driver's cost per group in milliseconds
    metrics = {"input_rows": "table_id IS NULL OR table_id = 0",
               "extracted_tables": "table_id IS NOT NULL",
               "malformed_turns": "malformed"}
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    try:
        for group in groups:
            started, obs = time.time(), Observation()
            part = transcripts_df.where(bucket_col(n_buckets).isin(group))
            extracted = run_extract(
                part.select("conv_id", "turn_idx", "text"), cfg,
                num_partitions=num_partitions).withColumn(
                "bucket", bucket_col(n_buckets)).observe(obs, *[
                    F.expr(f"count_if(bucket = {b} AND ({c})) AS {k}{b}")
                    for b in group for k, c in metrics.items()])
            # commit output first, lineage second: a crash between the
            # two re-processes the group idempotently (same bucket
            # partitions are overwritten via dynamic partition overwrite)
            sc.setJobDescription(f"checkpoint group {group}: extract+write")
            (extracted.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(tables_dir))
            m = obs.get
            rows = [(run_id, input_snapshot_id, b,
                     *(m[f"{k}{b}"] for k in metrics), started, time.time())
                    for b in group]
            sc.setJobDescription(f"checkpoint group {group}: lineage append")
            # one file per group: every resume and summary lists and
            # reads all of them
            literal_frame(spark, rows, LINEAGE_COLUMNS).coalesce(1) \
                .write.mode("append").parquet(lineage_dir)
    finally:
        sc.setJobDescription(caller_desc)
    return [b for group in groups for b in group]
