"""Lineage + checkpoint/resume (north_rule requirement; FIXTURES.md §7).

The checkpoint unit is a *conversation bucket*: pmod(xxhash64(conv_id),
n_buckets). Pending buckets run in commit groups of one Spark job each:
extract + parquet write partitioned by bucket, with the lineage metrics
observed during the write. After the write returns, the driver commits
one lineage row per bucket of the group (0 counts included) as one
parquet file through the session's Hadoop FileSystem: written to a
hidden temp name, then renamed to ``part-<uuid>.parquet``, the way
Structured Streaming commits its offset and commit logs. A killed job
resumes by listing and reading that directory on the driver (no Spark
job) and anti-joining pending buckets against the buckets committed
from the same input snapshot — finished partitions are never
recomputed, and a new snapshot of the input is processed in full
(reference precedent: the fingerprinted OSM cache protocol,
locate/osm_fetcher.py:40-100).

On Iceberg this becomes snapshot-id bookkeeping; the sandbox uses
parquet + an input fingerprint column with identical semantics.
"""

from __future__ import annotations

import time
import uuid

LINEAGE_COLUMNS = (
    "run_id string, input_snapshot_id string, bucket int, "
    "input_rows long, extracted_tables long, malformed_turns long, "
    "started_ts double, committed_ts double"
)


def bucket_col(n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def output_dir(out_dir: str, name: str) -> str:
    """``name`` under ``out_dir``, joined with "/" so that a URI keeps
    its authority (pathlib folds ``hdfs://nn:8020/out`` into
    ``hdfs:/nn:8020/out``)."""
    return f"{out_dir.rstrip('/')}/{name}"


def _filesystem(spark, path: str):
    """The Hadoop FileSystem and Path of ``path``: local paths,
    ``file://``, ``hdfs://`` and ``s3a://`` resolve as they do for the
    session's own reads and writes, with its credentials."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def committed_buckets(spark, lineage_dir: str,
                      input_snapshot_id: str) -> set[int]:
    """Buckets committed from this input snapshot: a bucket committed
    from another snapshot of the input is pending again. Read on the
    driver; as in Spark's reader, names that start with ``_`` or ``.``
    (``_SUCCESS``, checksums, uncommitted temp files) are skipped."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fs, jdir = _filesystem(spark, lineage_dir)
    if not fs.exists(jdir):
        return set()
    done = set()
    for status in fs.listStatus(jdir):
        jpath = status.getPath()
        if not status.isFile() or jpath.getName().startswith(("_", ".")):
            continue
        stream = fs.open(jpath)
        try:
            data = stream.readAllBytes()
        finally:
            stream.close()
        t = pq.read_table(pa.BufferReader(data),
                          columns=["input_snapshot_id", "bucket"])
        done.update(b for s, b in zip(t["input_snapshot_id"].to_pylist(),
                                      t["bucket"].to_pylist())
                    if s == input_snapshot_id)
    return done


def _commit_lineage(spark, lineage_dir: str, rows: list[tuple]) -> None:
    """Write ``rows`` as one parquet file in ``lineage_dir``: to a
    hidden temp name, then renamed, so a reader lists whole files only."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(LINEAGE_COLUMNS))
    sink = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=schema), sink)
    fs, jdir = _filesystem(spark, lineage_dir)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    name = f"part-{uuid.uuid4()}.parquet"
    tmp, final = Path(jdir, f".{name}.tmp"), Path(jdir, name)
    out = fs.create(tmp, False)
    try:
        out.write(sink.getvalue().to_pybytes())
    finally:
        out.close()
    if not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise OSError(f"lineage commit: cannot rename {tmp} to {final}")


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

    cfg = cfg or DEFAULT_CONFIG
    lineage_dir = output_dir(out_dir, "lineage")
    tables_dir = output_dir(out_dir, "tables")

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
            _commit_lineage(spark, lineage_dir, rows)
    finally:
        sc.setJobDescription(caller_desc)
    return [b for group in groups for b in group]
