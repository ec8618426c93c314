"""spark-submit entry point for the extraction job (north_rule ship
requirement: "ships as spark-submit --py-files on a multi-executor
cluster").

The driver script is deliberately thin: all logic lives in the
``pdf2gtfs_spark`` package, which reaches the driver *and* executors
via ``--py-files dist/pdf2gtfs_spark.zip`` (built by
``tools/make_pyfiles.py``).  Nothing here assumes the repo checkout is
on sys.path — the zip is load-bearing, and tests/test_job_cli.py
proves it by running this script through a real ``spark-submit`` with
the repo stripped from PYTHONPATH.

Usage (cluster)::

    spark-submit --master yarn --deploy-mode cluster \
        --py-files dist/pdf2gtfs_spark.zip \
        jobs/extract_transcripts.py \
        --input  s3://bucket/transcripts/ \
        --output s3://bucket/extracted/run42 \
        --n-buckets 4096 --group-size 64 --num-partitions 8192

Usage (sandbox / tests)::

    spark-submit --master local[4] --py-files dist/pdf2gtfs_spark.zip \
        jobs/extract_transcripts.py \
        --input /tmp/transcripts --output /tmp/out --n-buckets 8

Resume semantics: the job anti-joins pending conversation buckets
against the committed lineage table under ``<output>/lineage`` — a
killed run re-submitted with the same ``--output`` recomputes only
unfinished buckets (pdf2gtfs_spark/plans/lineage.py).  On an Iceberg
deployment pass ``--input-table catalog.db.transcripts`` instead of
``--input``; the snapshot id is read from the table's ``.snapshots``
metadata so lineage rows pin the exact input version.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys


def _parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path/glob "
                     "(conv_id, turn_idx, role, text, tool, ts)")
    src.add_argument("--input-table", help="Iceberg/catalog table name "
                     "(snapshot id taken from table metadata)")
    p.add_argument("--output", required=True,
                   help="output root; writes <output>/tables + "
                        "<output>/lineage")
    p.add_argument("--run-id", default="run",
                   help="lineage run id (default: 'run')")
    p.add_argument("--snapshot-id", default="auto",
                   help="input snapshot id for lineage; 'auto' "
                        "fingerprints the input file listing "
                        "(Iceberg tables read their real snapshot id)")
    p.add_argument("--n-buckets", type=int, default=64,
                   help="conversation buckets = checkpoint units")
    p.add_argument("--group-size", type=int, default=8,
                   help="buckets committed per group")
    p.add_argument("--num-partitions", type=int, default=None,
                   help="salted repartition width for skewed input "
                        "layouts (default: run on scan splits)")
    p.add_argument("--max-groups", type=int, default=None,
                   help="stop after N commit groups (kill simulation "
                        "for resume tests)")
    p.add_argument("--expected", default=None,
                   help="optional parquet of (conv_id, turn_idx, "
                        "expected_csvs); reports match_rate when given")
    return p.parse_args(argv)


def _auto_snapshot_id(df) -> str:
    """Deterministic fingerprint of the scanned file set — the parquet
    stand-in for an Iceberg snapshot id (same role: pin which input
    version a lineage row covers)."""
    listing = "\n".join(sorted(df.inputFiles()))
    return "files-" + hashlib.md5(listing.encode()).hexdigest()[:16]


def _iceberg_snapshot_id(spark, table: str) -> str:
    try:
        row = spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots "
            f"ORDER BY committed_at DESC LIMIT 1").collect()
        return str(row[0][0]) if row else "no-snapshot"
    except Exception as e:  # metadata table absent on plain catalogs
        # ADVICE r05 #4: never pin 'no-snapshot' silently — every run
        # of a table whose .snapshots is unreadable would share one
        # lineage snapshot id, so a resume against CHANGED input data
        # would silently skip buckets committed from the older
        # version. Warn loudly; pass --snapshot-id to silence.
        print(f"WARNING: cannot read {table}.snapshots ({e!r}); "
              "falling back to snapshot id 'no-snapshot'. Lineage "
              "rows will NOT distinguish input versions — pass an "
              "explicit --snapshot-id to pin one.", file=sys.stderr)
        return "no-snapshot"


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(sys.argv[1:] if argv is None else argv)

    from pyspark.sql import SparkSession, functions as F

    from pdf2gtfs_spark.plans.lineage import (
        LINEAGE_COLUMNS, output_dir, run_with_checkpoint)
    from pdf2gtfs_spark.plans.pipeline import match_rate, turn_csvs

    # master / memory / shuffle width come from spark-submit --conf;
    # the job only sets its name and AQE (safe at any scale).
    spark = (SparkSession.builder
             .appName("pdf2gtfs_spark-extract")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())

    if args.input_table:
        tdf = spark.read.table(args.input_table)
        snapshot = (args.snapshot_id if args.snapshot_id != "auto"
                    else _iceberg_snapshot_id(spark, args.input_table))
    else:
        tdf = spark.read.parquet(args.input)
        snapshot = (args.snapshot_id if args.snapshot_id != "auto"
                    else _auto_snapshot_id(tdf))

    processed = run_with_checkpoint(
        spark, tdf.select("conv_id", "turn_idx", "text"),
        out_dir=args.output, run_id=args.run_id,
        input_snapshot_id=snapshot, n_buckets=args.n_buckets,
        group_size=args.group_size, max_groups=args.max_groups,
        num_partitions=args.num_partitions)

    # lineage of earlier input snapshots may sit in the same directory
    lineage = spark.read.schema(LINEAGE_COLUMNS).parquet(
        output_dir(args.output, "lineage")).where(
        F.col("input_snapshot_id") == snapshot)
    totals = lineage.agg(
        F.countDistinct("bucket").alias("committed_buckets"),
        F.sum("input_rows").alias("input_rows"),
        F.sum("extracted_tables").alias("extracted_tables"),
        F.sum("malformed_turns").alias("malformed_turns")).collect()[0]

    summary = {
        "run_id": args.run_id,
        "input_snapshot_id": snapshot,
        "buckets_processed": len(processed),
        "committed_buckets": totals["committed_buckets"],
        "input_rows": totals["input_rows"],
        "extracted_tables": totals["extracted_tables"],
        "malformed_turns": totals["malformed_turns"],
    }
    if args.expected:
        extracted = spark.read.parquet(output_dir(args.output, "tables"))
        exp = spark.read.parquet(args.expected)
        # resume runs cover only their own buckets, but `tables` holds
        # every committed bucket, so the rate is over all committed work
        per_turn, rate = match_rate(extracted, exp)
        summary["match_rate"] = rate.collect()[0]["match_rate"]
        summary["matched_turns"] = per_turn.where("match").count()
    else:
        summary["distinct_turns"] = (
            turn_csvs(spark.read.parquet(output_dir(args.output, "tables")))
            .count())

    # single parseable line, matching the bench.py contract
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
