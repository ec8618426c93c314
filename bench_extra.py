"""Per-query isolation bench — NOT the driver contract (bench.py is frozen).

Times registered queries into the noop sink with bench.py's session
config and its timing protocol (a warm pass, then ``bench._timed`` over
$SPARK_GRAFT_BENCH_REPS runs); --plan=DIR saves .explain("formatted").

    python bench_extra.py [<query> ...] [--plan=DIR]  # none: BENCH_QUERIES
    python bench_extra.py --all-docs                  # the documents family

SPARK_GRAFT_SF_DIR defaults to bench.py's sf0.1 and SPARK_GRAFT_CPUS to
every core. Scale sweep: one run per tools/gen_sf.py output.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench  # noqa: E402  (BENCH_QUERIES and the _timed protocol)

DOC_QUERIES = ["dedup_exact", "dedup_ngram_jaccard", "minhash_lsh_pairs",
               "simhash_fingerprints", "langid_stopword_vote", "quality_score",
               "doc_fingerprint", "training_data_clean", "html_main_content"]
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))


def build_session(cpus: int):
    """bench.py's session on local[cpus]. Also takes the spin baseline
    of ``bench._timed`` before any timed window, as bench.main does."""
    from pyspark.sql import SparkSession
    for _ in range(5):
        bench._spin()
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("pdf2gtfs_spark-bench-extra")
             .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled",
                     "false")
             .config("spark.sql.files.maxPartitionBytes", "4m")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                     os.environ.get("SPARK_GRAFT_ARROW_BATCH", "64"))
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(make) -> tuple[float, float, dict]:
    """A warm pass of ``make()`` into the noop sink, then ``bench._timed``
    over fresh ``make()`` calls, as bench.py times a query."""
    def run():
        make().write.format("noop").mode("overwrite").save()
    run()
    return bench._timed(run)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    plan_dir = None
    for f in sys.argv[1:]:
        if f.startswith("--plan="):
            plan_dir = f.split("=", 1)[1]
        elif f == "--all-docs":
            names = DOC_QUERIES + names
        elif f.startswith("--"):
            sys.exit(f"unknown flag {f}; usage: see bench_extra.py")
    names = names or bench.BENCH_QUERIES

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(CPUS)

    from pdf2gtfs_spark.operators import QUERIES, load_all
    load_all()

    out = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if plan_dir:
            df = fn(spark, sf_dir)
            os.makedirs(plan_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plan_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        med, cv, meta = timed(lambda: fn(spark, sf_dir))
        out[name] = {"median": round(med, 3), "cv": round(cv, 3),
                     "window": meta}
        print(json.dumps({name: out[name]}), flush=True)

    print(json.dumps({"sf_dir": sf_dir, "cpus": CPUS, "reps": bench.N_REPS,
                      "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
