"""Skew evidence for SURVEY §4 item 1 / VERDICT r3 ask #6.

Scenario: input-layout skew — one conversation with ~2^11 turns vs a
median of 4, laid out one-conversation-per-file with a single parquet
row group per file (a row group is the unsplittable scan unit, so the
monster conversation is ONE task no matter how small
maxPartitionBytes is — the shape a clustered Iceberg table takes at
10^12-turn scale when a long agent transcript lands in one file).

Three measured runs at local[N] (default 8), same total turn count:

  skew_nosalt   skewed layout, kernel directly on scan splits
  skew_salt     skewed layout, salted repartition(4N, conv_id,
                turn_idx) before the kernel (run_extract's
                num_partitions knob)
  uniform       uniform layout (every conv 4-8 turns), no salt —
                the ideal the salted plan is graded against

Reported: wall-clock for each (median of reps after a warm pass) and
skew efficiency = t_uniform / t_skew_salt (target >= 0.8: salting must
recover the skewed input to within 20% of uniform-input throughput).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
N_REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
MONSTER_TURNS = int(os.environ.get("SPARK_GRAFT_SKEW_TURNS", "2048"))


def build_tables(spark, tmp: str) -> tuple[str, str, int]:
    import pandas as pd

    from pdf2gtfs_spark.sources.transcripts import synth_turn_payload

    payloads = [synth_turn_payload(f"skew_{i:03d}", 0)[0]
                for i in range(96)]
    rows = [("conv_monster", t, payloads[t % len(payloads)])
            for t in range(MONSTER_TURNS)]
    n_small = MONSTER_TURNS // 4          # small convs, 4 turns each
    for c in range(n_small):
        for t in range(4):
            rows.append((f"conv_{c:05d}", t,
                         payloads[(c * 4 + t) % len(payloads)]))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    n_turns = len(rows)

    skew_path, uni_path = f"{tmp}/skewed", f"{tmp}/uniform"
    # one conversation per output file, one row group per file: sort
    # within conv-hash partitions so each conv's rows are contiguous,
    # huge block size keeps each file a single row group
    (spark.createDataFrame(pdf)
     .repartition(n_small + 1, "conv_id")
     .sortWithinPartitions("conv_id", "turn_idx")
     .write.mode("overwrite")
     .option("parquet.block.size", str(512 * 1024 * 1024))
     .parquet(skew_path))
    # uniform control: same rows spread round-robin across equal files
    (spark.createDataFrame(pdf)
     .repartition(4 * N_CPUS)
     .write.mode("overwrite")
     .parquet(uni_path))
    return skew_path, uni_path, n_turns


def _reps(fn):
    out = []
    for _ in range(N_REPS):
        t0 = time.time()
        fn()
        out.append(time.time() - t0)
    return out


def main() -> None:
    from pyspark.sql import SparkSession

    from pdf2gtfs_spark.plans.pipeline import run_extract, turn_csvs

    spark = (SparkSession.builder.master(f"local[{N_CPUS}]")
             .appName("skew-bench")
             .config("spark.sql.shuffle.partitions", str(4 * N_CPUS))
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.adaptive.coalescePartitions.enabled",
                     "false")
             .config("spark.sql.files.maxPartitionBytes", "4m")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="p2gs_skew_")
    try:
        skew_path, uni_path, n_turns = build_tables(spark, tmp)
        skew_df = spark.read.parquet(skew_path)
        uni_df = spark.read.parquet(uni_path)

        def run(df, salt: bool):
            q = turn_csvs(run_extract(
                df, num_partitions=4 * N_CPUS if salt else None,
                emit="csv"))
            q.write.format("noop").mode("overwrite").save()

        results = {}
        for name, df, salt in [("skew_nosalt", skew_df, False),
                               ("skew_salt", skew_df, True),
                               ("uniform", uni_df, False)]:
            run(df, salt)  # warm
            results[name] = round(statistics.median(
                _reps(lambda: run(df, salt))), 3)

        # Reassembly-stage skew (VERDICT r4 ask #6): the
        # conv-grain groupBy(conv_id) reassembly is the one
        # conversation-keyed shuffle in the pipeline; on the monster
        # layout one reduce task receives all 2^11 turns of the big
        # conversation.  Measure the same kernel with the per-conv
        # reassembly on top and report the stage delta vs the per-turn
        # surface for skewed and uniform inputs — if the deltas match,
        # the hot key is benign (the reduce rows are small extracted
        # CSV texts, not raw payloads).
        from pyspark.sql import functions as F

        from pdf2gtfs_spark.sources.transcripts import CONV_DOC_SEP

        # Materialize the per-turn surface of the SKEWED input once,
        # then time ONLY the conv-grain aggregation over it — the
        # kernel stage is out of the measurement entirely, so the pair
        # isolates the shuffle/reduce cost of the hot conversation key
        # against the same rows under uniform keys.
        per_turn_path = f"{tmp}/per_turn"
        (turn_csvs(run_extract(skew_df, num_partitions=4 * N_CPUS,
                               emit="csv"))
         .write.mode("overwrite").parquet(per_turn_path))
        pt = spark.read.parquet(per_turn_path)
        # uniform-key control: same rows, conv key striped 4-per-conv
        pt_uni = pt.withColumn(
            "conv_id",
            F.concat(F.lit("u"), (F.xxhash64("conv_id", "turn_idx")
                                  % (n_turns // 4)).cast("string")))

        def agg_only(df):
            (df.groupBy("conv_id")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("turn_idx", "extracted_csvs"))),
                     lambda s: s["extracted_csvs"]),
                 CONV_DOC_SEP).alias("conversation_doc"),
                 F.count("*").alias("n_turns"))
             .write.format("noop").mode("overwrite").save())

        reassembly = {}
        for name, df in [("hot_conv_key", pt), ("uniform_keys", pt_uni)]:
            agg_only(df)  # warm
            reassembly[name] = round(statistics.median(
                _reps(lambda: agg_only(df))), 3)
        reassembly["hot_vs_uniform_ratio"] = round(
            reassembly["hot_conv_key"] / reassembly["uniform_keys"], 3)

        eff = round(results["uniform"] / results["skew_salt"], 3)
        print(json.dumps({
            "metric": "skew_efficiency", "value": eff,
            "unit": "ratio(uniform/skew_salt)",
            "seconds": results,
            "reassembly": reassembly,
            "turns": n_turns, "monster_turns": MONSTER_TURNS,
            "cpus": N_CPUS,
            "turns_per_sec": {k: round(n_turns / v, 1)
                              for k, v in results.items()},
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
