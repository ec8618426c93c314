"""Scaling record (BASELINE.json north_rule), with the skew scenario.

    python tools/scaling_bench.py        # N vs 4N scaling efficiency
    python tools/scaling_bench.py skew   # skew efficiency

Each prints one JSON line. Scaling runs bench.py's extraction job on the
same input at local[lo] and local[hi], a fresh JVM per level, with
hi = $SPARK_GRAFT_CPUS // 4 and lo = hi // 4 (2 and 8 on 32 cores): a
local[N] job keeps ~2N threads busy (N JVM tasks + N Python workers), so
lo -> hi stays unsaturated where a level of every core would not. Below
16 cores lo would be 0, so the scaling mode exits with an error instead
of printing a ratio that reads low by construction.

Skew: one $SPARK_GRAFT_SKEW_TURNS-turn conversation (default 2048) among
4-turn ones, one conversation and one row group (the unsplittable scan
unit) per file. It times the per-turn surface unsalted, salted
(run_extract's repartition(4N)) and on a uniform layout, then
``reassemble_conversations`` alone over the materialized kernel rows,
with the hot key and with the rows re-keyed 4 turns per conversation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench_extra import CPUS, build_session, timed  # noqa: E402


def run_level(cpus: int, sf_dir: str) -> dict:
    # 16,384 turns keep the measured pass >= ~20 s at the high level, so
    # fixed stage overhead does not dominate the ratio; extraction only
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_BENCH_TURNS="16384",
               SPARK_GRAFT_BENCH_QUERIES="0", SPARK_GRAFT_BENCH_NEWPATH="0",
               SPARK_GRAFT_BENCH_STEADY="0")
    out = subprocess.run([sys.executable, str(REPO / "bench.py")], env=env,
                         capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def scaling() -> dict:
    hi = CPUS // 4
    lo = hi // 4
    if lo < 1:
        sys.exit(f"scaling needs >= 16 cores (hi = cores // 4, "
                 f"lo = hi // 4); got {CPUS} cores (SPARK_GRAFT_CPUS)")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # host CPU drifts over minutes, so the two levels run back to back
    # as a round; the median round is reported, all rounds are kept
    rounds = []
    for _ in range(int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "3"))):
        r_lo, r_hi = run_level(lo, sf_dir), run_level(hi, sf_dir)
        eff = (r_hi["extract_turns_per_sec"]
               / r_lo["extract_turns_per_sec"]) / (hi / lo)
        rounds.append({"efficiency": round(eff, 3), "lo": r_lo, "hi": r_hi})
    med = sorted(rounds, key=lambda r: r["efficiency"])[len(rounds) // 2]
    return {"metric": "scaling_efficiency", "value": med["efficiency"],
            "cpus": [lo, hi], "tps_lo": med["lo"]["extract_turns_per_sec"],
            "tps_hi": med["hi"]["extract_turns_per_sec"], "rounds": rounds}


def skew() -> dict:
    import pandas as pd
    from pyspark.sql import functions as F

    from pdf2gtfs_spark.plans.pipeline import (
        reassemble_conversations, run_extract, turn_csvs)
    from pdf2gtfs_spark.sources.transcripts import synth_turn_payload

    monster = int(os.environ.get("SPARK_GRAFT_SKEW_TURNS", "2048"))
    n_small, salt = monster // 4, 4 * CPUS
    payloads = [synth_turn_payload(f"skew_{i:03d}", 0)[0] for i in range(96)]
    rows = [("conv_monster", t, payloads[t % 96]) for t in range(monster)]
    rows += [(f"conv_{c:05d}", t, payloads[(c * 4 + t) % 96])
             for c in range(n_small) for t in range(4)]

    def secs(runs: dict) -> dict:
        return {k: round(timed(make)[0], 3) for k, make in runs.items()}

    spark = build_session(CPUS)
    with tempfile.TemporaryDirectory(prefix="p2gs_skew_") as tmp:
        src = spark.createDataFrame(
            pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"]))
        (src.repartition(n_small + 1, "conv_id")
         .sortWithinPartitions("conv_id", "turn_idx").write
         .option("parquet.block.size", str(512 << 20)).parquet(f"{tmp}/skew"))
        src.repartition(salt).write.parquet(f"{tmp}/uniform")
        sk = spark.read.parquet(f"{tmp}/skew")
        un = spark.read.parquet(f"{tmp}/uniform")
        seconds = secs({
            "skew_nosalt": lambda: turn_csvs(run_extract(sk, emit="csv")),
            "skew_salt": lambda: turn_csvs(run_extract(
                sk, num_partitions=salt, emit="csv")),
            "uniform": lambda: turn_csvs(run_extract(un, emit="csv"))})
        run_extract(sk, num_partitions=salt, emit="csv").write.parquet(
            f"{tmp}/extracted")
        hot = spark.read.parquet(f"{tmp}/extracted")
        key = F.xxhash64("conv_id", "turn_idx") % (len(rows) // 4)
        even = hot.withColumn("conv_id", key.cast("string"))
        reassembly = secs({
            "hot_conv_key": lambda: reassemble_conversations(hot),
            "uniform_keys": lambda: reassemble_conversations(even)})
    spark.stop()
    reassembly["hot_vs_uniform_ratio"] = round(
        reassembly["hot_conv_key"] / reassembly["uniform_keys"], 3)
    return {"metric": "skew_efficiency",
            "value": round(seconds["uniform"] / seconds["skew_salt"], 3),
            "unit": "ratio(uniform/skew_salt)", "seconds": seconds,
            "reassembly": reassembly, "turns": len(rows),
            "monster_turns": monster, "cpus": CPUS}


if __name__ == "__main__":
    if sys.argv[1:] not in ([], ["skew"]):
        sys.exit("usage: python tools/scaling_bench.py [skew]")
    print(json.dumps(skew() if sys.argv[1:] else scaling()))
