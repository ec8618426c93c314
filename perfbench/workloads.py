"""The benchmark workloads and their per-layer measurements.

Each workload has a set-up (input synthesis), a warm-up, one complete
job that the closed loop repeats, a correctness check against the
generator's ground truth, and a traced layer pass (on
``newpath_checkpoint`` it includes the GTFS feed).  Layers are timed from outside, around calls into the
package's public functions; nested Spark cut points give self times by
subtraction.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import shutil
import statistics
import sys
import time
import zipfile
from pathlib import Path

import pandas as pd

import gen
from spans import Tracer

# Spark cut-point and in-process kernel repetitions in the traced run
CUT_REPS = 3
KERNEL_REPS = 3
SCALES = {
    "full": {"legacy_convs": 28, "legacy_base_turns": 3,
             "newpath_convs": 32, "newpath_turns": 4,
             "sample_turns": 48, "chunks": 3},
    "tiny": {"legacy_convs": 2, "legacy_base_turns": 1,
             "newpath_convs": 4, "newpath_turns": 2,
             "sample_turns": 6, "chunks": 2},
}
# checkpoint layout: two commit groups of four buckets; the first
# invocation stops after one group, the resume commits the other
N_BUCKETS, GROUP_SIZE = 8, 4


@dataclasses.dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    scale: dict
    tracer: Tracer


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _legacy_cfg():
    from pdf2gtfs_spark.config import DEFAULT_CONFIG
    return dataclasses.replace(DEFAULT_CONFIG, extraction_path="legacy")


def _newpath_cfg():
    from pdf2gtfs_spark.config import DEFAULT_CONFIG
    return dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")


def _identity(batches):
    yield from batches


class SparkCounter:
    """Spark jobs and stages per job group, from the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    def group(self, desc: str) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, desc)
        return gid

    def counts(self, gid: str) -> tuple[int, int]:
        jobs = self.tracker.getJobIdsForGroup(gid)
        stages = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        return len(jobs), len(stages)


def run_plan(counter: SparkCounter, make_df, desc: str) -> float:
    """Seconds to build the DataFrame ``make_df()`` (driver-side plan
    analysis and UDF set-up included) and run it into the noop sink, as
    the jobs do."""
    counter.group(desc)
    t0 = time.perf_counter()
    make_df().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def shuffle_bytes(df) -> int:
    """Execute ``df`` once and sum the shuffle bytes written over every
    exchange of its executed (adaptive) plan, from its SQL metrics."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    total, todo = 0, [qe.executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        if cls == "ShuffleExchangeExec":
            m = p.metrics().get("shuffleBytesWritten")
            if m.isDefined():
                total += int(m.get().value())
        kids = p.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return total


def kernel_pass(payloads: list[str], newpath: bool) -> dict:
    """In-process, single-thread pass over a fixed payload sample:
    ms/turn per kernel layer (median of KERNEL_REPS passes) and exact
    counts."""
    from pdf2gtfs_spark.kernel.extract import (
        chars_to_field_arrays, cleanup_char_arrays, extract_turn,
    )
    from pdf2gtfs_spark.kernel.newpath import tables_from_fields
    from pdf2gtfs_spark.kernel.payload import (
        MalformedPayload, decode_payload_batch,
    )

    cfg = _newpath_cfg() if newpath else _legacy_cfg()
    stages = ("decode", "cleanup", "fields", "legacy_tables",
              "newpath_tables", "emit_full")
    reps = []
    for _ in range(KERNEL_REPS):
        t = dict.fromkeys(stages, 0.0)
        n = dict.fromkeys(("malformed", "fields", "tables", "entries",
                           "stops"), 0)
        t0 = time.perf_counter()
        decoded = decode_payload_batch(payloads)
        t["decode"] = time.perf_counter() - t0
        for payload, dec in zip(payloads, decoded):
            if isinstance(dec, MalformedPayload):
                n["malformed"] += 1
                continue
            page, arrs = dec
            t0 = time.perf_counter()
            chars = cleanup_char_arrays(arrs, page)
            t1 = time.perf_counter()
            if len(chars["x0"]) == 0:
                t["cleanup"] += t1 - t0
                continue
            fields = chars_to_field_arrays(chars, cfg)
            t2 = time.perf_counter()
            t["cleanup"] += t1 - t0
            t["fields"] += t2 - t1
            n["fields"] += len(fields)
            if not newpath:
                res = extract_turn(payload, cfg, light=True, decoded=dec)
                # extract_turn repeats cleanup and field clustering
                t["legacy_tables"] += (time.perf_counter() - t2) - (t2 - t0)
                n["tables"] += len(res.tables)
                continue
            tables = tables_from_fields(fields, cfg)
            t3 = time.perf_counter()
            results = [tt.to_result(tid, cfg, light=False)
                       for tid, tt in enumerate(tables)]
            t["newpath_tables"] += t3 - t2
            t["emit_full"] += time.perf_counter() - t3
            n["tables"] += len(tables)
            n["entries"] += sum(len(r.entries) for r in results)
            n["stops"] += sum(len(r.stops) for r in results)
        reps.append((t, n))
    per_turn = {k: _median([r[0][k] for r in reps]) * 1e3 / len(payloads)
                for k in stages}
    return {"ms": per_turn, "counts": reps[-1][1], "turns": len(payloads)}


def sample_payloads(input_dir: Path, k: int) -> list[str]:
    """``k`` evenly spaced payloads in key order (fixed per seed)."""
    df = pd.read_parquet(input_dir, columns=["conv_id", "turn_idx", "text"])
    df = df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    step = max(1, len(df) // k)
    return df["text"].iloc[::step].head(k).tolist()


class Workload:
    name = ""
    corpus = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.counter = SparkCounter(ctx.spark)
        self.input_dir = ctx.work / "input.parquet"
        self.truth_dir = ctx.work / "truth.parquet"
        self.n_turns = 0
        self.job_stats: list[dict] = []

    def warm_up(self) -> None:
        """Untimed job before the closed loop, so lazy set-up (Python
        worker imports, JIT, codegen) is not timed."""
        self.run_job(0)
        self.job_stats.clear()

    def setup(self) -> dict:
        info = gen.write_inputs(self.ctx.spark, self.corpus, self.keys(),
                                self.ctx.seed, str(self.input_dir),
                                str(self.truth_dir), self.ctx.scale["chunks"])
        if info["n_unique"] != info["n_turns"]:
            raise RuntimeError(f"generator produced {info['n_unique']} "
                               f"unique payloads for {info['n_turns']} turns")
        self.n_turns = info["n_turns"]
        return info

    def transcripts(self):
        return self.ctx.spark.read.parquet(str(self.input_dir))

    def frame(self):
        """The columns ``run_extract`` reads."""
        return self.transcripts().select("conv_id", "turn_idx", "text")

    def truth(self) -> pd.DataFrame:
        return pd.read_parquet(self.truth_dir)

    def run_job(self, k: int) -> float:
        """One complete job; returns its wall seconds."""
        gid = self.counter.group(f"{self.name} job {k}")
        t0 = time.perf_counter()
        stats = self.job(k) or {}
        dt = time.perf_counter() - t0
        stats["jobs"], stats["stages"] = self.counter.counts(gid)
        self.job_stats.append(stats)
        return dt

    # -- shared Spark cut points for the extraction workloads ----------
    def extraction_cuts(self, cfg, emit: str, deeper=(),
                        with_job: bool = False) -> dict:
        """Median seconds of the nested cut points scan -> identity
        mapInPandas -> run_extract (-> ``deeper`` (name, plan-of-extract)
        pairs), run in rotation so that JIT warm-up drift over the pass
        does not bias their differences.  With ``with_job``, a traced
        job joins each rotation and "job" holds its median."""
        from pdf2gtfs_spark.plans.pipeline import run_extract

        tr, scan = self.ctx.tracer, self.frame

        def extract():
            return run_extract(scan(), cfg, emit=emit)

        cuts = [("scan", scan),
                ("identity_map_in_pandas",
                 lambda: scan().mapInPandas(_identity, scan().schema)),
                ("run_extract", extract)]
        cuts += [(name, lambda f=f: f(extract())) for name, f in deeper]
        times: dict[str, list] = {name: [] for name, _ in cuts}
        times["job"] = []
        for _ in range(CUT_REPS):
            if with_job:
                with tr.span("job"):
                    times["job"].append(self.run_job(-1))
            for name, make in cuts:
                with tr.span(f"pipeline.{name}"):
                    times[name].append(
                        run_plan(self.counter, make, f"cut: {name}"))
        return {k: _median(v) for k, v in times.items()}

    def kernel_layers(self, newpath: bool) -> tuple[dict, float]:
        """Per-layer kernel metrics and the summed kernel ms/turn."""
        with self.ctx.tracer.span("kernel.in_process_pass"):
            kp = kernel_pass(sample_payloads(self.input_dir,
                                             self.ctx.scale["sample_turns"]),
                             newpath)
        ms, n = kp["ms"], kp["counts"]
        out = {
            "payload.decode_ms": ms["decode"],
            "extract.cleanup_ms": ms["cleanup"],
            "extract.fields_ms": ms["fields"],
            "extract.legacy_tables_ms": ms["legacy_tables"],
            "newpath.tables_ms": ms["newpath_tables"],
            "newpath.emit_full_ms": ms["emit_full"],
            "payload.malformed_turns": n["malformed"],
            "extract.fields": n["fields"],
            "extract.tables": 0 if newpath else n["tables"],
            "newpath.tables": n["tables"] if newpath else 0,
            "newpath.entries": n["entries"],
            "newpath.stops": n["stops"],
            "kernel.sample_turns": kp["turns"],
        }
        return out, sum(ms.values())


class LegacyText(Workload):
    """Legacy engine, emit="csv": run_extract -> turn_csvs ->
    reassemble_conversations -> noop sink."""

    name, corpus = "legacy_text", "legacy"

    def keys(self):
        s = self.ctx.scale
        return gen.legacy_keys(self.ctx.seed, s["legacy_convs"],
                               s["legacy_base_turns"])

    def warm_up(self) -> None:
        """The correctness pass is the first warm-up job: the same
        extraction, collecting the per-turn CSVs instead of sinking.
        Job times keep falling over the first few jobs (JIT), so one
        untimed job follows it."""
        from pdf2gtfs_spark.plans.pipeline import run_extract, turn_csvs

        self.extracted = (
            turn_csvs(run_extract(self.frame(), _legacy_cfg(), emit="csv"))
            .select("conv_id", "turn_idx", "extracted_csvs", "malformed",
                    "n_tables").toPandas())
        super().warm_up()

    def job(self, k: int):
        from pdf2gtfs_spark.plans.pipeline import (
            reassemble_conversations, run_extract,
        )

        tr = self.ctx.tracer
        with tr.span("pipeline.run_extract"):
            ext = run_extract(self.frame(), _legacy_cfg(), emit="csv")
        with tr.span("pipeline.reassemble_conversations"):
            docs = reassemble_conversations(ext)
        with tr.span("sink.noop"):
            docs.write.format("noop").mode("overwrite").save()

    def check(self) -> tuple[int, int, dict]:
        m = self.truth().merge(self.extracted, on=["conv_id", "turn_idx"],
                               how="left", indicator=True)
        missing = m["_merge"] != "both"
        planted = m["planted_malformed"]
        malformed = m["malformed"].fillna(False).astype(bool)
        flagged = malformed & (m["n_tables"] == 0)
        text_ok = ~malformed & (m["extracted_csvs"] == m["expected"])
        bad = missing | (planted & ~flagged) | (~planted & ~text_ok)
        return len(m), int(bad.sum()), {"flagged_malformed":
                                        int((planted & flagged).sum())}

    def layers(self, traced_job_s: float) -> tuple[dict, int, int]:
        from pdf2gtfs_spark.plans.pipeline import (
            reassemble_conversations, run_extract, turn_csvs,
        )

        cfg = _legacy_cfg()
        out, kernel_ms = self.kernel_layers(newpath=False)
        cuts = self.extraction_cuts(
            cfg, "csv", deeper=[("turn_csvs", turn_csvs),
                                ("reassemble_conversations",
                                 reassemble_conversations)],
            with_job=True)
        kernel_cpu = kernel_ms * self.n_turns / 1e3
        kernel_s = cuts["run_extract"] - cuts["identity_map_in_pandas"]
        out.update({
            "pipeline.scan_s": cuts["scan"],
            "pipeline.udf_boundary_s": (cuts["identity_map_in_pandas"]
                                        - cuts["scan"]),
            "pipeline.kernel_s": kernel_s,
            "pipeline.kernel_cpu_s": kernel_cpu,
            "pipeline.kernel_share": (kernel_cpu / (4 * kernel_s)
                                      if kernel_s > 0 else 0.0),
            "pipeline.turn_csvs_s": cuts["turn_csvs"] - cuts["run_extract"],
            "pipeline.reassemble_s": (cuts["reassemble_conversations"]
                                      - cuts["turn_csvs"]),
            "pipeline.reassembly_shuffle_bytes": shuffle_bytes(
                reassemble_conversations(run_extract(self.frame(), cfg,
                                                     emit="csv"))),
            "pipeline.spark_jobs": _median([s["jobs"]
                                            for s in self.job_stats]),
            "pipeline.spark_stages": _median([s["stages"]
                                              for s in self.job_stats]),
            # the deepest cut point is the whole job's plan: the nested
            # cuts telescope to it, so this reads 1 when they account
            # for the job measured in the same rotation
            "trace.cut_sum_share": (cuts["reassemble_conversations"]
                                    / cuts["job"]),
        })
        return out, 0, 0


class NewpathCheckpoint(Workload):
    """Newpath engine, emit="full", through run_with_checkpoint: the
    first invocation stops after half the buckets, a resume finishes."""

    name, corpus = "newpath_checkpoint", "newpath"

    def keys(self):
        s = self.ctx.scale
        return gen.newpath_keys(self.ctx.seed, s["newpath_convs"],
                                s["newpath_turns"])

    def job(self, k: int) -> dict:
        from pdf2gtfs_spark.plans.lineage import run_with_checkpoint

        tr = self.ctx.tracer
        prev = self.ctx.work / f"ckpt_{k - 1}"
        if prev.exists():
            shutil.rmtree(prev)
        out = str(self.ctx.work / f"ckpt_{k}")
        args = dict(run_id=f"job{k}", input_snapshot_id=f"seed{self.ctx.seed}",
                    n_buckets=N_BUCKETS, group_size=GROUP_SIZE,
                    cfg=_newpath_cfg())
        t0 = time.perf_counter()
        with tr.span("lineage.run_with_checkpoint.first"):
            first = run_with_checkpoint(self.ctx.spark, self.transcripts(),
                                        out, max_groups=1, **args)
        t1 = time.perf_counter()
        with tr.span("lineage.run_with_checkpoint.resume"):
            rest = run_with_checkpoint(self.ctx.spark, self.transcripts(),
                                       out, **args)
        t2 = time.perf_counter()
        self.last_out = Path(out)
        return {"first_s": t1 - t0, "resume_s": t2 - t1,
                "recomputed": len(set(first) & set(rest)),
                "covered": sorted(set(first) | set(rest))}

    def check(self) -> tuple[int, int, dict]:
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        t = spark.read.parquet(str(self.last_out / "tables"))
        time_entries = F.filter("entries", lambda e: e["kind"] == "time")
        facts = t.select(
            "conv_id", "turn_idx", "table_id", "malformed",
            F.size("stops").alias("n_stops"),
            F.size(F.array_distinct(F.transform(
                time_entries, lambda e: e["entry_id"]))).alias("n_entries"),
            F.array_min(F.transform(
                time_entries, lambda e: F.array_join(e["days"], ",")))
            .alias("days_key"),
            F.size(F.filter("cells", lambda c: c["col_type"] == "Time"))
            .alias("n_time_cells")).toPandas()
        got: dict = {}
        for r in facts.itertuples(index=False):
            g = got.setdefault((r.conv_id, r.turn_idx),
                               {"malformed": bool(r.malformed), "tables": {}})
            if pd.notna(r.table_id):
                g["tables"][int(r.table_id)] = [
                    int(r.n_stops), int(r.n_entries), r.days_key,
                    int(r.n_time_cells)]
        failed = 0
        truth = self.truth()
        for r in truth.itertuples(index=False):
            g = got.get((r.conv_id, r.turn_idx))
            if g is None:
                failed += 1
            elif r.planted_malformed:
                failed += not (g["malformed"] and not g["tables"])
            else:
                want = json.loads(r.expected)
                have = [g["tables"].get(i) for i in range(len(g["tables"]))]
                failed += g["malformed"] or have != want
        lineage = spark.read.parquet(str(self.last_out / "lineage"))
        lin = lineage.groupBy("bucket").agg(
            F.count("*").alias("n"), F.sum("input_rows").alias("rows")) \
            .toPandas()
        stats = [s for s in self.job_stats if "recomputed" in s]
        if (len(lin) != N_BUCKETS or (lin["n"] != 1).any()
                or int(lin["rows"].sum()) != len(truth)
                or any(s["covered"] != list(range(N_BUCKETS))
                       or s["recomputed"] for s in stats)):
            failed += 1
        return len(truth), int(failed), {}

    def resume_s(self) -> float:
        return _median([s["resume_s"] for s in self.job_stats])

    def layers(self, traced_job_s: float) -> tuple[dict, int, int]:
        cfg = _newpath_cfg()
        out, kernel_ms = self.kernel_layers(newpath=True)
        cuts = self.extraction_cuts(cfg, "full")
        kernel_cpu = kernel_ms * self.n_turns / 1e3
        kernel_s = cuts["run_extract"] - cuts["identity_map_in_pandas"]
        job_s = _median([s["first_s"] + s["resume_s"]
                         for s in self.job_stats])
        written = sum(p.stat().st_size for p in self.last_out.rglob("*")
                      if p.is_file())
        out.update({
            "pipeline.scan_s": cuts["scan"],
            "pipeline.udf_boundary_s": (cuts["identity_map_in_pandas"]
                                        - cuts["scan"]),
            "pipeline.kernel_s": kernel_s,
            "pipeline.kernel_cpu_s": kernel_cpu,
            "pipeline.kernel_share": (kernel_cpu / (4 * kernel_s)
                                      if kernel_s > 0 else 0.0),
            "pipeline.spark_jobs": _median([s["jobs"]
                                            for s in self.job_stats]),
            "pipeline.spark_stages": _median([s["stages"]
                                              for s in self.job_stats]),
            "lineage.first_s": _median([s["first_s"]
                                        for s in self.job_stats]),
            "lineage.resume_s": self.resume_s(),
            "lineage.commit_s": job_s - cuts["run_extract"],
            "lineage.bytes_written": written,
            "lineage.recomputed_buckets": sum(s["recomputed"]
                                              for s in self.job_stats),
            # the extraction's share of the job; the rest is commit
            "trace.cut_sum_share": cuts["run_extract"] / traced_job_s,
        })
        feed, attempted, failed = feed_pass(
            self.ctx, self.counter, self.last_out / "tables", self.truth())
        out.update(feed)
        return out, attempted, failed


def feed_pass(ctx: Ctx, counter: SparkCounter, tables_dir: Path,
              truth: pd.DataFrame) -> tuple[dict, int, int]:
    """GTFS tail over a finished checkpoint's tables: build_feed, then
    write_feed_zip once per frame, so each frame's cost (its plan from
    the entries, the sort and the transfer) is timed on its own.  No
    extraction runs here; entries and stops come from the written
    tables.  Returns (per-layer metrics, rows checked, rows mismatched).
    """
    from pdf2gtfs_spark.operators.feed import build_feed, write_feed_zip
    from pdf2gtfs_spark.plans.pipeline import entries_table, stops_table

    tr = ctx.tracer
    gid = counter.group("feed: build_feed + write_feed_zip")
    t0 = time.perf_counter()
    with tr.span("feed.build_feed"):
        ext = ctx.spark.read.parquet(str(tables_dir))
        frames = build_feed(entries_table(ext), ctx.spark, _newpath_cfg(),
                            stops_src=stops_table(ext))
    out = {"feed.build_s": time.perf_counter() - t0}
    frame_s, texts = {}, {}
    for name in FEED_FRAMES:
        path = ctx.work / f"feed_{name}.zip"
        t0 = time.perf_counter()
        with tr.span(f"feed.write_feed_zip.{name}"):
            write_feed_zip({name: frames[name]}, str(path))
        frame_s[name] = time.perf_counter() - t0
        with zipfile.ZipFile(path) as zf:
            texts[name] = zf.read(f"{name}.txt")
    for layer, parts in (("stops", ["stops"]), ("stop_times", ["stop_times"]),
                         ("trips", ["trips"]), ("routes", ["routes"]),
                         ("calendar", ["calendar", "calendar_dates"])):
        out[f"feed.{layer}_s"] = sum(frame_s[f] for f in parts)
    out["feed.write_zip_s"] = sum(frame_s.values())
    out["feed.spark_jobs"] = counter.counts(gid)[0]
    out.update({f"feed.rows.{k}": v.count(b"\n") - 1
                for k, v in texts.items()})
    facts = [f for e in truth.loc[~truth["planted_malformed"], "expected"]
             for f in json.loads(e)]
    want = {"trips": sum(f[1] for f in facts),
            "stop_times": sum(f[3] for f in facts)}
    failed = sum(abs(out[f"feed.rows.{k}"] - v) for k, v in want.items())
    digest = hashlib.sha256(b"".join(texts.values())).hexdigest()
    print(f"# feed content sha256 {digest}", file=sys.stderr)
    return out, sum(want.values()), failed


FEED_FRAMES = ("agency", "stops", "routes", "calendar", "calendar_dates",
               "trips", "stop_times")
WORKLOADS = {w.name: w for w in (LegacyText, NewpathCheckpoint)}
