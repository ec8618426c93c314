"""Benchmark entry point.

    python3 perfbench/run.py --workload legacy_text --seed 1 \
        --seconds 10 --trace 0

Runs one workload (or ``all`` of them, in one Spark session) on
``local[4]`` from the root of a checkout: starts a session, synthesizes
the seeded inputs, repeats complete jobs in a closed loop for
``--seconds`` (one job at a time, after one untimed warm-up job),
checks the outputs against the generator's ground truth and prints
every metric by name with its unit.  The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics,
and the spans and a per-layer table are written to ``.perfbench_out/``.

Exits non-zero, printing no result, when the package cannot be
imported, and with ``"correct": false`` when any output mismatches.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
N_CORES = 4
# the first timed jobs run slower while the JVM keeps warming up; with
# at least three, the median never rests on the first one alone
MIN_JOBS = 3
T_START = time.perf_counter()


def fmt(xs) -> str:
    return "[" + ", ".join(f"{x:.2f}" for x in xs) + "]"


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def host_stamp() -> dict:
    """nproc, 1-minute loadavg and a fixed single-thread spin (median
    of five, ms), so runs on a busy host can be spotted."""
    spins = []
    for _ in range(5):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i
        spins.append((time.perf_counter() - t0) * 1e3)
    return {"host.nproc": os.cpu_count() or 0,
            "host.loadavg1": os.getloadavg()[0],
            "host.spin_ms": statistics.median(spins)}


class RssMonitor(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, period_s: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1]
                                             .split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p]
            tree.update(kids)
            frontier += kids
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._done.wait(self.period_s)

    def stop(self) -> float:
        self._done.set()
        self.join(timeout=5)
        return self.peak_bytes / 2**20


def start_session(work: Path):
    """local[4] session whose Python workers import the package (and
    the benchmark's generator) from this checkout and whose temporary
    files stay under ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH"))
        if p)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{N_CORES}]")
             .appName("pdf2gtfs_spark-perfbench")
             .config("spark.driver.memory", "3g")
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp}")
             .config("spark.local.dir", str(tmp))
             .config("spark.sql.warehouse.dir", str(work / "warehouse"))
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.files.maxPartitionBytes", "4m")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_workers(batches):
    import pdf2gtfs_spark.kernel.extract  # noqa: F401
    import pdf2gtfs_spark.kernel.newpath  # noqa: F401
    import pdf2gtfs_spark.sources.transcripts  # noqa: F401
    yield from batches


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(wl, seconds: float, traced: bool) -> dict:
    """Closed loop: a warm-up, then complete jobs one at a time until
    ``seconds`` have passed and at least MIN_JOBS have run.  In a traced
    run, jobs alternate between untraced and traced (spans recorded)
    until at least one of each has run."""
    tracer = wl.ctx.tracer
    tracer.enabled = False
    t0 = time.perf_counter()
    wl.warm_up()
    warmup_s = time.perf_counter() - t0
    log(f"{wl.name}: warm-up done")
    plain, with_spans = [], []
    end = time.perf_counter() + seconds
    k = 0
    while True:
        k += 1
        if traced and k % 2 == 0:
            tracer.enabled = True
            with tracer.span("job"):
                with_spans.append(wl.run_job(k))
            tracer.enabled = False
        else:
            plain.append(wl.run_job(k))
        enough = with_spans if traced else len(plain) >= MIN_JOBS
        if time.perf_counter() >= end and enough:
            break
    tracer.enabled = traced
    return {"plain": plain, "traced": with_spans, "warmup_s": warmup_s}


def run_workload(name: str, spark, work: Path, seed: int, seconds: int,
                 traced: bool, scale: dict, session_s: float) -> dict:
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    tracer = Tracer(name, seed, enabled=False)
    wl_work = work / name
    wl_work.mkdir(parents=True, exist_ok=True)
    wl = WORKLOADS[name](Ctx(spark, wl_work, seed, scale, tracer))
    info = wl.setup()
    log(f"{name}: set-up done")
    chunk_s = statistics.median(info["chunk_s"])
    times = measure(wl, seconds, traced)
    setup_s = (session_s + len(info["chunk_s"]) * chunk_s
               + times["warmup_s"])
    log(f"{name}: jobs done, untraced s {fmt(times['plain'])}, "
        f"traced s {fmt(times['traced'])}")
    attempted, failed, detail = wl.check()
    log(f"{name}: check done")
    job_s = statistics.median(times["plain"])
    e2e = {"job_s": job_s, "turns_per_s": wl.n_turns / job_s,
           "setup_s": setup_s}
    layer = {
        "setup.session_s": session_s,
        "setup.gen_chunk_s": chunk_s,
        "setup.warmup_s": times["warmup_s"],
        "gen.turns": info["n_turns"],
        "gen.unique_payloads": info["n_unique"],
        "gen.planted_malformed": info["n_planted"],
    }
    if traced:
        traced_s = statistics.median(times["traced"])
        with tracer.span("layers"):
            metrics, more_attempted, more_failed = wl.layers(traced_s)
        layer.update(metrics)
        attempted += more_attempted
        failed += more_failed
        log(f"{name}: layers done")
        layer.update({
            "trace.job_s": traced_s,
            "trace.untraced_job_s": job_s,
            "trace.overhead_share": traced_s / job_s - 1,
            "trace.spans": len(tracer.spans),
        })
        layer["check.mismatch_share"] = failed / attempted
        write_trace(tracer, layer, name, seed)
    return {"e2e": e2e, "layer": layer, "attempted": attempted,
            "failed": failed, "detail": detail,
            "jobs": len(times["plain"])}


def write_trace(tracer, layer: dict, name: str, seed: int) -> None:
    out = Path(".perfbench_out")
    out.mkdir(exist_ok=True)
    tracer.write(out / f"spans_{name}_s{seed}.json")
    lines = [f"{'span':<42}{'calls':>6}{'total_s':>10}{'self_s':>10}"]
    for k, (n, tot, own) in sorted(tracer.self_times().items()):
        lines.append(f"{k:<42}{n:>6}{tot:>10.3f}{own:>10.3f}")
    lines.append("")
    lines += [f"{k:<42}{v:>16.6g}" for k, v in sorted(layer.items())]
    (out / f"layers_{name}_s{seed}.txt").write_text("\n".join(lines) + "\n")
    print("\n".join(lines), file=sys.stderr)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    names = [w["name"] for w in spec["workloads"]]

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    sys.path.insert(0, str(ROOT))
    import pdf2gtfs_spark  # noqa: F401  (fails fast outside a checkout)
    from workloads import SCALES

    stamp = host_stamp()
    work = (Path(".perfbench_work")
            / f"{args.workload}-s{args.seed}-{os.getpid()}").resolve()
    work.mkdir(parents=True, exist_ok=True)
    rss = RssMonitor()
    rss.start()
    results = {}
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        try:
            (spark.range(0, N_CORES, 1, N_CORES)
             .mapInPandas(_warm_workers, "id long").count())
            session_s = time.perf_counter() - t0
            log("session started")
            for name in (names if args.workload == "all"
                         else [args.workload]):
                results[name] = run_workload(
                    name, spark, work, args.seed, args.seconds,
                    bool(args.trace), SCALES[args.scale], session_s)
        finally:
            stop_session(spark)
            log("session stopped")
    finally:
        peak_mb = rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    end_stamp = host_stamp()
    print(f"# host nproc={stamp['host.nproc']} "
          f"loadavg={stamp['host.loadavg1']:.2f}->"
          f"{end_stamp['host.loadavg1']:.2f} "
          f"spin_ms={stamp['host.spin_ms']:.1f}->"
          f"{end_stamp['host.spin_ms']:.1f} peak_rss_mb={peak_mb:.0f}")
    metrics, attempted, failed = {}, 0, 0
    for name, r in results.items():
        r["layer"]["host.peak_rss_mb"] = peak_mb
        r["layer"].update(stamp)
        attempted += r["attempted"]
        failed += r["failed"]
        print(f"# {name}: {r['jobs']} timed jobs, {r['failed']} of "
              f"{r['attempted']} checks failed {r['detail']}")
        if args.trace:
            unknown = set(r["layer"]) - set(layer_units)
            if unknown:
                raise KeyError(f"unlisted per-layer metrics: {unknown}")
            values = {k: r["layer"].get(k, 0) for k in layer_units}
            units = layer_units
        else:
            values = {k: r["e2e"][k] for k in e2e_units}
            units = e2e_units
        prefix = f"{name}." if args.workload == "all" else ""
        for k, v in values.items():
            print(f"{name:<20}{k:<36}{v:>16.6g} {units[k]}")
            metrics[prefix + k] = {"value": v, "unit": units[k]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
