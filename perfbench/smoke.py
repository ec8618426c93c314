"""Tiny-size smoke test of the benchmark.

    python3 perfbench/smoke.py

Runs the benchmark at ``--scale tiny`` from the root of the checkout
and checks the result contract: the last stdout line is one JSON object
with exactly ``correct``, ``attempted``, ``failed`` and ``metrics``; an
untraced run reports every end-to-end metric and a traced run every
per-layer metric of ``BENCHMARK.json``, and writes its spans.  Also
checks that the benchmark exits non-zero, printing no result, in a
directory that holds only ``BENCHMARK.json`` and the benchmark.
Takes a few minutes (two Spark sessions).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(args: list[str], cwd: Path) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1",
         "--scale", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] is True and res["failed"] == 0, res
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    for m in res["metrics"].values():
        assert set(m) == {"value", "unit"}, m
        assert isinstance(m["value"], (int, float)), m
    return res


def main() -> int:
    rc, lines = run(["--workload", SPEC["workloads"][0]["name"],
                     "--seed", "7", "--trace", "0"], ROOT)
    assert rc == 0, lines[-5:]
    res = result(lines)
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == e2e, res
    assert all(v["value"] > 0 for v in res["metrics"].values()), res

    rc, lines = run(["--workload", "all", "--seed", "7", "--trace", "1"],
                    ROOT)
    assert rc == 0, lines[-5:]
    res = result(lines)
    layer = {m["name"] for m in SPEC["per_layer"]}
    for w in SPEC["workloads"]:
        got = {k.split(".", 1)[1] for k in res["metrics"]
               if k.startswith(w["name"] + ".")}
        assert got == layer, (w["name"], got ^ layer)
        assert (ROOT / ".perfbench_out" / f"spans_{w['name']}_s7.json") \
            .exists()

    bare = ROOT / ".perfbench_work" / "smoke_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, bare / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    try:
        rc, lines = run(["--workload", SPEC["workloads"][0]["name"],
                         "--seed", "7", "--trace", "0"], bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and not any(ln.startswith("{") for ln in lines), lines
    print("perfbench smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
