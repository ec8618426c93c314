"""Smoke runs of the two timing tools beside perfbench/.

No benchmark or CI step runs ``bench_extra.py`` or
``tools/scaling_bench.py``, so a stale import or a plan the pipeline no
longer ships would go unnoticed; these runs are tiny (local[2], one
rep) and check only that each tool ends in its JSON line.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF001 = Path("/root/testdata/sf0.01")
SMALL = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_BENCH_REPS="1",
             SPARK_GRAFT_DRIVER_MEM="1g")


def _last_json(args: list[str], **env) -> dict:
    out = subprocess.run([sys.executable, *args], cwd=REPO,
                         env=dict(SMALL, **env), capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not SF001.is_dir(), reason=f"{SF001} absent")
def test_bench_extra_times_one_query():
    last = _last_json(["bench_extra.py", "agg_pricing_summary"],
                      SPARK_GRAFT_SF_DIR=str(SF001))
    assert (last["sf_dir"], last["cpus"], last["reps"]) == (str(SF001), 2, 1)
    assert last["results"]["agg_pricing_summary"]["median"] > 0


def test_scaling_bench_skew_mode():
    spec = importlib.util.spec_from_file_location(
        "scaling_bench", REPO / "tools" / "scaling_bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.scaling) and callable(mod.skew)

    last = _last_json(["tools/scaling_bench.py", "skew"],
                      SPARK_GRAFT_SKEW_TURNS="16")
    assert last["metric"] == "skew_efficiency"
    assert (last["turns"], last["monster_turns"], last["cpus"]) == (32, 16, 2)
    assert set(last["seconds"]) == {"skew_nosalt", "skew_salt", "uniform"}
    assert last["reassembly"]["hot_conv_key"] > 0


def test_scaling_mode_refuses_too_few_cores():
    """4 cores give lo = (4 // 4) // 4 = 0: the tool exits with an error
    that names the core count, before any session starts."""
    out = subprocess.run([sys.executable, "tools/scaling_bench.py"],
                         cwd=REPO, env=dict(SMALL, SPARK_GRAFT_CPUS="4"),
                         capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""
    assert "got 4 cores" in out.stderr
    assert "SparkContext" not in out.stderr and "log4j" not in out.stderr
