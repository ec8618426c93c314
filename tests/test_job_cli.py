"""End-to-end spark-submit --py-files job test (north_rule ship
requirement).

Runs jobs/extract_transcripts.py through a REAL ``spark-submit`` with
``--py-files dist/pdf2gtfs_spark.zip`` and the repo stripped from
PYTHONPATH, from a working directory outside the repo — so the test
fails unless the zip actually carries the package to the driver and
executors (the script's own directory, jobs/, contains no package).

Covers: full run (all buckets, match_rate 1.0 vs generated ground
truth), kill-and-resume (``--max-groups 1`` then a plain re-submit
recomputes only the unfinished buckets, and a new ``--snapshot-id``
reprocesses every bucket), and snapshot-id fingerprinting of the input
file listing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
JOB = REPO / "jobs" / "extract_transcripts.py"

N_BUCKETS = 8
GROUP_SIZE = 4


def _spark_submit() -> str:
    # prefer the pip pyspark's launcher: it matches the installed
    # python-side library version exactly
    import pyspark
    cand = Path(pyspark.__file__).parent / "bin" / "spark-submit"
    if cand.exists():
        return str(cand)
    found = shutil.which("spark-submit")
    if found:
        return found
    pytest.skip("no spark-submit on PATH")


def _submit(workdir: Path, zip_path: Path, *job_args: str) -> dict:
    cmd = [
        _spark_submit(), "--master", "local[4]",
        "--conf", "spark.driver.host=127.0.0.1",
        "--conf", "spark.driver.bindAddress=127.0.0.1",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=2g",
        "--py-files", str(zip_path),
        str(JOB), *job_args,
    ]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be load-bearing
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    res = subprocess.run(cmd, cwd=workdir, env=env, timeout=600,
                         capture_output=True, text=True)
    assert res.returncode == 0, res.stderr[-4000:]
    # last stdout line is the job's JSON summary
    line = [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


@pytest.fixture(scope="module")
def job_env(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("job_cli")
    sys.path.insert(0, str(REPO))
    from pdf2gtfs_spark.sources.transcripts import generate_transcripts
    from tools.make_pyfiles import build

    transcripts, expected = generate_transcripts(
        n_convs=6, base_turns=2, skew_every=5, skew_factor=3)
    (tmp / "input").mkdir()
    # us-precision timestamps: Spark's parquet reader rejects the
    # nanosecond TIMESTAMP(NANOS) pandas/pyarrow writes by default
    transcripts.to_parquet(tmp / "input" / "part-0.parquet", index=False,
                           coerce_timestamps="us",
                           allow_truncated_timestamps=True)
    (tmp / "expected").mkdir()
    expected.to_parquet(tmp / "expected" / "part-0.parquet", index=False)
    zip_path = build(tmp / "dist")
    return tmp, zip_path


def test_full_run_matches_ground_truth(job_env):
    tmp, zip_path = job_env
    out = tmp / "out_full"
    summary = _submit(
        tmp, zip_path,
        "--input", str(tmp / "input"), "--output", str(out),
        "--run-id", "t1", "--n-buckets", str(N_BUCKETS),
        "--group-size", str(GROUP_SIZE),
        "--expected", str(tmp / "expected"))
    assert summary["buckets_processed"] == N_BUCKETS
    assert summary["committed_buckets"] == N_BUCKETS
    assert summary["match_rate"] == 1.0
    assert summary["input_rows"] > 0
    assert summary["input_snapshot_id"].startswith("files-")
    assert (out / "tables").exists() and (out / "lineage").exists()


def test_kill_and_resume_recomputes_only_pending(job_env):
    tmp, zip_path = job_env
    out = tmp / "out_resume"
    killed = _submit(
        tmp, zip_path,
        "--input", str(tmp / "input"), "--output", str(out),
        "--run-id", "t2a", "--n-buckets", str(N_BUCKETS),
        "--group-size", str(GROUP_SIZE), "--max-groups", "1")
    assert killed["buckets_processed"] == GROUP_SIZE
    assert killed["committed_buckets"] == GROUP_SIZE

    resumed = _submit(
        tmp, zip_path,
        "--input", str(tmp / "input"), "--output", str(out),
        "--run-id", "t2b", "--n-buckets", str(N_BUCKETS),
        "--group-size", str(GROUP_SIZE),
        "--expected", str(tmp / "expected"))
    assert resumed["buckets_processed"] == N_BUCKETS - GROUP_SIZE
    assert resumed["committed_buckets"] == N_BUCKETS
    # committed output covers ALL buckets and still matches exactly
    assert resumed["match_rate"] == 1.0
    # same input -> same fingerprint across both submits
    assert resumed["input_snapshot_id"] == killed["input_snapshot_id"]

    # a new input snapshot reprocesses every bucket, and the summary
    # counts only that snapshot's lineage rows
    fresh = _submit(
        tmp, zip_path,
        "--input", str(tmp / "input"), "--output", str(out),
        "--run-id", "t2c", "--n-buckets", str(N_BUCKETS),
        "--group-size", str(GROUP_SIZE), "--snapshot-id", "v2")
    assert fresh["buckets_processed"] == N_BUCKETS
    assert fresh["committed_buckets"] == N_BUCKETS
    assert fresh["input_rows"] == resumed["input_rows"]


def test_zip_is_deterministic(job_env, tmp_path):
    tmp, zip_path = job_env
    from tools.make_pyfiles import build
    again = build(tmp_path / "dist2")
    assert zip_path.read_bytes() == again.read_bytes()
