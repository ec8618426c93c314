"""Oracle handoff files.

Some driver queries are not expressible over the pre-registered DuckDB
views alone (kernel-backed extraction, binary assets, materialized
intermediate frames). For those, the Spark query function first writes
a small deterministic parquet under ``AUX_DIR`` and the registered
oracle SQL reads it back with ``read_parquet`` — the parquet carries
*inputs or independently-derived expectations*, never the Spark query's
own output, so the DuckDB side remains a genuine recomputation.

A handoff of kernel outputs carries them as the kernel emits them (the
gtfs/feed oracles share one file of the kernel's entries). Keys derived
from those outputs — calendar keys, repeat flags — are computed on both
sides, each engine with its own expression. The handoff adds only the
trip id (its key columns joined by '/') and the stop-name normalization,
which DuckDB cannot compute.

Writes are atomic (tmp file + rename) and idempotent: the same bytes
are produced on every call, so concurrent or repeated materialization
is safe.
"""

from __future__ import annotations

import os
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# in the checkout that holds this package, so each checkout's oracles
# read the files its own code wrote
AUX_DIR = Path(__file__).resolve().parents[2] / ".oracle_aux"


def aux_path(name: str) -> str:
    return str(AUX_DIR / name)


def write_aux_parquet(name: str, table: pa.Table) -> str:
    """Atomically write one parquet file under AUX_DIR; returns path."""
    AUX_DIR.mkdir(parents=True, exist_ok=True)
    dest = AUX_DIR / name
    tmp = AUX_DIR / f".{name}.tmp.{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, dest)
    return str(dest)


def write_aux_pandas(name: str, pdf: pd.DataFrame,
                     schema: pa.Schema | None = None) -> str:
    return write_aux_parquet(
        name, pa.Table.from_pandas(pdf, schema=schema, preserve_index=False))


def write_aux_spark(name: str, df) -> str:
    """Materialize a Spark DataFrame as a parquet DIRECTORY under
    AUX_DIR, written executor-side (``df.write.parquet`` — no
    ``toPandas`` collect through the driver, so the handoff scales
    with the cluster instead of driver RAM). DuckDB reads it back via
    ``read_parquet('<dir>/*.parquet')`` (see :func:`aux_glob`); Spark
    re-reads the directory directly. Write goes to a tmp dir, then
    renames into place; an existing destination is replaced.
    """
    import shutil

    AUX_DIR.mkdir(parents=True, exist_ok=True)
    dest = AUX_DIR / name
    tmp = AUX_DIR / f".{name}.tmp.{os.getpid()}"
    if tmp.exists():
        shutil.rmtree(tmp)
    df.write.mode("overwrite").parquet(str(tmp))
    if dest.is_dir():
        shutil.rmtree(dest)
    elif dest.exists():
        dest.unlink()
    os.rename(tmp, dest)
    return str(dest)


def aux_glob(name: str) -> str:
    """DuckDB-side glob for a directory aux dataset."""
    return str(AUX_DIR / name / "*.parquet")
