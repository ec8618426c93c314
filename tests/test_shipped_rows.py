"""Pinned rows of ``run_extract``: what the kernel ships to the JVM.

``tests/test_output_corpus.py`` pins the kernel's CSV text, entries and
stops in Python; nothing there covers the cells surface or the
Python -> JVM conversion of the nested structs.  This file hashes the
sorted ``repr(tuple(row))`` of ``run_extract(...).collect()`` on the
legacy, newpath and merge surfaces, each with emit ``full`` and
``csv``, so a change to the kernel's hand-off (record layout, batch
format, key casts) must leave every shipped value byte-identical.

Inputs: the v2-v5 corpus payloads (seeds 0-24 of each family), one
malformed payload and one table-less turn, in a pandas-created frame
whose ``turn_idx`` is a long column (as ``operators/gtfs.py`` feeds
it).  After an intended output change, replace the stored digest with
the computed one from the failure message.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from test_output_corpus import FAMILIES, SURFACES, corpus_payload

from pdf2gtfs_spark.plans.pipeline import run_extract

MALFORMED = "PAGE\tbad\t0\t600\t99\n1\t1\t6\t9\tx\n"
TABLELESS = "PAGE\t0\t0\t600\t800\n10\t10\t20\t20\tx\n"

SHIPPED_ROWS = {
    ("legacy", "full"): "ea82526679534947",
    ("legacy", "csv"): "cbfc0bc04918af6c",
    ("newpath", "full"): "d54c26f898419eb4",
    ("newpath", "csv"): "8f07cc46f4773d61",
    ("merge", "full"): "8af62a00f831090f",
    ("merge", "csv"): "c28f768e4b01e7c1",
}


def shipped_rows_input() -> pd.DataFrame:
    rows = [(f"{family}_{seed:02d}", seed, corpus_payload(family, seed))
            for family in FAMILIES for seed in range(25)]
    rows += [("bad", 0, MALFORMED), ("empty", 0, TABLELESS)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    assert pdf["turn_idx"].dtype == "int64"
    return pdf


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.createDataFrame(shipped_rows_input())


def rows_digest(rows) -> str:
    lines = sorted(repr(tuple(r)) for r in rows)
    h = hashlib.sha256(f"rows={len(lines)}\n".encode())
    h.update("\n".join(lines).encode())
    return h.hexdigest()[:16]


@pytest.mark.parametrize("surface, emit", list(SHIPPED_ROWS))
def test_shipped_rows_match_pinned_digest(transcripts, surface, emit):
    rows = run_extract(transcripts, SURFACES[surface], emit=emit).collect()
    assert {r["conv_id"] for r in rows if r["malformed"]} == {"bad"}
    assert [r["table_id"] for r in rows if r["conv_id"] == "empty"] == [None]
    got = rows_digest(rows)
    assert got == SHIPPED_ROWS[(surface, emit)], (
        f"shipped rows changed on ({surface}, {emit}): computed {got}")
