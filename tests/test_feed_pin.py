"""Reference-free GTFS feed pin: one ``build_feed`` over a corpus of
conversations, one sha256 per written GTFS file.

The corpus reuses the layout generators of the GTFS and table
differential sweeps (swept against the reference with zero divergences)
and adds newpath turns, so that the one feed covers every branch of the
reference's handler loop (handler.py:144-217) that decides the +24h
service-day shift and the repeat anchors:

- stacked repeat sandwiches (time, repeat, time, repeat, time);
- a repeat column whose intervals do not parse (``repeat_intervals``
  null: two distinct intervals in one legacy column);
- a days change inside one table (newpath: a second days header over a
  later column), with a repeat between anchors of different days;
- midnight chains (the +24h shift and its hour quirk);
- sweep seed 70000, whose all-connection entry disables the rollover
  for the next entry.

A failure prints the new digests. Replace ``PINNED`` with them only
after an intended change of the feed output, and say so in the commit.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import random
import sys
import zipfile

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf2gtfs_spark.config import DEFAULT_CONFIG  # noqa: E402
from pdf2gtfs_spark.kernel.payload import CHAR_W  # noqa: E402
from pdf2gtfs_spark.sources.transcripts import (  # noqa: E402
    cells_to_payload, generate_newpath_transcripts, vag_like_block,
)

NEW_CFG = dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")
CHAINS = (((23, 50), (0, 10), (0, 40)),
          ((22, 0), (23, 0), (0, 30), (1, 0), (0, 15)),
          ((10, 0), (9, 0), (11, 0)))

PINNED = {
    "agency":
        "ba41ce8ff9efbe9eda92454f358ed8cde7d65b9a94325f13321104e043fd2197",
    "stops":
        "5389ad9a30e16d3db0db788932c3f4b60b8d62db29051c2c88ec16905cbd23e2",
    "routes":
        "87616823a78bf34c4476a2bb1b4ad3211e0fafa2e8d25ada672f26b844166565",
    "calendar":
        "b206be03492d127aefbadbf7480af7bfef0aebe8d8a81fc3de0d259f2ff30159",
    "calendar_dates":
        "cf0177af55feb5085a59036209bc3d864234c34399c39f067fbf5f13053a5de8",
    "trips":
        "8653744a8ac07e0538290b6bf1fb6e5784ec7d2dcf2dc619e66a797340c112fb",
    "stop_times":
        "38175d2fba5ddcb8e2af95a244ee0ba255fcabc870f7c5f9488b9abe5edb4031",
}


def _repeat_col(x: float, y0: float, *intervals: int) -> list:
    """An "alle <n> Min." repeat column per interval, stacked down."""
    cells = []
    for i, n in enumerate(intervals):
        y = y0 + 10 + 30 * i
        cells += [("alle", x, y), (str(n), x, y + 10), ("Min.", x, y + 20)]
    return cells


def _days_change_cells(y0: float, starts: list[int]):
    """One newpath table whose days change at its third time column
    (column k starts at ``starts[k]`` minutes); returns (cells, xs)."""
    cells, _ = vag_like_block(y0, n_stops=6, n_trips=0, stop_seed=3)
    _, xs = vag_like_block(y0, n_trips=len(starts))
    for k, x in enumerate(xs):
        for s in range(6):
            h, m = divmod((starts[k] + 4 * s) % 1440, 60)
            cells.append((f"{h}.{m:02}", x, y0 + s * 10.0))
    cells.append(("Montag - Freitag", xs[0], y0 - 14.0))
    cells.append(("Samstag", xs[2], y0 - 14.0))
    return cells, xs


def _legacy_payloads() -> list[tuple[str, str]]:
    from test_newpath import _block
    from test_ref_differential import (
        TestAdversarialLayouts, TestSeededRandomLayouts,
    )
    from test_ref_gtfs_differential import TestServiceDayOffsets, _gen_layout

    out = []
    for seed in [*range(9000, 9020), 70000]:
        cells = TestAdversarialLayouts._layout(random.Random(seed))
        out.append((f"v2_{seed}", cells_to_payload([c[:3] for c in cells])))
    for seed in range(5000, 5010):
        cells = _gen_layout(random.Random(seed))
        out.append((f"gen3_{seed}", cells_to_payload(cells)))
    for seed in range(1000, 1010):
        cells = TestSeededRandomLayouts._layout(None, random.Random(seed))
        out.append((f"seeded_{seed}", cells_to_payload([c[:3] for c in cells])))
    for i, starts in enumerate(CHAINS):
        out.append((f"chain_{i}",
                    cells_to_payload(TestServiceDayOffsets._chain(list(starts)))))
    # stacked sandwiches: repeats between columns 0|1 and 1|2
    cells, xs = _block(100.0, n_stops=8, n_trips=5)
    cells += _repeat_col(xs[0] + 5 * CHAR_W, 100.0, 5)
    cells += _repeat_col(xs[1] + 5 * CHAR_W, 100.0, 7)
    cells.append(("Sonntag", xs[0], 86.0))
    out.append(("stacked", cells_to_payload(cells)))
    # an interval-less repeat (two distinct intervals) before a real one
    cells, xs = _block(100.0, n_stops=8, n_trips=5)
    cells += _repeat_col(xs[0] + 5 * CHAR_W, 100.0, 15, 30)
    cells += _repeat_col(xs[2] + 5 * CHAR_W, 100.0, 6)
    out.append(("no_intervals", cells_to_payload(cells)))
    return out


def _newpath_payloads() -> list[tuple[str, str]]:
    transcripts, _ = generate_newpath_transcripts()
    out = [(f"{c}_{t}", p) for c, t, p in
           zip(transcripts.conv_id, transcripts.turn_idx, transcripts.text)]
    # a repeat on each side of the change: the one between columns 1
    # and 2 has anchors of different days
    cells, xs = _days_change_cells(100.0, [360, 380, 420, 440, 480])
    cells += _repeat_col(xs[1] + 5 * CHAR_W, 100.0, 10)
    cells += _repeat_col(xs[2] + 5 * CHAR_W, 100.0, 15)
    out.append(("days_change", cells_to_payload(cells)))
    # the days change resets a running midnight chain
    cells, _ = _days_change_cells(100.0, [1430, 10, 1420, 15, 40])
    out.append(("days_change_chain", cells_to_payload(cells)))
    return out


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    """(entries pandas frame, {GTFS file name: bytes}) of one feed."""
    from pdf2gtfs_spark.operators.feed import build_feed, write_feed_zip
    from pdf2gtfs_spark.plans.pipeline import (
        entries_table, run_extract, stops_table,
    )

    def extract(payloads, cfg):
        tdf = spark.createDataFrame(
            pd.DataFrame([(conv, 0, p) for conv, p in payloads],
                         columns=["conv_id", "turn_idx", "text"]))
        return run_extract(tdf, cfg)

    extracted = (extract(_legacy_payloads(), DEFAULT_CONFIG)
                 .unionByName(extract(_newpath_payloads(), NEW_CFG))
                 .cache())
    try:
        entries = entries_table(extracted)
        feed = build_feed(entries, spark, stops_src=stops_table(extracted))
        path = write_feed_zip(
            feed, str(tmp_path_factory.mktemp("feed") / "feed.zip"))
        ent = entries.toPandas()
    finally:
        extracted.unpersist()
    with zipfile.ZipFile(path) as zf:
        files = {n.rsplit(".", 1)[0]: zf.read(n) for n in zf.namelist()}
    return ent, files


def test_feed_files_match_pinned_digests(corpus):
    _, files = corpus
    got = {k: hashlib.sha256(v).hexdigest() for k, v in files.items()}
    assert got == PINNED, f"new feed digests: {got}"


def test_corpus_covers_the_handler_loop_branches(corpus):
    ent, files = corpus
    per_entry = (ent.sort_values("stop_pos")
                 .groupby(["conv_id", "table_id", "entry_id"], sort=True)
                 .first().reset_index())
    kinds = per_entry.groupby(["conv_id", "table_id"])["kind"].agg(
        lambda k: "".join(s[0] for s in k))
    assert kinds.str.contains("trtrt").any(), "stacked repeats"
    reps = per_entry[per_entry.kind == "repeat"]
    assert reps.repeat_intervals.isna().any(), "interval-less repeat"
    assert reps.repeat_intervals.notna().sum() >= 4
    timed = per_entry[per_entry.kind == "time"]
    n_days = timed.groupby(["conv_id", "table_id"])["days"].agg(
        lambda d: len({tuple(x) for x in d}))
    assert (n_days > 1).any(), "days change inside one table"
    # seed 70000: one timed entry whose every valued stop is a connection
    v = ent[(ent.kind == "time") & ent.value.notna()]
    all_conn = v.groupby(["conv_id", "table_id", "entry_id"])[
        "is_connection"].all()
    assert all_conn.any(), "all-connection entry"
    stop_times = files["stop_times"].decode().splitlines()[1:]
    assert any("#" in r.split(",")[0] for r in stop_times), "repeat copies"
    assert any(r.split(",")[2].startswith("25:") for r in stop_times), (
        "second midnight crossing (the hour quirk)")
