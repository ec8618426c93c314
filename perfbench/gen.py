"""Seeded input generator for the benchmark workloads.

Inputs depend only on ``--seed`` and the scale; nothing is read from
outside the checkout.  Two corpora are built from the package's own
layout synthesizers:

- ``legacy``: unique timetable grids (``synth_grid``), 1-3 tables per
  turn, with skewed conversation lengths: every
  ``SKEW_EVERY``-th conversation is ``SKEW_FACTOR`` times longer.
- ``newpath``: stacked vag-like multi-block layouts
  (``vag_like_block`` + ``cells_to_payload``) whose per-table facts
  (stops, entries, days, time cells) come from the construction.

In both, a fixed share of the turns carries a planted malformed
payload; the kernel must flag those rather than extract them.

Payload synthesis runs inside Spark tasks (``mapInPandas`` over the
turn keys), in ``n_chunks`` separately timed jobs that append to one
parquet directory, so set-up time is a median over several equal
pieces of work.
"""

from __future__ import annotations

import hashlib
import json
import time
import zlib

import numpy as np
import pandas as pd

MALFORMED_SHARE = 1 / 32
SKEW_EVERY = 7
SKEW_FACTOR = 12

_NEWPATH_DAYS = [("Montag - Freitag", "0,1,2,3,4"), ("Samstag", "5"),
                 ("Sonntag", "6")]

# synthesized rows: the transcripts table, then the ground truth
_SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
           "tool string, ts timestamp, planted_malformed boolean, "
           "expected string, payload_md5 string")
_COLUMNS = [c.split()[0] for c in _SCHEMA.split(", ")]
INPUT_COLUMNS = _COLUMNS[:6]
TRUTH_COLUMNS = ["conv_id", "turn_idx", *_COLUMNS[6:]]


def legacy_keys(seed: int, n_convs: int, base_turns: int = 3
                ) -> list[tuple[str, int]]:
    """(conv_id, turn_idx) for every turn; the shape depends only on
    ``n_convs``, so all seeds do the same amount of work."""
    keys = []
    for c in range(n_convs):
        n_turns = base_turns + c % 3
        if c % SKEW_EVERY == 0:
            n_turns *= SKEW_FACTOR
        keys += [(f"s{seed}_c{c:05d}", t) for t in range(n_turns)]
    return keys


def newpath_keys(seed: int, n_convs: int, turns_per_conv: int = 4
                 ) -> list[tuple[str, int]]:
    return [(f"s{seed}_np{c:05d}", t)
            for c in range(n_convs) for t in range(turns_per_conv)]


def planted_mask(seed: int, n_turns: int) -> np.ndarray:
    """Exactly round(n_turns * MALFORMED_SHARE) planted turns (at least
    one), chosen by the seed."""
    k = max(1, round(n_turns * MALFORMED_SHARE))
    rng = np.random.default_rng([seed, n_turns])
    mask = np.zeros(n_turns, dtype=bool)
    mask[rng.choice(n_turns, size=k, replace=False)] = True
    return mask


def _turn_rng(conv_id: str, turn_idx: int) -> np.random.Generator:
    return np.random.default_rng(
        zlib.crc32(f"{conv_id}/{turn_idx}/bench".encode()))


def malformed_payload(conv_id: str, turn_idx: int) -> str:
    """A unique payload the decoder must reject: either a wrong header
    tag or a non-numeric page box."""
    if turn_idx % 2:
        return f"PAGEBOX\t0\t0\t{turn_idx}\t{conv_id}\n1\t1\t6\t9\tx\n"
    return f"PAGE\t{conv_id}\t0\t600\t{turn_idx}\n1\t1\t6\t9\tx\n"


def _has_timeless_stop_row(grid, header_rows) -> bool:
    """A stop row without any time: it happens when every trip column
    of a grid is sparse.  ``expected_csv_for_grid`` keeps such rows,
    but the legacy kernel, like the reference's row-type ladder
    (pdftable/container.py:221-230), types them OTHER and leaves them
    out of the CSV.  The ground truth does not model that case, so
    such grids are redrawn."""
    return any(row[0] and not any(row[2:])
               for r, row in enumerate(grid) if r not in header_rows)


def legacy_turn(conv_id: str, turn_idx: int, pos: int) -> tuple[str, str]:
    """(payload, expected per-turn CSV text): ``synth_turn_payload``'s
    grids, with 1-3 tables per turn and grids that hold a timeless stop
    row redrawn.  Random grids make the payloads unique, so ``pos`` is
    unused."""
    from pdf2gtfs_spark.kernel.payload import encode_tables
    from pdf2gtfs_spark.sources.transcripts import (
        TABLE_SEP, expected_csv_for_grid, synth_grid,
    )

    n_tables = int(_turn_rng(conv_id, turn_idx).integers(1, 4))
    rng = np.random.default_rng(zlib.crc32(f"{conv_id}/{turn_idx}".encode()))
    grids, hdrs = [], []
    while len(grids) < n_tables:
        g, h = synth_grid(rng, n_stops=int(rng.integers(8, 24)),
                          n_trips=int(rng.integers(6, 20)))
        if not _has_timeless_stop_row(g, h):
            grids.append(g)
            hdrs.append(h)
    return encode_tables(grids, hdrs), TABLE_SEP.join(
        expected_csv_for_grid(g, h) for g, h in zip(grids, hdrs))


def newpath_turn(conv_id: str, turn_idx: int, pos: int) -> tuple[str, str]:
    """(payload, JSON list of per-table facts
    [n_stops, n_entries, days_key, n_time_cells]).

    The block parameters repeat after a few thousand draws, so the
    layout starts ``2 * pos`` points lower for the turn at position
    ``pos`` of the corpus: no two turns share a payload."""
    from pdf2gtfs_spark.sources.transcripts import (
        cells_to_payload, vag_like_block,
    )

    rng = _turn_rng(conv_id, turn_idx)
    cells: list[tuple[str, float, float]] = []
    facts = []
    y = 100.0 + 2 * pos
    for _ in range(int(rng.integers(1, 4))):
        n_stops = int(rng.integers(6, 10))
        n_trips = int(rng.integers(3, 6))
        block, xs = vag_like_block(
            y, n_stops=n_stops, n_trips=n_trips,
            stop_seed=int(rng.integers(0, 1_000_000)))
        days_text, days_key = _NEWPATH_DAYS[int(rng.integers(0, 3))]
        cells += block
        cells.append((days_text, xs[0], y - 14.0))
        facts.append([n_stops, n_trips, days_key, n_stops * n_trips])
        y += n_stops * 10.0 + 36.0
    return cells_to_payload(cells), json.dumps(facts)


def _synth_batches(corpus: str):
    """mapInPandas body: (conv_id, turn_idx, pos, planted) -> payload rows
    plus the ground truth for the same turns."""
    make = legacy_turn if corpus == "legacy" else newpath_turn

    def synth(batches):
        t0 = pd.Timestamp("2024-01-01 08:00:00")
        for keys in batches:
            rows = []
            for conv, turn, pos, planted in zip(
                    keys["conv_id"], keys["turn_idx"], keys["pos"],
                    keys["planted"]):
                turn = int(turn)
                if planted:
                    payload, expected = malformed_payload(conv, turn), ""
                else:
                    payload, expected = make(conv, turn, int(pos))
                role = ("user", "assistant", "tool")[turn % 3]
                rows.append((conv, turn, role, payload,
                             "extractor" if role == "tool" else "",
                             t0 + pd.Timedelta(minutes=turn),
                             bool(planted), expected,
                             hashlib.md5(payload.encode()).hexdigest()))
            yield pd.DataFrame(rows, columns=_COLUMNS)

    return synth


def write_inputs(spark, corpus: str, keys: list[tuple[str, int]],
                 seed: int, input_dir: str, truth_dir: str,
                 n_chunks: int) -> dict:
    """Synthesize ``keys`` in ``n_chunks`` timed Spark jobs.

    Writes the transcripts table (the only thing the program reads) to
    ``input_dir`` and the ground truth to ``truth_dir``.  Returns the
    per-chunk seconds, the number of turns and of unique payloads."""
    planted = planted_mask(seed, len(keys))
    key_df = pd.DataFrame({"conv_id": [k[0] for k in keys],
                           "turn_idx": [k[1] for k in keys],
                           "pos": range(len(keys)), "planted": planted})
    synth = _synth_batches(corpus)
    chunk_s = []
    for chunk in np.array_split(np.arange(len(keys)), n_chunks):
        t0 = time.perf_counter()
        part = spark.createDataFrame(key_df.iloc[chunk])
        out = part.mapInPandas(synth, _SCHEMA).persist()
        out.select(*INPUT_COLUMNS).write.mode("append").parquet(input_dir)
        out.select(*TRUTH_COLUMNS).write.mode("append").parquet(truth_dir)
        out.unpersist()
        chunk_s.append(time.perf_counter() - t0)
    digests = pd.read_parquet(truth_dir, columns=["payload_md5"])
    return {"chunk_s": chunk_s, "n_turns": len(keys),
            "n_unique": int(digests["payload_md5"].nunique()),
            "n_planted": int(planted.sum())}
