"""The `transcripts` input table (BASELINE.json input_hint):

    (conv_id string, turn_idx int, role string, text string,
     tool string, ts timestamp)

One reference "page" <=> one turn; one PDF <=> one conversation. This
module provides:

- golden fixture payloads: the reference's CSV fixtures
  (test/data/vag_1/*.csv, test/data/kvv_s1/01_00.csv) encoded as
  char-box payloads, so extraction must reproduce them byte-exactly;
- a deterministic synthetic generator (seeded, skewed conversation
  lengths) used for tests and benchmarks — no external data;
- ``expected_csv_for_grid``: the ground-truth serialization the kernel
  must produce for a generated grid (mirrors the reference CSV writer,
  pdftable/pdftable.py:185-234).

All synthesis is pure-Python/pandas on the driver (tiny), the resulting
table is written as parquet and read back distributed.
"""

from __future__ import annotations

import csv
import functools
import io
import warnings
import zlib
from datetime import datetime, timedelta
from pathlib import Path
from typing import Sequence

import numpy as np
import pandas as pd

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel.payload import encode_grid, encode_tables

REFERENCE_FIXTURE_DIR = Path("/root/reference/test/data")
TABLE_SEP = "\x1d"  # separates per-table CSVs inside expected strings
CONV_DOC_SEP = "\n\x1e\n"  # separates turns inside a conversation doc
TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

_STOP_WORDS = [
    "Hauptbahnhof", "Rathausplatz", "Musikhochschule", "Stadttheater",
    "Schwabentor", "Bertoldsbrunnen", "Paduaallee", "Moosweiher",
    "Betzenhauser", "Eschholzstrasse", "Runzmattenweg", "Oberlinden",
    "Maria-Hilf-Kirche", "Brauerei", "Torplatz", "Diakonie",
    "Kirchzarten", "Littenweiler", "Wiehre", "Landwasser",
]
_HEADERS = ["Montag - Freitag", "Samstag", "Sonntag"]


def _escape(text: str) -> str:
    text = text.replace('"', "").strip()
    return f'"{text}"' if "," in text else text


def _repair_grid_stop_names(grid: Sequence[Sequence[str]],
                            header_rows: Sequence[int]
                            ) -> list[list[str]]:
    """Apply the reference's split-stop-name repair to column 0.

    The reference legacy engine repairs delimiter-prefixed / indented
    stop names in place BEFORE the CSV export (reader.py:400-409,
    pdftable.py:97-115), so the expected CSV must carry the repaired
    names.  The committed artifact kvv_s1/01_00.csv predates that (it
    keeps "- Hauptbahnhof ..."); driving the actual reference engine
    on the same chars proves the current behavior
    (tests/test_ref_differential.py, legacy surface).  Synthetic grids
    never generate such names, so this is a no-op for them.
    """
    from pdf2gtfs_spark.kernel.extract import R_DATA, R_HEADER, \
        fix_split_stop_names

    rows = [r for r, row in enumerate(grid) if row and str(row[0]).strip()]
    if not rows:
        return [list(row) for row in grid]
    texts = [str(grid[r][0]) for r in rows]
    row_types = {r: (R_HEADER if r in header_rows else R_DATA)
                 for r in rows}
    fixed = fix_split_stop_names(texts, [0.0] * len(rows), rows, row_types)
    out = [list(row) for row in grid]
    for r, text in zip(rows, fixed):
        out[r][0] = text
    return out


def expected_csv_for_grid(grid: Sequence[Sequence[str]],
                          header_rows: Sequence[int]) -> str:
    """Ground-truth CSV for a generated grid, assuming the kernel
    reconstructs exactly the grid's columns (the generator guarantees
    every column has a body cell and slots never overlap)."""
    grid = _repair_grid_stop_names(grid, header_rows)
    n_cols = max(len(r) for r in grid)
    out_rows = []
    for r, row in enumerate(grid):
        cells = [(_escape(c) if r not in header_rows else c)
                 for c in row] + [""] * (n_cols - len(row))
        if any(cells):
            out_rows.append(",".join(cells))
    return "\n".join(out_rows) + "\n"


# ---------------------------------------------------------------------------
# golden fixtures from the reference repo
# ---------------------------------------------------------------------------

def _grid_from_csv_text(text: str) -> list[list[str]]:
    reader = csv.reader(io.StringIO(text))
    return [list(row) for row in reader if any(row)]


def _header_row_ids(grid: list[list[str]],
                    cfg: ExtractConfig) -> list[int]:
    """Rows whose cells match the header predicate (field.py:94-96)."""
    def is_header_text(t: str) -> bool:
        padded = f" {t.lower().strip()} "
        pos = any(f" {k} " in padded for k in cfg.header_values)
        neg = any(f" {k} " in padded for k in cfg.negative_header_values)
        return pos and not neg

    return [r for r, row in enumerate(grid)
            if any(is_header_text(c) for c in row if c)]


@functools.cache
def _warn_missing(where: Path, missing: tuple[str, ...]) -> None:
    """One warning per process and set of missing fixtures."""
    warnings.warn(f"golden fixtures missing under REFERENCE_FIXTURE_DIR "
                  f"{where}: {', '.join(missing)}", stacklevel=3)


def load_fixture_grids(cfg: ExtractConfig = DEFAULT_CONFIG
                       ) -> list[tuple[str, list[list[str]], list[int]]]:
    """(name, grid, header_rows) for each non-empty reference fixture.

    Missing fixture files are left out with a warning that names them
    (once per process): callers such as bench.py run on without the
    reference checkout."""
    out, missing = [], []
    # vag_1/00_00.csv is intentionally absent: the reference fixture file
    # is empty (0 bytes), so there is nothing to encode or compare.
    for rel in ["vag_1/01_00.csv", "kvv_s1/01_00.csv"]:
        p = REFERENCE_FIXTURE_DIR / rel
        if not p.exists():
            missing.append(rel)
            continue
        text = p.read_text()
        if not text.strip():
            continue
        grid = _grid_from_csv_text(text)
        out.append((rel, grid, _header_row_ids(grid, cfg)))
    if missing:
        _warn_missing(REFERENCE_FIXTURE_DIR, tuple(missing))
    return out


def fixture_turns(cfg: ExtractConfig = DEFAULT_CONFIG
                  ) -> list[tuple[str, str, str]]:
    """(name, payload, expected_csv) per golden fixture table."""
    turns = []
    for name, grid, hdr in load_fixture_grids(cfg):
        payload = encode_grid(grid, hdr)
        expected = expected_csv_for_grid(grid, hdr)
        turns.append((name, payload, expected))
    return turns


# ---------------------------------------------------------------------------
# vag-like block layouts (new extraction path corpus)
# ---------------------------------------------------------------------------

_CHAR_W = 5.0
_CHAR_H = 8.0


def vag_like_block(times_y0: float, n_stops: int = 8, n_trips: int = 4,
                   x_stops: float = 40.0, stop_seed: int = 0
                   ) -> tuple[list[tuple[str, float, float]], list[float]]:
    """One vag-page-3-like block: stop col, an/ab col, time cols.

    Returns (cells, time_col_x0s) with cells = [(text, x0, y0)]; stop
    names <= 17 chars so columns never touch on the 5pt char raster.
    """
    cells: list[tuple[str, float, float]] = []
    x_annot = x_stops + 20 * _CHAR_W
    x_times = [x_annot + 4 * _CHAR_W + k * 10 * _CHAR_W
               for k in range(n_trips)]
    for s in range(n_stops):
        y = times_y0 + s * 10.0
        word = _STOP_WORDS[(stop_seed + s) % len(_STOP_WORDS)][:10]
        cells.append((f"{word} Halt {s}", x_stops, y))
        if s == 0:
            cells.append(("ab", x_annot, y))
        if s == n_stops - 1:
            cells.append(("an", x_annot, y))
        for k, x in enumerate(x_times):
            h, m = divmod((6 * 60 + 20 * k + 2 * s + 7 * stop_seed)
                          % (24 * 60), 60)
            cells.append((f"{h}.{m:02}", x, y))
    return cells, x_times


def cells_to_payload(cells: list[tuple[str, float, float]]) -> str:
    """Lay out (text, x0, y0) cells as a char-box payload."""
    from pdf2gtfs_spark.kernel.payload import (
        CHAR_COLUMNS, PageBox, encode_chars,
    )

    chars = []
    for text, x0, y0 in cells:
        x = x0
        for ch in text:
            chars.append((round(x, 2), y0, round(x + _CHAR_W, 2),
                          y0 + _CHAR_H, ch))
            x += _CHAR_W
    df = pd.DataFrame(chars, columns=CHAR_COLUMNS)
    page = PageBox(0, 0, float(df["x1"].max() + 40),
                   float(df["y1"].max() + 40))
    return encode_chars(page, df)


_NEWPATH_DAYS = [("Montag - Freitag", ["0", "1", "2", "3", "4"]),
                 ("Samstag", ["5"]),
                 ("Sonntag", ["6"])]


def generate_newpath_transcripts(n_convs: int = 4, turns_per_conv: int = 3
                                 ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Deterministic corpus for the new extraction path.

    Each turn stacks 1-3 vag-like blocks with a days header over the
    first time column of each block. Expected facts (table count, stop
    count, entry count, days key, time-cell count) are derived from the
    construction itself — never from the kernel — so the driver's
    DuckDB side is a genuine oracle.
    """
    t0 = datetime(2024, 1, 1, 8, 0, 0)
    rows, exp = [], []
    for c in range(n_convs):
        conv = f"np_{c:04d}"
        for t in range(turns_per_conv):
            n_blocks = 1 + (c + t) % 3
            cells: list[tuple[str, float, float]] = []
            y = 100.0
            for b in range(n_blocks):
                n_stops = 6 + (c + b) % 4
                n_trips = 3 + (t + b) % 3
                block, xs = vag_like_block(
                    y, n_stops=n_stops, n_trips=n_trips,
                    stop_seed=c * 7 + b)
                days_text, days = _NEWPATH_DAYS[(c + t + b) % 3]
                cells += block
                cells.append((days_text, xs[0], y - 14.0))
                exp.append((conv, t, b, n_stops, n_trips,
                            ",".join(days), n_stops * n_trips))
                y += n_stops * 10.0 + 36.0
            rows.append((conv, t, "user", cells_to_payload(cells),
                         "", t0 + timedelta(minutes=t)))
    transcripts = pd.DataFrame(rows, columns=TRANSCRIPT_COLUMNS)
    expected = pd.DataFrame(exp, columns=[
        "conv_id", "turn_idx", "table_id", "n_stops", "n_entries",
        "days_key", "n_time_cells"])
    return transcripts, expected


# ---------------------------------------------------------------------------
# deterministic synthetic generator
# ---------------------------------------------------------------------------

def _fmt_time(minutes: int) -> str:
    h, m = divmod(minutes % (24 * 60), 60)
    return f"{h}.{m:02}"


def synth_grid(rng: np.random.Generator,
               n_stops: int = 18, n_trips: int = 14
               ) -> tuple[list[list[str]], list[int]]:
    """One deterministic timetable grid.

    Layout mirrors the vag fixture: header row, optional annotation
    row, optional route row, stop rows with an an/ab annotation column
    and dense-to-sparse time columns.
    """
    header = _HEADERS[int(rng.integers(0, len(_HEADERS)))]
    with_annot = bool(rng.integers(0, 2))
    with_route = bool(rng.integers(0, 2))
    # ensure >= 8 mean length & no keyword collisions
    stops = []
    for i in range(n_stops):
        a = _STOP_WORDS[int(rng.integers(0, len(_STOP_WORDS)))]
        b = _STOP_WORDS[int(rng.integers(0, len(_STOP_WORDS)))]
        stops.append(f"{a} {b} {i}")
    annot_col = 1  # an/ab column
    n_cols = 2 + n_trips
    grid: list[list[str]] = []
    header_row = [""] * n_cols
    hdr_idx = int(rng.integers(0, 3))
    header_row[hdr_idx] = header
    grid.append(header_row)
    if with_annot:
        row = [""] * n_cols
        row[0] = "VERKEHRSHINWEIS"
        row[2 + int(rng.integers(0, n_trips))] = "V"
        grid.append(row)
    if with_route:
        row = [""] * n_cols
        row[0] = "Linie"
        for t in range(n_trips):
            row[2 + t] = f"S{t % 4 + 1}"
        grid.append(row)
    start = int(rng.integers(5 * 60, 20 * 60))
    trip_offsets = np.cumsum(rng.integers(10, 30, size=n_trips))
    stop_offsets = np.cumsum(rng.integers(1, 4, size=n_stops))
    sparse = rng.random(n_trips) < 0.25
    for s in range(n_stops):
        row = [""] * n_cols
        row[0] = stops[s]
        if s in (0, n_stops - 1):
            row[annot_col] = "ab" if s == 0 else "an"
        for t in range(n_trips):
            if sparse[t] and (s % 3 != 0):
                continue
            row[2 + t] = _fmt_time(start + int(trip_offsets[t])
                                   + int(stop_offsets[s]))
        grid.append(row)
    header_rows = [0]
    return grid, header_rows


def synth_turn_payload(conv_id: str, turn_idx: int,
                       n_tables: int = 1) -> tuple[str, str]:
    """Deterministic (payload, expected_csvs) for one turn."""
    seed = zlib.crc32(f"{conv_id}/{turn_idx}".encode())
    rng = np.random.default_rng(seed)
    grids, hdrs, expected = [], [], []
    for _ in range(n_tables):
        g, h = synth_grid(rng,
                          n_stops=int(rng.integers(8, 24)),
                          n_trips=int(rng.integers(6, 20)))
        grids.append(g)
        hdrs.append(h)
        expected.append(expected_csv_for_grid(g, h))
    payload = encode_tables(grids, hdrs)
    return payload, TABLE_SEP.join(expected)


def generate_transcripts(n_convs: int = 20,
                         base_turns: int = 3,
                         skew_every: int = 7,
                         skew_factor: int = 12,
                         include_fixtures: bool = True,
                         cfg: ExtractConfig = DEFAULT_CONFIG
                         ) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Deterministic transcripts table + expected outputs.

    Returns (transcripts_df, expected_df) where expected_df carries
    (conv_id, turn_idx, expected_csvs) for the match-rate metric.
    Every ``skew_every``-th conversation is ``skew_factor``x longer to
    exercise skew handling (FIXTURES.md §1 generator requirements).
    """
    t0 = datetime(2024, 1, 1, 8, 0, 0)
    rows, exp_rows = [], []

    if include_fixtures:
        for i, (name, payload, expected) in enumerate(fixture_turns(cfg)):
            conv = "conv_fixture"
            rows.append((conv, i, "user", payload, "", t0))
            exp_rows.append((conv, i, expected))

    for c in range(n_convs):
        conv = f"conv_{c:05d}"
        n_turns = base_turns + (c % 3)
        if skew_every and c % skew_every == 0:
            n_turns *= skew_factor
        for t in range(n_turns):
            payload, expected = synth_turn_payload(conv, t)
            role = ["user", "assistant", "tool"][t % 3]
            tool = "extractor" if role == "tool" else ""
            rows.append((conv, t, role, payload,
                         tool, t0 + timedelta(minutes=t)))
            exp_rows.append((conv, t, expected))

    transcripts = pd.DataFrame(rows, columns=TRANSCRIPT_COLUMNS)
    expected = pd.DataFrame(
        exp_rows, columns=["conv_id", "turn_idx", "expected_csvs"])
    return transcripts, expected
