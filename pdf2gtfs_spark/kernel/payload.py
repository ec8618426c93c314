"""Turn-payload codec: char-box stream <-> per-turn numpy char arrays.

Wire format (one turn's ``text`` column, see FIXTURES.md §2):

    PAGE<TAB>x0<TAB>y0<TAB>x1<TAB>y1
    x0<TAB>y0<TAB>x1<TAB>y1<TAB>text
    ...

Coordinates use a top-left origin and are rounded to 2 decimals, like
the reference char frame (src/pdf2gtfs/reader.py:98-125). ``text`` is a
single glyph; ``(cid:N)`` escapes from broken PDF glyphs are repaired on
decode (reference: reader.py:84-95).

``encode_grid`` lays out a logical table grid (list of rows of cell
texts) as deterministic char boxes so reference golden CSV fixtures can
be round-tripped through the extraction kernel byte-exactly.
"""

from __future__ import annotations

import io
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pandas as pd

CHAR_W = 5.0
CHAR_H = 8.0
ROW_STEP = 10.0      # y-gap 2pt between rows -> same table (max_row_distance 3)
TABLE_GAP = 24.0     # row-bbox distance 16pt -> table split (> 3)
COL_GAP = 10.0       # > max_char_distance -> field split; no column overlap
MARGIN = 40.0

CHAR_COLUMNS = ["x0", "y0", "x1", "y1", "text"]


@dataclass(frozen=True)
class PageBox:
    x0: float
    y0: float
    x1: float
    y1: float


class MalformedPayload(ValueError):
    """Raised on undecodable turn payloads; callers degrade gracefully."""


def _fix_cid_text(text: str) -> str:
    """Repair '(cid:N)' glyph codes. reference: reader.py:84-95."""
    if len(text) == 1:
        return text
    try:
        return chr(int(text[5:-1]))
    except (ValueError, TypeError):
        return text


def decode_payload_arrays(payload: str) -> tuple[PageBox, dict]:
    """Parse a turn payload into (page box, dict of numpy arrays).

    A manual split parser: for the few-KB payload sizes here it beats
    pandas.read_csv's fixed setup cost ~4x; the only per-char Python
    beyond the split is the rare cid repair.
    """
    nl = payload.find("\n")
    header = payload[:nl] if nl >= 0 else payload
    parts = header.split("\t")
    if len(parts) != 5 or parts[0] != "PAGE":
        # Malformed turn: at 10^12-turn scale a bad payload must not
        # kill the executor task — yield an empty char frame instead.
        raise MalformedPayload(header[:80])
    try:
        page = PageBox(float(parts[1]), float(parts[2]),
                       float(parts[3]), float(parts[4]))
    except ValueError as e:
        raise MalformedPayload(str(e)) from e
    body = payload[nl + 1:] if nl >= 0 else ""
    recs = [ln.split("\t") for ln in body.split("\n") if ln]
    if not recs:
        return page, {
            "x0": np.empty(0), "y0": np.empty(0),
            "x1": np.empty(0), "y1": np.empty(0),
            "text": np.empty(0, dtype=object),
        }
    try:
        arr = np.array(recs, dtype=object)      # (n, 5)
        if arr.ndim != 2 or arr.shape[1] != 5:
            raise ValueError("ragged payload body")
        coords = arr[:, :4].astype(np.float64)  # C-loop float parse
    except ValueError as e:
        raise MalformedPayload(str(e)) from e
    # the repair is the identity on single-char texts (the common
    # case: these are per-char records); one cheap scan decides
    # whether the per-text repair pass runs at all.  NOTE: for
    # multi-char texts the reference applies chr(int(text[5:-1]))
    # regardless of a '(cid:' prefix (reader.py:84-95) — mirrored
    # bug-for-bug, so the skip must key on length only.
    raw = arr[:, 4].tolist()
    if max(map(len, raw), default=0) > 1:
        text = np.array(
            [_fix_cid_text(t) if len(t) > 1 else t for t in raw],
            dtype=object)
    else:
        text = arr[:, 4]
    return page, {
        "x0": coords[:, 0], "y0": coords[:, 1],
        "x1": coords[:, 2], "y1": coords[:, 3],
        "text": text,
    }


def decode_payload_batch(payloads: Sequence[str]) -> list:
    """Decode many payloads with ONE vectorized CSV parse.

    The per-turn parser spends most of its time in per-line
    ``str.split`` plus per-turn numpy array construction (guide §4.5:
    amortize per-batch); here all body lines of a batch are parsed by
    pyarrow's C++ CSV reader in one call and sliced back per turn as
    numpy views.  Semantics are EXACTLY decode_payload_arrays': any
    payload whose body is not uniformly 5 tab-separated fields — or
    any batch pyarrow cannot parse under the strict options below —
    falls back to the per-turn parser, so behavioural edge cases
    (malformed headers, ragged bodies, exotic float spellings) keep
    their r1-r5 outcomes.  Returns a list parallel to ``payloads`` of
    (PageBox, dict-of-arrays) or MalformedPayload instances.
    """
    out: list = [None] * len(payloads)
    pages: list = [None] * len(payloads)
    exact: list[int] = []       # payloads left to decode_payload_arrays
    bodies: list[list[str]] = []
    counts: list[int] = []
    idxs: list[int] = []
    for i, payload in enumerate(payloads):
        nl = payload.find("\n")
        header = payload[:nl] if nl >= 0 else payload
        parts = header.split("\t")
        if len(parts) != 5 or parts[0] != "PAGE":
            out[i] = MalformedPayload(header[:80])
            continue
        try:
            pages[i] = PageBox(float(parts[1]), float(parts[2]),
                               float(parts[3]), float(parts[4]))
        except ValueError as e:
            out[i] = MalformedPayload(str(e))
            continue
        body = payload[nl + 1:] if nl >= 0 else ""
        # fast shape check without splitting: a clean body has exactly
        # 4 tabs per line. The total-count test is necessary but not
        # sufficient (a 5-tab and a 3-tab line can balance); pyarrow's
        # strict column-count parse catches any such remainder and
        # sends the batch to the exact per-turn fallback below.
        if body and ("\n\n" not in body and body[0] != "\n"
                     and body[-1] != "\n"):
            n = body.count("\n") + 1
        else:
            lines = [ln for ln in body.split("\n") if ln]
            n = len(lines)
            body = "\n".join(lines)
        if body.count("\t") != 4 * n:
            exact.append(i)         # ragged -> exact per-turn parser
            continue
        bodies.append(body)
        counts.append(n)
        idxs.append(i)

    import pyarrow as pa
    import pyarrow.csv as pacsv

    blob = "\n".join(b for b in bodies if b)
    try:
        if blob:
            tbl = pacsv.read_csv(
                io.BytesIO(blob.encode("utf-8")),
                read_options=pacsv.ReadOptions(
                    column_names=CHAR_COLUMNS, use_threads=False),
                parse_options=pacsv.ParseOptions(
                    delimiter="\t", quote_char=False),
                convert_options=pacsv.ConvertOptions(
                    column_types={"x0": pa.float64(), "y0": pa.float64(),
                                  "x1": pa.float64(), "y1": pa.float64(),
                                  "text": pa.string()},
                    null_values=[], strings_can_be_null=False))
            if tbl.num_rows != sum(counts):
                raise ValueError("row-count drift vs line count")
            coords = [tbl.column(c).to_numpy() for c in
                      ("x0", "y0", "x1", "y1")]
            text = tbl.column("text").to_numpy(zero_copy_only=False)
            # cid repair is the identity on 1-char glyphs; one C-level
            # length scan over the whole batch decides whether any
            # per-text repair runs at all (same skip rule as the
            # per-turn parser: keyed on length only)
            import pyarrow.compute as pc
            lens = pc.utf8_length(tbl.column("text")).to_numpy()
            long_any = bool((lens > 1).any())
        else:
            coords = [np.empty(0)] * 4
            text = np.empty(0, dtype=object)
            long_any = False
        off = 0
        for j, i in enumerate(idxs):
            n = counts[j]
            sl = slice(off, off + n)
            off += n
            t = text[sl]
            if long_any and n and (lens[sl] > 1).any():
                t = np.array(
                    [_fix_cid_text(s) if len(s) > 1 else s for s in t],
                    dtype=object)
            out[i] = (pages[i], {
                "x0": coords[0][sl], "y0": coords[1][sl],
                "x1": coords[2][sl], "y1": coords[3][sl],
                "text": t if t.dtype == object else t.astype(object),
            })
    except (pa.ArrowInvalid, ValueError):
        # one bad body poisons the batch parse: redo each pending
        # payload through the exact per-turn parser
        exact += idxs
    for i in exact:
        try:
            out[i] = decode_payload_arrays(payloads[i])
        except MalformedPayload as e:
            out[i] = e
    return out


def encode_chars(page: PageBox, chars: pd.DataFrame) -> str:
    """Inverse of decode_payload_arrays."""
    buf = io.StringIO()
    buf.write(f"PAGE\t{page.x0}\t{page.y0}\t{page.x1}\t{page.y1}\n")
    chars[CHAR_COLUMNS].to_csv(
        buf, sep="\t", header=False, index=False, quoting=3)
    return buf.getvalue()


def _grid_column_slots(grid: Sequence[Sequence[str]],
                       header_rows: Sequence[int]) -> list[tuple[float, float]]:
    """Per-CSV-column x slots wide enough that columns never overlap."""
    n_cols = max(len(r) for r in grid)
    widths = []
    for c in range(n_cols):
        w = 1
        for r, row in enumerate(grid):
            if r in header_rows or c >= len(row):
                continue
            w = max(w, len(row[c]))
        widths.append(w * CHAR_W)
    slots = []
    x = MARGIN
    for w in widths:
        slots.append((x, x + w))
        x += w + COL_GAP
    return slots


def encode_grid(grid: Sequence[Sequence[str]],
                header_rows: Sequence[int] = (),
                y_start: float = MARGIN,
                page: PageBox | None = None,
                chars_out: list | None = None) -> str:
    """Lay out a logical grid as char boxes and encode as a payload.

    - Every non-empty cell (r, c) becomes chars at column slot c, row r.
    - Cells of rows listed in ``header_rows`` are header fields: they sit
      *between* column slots so the reference CSV writer's header
      placement rule (pdftable/pdftable.py:197-205,222-228) puts them
      back at CSV index c.
    """
    slots = _grid_column_slots(grid, header_rows)
    rows_chars: list[tuple[float, float, float, float, str]] = []
    for r, row in enumerate(grid):
        y0 = y_start + r * ROW_STEP
        y1 = y0 + CHAR_H
        for c, text in enumerate(row):
            if text == "":
                continue
            if r in header_rows:
                x = (slots[0][0] - 2.0) if c == 0 else (slots[c - 1][0] + 2.0)
            else:
                x = slots[c][0]
            for ch in text:
                rows_chars.append((round(x, 2), y0, round(x + CHAR_W, 2),
                                   y1, ch))
                x += CHAR_W
    df = pd.DataFrame(rows_chars, columns=CHAR_COLUMNS)
    if chars_out is not None:
        chars_out.append(df)
    if page is None:
        x1 = (df["x1"].max() + MARGIN) if len(df) else 2 * MARGIN
        y1 = (df["y1"].max() + MARGIN) if len(df) else 2 * MARGIN
        page = PageBox(0.0, 0.0, float(np.ceil(x1)), float(np.ceil(y1)))
    return encode_chars(page, df)


def encode_tables(tables: Sequence[Sequence[Sequence[str]]],
                  header_rows_per_table: Sequence[Sequence[int]]) -> str:
    """Encode several grids on one page, separated by table-splitting gaps."""
    payload_frames: list[pd.DataFrame] = []
    y = MARGIN
    for grid, hdr in zip(tables, header_rows_per_table):
        chars_out: list = []
        encode_grid(grid, hdr, y_start=y, page=PageBox(0, 0, 1, 1),
                    chars_out=chars_out)
        payload_frames.append(chars_out[0])
        y += len(grid) * ROW_STEP + TABLE_GAP
    df = pd.concat(payload_frames, ignore_index=True)
    page = PageBox(0.0, 0.0, float(np.ceil(df["x1"].max() + MARGIN)),
                   float(np.ceil(df["y1"].max() + MARGIN)))
    return encode_chars(page, df)
