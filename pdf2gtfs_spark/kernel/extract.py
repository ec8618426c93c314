"""Per-turn extraction kernel: char boxes -> typed table grids -> rows.

Pure numpy, no Spark. Reproduces the reference's (legacy)
extraction dataflow, which is already column-oriented and therefore the
natural vectorization blueprint:

- line clustering        reference: src/pdf2gtfs/reader.py:369-383
- field (word) split     reference: src/pdf2gtfs/reader.py:349-366
- table split            reference: datastructures/pdftable/pdftable.py:237-268
- header/stop splits     reference: pdftable.py:271-312
- column clustering      reference: pdftable.py:65-95
- field/row/col typing   reference: pdftable/field.py:32-105,
                         pdftable/container.py:217-302
- split stop-name repair reference: pdftable.py:97-115, field.py:107-125
- CSV serialization      reference: pdftable.py:185-234
- timetable normalize    reference: datastructures/timetable/table.py:56-127

The kernel works on parallel numpy arrays from decode to emit (one
bundle per turn, one slice per table) — per-turn pandas frame churn was
the throughput ceiling at ~55 ms/turn (ROADMAP r01 #1); DataFrames
appear only in the TableResult accessors.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Optional

import numpy as np
import pandas as pd

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel.celltypes import matcher_key
from pdf2gtfs_spark.kernel.payload import (
    MalformedPayload, PageBox, decode_payload_batch,
)
from pdf2gtfs_spark.kernel.timefmt import is_time_str, time_format_to_regex

# Field type ladder; order = detection precedence in the reference
# (pdftable/field.py:32-55). STOP is assigned later (needs col+row type).
F_HEADER = "HEADER"
F_REPEAT = "REPEAT"
F_DATA = "DATA"
F_STOP_ANNOT = "STOP_ANNOT"
F_ROW_ANNOT = "ROW_ANNOT"
F_ROUTE_INFO = "ROUTE_INFO"
F_OTHER = "OTHER"

R_HEADER = "HEADER"
R_DATA = "DATA"
R_OTHER = "OTHER"
R_ANNOTATION = "ANNOTATION"
R_ROUTE_INFO = "ROUTE_INFO"

C_STOP = "STOP"
C_STOP_ANNOTATION = "STOP_ANNOTATION"
C_DATA = "DATA"
C_REPEAT = "REPEAT"
C_OTHER = "OTHER"

_CELL_COLS = ["row_idx", "col_idx", "text", "row_type", "col_type",
              "x0", "y0", "x1", "y1"]

ENTRY_COLUMNS = [
    "table_id", "entry_id", "kind", "header_text", "route_name",
    "annotations", "days", "repeat_intervals",
    "stop_pos", "stop_row_idx", "stop_name", "stop_annot",
    "is_connection", "value",
]
STOP_COLUMNS = ["table_id", "stop_pos", "row_idx", "stop_name",
                "stop_annot", "is_connection"]


class TableResult:
    """One extracted table of a turn.

    Holds row-record lists (what the Arrow kernel ships); the DataFrame
    accessors are built lazily from them for tests and ad-hoc use.
    """

    def __init__(self, csv_text: str, row_types: list[str],
                 col_types: list[str], cells_records: list[dict],
                 entries_records: list[dict],
                 stops_records: list[dict]) -> None:
        self.csv_text = csv_text
        self.row_types = row_types
        self.col_types = col_types
        self._cells_records = cells_records
        self._entries_records = entries_records
        self._stops_records = stops_records
        self._frames: dict[str, pd.DataFrame] = {}

    def _frame(self, attr: str, cols: list[str]) -> pd.DataFrame:
        cached = self._frames.get(attr)
        if cached is None:
            cached = self._frames[attr] = pd.DataFrame(
                getattr(self, f"_{attr}_records"), columns=cols)
        return cached

    @property
    def cells(self) -> pd.DataFrame:
        return self._frame("cells", _CELL_COLS)

    @property
    def entries(self) -> pd.DataFrame:
        return self._frame("entries", ENTRY_COLUMNS)

    @property
    def stops(self) -> pd.DataFrame:
        return self._frame("stops", STOP_COLUMNS)

    def records(self, attr: str, cols: list[str],
                allow_extra: tuple = ()) -> list[dict]:
        recs = getattr(self, f"_{attr}_records")
        # fast path: the kernel builds each record list with one dict
        # comprehension, so when the first record's keys already equal
        # ``cols`` every record does and the per-record copy (~27% of
        # the full-emit kernel, measured) is pure waste.  allow_extra:
        # keys the caller's consumer drops by itself — the Arrow
        # struct conversion matches dict keys BY NAME and ignores
        # extras (pinned by tests), so the pipeline can ship stored
        # records carrying table_id untouched.  Callers treat the
        # result as read-only.
        if recs:
            keys = list(recs[0].keys())
            if keys == cols:
                return recs
            if allow_extra and \
                    [k for k in keys if k not in allow_extra] == cols:
                return recs
        return [{k: r.get(k) for k in cols} for r in recs]


@dataclass
class TurnResult:
    tables: list[TableResult] = dc_field(default_factory=list)
    n_chars: int = 0
    n_fields: int = 0
    malformed: bool = False


def _contains_regex(idents) -> Optional[str]:
    """Regex matching the reference's padded-substring ident check
    (pdftable/field.py:81-87): ' ident ' in ' text '."""
    if not idents:
        return None
    parts = [re.escape(f" {i.lower().strip()} ") for i in idents]
    return "|".join(parts)


class _Matchers:
    """Precompiled field-content predicates for a config."""

    def __init__(self, cfg: ExtractConfig) -> None:
        comp = {}
        for name, rx in [
                ("header", _contains_regex(tuple(cfg.header_values.keys()))),
                ("neg", _contains_regex(cfg.negative_header_values)),
                ("repeat", _contains_regex(tuple(
                    w for pair in cfg.repeat_identifier for w in pair))),
                ("stop_annot", _contains_regex(
                    tuple(cfg.arrival_identifier)
                    + tuple(cfg.departure_identifier))),
                ("row_annot", _contains_regex(cfg.annot_identifier)),
                ("route", _contains_regex(cfg.route_identifier))]:
            comp[name] = re.compile(rx) if rx else None
        self._c = comp
        self._ftype_memo: dict[str, str] = {}
        self.time_re, self.time_order = time_format_to_regex(cfg.time_format)
        # repeat-interval extraction regex per identifier pair
        # (pdftable/container.py:304-313)
        self.interval_res = [
            re.compile(
                rf".*{re.escape(start)}\s*"
                r"(\d{1,3}[-,]\ *\d{1,3}|\d{1,3})"
                rf"\s*{re.escape(end)}.*",
                flags=re.I | re.U)
            for start, end in cfg.repeat_identifier
        ]

    def field_types_list(self, texts) -> list[str]:
        """Field-type ladder (pdftable/field.py:32-55). Direct compiled
        re.search per string beats pandas str.contains ~10x at tens of
        strings per turn (no Series/Index churn). The ladder is a pure
        function of the text, and time strings / stop names repeat
        heavily across turns -> memoized per matcher instance (capped;
        one matcher lives per Arrow-kernel worker)."""
        c = self._c
        memo = self._ftype_memo
        out = []
        for t in texts:
            cached = memo.get(t)
            if cached is not None:
                out.append(cached)
                continue
            padded = f" {t.lower().strip()} "
            if (c["header"] and c["header"].search(padded)
                    and not (c["neg"] and c["neg"].search(padded))):
                r = F_HEADER
            elif c["repeat"] and c["repeat"].search(padded):
                r = F_REPEAT
            elif is_time_str(t, self.time_re, self.time_order):
                r = F_DATA
            elif c["stop_annot"] and c["stop_annot"].search(padded):
                r = F_STOP_ANNOT
            elif c["row_annot"] and c["row_annot"].search(padded):
                r = F_ROW_ANNOT
            elif c["route"] and c["route"].search(padded):
                r = F_ROUTE_INFO
            else:
                r = F_OTHER
            if len(memo) < 200_000:
                memo[t] = r
            out.append(r)
        return out

    def repeat_intervals(self, joined_text: str) -> list[str]:
        """All repeat intervals in a column's newline-joined text
        (pdftable/container.py:315-323)."""
        out: list[str] = []
        for rx in self.interval_res:
            out += rx.findall(joined_text)
        return out


_MATCHER_CACHE: dict[str, _Matchers] = {}


def _matchers(cfg: ExtractConfig) -> _Matchers:
    """One _Matchers (and per-text memo) per config value; see
    celltypes.matcher_key."""
    key = matcher_key(cfg)
    m = _MATCHER_CACHE.get(key)
    if m is None:
        m = _MATCHER_CACHE[key] = _Matchers(cfg)
    return m


# ---------------------------------------------------------------------------
# chars -> lines -> fields
# ---------------------------------------------------------------------------

def cleanup_char_arrays(arrs: dict, page: PageBox) -> dict:
    """Round coords + drop off-page boxes (reference: reader.py:115-125)."""
    x0 = np.round(arrs["x0"], 2)
    y0 = np.round(arrs["y0"], 2)
    x1 = np.round(arrs["x1"], 2)
    y1 = np.round(arrs["y1"], 2)
    keep = ((x0 < x1) & (y0 < y1)
            & (x0 >= page.x0) & (x1 <= page.x1)
            & (y0 >= page.y0) & (y1 <= page.y1))
    return {"x0": x0[keep], "y0": y0[keep], "x1": x1[keep],
            "y1": y1[keep], "text": arrs["text"][keep]}


def _anchor_cluster(sorted_vals: np.ndarray, threshold: float) -> np.ndarray:
    """Cluster ascending values: new cluster when val - anchor > threshold,
    where anchor is the first value of the current cluster
    (reference: reader.py:369-383). Input must be sorted ascending and
    unique; loops over clusters (lines), not members (chars)."""
    ids = np.zeros(len(sorted_vals), dtype=np.int64)
    if len(sorted_vals) == 0:
        return ids
    anchor = sorted_vals[0]
    cur = 0
    for i in range(1, len(sorted_vals)):
        if sorted_vals[i] - anchor > threshold:
            cur += 1
            anchor = sorted_vals[i]
        ids[i] = cur
    return ids


@dataclass
class _Fields:
    """One turn's word fields as parallel arrays, sorted by
    (line_id, x0)."""
    text: np.ndarray      # object
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    line_id: np.ndarray   # int64
    ftype: np.ndarray     # object (set after typing)

    def __len__(self) -> int:
        return len(self.text)

    def take(self, idx) -> "_Fields":
        return _Fields(self.text[idx], self.x0[idx], self.y0[idx],
                       self.x1[idx], self.y1[idx], self.line_id[idx],
                       self.ftype[idx] if self.ftype is not None else None)


def chars_to_field_arrays(chars: dict, cfg: ExtractConfig) -> _Fields:
    """chars -> field arrays (W1 line clustering + W2 field split).

    Line clustering (reader.py:369-383): chars sorted by (y0, x0); a new
    line starts when y0 is further than round(mean(char height))/2 from
    the line's first y0. Because the scan is y0-sorted, clustering the
    *unique* y0 values is equivalent and loops over lines, not chars.

    Field split (reader.py:349-366, bbox.py:82-91): within a line sorted
    by x0, a new field starts when x0 exceeds the running max x1 of the
    current field by more than max_char_distance. The running max over
    the whole line prefix equals the within-field running max at every
    comparison point, so a per-line cummax works.
    """
    if len(chars["x0"]) == 0:
        return _Fields(*[np.array([], dtype=object)]
                       + [np.array([], dtype=float)] * 4
                       + [np.array([], dtype=np.int64), None])
    cx0 = np.asarray(chars["x0"], dtype=float)
    cy0 = np.asarray(chars["y0"], dtype=float)
    cx1 = np.asarray(chars["x1"], dtype=float)
    cy1 = np.asarray(chars["y1"], dtype=float)
    ctext = np.asarray(chars["text"], dtype=object)
    line_threshold = round(float((cy1 - cy0).mean())) / 2

    order = np.lexsort((cx0, cy0))            # stable (y0, x0)
    cx0, cy0, cx1, cy1, ctext = (a[order] for a in
                                 (cx0, cy0, cx1, cy1, ctext))
    uniq_y0 = np.unique(cy0)                  # ascending
    line_of_y0 = _anchor_cluster(uniq_y0, line_threshold)
    line_id = line_of_y0[np.searchsorted(uniq_y0, cy0)]

    order = np.lexsort((cx0, line_id))        # stable (line, x0)
    cx0, cy0, cx1, cy1, ctext, line_id = (
        a[order] for a in (cx0, cy0, cx1, cy1, ctext, line_id))

    n = len(cx0)
    new_line = np.empty(n, dtype=bool)
    new_line[0] = True
    new_line[1:] = line_id[1:] != line_id[:-1]
    # per-line running max of x1 (segments are contiguous)
    runmax = np.maximum.accumulate(cx1)
    line_starts = np.flatnonzero(new_line)
    for s, e in zip(line_starts, np.append(line_starts[1:], n)):
        runmax[s:e] = np.maximum.accumulate(cx1[s:e])
    is_new = new_line.copy()
    is_new[1:] |= (cx0[1:] - runmax[:-1]) > cfg.max_char_distance
    is_new[line_starts] = True

    starts = np.flatnonzero(is_new)
    ends = np.append(starts[1:], n)
    # one join over the whole page, then C-level slices per field: the
    # per-field "".join over object-array slices was ~10% of the kernel
    # (guide §1.2 "per-task work"). In the common all-1-glyph case the
    # char index IS the string offset; otherwise build offsets once.
    joined = "".join(ctext)
    if len(joined) == n:
        texts = np.array([joined[s:e].strip()
                          for s, e in zip(starts, ends)], dtype=object)
    else:
        offs = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(np.fromiter(map(len, ctext), count=n, dtype=np.int64),
                  out=offs[1:])
        texts = np.array([joined[offs[s]:offs[e]].strip()
                          for s, e in zip(starts, ends)], dtype=object)
    f = _Fields(
        text=texts,
        x0=np.minimum.reduceat(cx0, starts),
        y0=np.minimum.reduceat(cy0, starts),
        x1=np.maximum.reduceat(cx1, starts),
        y1=np.maximum.reduceat(cy1, starts),
        line_id=line_id[starts],
        ftype=None,
    )
    # reference drops fields whose text is empty (reader.py:213)
    keep = texts != ""
    return f.take(keep) if not keep.all() else f


# ---------------------------------------------------------------------------
# lines -> tables
# ---------------------------------------------------------------------------

def _line_bboxes(f: _Fields) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-line (line_id, y0, y1) in line order (Row.from_fields +
    bbox union); fields are line-sorted so reduceat segments apply."""
    n = len(f)
    new_line = np.empty(n, dtype=bool)
    new_line[0] = True
    new_line[1:] = f.line_id[1:] != f.line_id[:-1]
    starts = np.flatnonzero(new_line)
    return (f.line_id[starts],
            np.minimum.reduceat(f.y0, starts),
            np.maximum.reduceat(f.y1, starts))


def _split_lines_into_tables(line_ids: np.ndarray, y0: np.ndarray,
                             y1: np.ndarray,
                             cfg: ExtractConfig) -> list[np.ndarray]:
    """Segment rows into tables on bbox y-distance, dropping short runs
    (reference: pdftable/pdftable.py:237-268). Returns per-table arrays
    of line_ids."""
    if len(line_ids) == 0:
        return []
    # bbox.y_distance (bbox.py:75-80): min of the 4 corner diffs
    d = np.minimum.reduce([
        np.abs(y0[1:] - y0[:-1]), np.abs(y0[1:] - y1[:-1]),
        np.abs(y1[1:] - y0[:-1]), np.abs(y1[1:] - y1[:-1])])
    breaks = np.concatenate(([0], (d > cfg.max_row_distance).astype(np.int64)))
    seg = np.cumsum(breaks)
    tables = []
    for s in np.unique(seg):
        members = line_ids[seg == s]
        if len(members) >= cfg.min_row_count:
            tables.append(members)
    return tables


# ---------------------------------------------------------------------------
# per-table analysis (computed once per table)
# ---------------------------------------------------------------------------

def _row_types(tf: _Fields, line_order: list[int]) -> list[str]:
    """Row type ladder (pdftable/container.py:221-230) via per-type
    line_id membership sets."""
    # one pass over the fields instead of four object-array equality
    # scans (ftype is dtype=object; each `== t` compares every string)
    sets = {t: set() for t in
            (F_HEADER, F_ROW_ANNOT, F_ROUTE_INFO, F_DATA)}
    for lid, ft in zip(tf.line_id.tolist(), tf.ftype):
        s_ = sets.get(ft)
        if s_ is not None:
            s_.add(lid)
    out = []
    for line in line_order:
        if line in sets[F_HEADER]:
            out.append(R_HEADER)
        elif line in sets[F_ROW_ANNOT]:
            out.append(R_ANNOTATION)
        elif line in sets[F_ROUTE_INFO]:
            out.append(R_ROUTE_INFO)
        elif line in sets[F_DATA]:
            out.append(R_DATA)
        else:
            out.append(R_OTHER)
    return out


def _split_multi_header_tables(
        tables: list[list[int]], f: _Fields) -> list[list[int]]:
    """Merge headerless tables into the previous one; split tables with
    several header rows at those rows (pdftable/pdftable.py:283-299).
    The first table is always kept as-is (reference behavior)."""
    if not tables:
        return []
    header_lines_all = set(f.line_id[f.ftype == F_HEADER])
    out: list[list[int]] = [list(tables[0])]
    for tbl in tables[1:]:
        header_lines = [lid for lid in tbl if lid in header_lines_all]
        if len(header_lines) > 1:
            # split such that each part starts at a header row
            # (pdftable/pdftable.py:165-183)
            groups: list[list[int]] = [[] for _ in header_lines]
            first_is_splitter = tbl[0] == header_lines[0]
            idx = -1 if first_is_splitter else 0
            hset = set(header_lines)
            for lid in tbl:
                if lid in hset:
                    idx = min(idx + 1, len(groups) - 1)
                groups[idx].append(lid)
            out += [g for g in groups if g]
            continue
        if header_lines:
            out.append(list(tbl))
            continue
        out[-1].extend(tbl)
    return out


@dataclass
class _Cells:
    """Merged (col, row) cells of one table, sorted by (col_id, y0)."""
    col_id: np.ndarray
    line_id: np.ndarray
    x0: np.ndarray
    y0: np.ndarray
    x1: np.ndarray
    y1: np.ndarray
    text: np.ndarray
    ftype: np.ndarray

    def __len__(self) -> int:
        return len(self.col_id)


def _cluster_columns(body: _Fields, m: _Matchers) -> _Cells:
    """Assign col_id by x-overlap clustering over x0-sorted fields
    (pdftable/pdftable.py:65-95): a field joins the current column iff
    its x0 is strictly less than the running max x1; same-(col,row)
    fields merge into one cell (container.py:336-353)."""
    order = np.lexsort((body.y0, body.x0))       # stable (x0, y0)
    x0 = body.x0[order]
    x1 = body.x1[order]
    runmax = np.maximum.accumulate(x1)
    new_col = np.empty(len(x0), dtype=bool)
    new_col[0] = True
    new_col[1:] = runmax[:-1] <= x0[1:]
    col_id = np.cumsum(new_col) - 1

    cells = _Cells(col_id, body.line_id[order], x0, body.y0[order],
                   x1, body.y1[order], body.text[order],
                   body.ftype[order])

    # merge fields sharing (col, row): texts joined with " " when there
    # is an x-gap (container.py:339-348); bboxes unioned. Rare; only
    # affected groups take the slow path and get their ftype recomputed.
    key = cells.col_id * (cells.line_id.max() + 1) + cells.line_id
    uniq, first_idx, counts = np.unique(key, return_index=True,
                                        return_counts=True)
    if (counts > 1).any():
        keep_mask = np.ones(len(cells), dtype=bool)
        arrs = cells
        for k in uniq[counts > 1]:
            idxs = np.flatnonzero(key == k)
            idxs = idxs[np.argsort(arrs.x0[idxs], kind="stable")]
            keep = idxs[0]
            text = arrs.text[keep]
            cx1 = arrs.x1[keep]
            for j in idxs[1:]:
                sep = " " if (arrs.x0[j] - cx1) != 0 else ""
                text = text + sep + arrs.text[j]
                cx1 = max(cx1, arrs.x1[j])
                keep_mask[j] = False
            arrs.text[keep] = text
            arrs.x0[keep] = arrs.x0[idxs].min()
            arrs.y0[keep] = arrs.y0[idxs].min()
            arrs.x1[keep] = arrs.x1[idxs].max()
            arrs.y1[keep] = arrs.y1[idxs].max()
            arrs.ftype[keep] = m.field_types_list([text])[0]
        cells = _Cells(*[getattr(arrs, n)[keep_mask] for n in (
            "col_id", "line_id", "x0", "y0", "x1", "y1", "text", "ftype")])

    order = np.lexsort((cells.y0, cells.col_id))  # stable (col, y0)
    return _Cells(*[getattr(cells, n)[order] for n in (
        "col_id", "line_id", "x0", "y0", "x1", "y1", "text", "ftype")])


def _id_mask(ids: np.ndarray, wanted) -> np.ndarray:
    """Membership mask for small non-negative int ids via a lookup
    table; np.isin sorts both sides on every call, which at tens of
    calls per turn was measurable (guide §1.2). Line ids are dense
    0..n_lines-1 by construction (_anchor_cluster)."""
    if len(ids) == 0:
        return np.zeros(0, dtype=bool)
    lut = np.zeros(int(ids.max()) + 1, dtype=bool)
    for w in wanted:
        if 0 <= w < len(lut):
            lut[w] = True
    return lut[ids]


def _col_segments(cells: _Cells) -> tuple[np.ndarray, np.ndarray]:
    """(col_ids, segment starts) — cells are (col, y0)-sorted."""
    n = len(cells)
    new = np.empty(n, dtype=bool)
    new[0] = True
    new[1:] = cells.col_id[1:] != cells.col_id[:-1]
    starts = np.flatnonzero(new)
    return cells.col_id[starts], starts


def _column_types(cells: _Cells, col_order: list[int],
                  m: _Matchers) -> tuple[dict[int, str], set[int]]:
    """Left-to-right lazy column typing (pdftable/container.py:273-302),
    including the retroactive previous-OTHER -> STOP upgrade.

    Also returns the set of retroactively-UPGRADED columns: the
    reference evaluates types lazily during the split decision's
    of_type scan (lists.py:73-80), so an upgrade fired while
    evaluating column j lands on j-1 AFTER the scan already visited
    j-1 — upgraded columns are invisible to the multi-stop-column
    split decision but cached as STOP for every later consumer
    (sweep v4 seed 50315: side-by-side blocks stay ONE table)."""
    col_ids, starts = _col_segments(cells)
    ends = np.append(starts[1:], len(cells))
    n = len(cells)
    lens = np.fromiter(map(len, cells.text), count=n, dtype=np.float64)
    is_empty = (cells.text == "").astype(np.float64)
    is_annot = (cells.ftype == F_STOP_ANNOT).astype(np.uint8)
    is_data = (cells.ftype == F_DATA).astype(np.uint8)

    # per-column aggregates in four reduceat passes instead of per-col
    # numpy calls (each np.mean/sum/any on a tiny slice costs ~10us of
    # dispatch; lens are exact small ints so sum/count == np.mean bit
    # for bit)
    counts = (ends - starts).astype(np.float64)
    mean_lens = np.add.reduceat(lens, starts) / counts
    n_emptys = np.add.reduceat(is_empty, starts)
    has_annots = np.maximum.reduceat(is_annot, starts)
    has_datas = np.maximum.reduceat(is_data, starts)

    stats = {}
    for k, (cid, s, e) in enumerate(zip(col_ids, starts, ends)):
        stats[cid] = (
            float(mean_lens[k]),                # mean_len
            int(e - s),                         # n_fields
            int(n_emptys[k]),                   # n_empty
            bool(has_annots[k]),
            bool(has_datas[k]),
            "\n".join(cells.text[s:e]),
        )
    types: dict[int, str] = {}
    upgraded: set[int] = set()
    for i, cid in enumerate(col_order):
        mean_len, n_fields, n_empty, has_annot, has_data, joined = stats[cid]
        is_sparse = (n_fields / max(1, n_empty)) <= 0.5
        if not is_sparse and mean_len > 8:
            types[cid] = C_STOP
            continue
        if m.repeat_intervals(joined):
            types[cid] = C_REPEAT
            continue
        if has_annot:
            if i > 0 and types.get(col_order[i - 1]) == C_OTHER:
                types[col_order[i - 1]] = C_STOP
                upgraded.add(col_order[i - 1])
            types[cid] = C_STOP_ANNOTATION
            continue
        if has_data:
            types[cid] = C_DATA
            continue
        types[cid] = C_OTHER
    return types, upgraded


@dataclass
class _TableAnalysis:
    line_order: list[int]
    rtypes: list[str]
    row_type_of_line: dict[int, str]
    line_to_row: dict[int, int]
    tfields: _Fields
    cells: _Cells
    col_order: list[int]
    col_types: dict[int, str]
    # columns retroactively upgraded OTHER -> STOP; excluded from the
    # multi-stop split DECISION (see _column_types docstring)
    upgraded_stop_cols: set[int] = dc_field(default_factory=set)


def _analyze_table(tf: _Fields, line_order: list[int],
                   m: _Matchers) -> Optional[_TableAnalysis]:
    rtypes = _row_types(tf, line_order)
    row_type_of_line = dict(zip(line_order, rtypes))
    body_lines = {lid for lid, t in zip(line_order, rtypes)
                  if t in (R_DATA, R_ANNOTATION, R_ROUTE_INFO)}
    body_mask = _id_mask(tf.line_id, body_lines)
    if not body_mask.any():
        return None
    cells = _cluster_columns(tf.take(body_mask), m)
    col_order = sorted(set(cells.col_id.tolist()))
    col_types, upgraded = _column_types(cells, col_order, m)
    return _TableAnalysis(
        line_order=list(line_order), rtypes=rtypes,
        row_type_of_line=row_type_of_line,
        line_to_row={lid: i for i, lid in enumerate(line_order)},
        tfields=tf, cells=cells, col_order=col_order,
        col_types=col_types, upgraded_stop_cols=upgraded)


# ---------------------------------------------------------------------------
# split stop-name repair
# ---------------------------------------------------------------------------

def get_stop_base_name(stop_name: str) -> str:
    """Most likely base name of a stop (reference: utils.py:159-173)."""
    merge_chars = {",": ", ", "-": " - ", " ": " "}
    for split_char in [",", "-", " "]:
        split_text = stop_name.split(split_char, 1)
        if len(split_text) <= 1:
            continue
        return split_text[0].strip() + merge_chars[split_char]
    return stop_name.strip()


def text_starts_with_delimiter(text: str) -> bool:
    """reference: utils.py:176-181."""
    return text.startswith("-") or text.startswith(",")


def bbox_is_indented(ref_x0: float, x0: float) -> bool:
    """reference: utils.py:184-188 (min indentation 3pt)."""
    return (x0 - ref_x0) >= 3


def fix_split_stop_names(texts: list[str], x0s: list[float],
                         lines: list[int],
                         row_type_of_line: dict[int, str]) -> list[str]:
    """Repair split stop names in the stop column's cells (y order).

    reference: pdftable/pdftable.py:97-115 + field.py:107-125. The loop
    runs over the stop column's rows (tens), not data cells.
    """
    first_idx = None
    for i, lid in enumerate(lines):
        if row_type_of_line.get(lid) == R_DATA:
            first_idx = i
            break
    if first_idx is None:
        return list(texts)
    ref_i = first_idx
    out = list(texts)
    for i in range(first_idx, len(out)):
        starts_delim = text_starts_with_delimiter(out[i])
        indented = bbox_is_indented(x0s[ref_i], x0s[i])
        if not starts_delim and not indented:
            ref_i = i
            continue
        if out[ref_i].endswith(out[i]):
            out[i] = out[ref_i]
            continue
        text = out[i][1:].strip() if starts_delim else out[i]
        out[i] = get_stop_base_name(out[ref_i]) + text
    return out


# ---------------------------------------------------------------------------
# CSV serialization (the golden-fixture equality surface)
# ---------------------------------------------------------------------------

def table_to_csv(a: _TableAnalysis, placeable: _Fields) -> str:
    """Serialize a table grid exactly like the reference CSV writer
    (pdftable/pdftable.py:185-234): cells per (row, col), header-typed
    fields placed at the first column whose x0 exceeds theirs, rows
    that are entirely empty dropped, trailing newline kept."""
    n_rows, n_cols = len(a.line_order), len(a.col_order)
    col_pos = {cid: i for i, cid in enumerate(a.col_order)}
    grid = np.full((n_rows, n_cols), "", dtype=object)

    cells = a.cells
    line_to_row = a.line_to_row
    for lid, cid, txt in zip(cells.line_id.tolist(),
                             cells.col_id.tolist(), cells.text):
        t = txt.replace('"', "").strip()
        if "," in t:
            t = f'"{t}"'
        grid[line_to_row[lid], col_pos[cid]] = t

    if len(placeable):
        # first col whose x0 > field.x0; else last (pdftable.py:197-205)
        col_ids, starts = _col_segments(cells)
        ends = np.append(starts[1:], len(cells))
        col_min_x0 = {cid: float(cells.x0[s:e].min())
                      for cid, s, e in zip(col_ids, starts, ends)}
        xs = np.array([col_min_x0[c] for c in a.col_order])
        idxs = np.minimum(np.searchsorted(xs, placeable.x0, side="right"),
                          n_cols - 1)
        for lid, c, txt in zip(placeable.line_id, idxs, placeable.text):
            grid[a.line_to_row[lid], c] = txt
    nonempty = (grid != "").any(axis=1)
    lines = [",".join(row) for row, ne in zip(grid, nonempty) if ne]
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# timetable normalization
# ---------------------------------------------------------------------------

def interval_str_to_int_list(value_str: str) -> list[int]:
    """reference: timetable/entries.py:86-120."""
    for char in (",", "-"):
        try:
            vals = list(map(int, value_str.split(char)))
        except ValueError:
            continue
        if len(vals) > 1:
            if char == "-" and len(vals) == 2:
                return list(range(vals[0], vals[1] + 1))
            return vals
    try:
        return [int(value_str)]
    except ValueError:
        return []


def repeat_intervals_to_list(intervals: list[str]) -> Optional[list[int]]:
    """Dedup + parse; multiple distinct intervals -> skip column
    (reference: timetable/entries.py:76-84)."""
    uniq = list(set(intervals))
    if len(uniq) != 1:
        return None
    return interval_str_to_int_list(uniq[0])


def detect_connections(stop_names: list[str],
                       cfg: ExtractConfig) -> list[bool]:
    """Mark interior stops of name-cycles as connections
    (reference: timetable/table.py:26-54)."""
    n = len(stop_names)
    is_conn = [False] * n
    if cfg.min_connection_count <= 0:
        return is_conn
    cycles: dict[str, list[int]] = {}
    for i, name in enumerate(stop_names):
        cycles.setdefault(name, []).append(i)
    for cycle in cycles.values():
        if len(cycle) == 1:
            continue
        start_idx, end_idx = cycle[0] + 1, cycle[-1]
        indices = range(start_idx, end_idx)
        round_trip = cycle[0] == 0 and end_idx == n - 1
        if round_trip or len(indices) < cfg.min_connection_count:
            continue
        for j in indices:
            is_conn[j] = True
    return is_conn


def put_stop_value(slots: list, names, annots, stop: Optional[int],
                   row: int, value: str) -> None:
    """``entry.values[stop] = value`` on the reference's Stop-keyed dict
    (entries.py:26-55, stops.py:16-21), simulated as a list of
    ``[key, stop, row, value]`` slots in insertion order.

    A Stop hashes its (name, annotation) AT INSERT TIME, but a later
    StopAnnot cell can mutate the annotation without rehashing, so the
    dict probe is mirrored literally: a slot matches when its STORED
    key equals the new key and its stop compares equal — the same stop,
    or an equal (name, annotation) PAIR in the current state (the
    reference ``__eq__`` compares the fields separately, so 'a b'/'c'
    and 'a'/'b c' stay distinct).  A match overwrites the slot's value
    and keeps its first row id; otherwise a slot is appended.  All
    stop-less values (``stop=None``) share the single None slot.

    ``names``/``annots`` give each stop position's CURRENT name and
    annotation."""
    key = None if stop is None else f"{names[stop]} {annots[stop]}"
    for slot in slots:
        other = slot[1]
        if slot[0] == key and (
                other == stop
                or (other is not None and stop is not None
                    and names[other] == names[stop]
                    and annots[other] == annots[stop])):
            slot[3] = value
            return
    slots.append([key, stop, row, value])


def _header_texts_for_columns(header: _Fields,
                              line_to_row: dict[int, int],
                              col_x1s: np.ndarray) -> list[str]:
    """get_header_from_column (pdftable/pdftable.py:121-129).

    Only the first header row matters (the reference's inner loop
    always returns at the row's last field); within it, the answer is
    the first field whose successor starts at/after the column's right
    edge — a searchsorted over the successors' x0.
    """
    if len(header) == 0:
        return [""] * len(col_x1s)
    first_lid = min(set(header.line_id.tolist()),
                    key=lambda lid: line_to_row[lid])
    mask = header.line_id == first_lid
    order = np.argsort(header.x0[mask], kind="stable")
    hx = header.x0[mask][order]
    texts = header.text[mask][order]
    # smallest i with hx[i+1] >= col_x1, else last field
    idx = np.minimum(np.searchsorted(hx[1:], col_x1s, side="left"),
                     len(texts) - 1)
    return [str(texts[i]) for i in idx]


def _normalize_timetable(table_id: int, a: _TableAnalysis,
                         header: _Fields,
                         cfg: ExtractConfig, m: _Matchers,
                         fixed_stop_text: dict[int, str]
                         ) -> tuple[list[dict], list[dict]]:
    """PDFTable -> normalized timetable records
    (reference: timetable/table.py:56-127). Loops run per column
    (metadata) or per cell over numpy arrays — no frame ops."""
    cells = a.cells
    n = len(cells)
    # python-list views for the per-cell loops below (numpy scalar
    # indexing and np.int64 dict keys cost ~5x their list/int
    # equivalents; this function walks every cell)
    lids_l = cells.line_id.tolist()
    cids_l = cells.col_id.tolist()
    texts_l = cells.text.tolist()
    rt = np.array([a.row_type_of_line[l] for l in lids_l],
                  dtype=object)
    row_l = [a.line_to_row[l] for l in lids_l]
    row_idx = np.array(row_l)
    ctype = np.array([a.col_types[c] for c in cids_l], dtype=object)

    # stops: DATA-row cells of STOP columns, already in (col, y0) order
    stop_mask = (ctype == C_STOP) & (rt == R_DATA)
    stop_idx = np.flatnonzero(stop_mask)
    first_stop_col = cells.col_id[stop_idx[0]] if len(stop_idx) else None
    stop_names = []
    for i in stop_idx:
        name = cells.text[i].strip()
        if (fixed_stop_text and cells.col_id[i] == first_stop_col
                and cells.line_id[i] in fixed_stop_text):
            name = fixed_stop_text[cells.line_id[i]].strip()
        stop_names.append(name)
    stop_rows = [int(row_idx[i]) for i in stop_idx]

    # reference (timetable/table.py:63,108-127 + stops.py:53-57): columns
    # are processed in document order and stops only EXIST once their
    # STOP column has been reached, so a DATA column left of the stop
    # column looks up stops in a still-empty list -> every value keys to
    # None (and collapses, last-write-wins).  get_from_id returns the
    # FIRST stop with the row id.  Mirror: per entry column, only stops
    # whose column precedes it are visible (sweep v4 seed 50039).
    col_pos = {cid: k for k, cid in enumerate(a.col_order)}
    stop_col_pos = [col_pos[int(cells.col_id[i])] for i in stop_idx]

    def _rows_visible_from(pos: int) -> dict[int, int]:
        vis: dict[int, int] = {}
        for p, r in enumerate(stop_rows):
            if stop_col_pos[p] < pos and r not in vis:
                vis[r] = p
        return vis

    # stop annotations (STOP_ANNOTATION cols; route/annot rows skipped),
    # assigned in column order onto the FIRST stop already added for the
    # row (add_annotation -> get_from_id, stops.py:59-64); a stop from a
    # LATER column never receives the annotation even when it shares the
    # row (sweep v4 seeds 50315/50488)
    stop_annots = [""] * len(stop_names)
    annot_mask = ((ctype == C_STOP_ANNOTATION)
                  & (rt != R_ROUTE_INFO) & (rt != R_ANNOTATION))
    for i in np.flatnonzero(annot_mask):
        vis = _rows_visible_from(col_pos[int(cells.col_id[i])])
        p = vis.get(int(row_idx[i]))
        if p is not None:
            stop_annots[p] = cells.text[i]

    is_conn = detect_connections(stop_names, cfg)
    stops_records = [{
        "table_id": table_id, "stop_pos": p, "row_idx": r,
        "stop_name": nm, "stop_annot": stop_annots[p],
        "is_connection": ic,
    } for p, (r, nm, ic) in enumerate(zip(stop_rows, stop_names, is_conn))]

    # entries: one per DATA/REPEAT column with at least one DATA value
    entry_cols = [cid for cid in a.col_order
                  if a.col_types[cid] in (C_DATA, C_REPEAT)]
    if not entry_cols:
        return [], stops_records

    col_ids, starts = _col_segments(cells)
    ends = np.append(starts[1:], n)
    seg_of = {cid: (s, e) for cid, s, e in zip(col_ids, starts, ends)}

    col_x1s = np.array([float(cells.x1[slice(*seg_of[c])].max())
                        for c in entry_cols])
    header_texts = _header_texts_for_columns(header, a.line_to_row,
                                             col_x1s)

    # per-column metadata (loops over columns, not cells)
    value_mask = (rt == R_DATA) & ((ctype == C_DATA) | (ctype == C_REPEAT))
    route_mask = rt == R_ROUTE_INFO
    ann_rows_mask = rt == R_ANNOTATION

    meta = {}
    entry_id = -1
    for cid, header_text in zip(entry_cols, header_texts):
        s, e = seg_of[cid]
        seg_values = np.flatnonzero(value_mask[s:e])
        if len(seg_values) == 0:
            continue
        entry_id += 1
        kind = ("repeat" if a.col_types[cid] == C_REPEAT else "time")
        repeat = None
        if kind == "repeat":
            joined = "\n".join(cells.text[s:e])
            repeat = repeat_intervals_to_list(m.repeat_intervals(joined))
        ann_i = np.flatnonzero(ann_rows_mask[s:e])
        annots = sorted({w for i in ann_i
                         for w in cells.text[s + i].split(" ") if w})
        route_i = np.flatnonzero(route_mask[s:e])
        route_name = cells.text[s + route_i[0]] if len(route_i) else ""
        days = cfg.header_values.get(header_text.lower().strip(), "")
        meta[cid] = {
            "entry_id": entry_id, "kind": kind,
            "header_text": header_text, "route_name": str(route_name),
            "annotations": annots,
            "days": [d for d in days.split(",") if d] if days else [],
            "repeat_intervals": repeat,
        }
    if not meta:
        return [], stops_records

    # entry.values is the reference's Stop-keyed dict (put_stop_value):
    # walk the cells in column order (the reference's process_raw_column
    # order, timetable/table.py:108-127) and evolve each stop's
    # annotation as STOP_ANNOTATION cells are reached, so a later
    # annotation leaves earlier-inserted keys stale (sweep v4 seeds
    # 65052/64691).
    per_entry: dict[int, tuple[dict, list]] = {}
    visible_cache: dict[int, dict[int, int]] = {}

    def _visible(cid: int) -> dict[int, int]:
        vis = visible_cache.get(cid)
        if vis is None:
            vis = visible_cache[cid] = _rows_visible_from(col_pos[cid])
        return vis

    walk_annot = [""] * len(stop_names)
    am_l = annot_mask.tolist()
    vm_l = value_mask.tolist()
    for i in range(n):                  # cells are in (col, y0) order
        cid = cids_l[i]
        r = row_l[i]
        if am_l[i]:
            p = _visible(cid).get(r)
            if p is not None:
                walk_annot[p] = texts_l[i]
            continue
        if not vm_l[i]:
            continue
        mrow = meta.get(cid)
        if mrow is None:
            continue
        _, slots = per_entry.setdefault(mrow["entry_id"], (mrow, []))
        put_stop_value(slots, stop_names, walk_annot, _visible(cid).get(r),
                       r, texts_l[i])
    entries_records = []
    for e_id in sorted(per_entry):
        mrow, slots = per_entry[e_id]
        for _, p, r, text in slots:
            entries_records.append({
                "table_id": table_id, **mrow,
                "stop_pos": p, "stop_row_idx": r,
                "stop_name": stop_names[p] if p is not None else None,
                "stop_annot": (stops_records[p]["stop_annot"]
                               if p is not None else None),
                "is_connection": (is_conn[p] if p is not None else False),
                "value": text,
            })
    return entries_records, stops_records


# ---------------------------------------------------------------------------
# the per-table pipeline
# ---------------------------------------------------------------------------

def _process_table(table_id: int, a: _TableAnalysis,
                   cfg: ExtractConfig, m: _Matchers,
                   light: bool = False) -> Optional[TableResult]:
    # Split stop-name repair (pdftable.py:97-115, field.py:107-125).
    # The reference mutates the stop fields in place BEFORE the CSV
    # export (reader.py:400-409 fix_split_stopnames precedes
    # tables_to_csv), so the repaired names appear in the CSV, the cell
    # records and the timetable alike.  The committed fixture artifact
    # kvv_s1/01_00.csv carries *raw* texts ("- Hauptbahnhof ..."), but
    # driving the actual reference legacy engine on the same chars
    # (tests/test_ref_differential.py legacy surface) proves the
    # current code repairs them pre-CSV; the artifact predates that.
    fixed_stop_text: dict[int, str] = {}
    stop_cols = [c for c in a.col_order if a.col_types[c] == C_STOP]
    cells = a.cells
    if stop_cols:
        sel = np.flatnonzero(cells.col_id == stop_cols[0])  # y0-sorted
        fixed = fix_split_stop_names(
            [cells.text[i] for i in sel], [cells.x0[i] for i in sel],
            [cells.line_id[i] for i in sel], a.row_type_of_line)
        fixed_stop_text = dict(zip((cells.line_id[i] for i in sel), fixed))
        for i, new_text in zip(sel, fixed):
            cells.text[i] = new_text

    row_types_arr = np.array(
        [a.row_type_of_line[l] for l in a.tfields.line_id], dtype=object)
    # all fields of HEADER rows: used for per-column header text
    # (pdftable/pdftable.py:121-129)
    header = a.tfields.take(row_types_arr == R_HEADER)
    # HEADER-*typed* fields outside any column: placed into the CSV
    # (pdftable/pdftable.py:222-228)
    placeable = a.tfields.take(
        (a.tfields.ftype == F_HEADER)
        & ((row_types_arr == R_HEADER) | (row_types_arr == R_OTHER)))
    csv_text = table_to_csv(a, placeable)
    if light:
        if len(cells) == 0:
            return None
        return TableResult(
            csv_text=csv_text, row_types=a.rtypes,
            col_types=[a.col_types[c] for c in a.col_order],
            cells_records=[], entries_records=[], stops_records=[])

    entries_records, stops_records = _normalize_timetable(
        table_id, a, header, cfg, m, fixed_stop_text)

    col_pos = {cid: i for i, cid in enumerate(a.col_order)}
    cells_records = [{
        "row_idx": a.line_to_row[cells.line_id[i]],
        "col_idx": col_pos[cells.col_id[i]],
        "text": cells.text[i],
        "row_type": a.row_type_of_line[cells.line_id[i]],
        "col_type": a.col_types[cells.col_id[i]],
        "x0": float(cells.x0[i]), "y0": float(cells.y0[i]),
        "x1": float(cells.x1[i]), "y1": float(cells.y1[i]),
    } for i in range(len(cells))]
    if not cells_records:
        return None
    return TableResult(
        csv_text=csv_text,
        row_types=a.rtypes,
        col_types=[a.col_types[c] for c in a.col_order],
        cells_records=cells_records,
        entries_records=entries_records,
        stops_records=stops_records,
    )


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def extract_turn(payload: str,
                 cfg: ExtractConfig = DEFAULT_CONFIG,
                 light: bool = False,
                 decoded=None) -> TurnResult:
    """Run the full extraction on one turn payload.

    Dispatches on ``cfg.extraction_path``: "legacy" runs the window
    pipeline below (the golden-fixture path); "new" runs the
    reference's default engine (probabilistic cell typing + table
    expansion, kernel/newpath.py).

    ``light=True`` skips materializing the per-cell/entry/stop record
    lists (the CSV text — the per-turn equality surface — is still
    produced); used when the caller only ships the text surface.

    ``decoded``: optional pre-decoded payload from
    ``decode_payload_batch`` — either a (PageBox, arrays) pair or a
    MalformedPayload instance; when given, ``payload`` is not re-read.
    """
    if decoded is None:
        decoded = decode_payload_batch([payload])[0]
    if isinstance(decoded, MalformedPayload):
        return TurnResult(malformed=True)
    page, chars = decoded
    chars = cleanup_char_arrays(chars, page)
    result = TurnResult(n_chars=len(chars["x0"]))
    if len(chars["x0"]) == 0:
        return result
    fields = chars_to_field_arrays(chars, cfg)
    result.n_fields = len(fields)
    if len(fields) == 0:
        return result
    if cfg.extraction_path == "new":
        from pdf2gtfs_spark.kernel.newpath import tables_from_fields

        for table_id, tt in enumerate(
                tables_from_fields(fields, cfg)):
            result.tables.append(tt.to_result(table_id, cfg,
                                              light=light))
        return result
    m = _matchers(cfg)
    fields.ftype = np.array(m.field_types_list(fields.text.tolist()),
                            dtype=object)

    line_ids, ly0, ly1 = _line_bboxes(fields)
    raw_tables = [list(t) for t in
                  _split_lines_into_tables(line_ids, ly0, ly1, cfg)]
    tables = _split_multi_header_tables(raw_tables, fields)

    table_id = 0
    for line_order in tables:
        tf = fields.take(_id_mask(fields.line_id, set(line_order)))
        if len(tf) == 0:
            continue
        analysis = _analyze_table(tf, line_order, m)
        if analysis is None:
            continue
        for sub in _split_multi_stop_columns(analysis, m):
            res = _process_table(table_id, sub, cfg, m, light=light)
            if res is None:
                continue
            result.tables.append(res)
            table_id += 1
    return result


def _merge_mutated_fields(a: _TableAnalysis, m: _Matchers) -> _Fields:
    """Reference quirk (container.py:336-353 via pdftable.py:74-94):
    when overlapping single-field columns merge, same-row fields merge
    IN PLACE on the Field objects — the left field's text grows
    ('ab' + ' ' + '6.16') and the absorbed field STAYS in its row with
    a ' '-prefixed text.  split_at_stop_columns then re-types the
    split rows against these mutated texts (pdftable.py:138-148), so
    a space-prefixed time no longer strptime-matches and such a row
    decays to OTHER, falling out of both the columns and the CSV.
    Found by the round-4 350-seed legacy sweep (seed 20546).  Returns
    a mutated COPY of the parent's fields for the split path only —
    unsplit tables keep their pre-merge row types, like the reference,
    whose update_type only reruns inside _split_at."""
    tf = a.tfields
    body_lines = {lid for lid, t in zip(a.line_order, a.rtypes)
                  if t in (R_DATA, R_ANNOTATION, R_ROUTE_INFO)}
    body_idx = np.flatnonzero(_id_mask(tf.line_id, body_lines))
    if len(body_idx) == 0:
        return tf
    text = tf.text.copy()
    x1 = tf.x1.copy()
    y0 = tf.y0.copy()
    y1 = tf.y1.copy()
    ftype = tf.ftype.copy()
    order = body_idx[np.lexsort((tf.y0[body_idx], tf.x0[body_idx]))]
    bx0 = tf.x0[order]
    runmax = np.maximum.accumulate(tf.x1[order])
    new_col = np.empty(len(order), dtype=bool)
    new_col[0] = True
    new_col[1:] = runmax[:-1] <= bx0[1:]
    col_id = np.cumsum(new_col) - 1
    key = col_id * (int(tf.line_id.max()) + 1) + tf.line_id[order]
    uniq, counts = np.unique(key, return_counts=True)
    if not (counts > 1).any():
        return tf
    for k in uniq[counts > 1]:
        grp = order[np.flatnonzero(key == k)]
        grp = grp[np.argsort(tf.x0[grp], kind="stable")]
        lead = grp[0]
        cx1 = x1[lead]
        for j in grp[1:]:
            sep = " " if (tf.x0[j] - cx1) != 0 else ""
            text[lead] = text[lead] + sep + text[j]
            text[j] = sep + text[j]
            cx1 = max(cx1, x1[j])
        x1[lead] = cx1
        y0[lead] = y0[grp].min()
        y1[lead] = y1[grp].max()
        ftype[grp] = m.field_types_list(list(text[grp]))
    return _Fields(text, tf.x0.copy(), y0, x1, y1,
                   tf.line_id.copy(), ftype)


def _split_multi_stop_columns(a: _TableAnalysis,
                              m: _Matchers) -> list[_TableAnalysis]:
    """Split a table with several STOP columns into one table per stop
    column (pdftable/pdftable.py:151-163, 302-312). Fields are bucketed
    by the x0 of the 2nd..nth stop column; the single-stop fast path
    reuses the existing analysis (no recomputation).

    The DECISION counts only genuinely-typed stop columns — a column
    retroactively upgraded OTHER -> STOP is invisible to the
    reference's deciding of_type scan (lists.py:73-80 evaluates
    lazily in order; the upgrade lands on an already-visited column).
    Once the split proceeds, split_at_stop_columns re-scans with warm
    caches, so the BOUNDARIES include upgraded columns."""
    genuine = [c for c in a.col_order if a.col_types[c] == C_STOP
               and c not in a.upgraded_stop_cols]
    if len(genuine) <= 1:
        return [a]
    stop_cols = [c for c in a.col_order if a.col_types[c] == C_STOP]
    col_ids, starts = _col_segments(a.cells)
    ends = np.append(starts[1:], len(a.cells))
    col_x0 = {cid: float(a.cells.x0[s:e].min())
              for cid, s, e in zip(col_ids, starts, ends)}
    boundaries = sorted(col_x0[c] for c in stop_cols)[1:]
    tf_m = _merge_mutated_fields(a, m)
    bucket = np.searchsorted(np.asarray(boundaries), tf_m.x0,
                             side="right")
    out = []
    for b in range(len(stop_cols)):
        part = tf_m.take(bucket == b)
        if len(part) == 0:
            continue
        part_lines = set(part.line_id.tolist())
        lines = [lid for lid in a.line_order if lid in part_lines]
        sub = _analyze_table(part, lines, m)
        if sub is not None:
            out.append(sub)
    return out
