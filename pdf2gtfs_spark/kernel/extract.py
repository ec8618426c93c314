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
the throughput ceiling at ~55 ms/turn (ROADMAP r01 #1).  Each table's
cells, entries and stops leave as record lists that the pipeline packs
into Arrow batches; DataFrames appear only in the TableResult
accessors.
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

# field types as int8 codes (_Fields.ftype): the first four are the row
# type ladder's rungs (ROW_LADDER below), in its order
FIELD_TYPES = (F_HEADER, F_ROW_ANNOT, F_ROUTE_INFO, F_DATA, F_REPEAT,
               F_STOP_ANNOT, F_OTHER)
_FT_HEADER, _FT_DATA, _FT_STOP_ANNOT = (
    FIELD_TYPES.index(t) for t in (F_HEADER, F_DATA, F_STOP_ANNOT))
_FT_CODE = {t: i for i, t in enumerate(FIELD_TYPES)}

C_STOP = "STOP"
C_STOP_ANNOTATION = "STOP_ANNOTATION"
C_DATA = "DATA"
C_REPEAT = "REPEAT"
C_OTHER = "OTHER"

# Field order of the shipped cells/entries/stops structs (the pipeline's
# EXTRACT_SCHEMA); every record dict carries exactly these keys.
CELL_FIELDS = ["row_idx", "col_idx", "text", "row_type", "col_type",
               "x0", "y0", "x1", "y1"]
ENTRY_FIELDS = [
    "entry_id", "kind", "header_text", "route_name",
    "annotations", "days", "repeat_intervals",
    "stop_pos", "stop_row_idx", "stop_name", "stop_annot",
    "is_connection", "value",
]
STOP_FIELDS = ["stop_pos", "row_idx", "stop_name", "stop_annot",
               "is_connection"]


class TableResult:
    """One extracted table of a turn.

    ``cells_records``, ``entries_records`` and ``stops_records`` are the
    record lists the pipeline kernel packs into an Arrow batch, one dict
    per struct with exactly that struct's fields.  The DataFrame
    accessors build a fresh frame on each access; the entries and stops
    frames lead with a ``table_id`` column.
    """

    def __init__(self, table_id: int, csv_text: str, row_types: list[str],
                 col_types: list[str], cells_records: list[dict],
                 entries_records: list[dict],
                 stops_records: list[dict]) -> None:
        self.table_id = table_id
        self.csv_text = csv_text
        self.row_types = row_types
        self.col_types = col_types
        self.cells_records = cells_records
        self.entries_records = entries_records
        self.stops_records = stops_records

    def _frame(self, records: list[dict], cols: list[str]) -> pd.DataFrame:
        df = pd.DataFrame(records, columns=cols)
        df.insert(0, "table_id", self.table_id)
        return df

    @property
    def cells(self) -> pd.DataFrame:
        return pd.DataFrame(self.cells_records, columns=CELL_FIELDS)

    @property
    def entries(self) -> pd.DataFrame:
        return self._frame(self.entries_records, ENTRY_FIELDS)

    @property
    def stops(self) -> pd.DataFrame:
        return self._frame(self.stops_records, STOP_FIELDS)


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
        self._ftype_memo: dict[str, int] = {}
        self.time_re, self.time_order = time_format_to_regex(cfg.time_format)
        # repeat-interval extraction regex per identifier pair
        # (pdftable/container.py:304-313); ``.*`` matches the empty
        # string, so a findall finds something iff its core occurs
        cores = [
            rf"{re.escape(start)}\s*"
            r"(\d{1,3}[-,]\ *\d{1,3}|\d{1,3})"
            rf"\s*{re.escape(end)}"
            for start, end in cfg.repeat_identifier
        ]
        self.interval_res = [re.compile(f".*{core}.*", flags=re.I | re.U)
                             for core in cores]
        self.repeat_core_re = (re.compile("|".join(cores), flags=re.I | re.U)
                               if cores else None)

    def field_type_codes(self, texts: list[str]) -> np.ndarray:
        """Field-type ladder (pdftable/field.py:32-55) as FIELD_TYPES
        codes. Direct compiled re.search per string beats pandas
        str.contains ~10x at tens of strings per turn (no Series/Index
        churn). The ladder is a pure function of the text, and time
        strings / stop names repeat heavily across turns -> memoized per
        matcher instance (capped; one matcher lives per Arrow-kernel
        worker) and probed in one C-level map."""
        memo = self._ftype_memo
        out = list(map(memo.get, texts))
        if None in out:
            for i, t in enumerate(texts):
                if out[i] is None:
                    out[i] = _FT_CODE[self._field_type(t)]
                    if len(memo) < 200_000:
                        memo[t] = out[i]
        return np.array(out, dtype=np.int8)

    def _field_type(self, t: str) -> str:
        c = self._c
        padded = f" {t.lower().strip()} "
        if (c["header"] and c["header"].search(padded)
                and not (c["neg"] and c["neg"].search(padded))):
            return F_HEADER
        if c["repeat"] and c["repeat"].search(padded):
            return F_REPEAT
        if is_time_str(t, self.time_re, self.time_order):
            return F_DATA
        if c["stop_annot"] and c["stop_annot"].search(padded):
            return F_STOP_ANNOT
        if c["row_annot"] and c["row_annot"].search(padded):
            return F_ROW_ANNOT
        if c["route"] and c["route"].search(padded):
            return F_ROUTE_INFO
        return F_OTHER

    def may_repeat(self, text: str) -> bool:
        """False when ``repeat_intervals`` finds nothing in ``text`` nor
        in any substring of it."""
        return (self.repeat_core_re is not None
                and self.repeat_core_re.search(text) is not None)

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
    if keep.all():
        # the common case: every box is on the page, nothing to take
        return {"x0": x0, "y0": y0, "x1": x1, "y1": y1,
                "text": arrs["text"]}
    return {"x0": x0[keep], "y0": y0[keep], "x1": x1[keep],
            "y1": y1[keep], "text": arrs["text"][keep]}


def _int_keys(rows: np.ndarray) -> tuple[np.ndarray, float, list]:
    """Per row of a 2-D float block: non-negative int64 keys below
    2**31 that order the row exactly as its floats compare (equal keys
    iff equal values), with the scale and per-row base that map keys
    back to values: ``(keys + base) / scale``, or ``base[keys]`` at
    scale 0.

    2-decimal values (what cleanup_char_arrays leaves, |v| < 2**30 /
    100) key as ``rint(v * 100)`` at scale 100, checked exactly: such a
    v is the double nearest k / 100, and division is monotone.  Any
    other block keys by dense rank at scale 0 (a sort per row; NaNs
    last and equal, as lexsort orders them)."""
    k = np.rint(rows * 100)
    low = k.min(axis=1, keepdims=True)
    if ((k / 100 == rows).all() and low.min() > -2 ** 30
            and k.max() < 2 ** 30):
        return (k - low).astype(np.int64), 100.0, list(low[:, 0])
    ranked = [np.unique(r, return_inverse=True) for r in rows]
    return (np.stack([inv for _, inv in ranked]).astype(np.int64), 0.0,
            [uniq for uniq, _ in ranked])


def _anchor_cluster(sorted_vals: np.ndarray, threshold: float) -> np.ndarray:
    """Cluster ascending values: new cluster when val - anchor > threshold,
    where anchor is the first value of the current cluster
    (reference: reader.py:369-383). Input must be sorted ascending and
    unique; loops over clusters (lines), not members (chars)."""
    vals = sorted_vals.tolist()
    ids = [0] * len(vals)
    if vals:
        anchor = vals[0]
        cur = 0
        for i, v in enumerate(vals):
            if v - anchor > threshold:
                cur += 1
                anchor = v
            ids[i] = cur
    return np.array(ids, dtype=np.int64)


def _field_texts(texts: np.ndarray, order: np.ndarray,
                 starts: np.ndarray) -> list[str]:
    """``"".join(texts[order][s:e]).strip()`` for each segment [s, e)
    that ``starts`` opens, as one join split back on a separator put at
    every segment start.  When every text is one ASCII char without a
    tab (the common case: one glyph per char box; no text is empty and
    the join is as long as the texts are many) the permutation and the
    separators work on the bytes of one join; otherwise on the object
    array, with a tab, or the first code point no text holds."""
    parts = texts.tolist()
    joined = "".join(parts)
    if (len(joined) == len(parts) and all(parts) and joined.isascii()
            and "\t" not in joined):
        raw = np.frombuffer(joined.encode("ascii"), np.uint8)
        cut = np.insert(raw[order], starts[1:], 9).tobytes().decode("ascii")
        return list(map(str.strip, cut.split("\t")))
    sep = "\t" if "\t" not in joined else next(
        c for c in map(chr, range(1, 0x110000)) if c not in joined)
    cut = "".join(np.insert(texts[order], starts[1:], sep).tolist())
    return list(map(str.strip, cut.split(sep)))


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
    ftype: np.ndarray     # int8 FIELD_TYPES codes (set after typing)

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
    box = np.stack([np.asarray(chars[c], dtype=float)
                    for c in ("x0", "y0", "x1", "y1")])
    line_threshold = round(float((box[3] - box[1]).mean())) / 2

    # stable (y0, x0) order as ONE argsort of an int64 key: the same
    # order and ties as np.lexsort((x0, y0)), at a third of its cost
    (kx, ky, kx1), scale, bases = _int_keys(box[:3])
    order = np.argsort((ky << 32) | kx, kind="stable")
    ky = ky[order]
    new_y = np.empty(len(ky), dtype=bool)
    new_y[0] = True
    np.not_equal(ky[1:], ky[:-1], out=new_y[1:])
    uniq_y0 = box[1, order[new_y]]             # ascending
    line_of_y0 = _anchor_cluster(uniq_y0, line_threshold)
    line_id = line_of_y0[np.cumsum(new_y) - 1]

    # stable (line, x0): a line spanning several y0 values needs a
    # re-sort; when every line has one y0 the order already holds
    key = (line_id << 32) | kx[order]
    resorted = bool((key[1:] < key[:-1]).any())
    if resorted:
        by_line = np.argsort(key, kind="stable")
        order = order[by_line]
        line_id = line_id[by_line]
    box = np.take(box, order, axis=1)

    is_new = np.empty(len(order), dtype=bool)
    is_new[0] = True
    np.not_equal(line_id[1:], line_id[:-1], out=is_new[1:])
    # per-line running max of x1 as one accumulate over int keys that
    # carry the line in their high bits, mapped back to the exact
    # floats (segments are contiguous)
    runmax = np.maximum.accumulate((line_id << 32) | kx1[order]) & 0xFFFFFFFF
    runmax = (runmax + bases[2]) / scale if scale else bases[2][runmax]
    is_new[1:] |= (box[0, 1:] - runmax[:-1]) > cfg.max_char_distance

    starts = np.flatnonzero(is_new)
    texts = _field_texts(np.asarray(chars["text"], dtype=object), order,
                         starts)
    lo = np.minimum.reduceat(box[:2], starts, axis=1)
    hi = np.maximum.reduceat(box[2:], starts, axis=1)
    f = _Fields(text=np.array(texts, dtype=object), x0=lo[0], y0=lo[1],
                x1=hi[0], y1=hi[1], line_id=line_id[starts], ftype=None)
    # reference drops fields whose text is empty (reader.py:213)
    return f.take(f.text != "") if "" in texts else f


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
    y = np.stack((y0, y1))
    d = np.abs(y[:, None, 1:] - y[None, :, :-1]).min(axis=(0, 1))
    cuts = [0, *(np.flatnonzero(d > cfg.max_row_distance) + 1).tolist(),
            len(line_ids)]
    return [line_ids[a:b] for a, b in zip(cuts[:-1], cuts[1:])
            if b - a >= cfg.min_row_count]


# ---------------------------------------------------------------------------
# per-table analysis (computed once per table)
# ---------------------------------------------------------------------------

# row type ladder (pdftable/container.py:221-230): a line takes the first
# rung that one of its fields reaches, in this order, else R_OTHER; a
# field's rung is its FIELD_TYPES code capped at R_OTHER's
ROW_LADDER = (R_HEADER, R_ANNOTATION, R_ROUTE_INFO, R_DATA, R_OTHER)
_ROW_HEADER, _ROW_OTHER = 0, 4


def _row_codes(tf: _Fields) -> np.ndarray:
    """Row type of every line as its ROW_LADDER index: a lookup table
    over the dense line ids holding the lowest rung of the line's
    fields."""
    codes = np.full(int(tf.line_id.max()) + 1, _ROW_OTHER, dtype=np.int8)
    np.minimum.at(codes, tf.line_id, tf.ftype)
    return codes


def _split_multi_header_tables(
        tables: list[list[int]], f: _Fields) -> list[list[int]]:
    """Merge headerless tables into the previous one; split tables with
    several header rows at those rows (pdftable/pdftable.py:283-299).
    The first table is always kept as-is (reference behavior)."""
    if not tables:
        return []
    header_lines_all = set(f.line_id[f.ftype == _FT_HEADER].tolist())
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
    """Merged (col, row) cells of one table, sorted by (col_id, y0).
    Column ids are 0..n_cols-1 in x order; every id has a cell."""
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


def _cluster_columns(tf: _Fields, body: np.ndarray, m: _Matchers) -> _Cells:
    """Assign col_id by x-overlap clustering over the x0-sorted fields
    ``tf[body]`` (pdftable/pdftable.py:65-95): a field joins the current
    column iff its x0 is strictly less than the running max x1;
    same-(col,row) fields merge into one cell (container.py:336-353)."""
    order = body[np.lexsort((tf.y0[body], tf.x0[body]))]  # stable (x0, y0)
    x0 = tf.x0[order]
    x1 = tf.x1[order]
    runmax = np.maximum.accumulate(x1)
    new_col = np.empty(len(x0), dtype=bool)
    new_col[0] = True
    new_col[1:] = runmax[:-1] <= x0[1:]
    col_id = np.cumsum(new_col) - 1
    line_id = tf.line_id[order]
    y0 = tf.y0[order]
    y1 = tf.y1[order]
    text = tf.text[order]
    ftype = tf.ftype[order]

    # merge fields sharing (col, row): texts joined with " " when there
    # is an x-gap (container.py:339-348); bboxes unioned. Rare; only
    # affected groups get their ftype recomputed.
    key = col_id * (line_id.max() + 1) + line_id
    sorted_key = np.sort(key)
    shared = np.unique(sorted_key[1:][sorted_key[1:] == sorted_key[:-1]])
    absorbed = np.zeros(len(key), dtype=bool)
    for k in shared:
        idxs = np.flatnonzero(key == k)
        idxs = idxs[np.argsort(x0[idxs], kind="stable")]
        lead = idxs[0]
        merged = text[lead]
        cx1 = x1[lead]
        for j in idxs[1:]:
            sep = " " if (x0[j] - cx1) != 0 else ""
            merged = merged + sep + text[j]
            cx1 = max(cx1, x1[j])
            absorbed[j] = True
        text[lead] = merged
        x0[lead] = x0[idxs].min()
        y0[lead] = y0[idxs].min()
        x1[lead] = x1[idxs].max()
        y1[lead] = y1[idxs].max()
        ftype[lead] = m.field_type_codes([merged])[0]

    kept = np.flatnonzero(~absorbed)
    by_col = kept[np.lexsort((y0[kept], col_id[kept]))]  # stable (col, y0)
    return _Cells(col_id[by_col], line_id[by_col], x0[by_col], y0[by_col],
                  x1[by_col], y1[by_col], text[by_col], ftype[by_col])


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


def _column_types(cells: _Cells, edges: list[int],
                  m: _Matchers) -> tuple[dict[int, str], set[int]]:
    """Left-to-right lazy column typing (pdftable/container.py:273-302),
    including the retroactive previous-OTHER -> STOP upgrade.  Column
    ``c`` holds cells ``edges[c]:edges[c + 1]``.

    Also returns the set of retroactively-UPGRADED columns: the
    reference evaluates types lazily during the split decision's
    of_type scan (lists.py:73-80), so an upgrade fired while
    evaluating column j lands on j-1 AFTER the scan already visited
    j-1 — upgraded columns are invisible to the multi-stop-column
    split decision but cached as STOP for every later consumer
    (sweep v4 seed 50315: side-by-side blocks stay ONE table).

    Per-column stats come from C-level list ops on the column's slice,
    each computed only when the ladder reaches it; the mean length is
    an exact int sum over the count, so it equals np.mean bit for
    bit."""
    texts = cells.text.tolist()
    ftypes = cells.ftype.tolist()
    # a column's repeat intervals need a repeat start word in its text:
    # one search over the whole table skips the per-column joins and
    # findalls on tables without any
    may_repeat = m.may_repeat("\n".join(texts))
    types: dict[int, str] = {}
    upgraded: set[int] = set()
    for cid in range(len(edges) - 1):
        s, e = edges[cid], edges[cid + 1]
        col = texts[s:e]
        is_sparse = ((e - s) / max(1, col.count(""))) <= 0.5
        if not is_sparse and sum(map(len, col)) / (e - s) > 8:
            types[cid] = C_STOP
            continue
        if may_repeat and m.repeat_intervals("\n".join(col)):
            types[cid] = C_REPEAT
            continue
        col_ftypes = ftypes[s:e]
        if _FT_STOP_ANNOT in col_ftypes:
            if cid > 0 and types.get(cid - 1) == C_OTHER:
                types[cid - 1] = C_STOP
                upgraded.add(cid - 1)
            types[cid] = C_STOP_ANNOTATION
            continue
        if _FT_DATA in col_ftypes:
            types[cid] = C_DATA
            continue
        types[cid] = C_OTHER
    return types, upgraded


@dataclass
class _TableAnalysis:
    # ascending line ids; a line's row is its index here
    line_order: list[int]
    rtypes: list[str]
    row_type_of_line: dict[int, str]
    tfields: _Fields
    cells: _Cells
    # column c (0 <= c < n_cols) holds cells[col_edges[c]:col_edges[c + 1]]
    col_edges: list[int]
    col_types: dict[int, str]
    # ROW_LADDER index of each field's row (parallel to tfields)
    field_rows: np.ndarray
    # columns retroactively upgraded OTHER -> STOP; excluded from the
    # multi-stop split DECISION (see _column_types docstring)
    upgraded_stop_cols: set[int] = dc_field(default_factory=set)

    @property
    def n_cols(self) -> int:
        return len(self.col_edges) - 1

    def rows_of(self, line_ids: np.ndarray) -> np.ndarray:
        """Row index of each line id."""
        return np.searchsorted(self.line_order, line_ids)


def _body_fields(field_rows: np.ndarray) -> np.ndarray:
    """Indices of the fields of ANNOTATION, ROUTE_INFO and DATA rows,
    given each field's row as its ROW_LADDER index."""
    return np.flatnonzero((field_rows > _ROW_HEADER)
                          & (field_rows < _ROW_OTHER))


def _analyze_table(tf: _Fields, line_order: list[int],
                   m: _Matchers) -> Optional[_TableAnalysis]:
    codes = _row_codes(tf)
    rtypes = [ROW_LADDER[c] for c in codes[line_order].tolist()]
    field_rows = codes[tf.line_id]
    body = _body_fields(field_rows)
    if len(body) == 0:
        return None
    cells = _cluster_columns(tf, body, m)
    n_cols = int(cells.col_id[-1]) + 1
    edges = np.searchsorted(cells.col_id, np.arange(n_cols + 1)).tolist()
    col_types, upgraded = _column_types(cells, edges, m)
    return _TableAnalysis(
        line_order=list(line_order), rtypes=rtypes,
        row_type_of_line=dict(zip(line_order, rtypes)),
        tfields=tf, cells=cells, col_edges=edges, col_types=col_types,
        field_rows=field_rows,
        upgraded_stop_cols=upgraded)


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

def _csv_cells(texts: list[str]) -> list[str]:
    """The CSV writer's cell texts (pdftable.py:185-234): double quotes
    dropped, stripped, quoted when they hold a comma."""
    texts = [t.replace('"', "").strip() for t in texts]
    return [f'"{t}"' if "," in t else t for t in texts]


def table_to_csv(a: _TableAnalysis, placeable: np.ndarray) -> str:
    """Serialize a table grid exactly like the reference CSV writer
    (pdftable/pdftable.py:185-234): cells per (row, col), the
    ``placeable`` header-typed fields (indices into ``a.tfields``)
    placed at the first column whose x0 exceeds theirs, rows that are
    entirely empty dropped, trailing newline kept.

    The grid is one flat object array filled by a single fancy
    assignment (a table's cells have distinct (row, col) slots after
    the merge in _cluster_columns); a line's row is its index in the
    ascending ``line_order``."""
    n_rows, n_cols = len(a.line_order), a.n_cols
    cells = a.cells
    grid = np.full(n_rows * n_cols, "", dtype=object)
    grid[a.rows_of(cells.line_id) * n_cols
         + cells.col_id] = _csv_cells(cells.text.tolist())

    if len(placeable):
        # first col whose x0 > field.x0; else last (pdftable.py:197-205)
        tf = a.tfields
        xs = np.minimum.reduceat(cells.x0, a.col_edges[:-1])
        cols = np.minimum(np.searchsorted(xs, tf.x0[placeable],
                                          side="right"), n_cols - 1)
        slots = a.rows_of(tf.line_id[placeable]) * n_cols + cols
        for k, txt in zip(slots.tolist(), tf.text[placeable]):
            grid[k] = txt
    # a row of n_cols empty cells joins to n_cols - 1 commas
    lines = map(",".join, grid.reshape(n_rows, n_cols).tolist())
    return "\n".join(ln for ln in lines if len(ln) >= n_cols) + "\n"


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
                              col_x1s: np.ndarray) -> list[str]:
    """get_header_from_column (pdftable/pdftable.py:121-129).

    Only the first header row, the lowest line id, matters (the
    reference's inner loop always returns at the row's last field);
    within it, the answer is
    the first field whose successor starts at/after the column's right
    edge — a searchsorted over the successors' x0.
    """
    if len(header) == 0:
        return [""] * len(col_x1s)
    mask = header.line_id == header.line_id.min()
    order = np.argsort(header.x0[mask], kind="stable")
    hx = header.x0[mask][order]
    texts = header.text[mask][order]
    # smallest i with hx[i+1] >= col_x1, else last field
    idx = np.minimum(np.searchsorted(hx[1:], col_x1s, side="left"),
                     len(texts) - 1)
    return [str(texts[i]) for i in idx]


def _normalize_timetable(a: _TableAnalysis,
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
    row_idx = a.rows_of(cells.line_id)
    row_l = row_idx.tolist()
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
    stop_col_of = cells.col_id[stop_idx].tolist()

    def _rows_visible_from(cid: int) -> dict[int, int]:
        vis: dict[int, int] = {}
        for p, r in enumerate(stop_rows):
            if stop_col_of[p] < cid and r not in vis:
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
        vis = _rows_visible_from(cids_l[i])
        p = vis.get(int(row_idx[i]))
        if p is not None:
            stop_annots[p] = cells.text[i]

    is_conn = detect_connections(stop_names, cfg)
    stops_records = [{
        "stop_pos": p, "row_idx": r,
        "stop_name": nm, "stop_annot": stop_annots[p],
        "is_connection": ic,
    } for p, (r, nm, ic) in enumerate(zip(stop_rows, stop_names, is_conn))]

    # entries: one per DATA/REPEAT column with at least one DATA value
    entry_cols = [cid for cid in range(a.n_cols)
                  if a.col_types[cid] in (C_DATA, C_REPEAT)]
    if not entry_cols:
        return [], stops_records

    edges = a.col_edges
    col_x1s = np.array([float(cells.x1[edges[c]:edges[c + 1]].max())
                        for c in entry_cols])
    header_texts = _header_texts_for_columns(header, col_x1s)

    # per-column metadata (loops over columns, not cells)
    value_mask = (rt == R_DATA) & ((ctype == C_DATA) | (ctype == C_REPEAT))
    route_mask = rt == R_ROUTE_INFO
    ann_rows_mask = rt == R_ANNOTATION

    meta = {}
    entry_id = -1
    for cid, header_text in zip(entry_cols, header_texts):
        s, e = edges[cid], edges[cid + 1]
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
            vis = visible_cache[cid] = _rows_visible_from(cid)
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
                **mrow,
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
    stop_cols = [c for c in range(a.n_cols) if a.col_types[c] == C_STOP]
    cells = a.cells
    if stop_cols:
        # the first stop column's cells, y0-sorted
        sel = slice(a.col_edges[stop_cols[0]], a.col_edges[stop_cols[0] + 1])
        stop_lines = cells.line_id[sel].tolist()
        fixed = fix_split_stop_names(
            cells.text[sel].tolist(), cells.x0[sel].tolist(), stop_lines,
            a.row_type_of_line)
        fixed_stop_text = dict(zip(stop_lines, fixed))
        cells.text[sel] = np.array(fixed, dtype=object)

    # HEADER-*typed* fields of HEADER or OTHER rows: placed into the CSV
    # (pdftable/pdftable.py:222-228)
    rows = a.field_rows
    csv_text = table_to_csv(a, np.flatnonzero(
        (a.tfields.ftype == _FT_HEADER)
        & ((rows == _ROW_HEADER) | (rows == _ROW_OTHER))))
    if light:
        if len(cells) == 0:
            return None
        return TableResult(
            table_id=table_id, csv_text=csv_text, row_types=a.rtypes,
            col_types=[a.col_types[c] for c in range(a.n_cols)],
            cells_records=[], entries_records=[], stops_records=[])

    # all fields of HEADER rows: used for per-column header text
    # (pdftable/pdftable.py:121-129)
    header = a.tfields.take(rows == _ROW_HEADER)
    entries_records, stops_records = _normalize_timetable(
        a, header, cfg, m, fixed_stop_text)

    rows_l = a.rows_of(cells.line_id).tolist()
    cids_l = cells.col_id.tolist()
    cells_records = [{
        "row_idx": rows_l[i],
        "col_idx": cids_l[i],
        "text": cells.text[i],
        "row_type": a.row_type_of_line[cells.line_id[i]],
        "col_type": a.col_types[cells.col_id[i]],
        "x0": float(cells.x0[i]), "y0": float(cells.y0[i]),
        "x1": float(cells.x1[i]), "y1": float(cells.y1[i]),
    } for i in range(len(cells))]
    if not cells_records:
        return None
    return TableResult(
        table_id=table_id,
        csv_text=csv_text,
        row_types=a.rtypes,
        col_types=[a.col_types[c] for c in range(a.n_cols)],
        cells_records=cells_records,
        entries_records=entries_records,
        stops_records=stops_records,
    )


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def extract_turn(payload: Optional[str],
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
    MalformedPayload instance; when given, ``payload`` is not read (and
    may be None).
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
    fields.ftype = m.field_type_codes(fields.text.tolist())

    line_ids, ly0, ly1 = _line_bboxes(fields)
    raw_tables = [t.tolist() for t in
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
    body_idx = _body_fields(a.field_rows)
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
        ftype[grp] = m.field_type_codes(text[grp].tolist())
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
    genuine = [c for c in range(a.n_cols) if a.col_types[c] == C_STOP
               and c not in a.upgraded_stop_cols]
    if len(genuine) <= 1:
        return [a]
    stop_cols = [c for c in range(a.n_cols) if a.col_types[c] == C_STOP]
    edges = a.col_edges
    boundaries = sorted(float(a.cells.x0[edges[c]:edges[c + 1]].min())
                        for c in stop_cols)[1:]
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
