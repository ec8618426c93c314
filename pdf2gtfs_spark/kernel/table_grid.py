"""New-path table engine: the reference's quad-linked Cell grid
re-expressed as a dense (rows x cols) index grid over columnar cell
arrays — no pointer graphs, no per-cell objects.

Reference seats (all under /root/reference/src/pdf2gtfs/):
- grid build              datastructures/table/table.py:970-1071
- repeat insertion        table.py:324-386
- splitting               table.py:464-592
- expansion + bounds      table.py:215-267, bounds.py:32-383
- type inference          table.py:735-746, celltype.py:83-106, 297-833
- cleanup (stop merge, abbreviations, days merge W10/O5, dup days)
                          table.py:748-856, celltype.py:730-818
- CSV export (F6 blank)   table.py:438-462
- merge_tables            table.py:899-938, 1261-1308

Everything here runs per turn inside the Arrow extract kernel; a turn's
grid is at most a few thousand cells, so the data-dependent fixpoints
(expansion, inference sweep) stay local to one executor task while the
heavy lifting (guessing all cell types, overlap clustering) is
vectorized. Sequential walks are kept ONLY where the reference's
results are order-dependent (the inference sweep mutates strict types
mid-pass; expansion's alignment walk is positional) — replacing those
with whole-frame ops would change results, not just speed.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Optional

import numpy as np

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel import celltypes as ct
from pdf2gtfs_spark.kernel.celltypes import (
    EMPTY, N_TYPES, OTHER, REPEAT_IDENT, REPEAT_VALUE, TypeMatchers,
)

# Directions; values chosen so d ^ 1 is the opposite.
N, S, W, E = 0, 1, 2, 3
V, H = 0, 1  # orientations: V = columns (N/S), H = rows (W/E)


def _is_olap(a0, a1, b0, b1, rel: float) -> bool:
    """bbox.is_h_overlap/is_v_overlap: overlap >= rel * smaller size."""
    hi = a1 if a1 < b1 else b1
    lo = a0 if a0 > b0 else b0
    d = hi - lo
    if d < 0.0:
        d = 0.0
    sa = a1 - a0
    sb = b1 - b0
    return d >= rel * (sa if sa < sb else sb)


# P row for an EmptyCell (copied per cell; rows are mutated in place)
_EMPTY_P = np.full(N_TYPES, np.nan)
_EMPTY_P[EMPTY] = 1.0


@dataclass
class CellStore:
    """Columnar storage for every cell of one turn (incl. EmptyCells)."""
    cfg: ExtractConfig
    matchers: TypeMatchers
    text: list = field(default_factory=list)
    x0: list = field(default_factory=list)
    y0: list = field(default_factory=list)
    x1: list = field(default_factory=list)
    y1: list = field(default_factory=list)
    fontsize: list = field(default_factory=list)
    is_empty: list = field(default_factory=list)
    # possible_types probability rows (np arrays, NaN = absent)
    P: list = field(default_factory=list)
    fallback: list = field(default_factory=list)
    inferred: list = field(default_factory=list)   # int | None
    # coord-array cache (see coord_arrays); every coordinate mutator
    # bumps _coord_ver
    _coord_ver: int = 0
    _coord_cache: Optional[tuple] = None

    def coord_arrays(self) -> tuple:
        """(x0, y0, x1, y1, is_empty) as numpy arrays over the whole
        store, cached until a mutator bumps _coord_ver — the expand
        fixpoint's stripe/bounds probes re-read these every step."""
        cache = self._coord_cache
        if cache is not None and cache[0] == self._coord_ver:
            return cache[1]
        arrs = (np.asarray(self.x0, dtype=float),
                np.asarray(self.y0, dtype=float),
                np.asarray(self.x1, dtype=float),
                np.asarray(self.y1, dtype=float),
                np.asarray(self.is_empty, dtype=bool))
        self._coord_cache = (self._coord_ver, arrs)
        return arrs

    @staticmethod
    def from_fields(fields, cfg: ExtractConfig = DEFAULT_CONFIG
                    ) -> "CellStore":
        """Build the store from the kernel's columnar word ``_Fields``
        and guess all types in one vectorized pass (celltype.py:48-81)."""
        s = CellStore(cfg=cfg, matchers=ct.matchers_for(cfg))
        s.text = [str(t).strip() for t in fields.text.tolist()]
        s.x0 = fields.x0.tolist()
        s.y0 = fields.y0.tolist()
        s.x1 = fields.x1.tolist()
        s.y1 = fields.y1.tolist()
        # payloads carry no font: cell height is the fontsize proxy, so
        # equal-height text compares equal (rel_indicator_time_annot)
        s.fontsize = [round(b - a, 2) for a, b in zip(s.y0, s.y1)]
        s.is_empty = [False] * len(s.text)
        P, fb = s.matchers.guess_list(s.text)
        s.P = [P[i] for i in range(len(s.text))]
        s.fallback = fb.tolist()
        s.inferred = [None] * len(s.text)
        return s

    def add_empty(self) -> int:
        self._coord_ver += 1
        self.text.append("")
        for arr in (self.x0, self.y0, self.x1, self.y1, self.fontsize):
            arr.append(math.nan)
        self.is_empty.append(True)
        self.P.append(_EMPTY_P.copy())
        self.fallback.append(False)
        self.inferred.append(EMPTY)
        return len(self.text) - 1

    def duplicate(self, i: int) -> int:
        """Cell.duplicate (cell.py:232-238): same values, fresh type."""
        self._coord_ver += 1
        self.text.append(self.text[i])
        self.x0.append(self.x0[i])
        self.y0.append(self.y0[i])
        self.x1.append(self.x1[i])
        self.y1.append(self.y1[i])
        self.fontsize.append(self.fontsize[i])
        self.is_empty.append(self.is_empty[i])
        if self.is_empty[i]:
            self.P.append(self.P[i].copy())
            self.fallback.append(self.fallback[i])
        else:
            # the reference's duplicate() builds a FRESH Cell with an
            # EMPTY type cache; its first guess_type() runs LAZILY at
            # the first type access — in practice infer_cell_types
            # (table.py:746), which is AFTER expand-merges mutated the
            # text (Cell.merge never refreshes the deliberately-stale
            # possible_types, celltype.py:57-58).  So a duplicate must
            # be re-guessed from whatever its text says when the type
            # is first read, not from the text at duplicate time.
            # Found by sweep seeds 31062 (merged days header) and
            # 50009 (stop merged with an 'an' annotation during
            # expand, between duplicate and infer).
            self.P.append(None)          # pending lazy guess
            self.fallback.append(None)
        self.inferred.append(None if not self.is_empty[i] else EMPTY)
        return len(self.text) - 1

    def _ensure_P(self, i: int) -> None:
        """Resolve a duplicate's pending lazy guess from CURRENT text
        (CellType.guess_type on first access, celltype.py:49-58)."""
        if self.P[i] is None:
            row, fb = self.matchers.guess_one_cached(self.text[i])
            self.P[i] = row.copy()
            self.fallback[i] = bool(fb)

    # -- type queries (celltype.py argmax semantics) ---------------------

    def strict_type(self, i: int) -> int:
        """Cell.get_type: inferred if set, else guess argmax."""
        if self.inferred[i] is not None:
            return self.inferred[i]
        self._ensure_P(i)
        order = (ct.FALLBACK_ORDER if self.fallback[i] else ct.ABS_ORDER)
        p = self.P[i]
        best, best_v = OTHER, -math.inf
        for t in order:
            v = p[t]
            if not math.isnan(v) and v > best_v:
                best, best_v = t, v
        return best

    def has_type(self, i: int, *types: int, strict: bool = False) -> bool:
        if strict:
            cur = self.strict_type(i)
            return any(cur == t for t in types)
        self._ensure_P(i)
        p = self.P[i]
        return any(not math.isnan(p[t]) for t in types)

    def merge_into(self, keep: int, other: int,
                   merge_char: str = " ") -> None:
        """Cell.merge (cell.py:330-356): text/bbox merge; the survivor's
        type state is kept unchanged (reference quirk)."""
        self.text[keep] = f"{self.text[keep]}{merge_char}{self.text[other]}"
        self._coord_ver += 1
        if not self.is_empty[keep] and not self.is_empty[other]:
            self.x0[keep] = min(self.x0[keep], self.x0[other])
            self.y0[keep] = min(self.y0[keep], self.y0[other])
            self.x1[keep] = max(self.x1[keep], self.x1[other])
            self.y1[keep] = max(self.y1[keep], self.y1[other])
        elif self.is_empty[keep] and not self.is_empty[other]:
            # EmptyCell.bbox is derived per-access in the reference, so
            # merging into an EmptyCell leaves its (derived) bbox alone.
            pass

    def bbox(self, i: int):
        return (self.x0[i], self.y0[i], self.x1[i], self.y1[i])


def chain_groups(store: CellStore, idxs: list[int], o: int,
                 rel: Optional[float] = None) -> list[list[int]]:
    """cells_to_cols / cells_to_rows (table.py:970-1007): sort by the
    lower coordinate, split whenever consecutive cells do not overlap in
    o, sort each group by the normal coordinate."""
    if not idxs:
        return []
    if rel is None:
        rel = store.cfg.min_cell_overlap
    if o == V:  # columns: sort x0, overlap horizontally, group by y0
        lo, hi, glo = store.x0, store.x1, store.y0
    else:       # rows: sort y0, overlap vertically, group by x0
        lo, hi, glo = store.y0, store.y1, store.x0
    order = sorted(idxs, key=lambda i: lo[i])
    groups: list[list[int]] = [[order[0]]]
    for prev, cur in zip(order, order[1:]):
        if _is_olap(lo[prev], hi[prev], lo[cur], hi[cur], rel):
            groups[-1].append(cur)
        else:
            groups.append([cur])
    for g in groups:
        g.sort(key=lambda i: glo[i])
    return groups


class Grid:
    """Dense cell grid; ``cells[r][c]`` indexes into the store."""

    def __init__(self, store: CellStore, rows: list[list[int]]) -> None:
        self.store = store
        self.cells = rows
        self.potential: Optional[list[int]] = None  # store indices
        # ragged row tails (reference quirk): Table.replace_cell
        # (table.py:889-897) rewires only the neighbors' pointers, and
        # Cell.set_neighbor INSERTS (cell.py:120-139), so replacing a
        # row's LAST cell leaves the old cell dangling AFTER the new
        # EmptyCell — the row walk then shows [..., Empty, old_cell].
        # merge_consecutive_days is the only replace_cell caller, so
        # this dict (row -> trailing store idxs) captures the
        # observable raggedness for CSV/grid surfaces.
        self.tails: dict[int, list[int]] = {}
        # SHORT rows (merge_tables quirk, table.py:899-938): t1 rows
        # past the tmap's end keep NO east extension; the dense grid
        # pads them with EmptyCells, and this dict (row -> real
        # width) truncates the padding on output surfaces.
        self.short_rows: dict[int, int] = {}
        # SHADOW rows (merge_tables quirk): unmapped t2 rows are never
        # linked into t1's left column, so they vanish from row
        # ENUMERATION — but their cells stay linked below t2's columns
        # and keep participating in column walks (type inference,
        # find_stops' V series, the next merge's map walk).  The last
        # n_shadow rows of `cells` are such rows: real for column
        # semantics, invisible to row enumeration and output.
        self.n_shadow: int = 0
        # store indexes of padding EmptyCells that exist ONLY to keep
        # this grid dense — the reference has NO cell at all in these
        # slots (shadow rows' off-table padding, short rows' east
        # padding), so inference must treat them as nonexistent, not
        # as EmptyCells (Typer.refresh builds the (R, C) mask from it)
        self.absent_cells: set = set()

    @property
    def n_enum_rows(self) -> int:
        """Rows reachable from the left column (enumeration order)."""
        return len(self.cells) - self.n_shadow

    # ------------------------------------------------------------------
    # construction (table.py:115-126, 1035-1071)
    # ------------------------------------------------------------------

    @staticmethod
    def from_time_cells(store: CellStore, idxs: list[int]) -> "Grid":
        """Table.from_time_cells: overlap-cluster into cols and rows,
        then fill the dense grid with EmptyCells (link_rows_and_cols +
        insert_empty_cells_from_map collapse to a (row, col) scatter)."""
        cols = chain_groups(store, idxs, V)
        rows = chain_groups(store, idxs, H)
        col_of = {i: c for c, col in enumerate(cols) for i in col}
        row_of = {i: r for r, row in enumerate(rows) for i in row}
        grid = [[-1] * len(cols) for _ in rows]
        for i in idxs:
            r, c = row_of[i], col_of[i]
            if grid[r][c] == -1:
                grid[r][c] = i
        out = [[(j if j != -1 else store.add_empty()) for j in row]
               for row in grid]
        return Grid(store, out)

    @property
    def n_rows(self) -> int:
        return len(self.cells)

    @property
    def n_cols(self) -> int:
        return len(self.cells[0]) if self.cells else 0

    def col(self, c: int) -> list[int]:
        return [row[c] for row in self.cells]

    def row(self, r: int) -> list[int]:
        return list(self.cells[r])

    # ------------------------------------------------------------------
    # bboxes
    # ------------------------------------------------------------------

    def _union(self, idxs) -> Optional[tuple]:
        s = self.store
        x0s, y0s, x1s, y1s = s.x0, s.y0, s.x1, s.y1
        emp = s.is_empty
        ux0 = uy0 = math.inf
        ux1 = uy1 = -math.inf
        found = False
        for i in idxs:
            if emp[i]:
                continue
            found = True
            v = x0s[i]
            if v < ux0:
                ux0 = v
            v = y0s[i]
            if v < uy0:
                uy0 = v
            v = x1s[i]
            if v > ux1:
                ux1 = v
            v = y1s[i]
            if v > uy1:
                uy1 = v
        if not found:
            return None
        return (ux0, uy0, ux1, uy1)

    def col_stripe(self, c: int) -> Optional[tuple]:
        return self._union(self.col(c))

    def row_stripe(self, r: int) -> Optional[tuple]:
        return self._union(self.cells[r])

    def bbox(self) -> Optional[tuple]:
        """Table.bbox (table.py:110-113): union of the border series."""
        border = (self.col(0) + self.cells[0]
                  + self.col(self.n_cols - 1) + self.cells[-1])
        return self._union(border)

    def cell_bbox(self, r: int, c: int) -> Optional[tuple]:
        """Non-empty: own bbox; EmptyCell: col x-range + row y-range
        (cell.py:402-414)."""
        i = self.cells[r][c]
        s = self.store
        if not s.is_empty[i]:
            return s.bbox(i)
        cs, rs = self.col_stripe(c), self.row_stripe(r)
        if cs is None or rs is None:
            return None
        return (cs[0], rs[1], cs[2], rs[3])

    # ------------------------------------------------------------------
    # containment / column lookup (table.py:269-322)
    # ------------------------------------------------------------------

    def contained(self, idxs: list[int]) -> list[int]:
        """get_contained_cells: both-axis 0.8 overlap with table bbox."""
        tb = self.bbox()
        if tb is None:
            return []
        s = self.store
        rel = s.cfg.min_cell_overlap
        out = []
        for i in idxs:
            if (_is_olap(tb[1], tb[3], s.y0[i], s.y1[i], rel)
                    and _is_olap(tb[0], tb[2], s.x0[i], s.x1[i], rel)):
                out.append(i)
        return out

    def containing_col(self, i: int) -> Optional[int]:
        """get_containing_col: first col whose top-row cell h-overlaps."""
        s = self.store
        rel = s.cfg.min_cell_overlap
        for c in range(self.n_cols):
            b = self.cell_bbox(0, c)
            if b and _is_olap(b[0], b[2], s.x0[i], s.x1[i], rel):
                return c
        return None

    def col_left_of(self, i: int) -> Optional[int]:
        """get_col_left_of for a cell not in the table: index of the col
        left of the first top-row cell starting at/after the cell's x0;
        None when every col starts left of it (reference returns [])."""
        s = self.store
        for c in range(self.n_cols):
            b = self.cell_bbox(0, c)
            if b and b[0] >= s.x0[i]:
                return c - 1 if c > 0 else None
        return None

    # ------------------------------------------------------------------
    # repeat insertion (table.py:324-386, J3 sandwich)
    # ------------------------------------------------------------------

    def insert_repeat_cells(self, pool: list[int]) -> None:
        s = self.store
        contained = self.contained(pool)
        idents = [i for i in contained if s.has_type(i, REPEAT_IDENT)]
        if not idents:
            return
        values: list[int] = []
        for group in chain_groups(s, idents, V):
            for i1, i2 in zip(group, group[1:]):
                for c in contained:
                    if (s.has_type(c, REPEAT_VALUE)
                            and _is_olap(s.x0[i1], s.x1[i1],
                                         s.x0[c], s.x1[c],
                                         s.cfg.min_cell_overlap)
                            and s.y0[i1] < s.y0[c] < s.y0[i2]):
                        values.append(c)
                        break
        for i in idents + values:
            pool.remove(i)
        for group in chain_groups(s, idents + values, V):
            c = self.containing_col(group[0])
            if c is not None:
                self._replace_in_col(c, group)
                continue
            left = self.col_left_of(group[0])
            at = 0 if left is None else left + 1
            self._insert_col(at, group)

    def _replace_in_col(self, c: int, group: list[int]) -> None:
        """insert_cells_in_col (table.py:1194-1226)."""
        s = self.store
        last = 0
        for i in group:
            for r in range(last, self.n_rows):
                b = self.cell_bbox(r, c)
                if b and _is_olap(b[1], b[3], s.y0[i], s.y1[i],
                                  s.cfg.min_cell_overlap):
                    self.cells[r][c] = i
                    last = r + 1
                    break

    def _insert_col(self, at: int, group: list[int]) -> None:
        """New column at position ``at``; group cells land on the rows
        they v-overlap, EmptyCells elsewhere (insert_empty_cells_from_map
        V variant)."""
        s = self.store
        rel = s.cfg.min_cell_overlap
        newcol = []
        gi = 0
        for r in range(self.n_rows):
            placed = -1
            if gi < len(group):
                rs = self.row_stripe(r)
                i = group[gi]
                if rs and _is_olap(rs[1], rs[3], s.y0[i], s.y1[i], rel):
                    placed = i
                    gi += 1
            newcol.append(placed if placed != -1 else s.add_empty())
        for r in range(self.n_rows):
            self.cells[r].insert(at, newcol[r])

    def _insert_row(self, at: int, row: list[int]) -> None:
        self.cells.insert(at, list(row))

    # ------------------------------------------------------------------
    # splitting (table.py:464-592)
    # ------------------------------------------------------------------

    def _splitting_groups(self, o: int,
                          groups: list[list[int]]) -> list[list[int]]:
        """_get_splitting_series: groups that 0.5-overlap no table
        series and have a series after them (table.py:505-528)."""
        s = self.store
        n_series = self.n_rows if o == H else self.n_cols
        if o == H:
            stripe = self.row_stripe
            g_lo, g_hi, bound = 1, 3, 1   # y0..y1, compare y0
        else:
            stripe = self.col_stripe
            g_lo, g_hi, bound = 0, 2, 0   # x0..x1, compare x0
        splitter = []
        idx = 0
        for group in groups:
            gb = self._union(group)
            if gb is None:
                continue
            for k in range(idx, n_series):
                tb = stripe(k)
                if tb is None:
                    continue
                if _is_olap(tb[g_lo], tb[g_hi], gb[g_lo], gb[g_hi], 0.5):
                    idx = k
                    break
                if tb[bound] > gb[bound]:
                    splitter.append(group)
                    idx = k
                    break
        return splitter

    def split(self, o: int, splitter: list[list[int]]) -> list["Grid"]:
        """split_at_cells: series between splitter groups become new
        Grids; the splitter cells belong to no table (table.py:464-503)."""
        if not splitter:
            return [self]
        s = self.store
        if o == H:
            n_series = self.n_rows
            coord = [self.row_stripe(r) for r in range(self.n_rows)]
            lows = [b[1] if b else math.inf for b in coord]
            cuts = sorted(min(s.y0[i] for i in g) for g in splitter)
        else:
            n_series = self.n_cols
            coord = [self.col_stripe(c) for c in range(self.n_cols)]
            lows = [b[0] if b else math.inf for b in coord]
            cuts = sorted(min(s.x0[i] for i in g) for g in splitter)
        seg_of = [sum(1 for cut in cuts if lows[k] > cut)
                  for k in range(n_series)]
        out = []
        for seg in sorted(set(seg_of)):
            members = [k for k in range(n_series) if seg_of[k] == seg]
            if o == H:
                rows = [list(self.cells[r]) for r in members]
            else:
                rows = [[row[c] for c in members] for row in self.cells]
            g = Grid(s, rows)
            g.remove_empty_series()
            if g.n_rows and g.n_cols:
                out.append(g)
        return out

    def max_split(self, pool: list[int]) -> list["Grid"]:
        """H split, then V split each part (table.py:556-592)."""
        cfg = self.store.cfg
        tables = [self]
        if "H" in cfg.split_orientations:
            contained = self.contained(pool)
            if contained:
                rows = chain_groups(self.store, contained, H,
                                    rel=cfg.min_cell_overlap)
                tables = self.split(H, self._splitting_groups(H, rows))
        if "V" in cfg.split_orientations:
            nxt = []
            for t in tables:
                contained = t.contained(pool)
                if not contained:
                    nxt.append(t)
                    continue
                cols = chain_groups(t.store, contained, V,
                                    rel=cfg.min_cell_overlap)
                nxt.extend(t.split(V, t._splitting_groups(V, cols)))
            tables = nxt
        return tables

    def remove_empty_series(self) -> None:
        s = self.store
        self.cells = [row for row in self.cells
                      if any(not s.is_empty[i] for i in row)]
        if not self.cells:
            return
        keep = [c for c in range(len(self.cells[0]))
                if any(not s.is_empty[row[c]] for row in self.cells)]
        self.cells = [[row[c] for c in keep] for row in self.cells]

    # ------------------------------------------------------------------
    # expansion (table.py:215-267, bounds.py)
    # ------------------------------------------------------------------

    def _stripes(self, d: int) -> list[Optional[tuple]]:
        """Per-ref-cell stripe bboxes: expanding N/S uses column
        stripes, W/E row stripes (table.py:233-235).  One vectorized
        nanmin/nanmax sweep instead of a per-series _union loop (the
        expand fixpoint calls this per direction per round)."""
        s = self.store
        idx = np.asarray(self.cells, dtype=np.int64)
        sx0, sy0, sx1, sy1, semp = s.coord_arrays()
        emp = semp[idx]
        inf = np.inf
        # +-inf masking instead of NaN+nanmin: same unions (non-empty
        # coords are finite), no RuntimeWarning machinery per call
        x0 = np.where(emp, inf, sx0[idx])
        y0 = np.where(emp, inf, sy0[idx])
        x1 = np.where(emp, -inf, sx1[idx])
        y1 = np.where(emp, -inf, sy1[idx])
        axis = 0 if d in (N, S) else 1
        ux0 = x0.min(axis=axis).tolist()
        uy0 = y0.min(axis=axis).tolist()
        ux1 = x1.max(axis=axis).tolist()
        uy1 = y1.max(axis=axis).tolist()
        valid = (~np.all(emp, axis=axis)).tolist()
        return [(ux0[k], uy0[k], ux1[k], uy1[k]) if valid[k] else None
                for k in range(len(valid))]

    def _select_adjacent(self, d: int, pool: list[int],
                         raw_stripes: Optional[list] = None) -> list[int]:
        """Bounds.select_adjacent_cells + the module-level overlap
        filter with its single-removal quirk (bounds.py:82-124,
        360-383).  ``raw_stripes``: the caller's _stripes(d) result —
        expand() needs the same list right after, and the grid does not
        change in between, so computing it twice was pure waste."""
        s = self.store
        if raw_stripes is None:
            raw_stripes = self._stripes(d)
        stripes = [b for b in raw_stripes if b is not None]
        if not stripes:
            return []
        sx0 = min(b[0] for b in stripes)
        sy0 = min(b[1] for b in stripes)
        sx1 = max(b[2] for b in stripes)
        sy1 = max(b[3] for b in stripes)

        # three-sided bounds (NBounds/WBounds/... from_bboxes)
        if d == N:
            w, e, n_b, s_b = sx0, sx1, None, sy0
        elif d == S:
            w, e, n_b, s_b = sx0, sx1, sy1, None
        elif d == W:
            w, e, n_b, s_b = None, sx0, sy0, sy1
        else:
            w, e, n_b, s_b = sx1, None, sy0, sy1

        # within_h_bounds / within_v_bounds (bounds.py:190-220),
        # vectorized over the candidate pool (the pool is every
        # unassigned field — the only O(pool) part of an expand step)
        pool_arr = np.asarray(pool, dtype=np.int64)
        ax0, ay0, ax1, ay1, _ = s.coord_arrays()
        px0, py0 = ax0[pool_arr], ay0[pool_arr]
        px1, py1 = ax1[pool_arr], ay1[pool_arr]

        def within_mask(x0, y0, x1, y1, wb, eb, nb, sb):
            m = np.ones(len(x0), dtype=bool)
            if wb is not None and eb is not None:
                dd = np.minimum(eb, x1) - np.maximum(wb, x0)
                np.clip(dd, 0.0, None, out=dd)
                m &= dd >= 0.5 * np.minimum(eb - wb, x1 - x0)
            else:
                if wb is not None:
                    m &= x1 > wb
                if eb is not None:
                    m &= x0 < eb
            if nb is not None and sb is not None:
                dd = np.minimum(sb, y1) - np.maximum(nb, y0)
                np.clip(dd, 0.0, None, out=dd)
                m &= dd >= 0.5 * np.minimum(sb - nb, y1 - y0)
            else:
                if nb is not None:
                    m &= y1 > nb
                if sb is not None:
                    m &= y0 < sb
            return m

        mask = within_mask(px0, py0, px1, py1, w, e, n_b, s_b)
        if not mask.any():
            return []
        cells = pool_arr[mask].tolist()
        cx0, cy0 = px0[mask], py0[mask]
        cx1, cy1 = px1[mask], py1[mask]
        # update_missing_bound: nearest candidate line
        if d == N:
            n_b = float(cy0.max())
        elif d == S:
            s_b = float(cy1.min())
        elif d == W:
            w = float(cx0.max())
        else:
            e = float(cx1.min())
        mmask = within_mask(cx0, cy0, cx1, cy1, w, e, n_b, s_b)
        min_cells = [i for i, keep in zip(cells, mmask.tolist()) if keep]

        # transitive overlap closure (0.8 in d's orientation axis);
        # scalar loops deliberately — candidate sets are a handful of
        # cells, where numpy pairwise matrices cost more than they save
        # (measured both ways this round)
        if d in (N, S):
            lo, hi = s.y0, s.y1
        else:
            lo, hi = s.x0, s.x1
        all_cells = list(min_cells)
        overlap_cells = all_cells if s.cfg.extra_greedy else min_cells
        while True:
            new = [c for c in cells
                   if c not in all_cells
                   and any(_is_olap(lo[c], hi[c], lo[m], hi[m], 0.8)
                           for m in overlap_cells)]
            if not new:
                break
            all_cells += new
        # sort rows by x0, cols by y0 (the normal's lower coordinate)
        key = s.x0 if d in (N, S) else s.y0
        adjacent = sorted(all_cells, key=lambda i: key[i])

        # module-level filter: drop the FIRST cell that overlaps no
        # stripe, then stop (bounds.py:374-383, bug-compatible)
        if d in (N, S):
            g_lo, g_hi = 0, 2  # h overlap vs column stripes
            c_lo, c_hi = s.x0, s.x1
        else:
            g_lo, g_hi = 1, 3
            c_lo, c_hi = s.y0, s.y1
        rel = s.cfg.min_cell_overlap
        start = 0
        for adj in adjacent:
            hit = None
            for k in range(start, len(stripes)):
                b = stripes[k]
                if _is_olap(b[g_lo], b[g_hi], c_lo[adj], c_hi[adj], rel):
                    hit = k
                    break
            if hit is None:
                adjacent.remove(adj)
                break
            start = hit
        return adjacent

    def expand(self, d: int,
               _stripe_cache: Optional[dict] = None) -> bool:
        """One expansion step in direction d (table.py:215-257).

        ``_stripe_cache``: expand_all's per-fixpoint stripe memo —
        stripes depend only on grid structure + ref-cell coords, both
        of which change inside the loop only via a SUCCESSFUL expand
        (which clears the cache), so failed direction probes stop
        recomputing the same gathers every round."""
        s = self.store
        assert self.potential is not None
        raw_stripes = (_stripe_cache.get(d)
                       if _stripe_cache is not None else None)
        if raw_stripes is None:
            raw_stripes = self._stripes(d)
            if _stripe_cache is not None:
                _stripe_cache[d] = raw_stripes
        adjacent = self._select_adjacent(d, self.potential, raw_stripes)
        if not adjacent:
            return False

        if d in (W, E):
            # merge_cells_of_same_row: incoming cells that share a row
            # collapse into their first (leftmost) cell
            merged = []
            for grp in chain_groups(s, adjacent, H):
                for other in grp[1:]:
                    s.merge_into(grp[0], other)
                merged.append(grp[0])
            adjacent = sorted(merged, key=lambda i: s.y0[i])

        # merge_small_cells: consecutive incoming cells overlapping the
        # same ref stripe merge (table.py:1074-1136).  raw_stripes is
        # still current: nothing above mutates GRID cells (the W/E
        # merges touch only incoming pool cells).
        stripes = raw_stripes
        rel = s.cfg.min_cell_overlap
        if d in (N, S):
            c_lo, c_hi, g_lo, g_hi = s.x0, s.x1, 0, 2
        else:
            c_lo, c_hi, g_lo, g_hi = s.y0, s.y1, 1, 3

        def overlapped_refs(i: int, start: int) -> tuple[int, list[int]]:
            hits = []
            st = start
            for k in range(start, len(stripes)):
                b = stripes[k]
                if b and _is_olap(b[g_lo], b[g_hi], c_lo[i], c_hi[i], rel):
                    if not hits:
                        st = k
                    hits.append(k)
                elif hits:
                    break
            return st, hits

        if len(adjacent) >= 2:
            overlaps = {}
            st = 0
            for i in adjacent:
                st, overlaps[i] = overlapped_refs(i, st)
            k = 0
            while k + 1 < len(adjacent):
                c1, c2 = adjacent[k], adjacent[k + 1]
                if set(overlaps[c1]) & set(overlaps[c2]):
                    s.merge_into(c1, c2)
                    adjacent.pop(k + 1)
                else:
                    k += 1

        # insert_empty_cells_from_map walk: map incoming cells onto the
        # ref series positions; leftovers fail the expansion
        slots: list[int] = []
        gi = 0
        for k in range(len(stripes)):
            b = stripes[k]
            if gi < len(adjacent) and b is not None:
                i = adjacent[gi]
                if _is_olap(b[g_lo], b[g_hi], c_lo[i], c_hi[i],
                            s.cfg.min_cell_overlap):
                    slots.append(i)
                    gi += 1
                    continue
            slots.append(-1)
        if gi < len(adjacent):
            return False  # ValueError path: not actually part of table
        slots = [i if i != -1 else s.add_empty() for i in slots]

        if d == N:
            self._insert_row(0, slots)
        elif d == S:
            self._insert_row(self.n_rows, slots)
        elif d == W:
            for r, i in enumerate(slots):
                self.cells[r].insert(0, i)
        else:
            for r, i in enumerate(slots):
                self.cells[r].append(i)
        for i in adjacent:
            self.potential.remove(i)
        return True

    def expand_all(self) -> None:
        """Fixpoint over the configured directions (table.py:259-267)."""
        dirs = [{"N": N, "W": W, "S": S, "E": E}[name]
                for name in self.store.cfg.table_expansion_directions]
        cache: dict = {}
        expanded = True
        while expanded:
            expanded = False
            for d in dirs:
                if self.expand(d, cache):
                    cache.clear()
                    expanded = True
