"""New (default) extraction path: neighbor-relative type inference,
cleanup, timetable normalization and CSV export over ``table_grid``.

Reference seats (under /root/reference/src/pdf2gtfs/):
- relative indicators       datastructures/table/celltype.py:297-833
- inference sweep           table.py:735-746 (column-major, stateful)
- cleanup                   table.py:748-856
- to_timetable              table.py:624-733
- CSV export                table.py:438-462
- page orchestration        reader.py:150-318

The sweep is deliberately sequential per cell (the reference's results
depend on already-inferred strict types of earlier cells); everything
it consults (strict types, membership, first-non-empty neighbors) is
maintained as numpy arrays so each query is an O(row/col) slice, and
the whole sweep stays inside the per-turn Arrow kernel.
"""

from __future__ import annotations

import functools
import math
from typing import Optional

import numpy as np

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel import celltypes as ct
from pdf2gtfs_spark.kernel.celltypes import (
    DAYS, EMPTY, ENTRY_ANNOT_IDENT, ENTRY_ANNOT_VALUE, LEGEND_IDENT,
    LEGEND_VALUE, OTHER, REPEAT_IDENT, REPEAT_VALUE, ROUTE_ANNOT_IDENT,
    ROUTE_ANNOT_VALUE, STOP, STOP_ANNOT, TIME, TIME_ANNOT, TYPE_NAMES,
    is_repeat_value_text,
)
from pdf2gtfs_spark.kernel.extract import (
    TableResult, bbox_is_indented, detect_connections, get_stop_base_name,
    interval_str_to_int_list, put_stop_value, text_starts_with_delimiter,
)
from pdf2gtfs_spark.kernel.table_grid import (
    E, Grid, H, N, S, V, W, _is_olap,
)

_DIRS = (N, S, W, E)
_STEP = {N: (-1, 0), S: (1, 0), W: (0, -1), E: (0, 1)}


@functools.lru_cache(maxsize=65536)
def _letter_count(text: str) -> int:
    return sum(ch.isalpha() or ch == " " for ch in text)


# lowered header/negative-header sets per header-config value
_HEADER_CACHE: dict = {}


@functools.lru_cache(maxsize=65536)
def _part_of_days_cached(days_str: str, text: str) -> Optional[tuple]:
    words = days_str.split()
    n = len(words)
    for length in range(n, 0, -1):
        for s0 in range(n - length, -1, -1):
            if " ".join(words[s0:s0 + length]) == text:
                start = sum(len(w) + 1 for w in words[:s0])
                end = sum(len(w) + 1 for w in words[:s0 + length]) - 1
                return start, end
    return None


class Typer:
    """Type-inference state for one Grid (mirrors CellType instances)."""

    def __init__(self, grid: Grid) -> None:
        self.g = grid
        self.s = grid.store
        self.refresh()

    def refresh(self) -> None:
        """Rebuild every per-sweep array with store-level numpy gathers
        (no per-cell Python loops; VERDICT r2 #3)."""
        import warnings

        g, s = self.g, self.s
        R, C = g.n_rows, g.n_cols
        idx = np.asarray(g.cells, dtype=np.int64)          # (R, C)
        n = len(s.text)
        # resolve duplicates' pending lazy guesses from CURRENT text —
        # this is the repo's infer_cell_types moment (table.py:746),
        # where the reference's fresh duplicate Cells run their first
        # guess_type, after expand-merges mutated their text.  ONLY
        # cells of THIS grid: the store is shared across grids, and a
        # later grid's potential duplicates must stay pending until
        # their own expand-merges finish (sweep seed 50713: resolving
        # the whole store at grid 0's TypedTable froze '5:45' pre-merge
        # for grid 2's '5:45 *6.02').
        P = s.P
        for row in g.cells:
            for i in row:
                if P[i] is None:
                    s._ensure_P(i)
        nan_row = np.full(ct.N_TYPES, np.nan)
        Pm = (np.stack([p if p is not None else nan_row for p in s.P])
              if n else np.zeros((0, ct.N_TYPES)))
        fb = np.asarray([bool(v) for v in s.fallback], dtype=bool)
        inferred = np.fromiter(
            (-1 if v is None else v for v in s.inferred),
            count=n, dtype=np.int64)
        # strict type per store cell: inferred if set, else the
        # rank-vector argmax (celltypes.strict_guess == strict_type)
        store_strict = ct.strict_guess(Pm, fb)
        nanm = np.isnan(Pm)          # shared with the memb gather below
        store_strict[nanm.all(axis=1)] = OTHER
        has_inf = inferred >= 0
        store_strict[has_inf] = inferred[has_inf]
        self.strict = store_strict[idx]
        self.empty = np.asarray(s.is_empty, dtype=bool)[idx]
        # padding cells that do not exist in the reference's cell
        # chains (merge-quirk shadow/short padding): excluded from
        # counts, series masks, direct-neighbor lookups and the sweep
        if g.absent_cells:
            self.absent = np.isin(
                idx, np.fromiter(g.absent_cells, dtype=np.int64))
        else:
            self.absent = np.zeros((R, C), dtype=bool)
        # O(1) series-type lookups: per-row/col strict-type counts,
        # kept incrementally up to date by _set_strict during sweeps.
        # One flattened bincount per axis instead of R+C small ones.
        # Absent padding is diverted to a scratch bucket and dropped.
        nt = ct.N_TYPES
        strict_cnt = np.where(self.absent, nt, self.strict)
        self._rc = np.bincount(
            (strict_cnt + np.arange(R)[:, None] * (nt + 1)).ravel(),
            minlength=R * (nt + 1)).reshape(R, nt + 1)[:, :nt]
        self._cc = np.bincount(
            (strict_cnt + np.arange(C)[None, :] * (nt + 1)).ravel(),
            minlength=C * (nt + 1)).reshape(C, nt + 1)[:, :nt]
        # per-cell bbox cache; EmptyCell bboxes derive from the col
        # x-stripe + row y-stripe (store coords are NaN at empties, so
        # nanmin/nanmax ARE the stripe unions); geometry is static
        # during a sweep
        X0 = np.asarray(s.x0, dtype=float)[idx]
        Y0 = np.asarray(s.y0, dtype=float)[idx]
        X1 = np.asarray(s.x1, dtype=float)[idx]
        Y1 = np.asarray(s.y1, dtype=float)[idx]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            cs_x0 = np.nanmin(X0, axis=0)
            cs_x1 = np.nanmax(X1, axis=0)
            rs_y0 = np.nanmin(Y0, axis=1)
            rs_y1 = np.nanmax(Y1, axis=1)
        # four broadcasting writes instead of two (R, C, 4) stacks +
        # a where (refresh is ~20% of the kernel; measured per block)
        emp2 = self.empty
        bbox = np.empty((R, C, 4))
        bbox[:, :, 0] = np.where(emp2, cs_x0[None, :], X0)
        bbox[:, :, 1] = np.where(emp2, rs_y0[:, None], Y0)
        bbox[:, :, 2] = np.where(emp2, cs_x1[None, :], X1)
        bbox[:, :, 3] = np.where(emp2, rs_y1[:, None], Y1)
        self.bbox_arr = bbox
        # first-non-empty neighbor index per direction (emptiness is
        # static during a sweep; mutators call refresh())
        rows_i = np.broadcast_to(np.arange(R)[:, None], (R, C))
        cols_i = np.broadcast_to(np.arange(C)[None, :], (R, C))
        ne = ~self.empty
        accN = np.maximum.accumulate(np.where(ne, rows_i, -1), axis=0)
        fneN = np.vstack([np.full((1, C), -1), accN[:-1]])
        accS = np.minimum.accumulate(
            np.where(ne, rows_i, R)[::-1], axis=0)[::-1]
        fneS = np.vstack([accS[1:], np.full((1, C), R)])
        fneS = np.where(fneS == R, -1, fneS)
        accW = np.maximum.accumulate(np.where(ne, cols_i, -1), axis=1)
        fneW = np.hstack([np.full((R, 1), -1), accW[:, :-1]])
        accE = np.minimum.accumulate(
            np.where(ne, cols_i, C)[:, ::-1], axis=1)[:, ::-1]
        fneE = np.hstack([accE[:, 1:], np.full((R, 1), C)])
        fneE = np.where(fneE == C, -1, fneE)
        self._fne = np.stack([fneN, fneS, fneW, fneE],
                             axis=2).astype(np.int32)
        # static per-sweep primitives for the vectorized REL helpers:
        # type-membership matrix, text length / letter counts.
        self.memb = ~nanm[idx]
        lens = np.fromiter((len(t) for t in s.text),
                           count=n, dtype=np.int32)
        # letter counting is a per-char Python scan; texts repeat
        # heavily across cells/turns (headers, day names, shared
        # payload mix), so memoize module-wide instead of rescanning
        # every refresh
        lets = np.fromiter((_letter_count(t) for t in s.text),
                           count=n, dtype=np.int32)
        self._len = lens[idx]
        self._let = lets[idx]
        # Python-list mirrors of the per-cell arrays read in the
        # sweep's per-cell hot path (infer_cell and the REL helpers'
        # scalar probes).  numpy scalar indexing costs ~5x a list
        # access; the sweep touches each cell O(types x dirs) times, so
        # the mirrors cut ~25% off the whole kernel (measured, r5).
        # The numpy originals stay authoritative for every vectorized
        # path; _set_strict keeps the strict mirror in sync.
        self._P_py = Pm.tolist()                # store-level rows
        self._strict_l = self.strict.tolist()   # (R, C)
        self._absent_l = self.absent.tolist()   # (R, C)
        self._memb_l = self.memb.tolist()       # (R, C, N_TYPES)
        self._fne_l = self._fne.tolist()        # (R, C, 4)
        # series-level results depend only on static state + which
        # rows/cols contain a strict Time cell; they are cached until a
        # sweep assignment flips Time membership anywhere (_ver bump)
        self._ver = 0
        self._cache: dict = {}

    def _set_strict(self, r: int, c: int, t: int) -> None:
        old = self._strict_l[r][c]
        if old == t:
            return
        self.strict[r, c] = t
        self._strict_l[r][c] = t
        self._rc[r, old] -= 1
        self._rc[r, t] += 1
        self._cc[c, old] -= 1
        self._cc[c, t] += 1
        if old == TIME or t == TIME:
            self._ver += 1          # invalidate Time-mask-derived caches

    # -- primitive queries -------------------------------------------------

    def member(self, r: int, c: int, t: int) -> bool:
        return self._memb_l[r][c][t]

    def direct(self, r: int, c: int, d: int) -> Optional[tuple]:
        dr, dc = _STEP[d]
        nr, nc = r + dr, c + dc
        if 0 <= nr < self.g.n_rows and 0 <= nc < self.g.n_cols \
                and not self._absent_l[nr][nc]:
            return nr, nc
        return None

    def first_nonempty(self, r: int, c: int, d: int) -> Optional[tuple]:
        k = self._fne_l[r][c][d]
        if k < 0:
            return None
        return (k, c) if d in (N, S) else (r, k)

    def row_has(self, r: int, t: int) -> bool:
        return bool(self._rc[r, t] > 0)

    def col_has(self, c: int, t: int) -> bool:
        return bool(self._cc[c, t] > 0)

    def neighbor_has(self, r: int, c: int, t: int, direct: bool = False,
                     dirs: tuple = _DIRS) -> bool:
        """cell_neighbor_has_type (celltype.py:338-354): strict check;
        direct=True looks at adjacent slots (EmptyCells count and fail),
        direct=False skips EmptyCells."""
        for d in dirs:
            pos = (self.direct(r, c, d) if direct
                   else self.first_nonempty(r, c, d))
            if pos is not None and self._strict_l[pos[0]][pos[1]] == t:
                return True
        return False

    def is_between(self, r: int, c: int, t: int) -> bool:
        """cell_is_between_type (celltype.py:372-392): DIRECT neighbors
        on either axis both strictly of type t (the docstring claims
        empties are skipped; the code passes allow_empty=True)."""
        sl = self._strict_l
        for d_lo, d_hi in ((N, S), (W, E)):
            lo, hi = self.direct(r, c, d_lo), self.direct(r, c, d_hi)
            if (lo is not None and sl[lo[0]][lo[1]] == t
                    and hi is not None and sl[hi[0]][hi[1]] == t):
                return True
        return False

    # -- series helpers (celltype.py:436-704) -------------------------------

    def _series(self, r: int, c: int, o: int) -> list[tuple]:
        if o == H:
            return [(r, k) for k in range(self.g.n_cols)]
        return [(k, c) for k in range(self.g.n_rows)]

    def _normal_series_has_time(self, r: int, c: int, o: int) -> bool:
        """series_contains_type(cell, o.normal, Time) for a member of an
        o-series: o=H -> check the cell's column, o=V -> its row."""
        return self.col_has(c, TIME) if o == H else self.row_has(r, TIME)

    def _time_mask(self, o: int) -> np.ndarray:
        """Positions of an o-series whose normal series contains a
        strict Time cell: o=H filters columns, o=V filters rows."""
        if o == H:
            return self._cc[:, TIME] > 0
        return self._rc[:, TIME] > 0

    def time_aligned_non_empty(self, r: int, c: int, o: int,
                               cell_type: int,
                               neighbor_type: Optional[int]) -> bool:
        """time_aligned_cells_are_non_empty (celltype.py:436-480),
        vectorized over the series; cached per (o, series, types) until
        a sweep assignment changes Time membership."""
        idx = r if o == H else c
        key = ("tane", o, idx, cell_type, neighbor_type)
        hit = self._cache.get(key)
        if hit is not None and hit[0] == self._ver:
            return hit[1]
        need = 2 if neighbor_type is not None else 1
        mask = self._time_mask(o)
        mask = mask & ~(self.absent[r, :] if o == H
                        else self.absent[:, c])
        if o == H:
            emp = self.empty[r, :]
            ne = mask & ~emp
            ok = bool(self.memb[r, ne, cell_type].all())
            em_idx = np.nonzero(mask & emp)[0]
            dirs, fne = (0, 1), self._fne[r, :, :]     # N, S
        else:
            emp = self.empty[:, c]
            ne = mask & ~emp
            ok = bool(self.memb[ne, c, cell_type].all())
            em_idx = np.nonzero(mask & emp)[0]
            dirs, fne = (2, 3), self._fne[:, c, :]     # W, E
        if ok and em_idx.size:
            correct = np.zeros(em_idx.size, dtype=np.int8)
            for d in dirs:
                k = fne[em_idx, d]
                valid = k >= 0
                kv = k[valid]
                if o == H:
                    m = self.memb[kv, em_idx[valid], TIME]
                    if neighbor_type is not None:
                        m = m | self.memb[kv, em_idx[valid], neighbor_type]
                else:
                    m = self.memb[em_idx[valid], kv, TIME]
                    if neighbor_type is not None:
                        m = m | self.memb[em_idx[valid], kv, neighbor_type]
                correct[valid] += m
            ok = bool((correct >= need).all())
        self._cache[key] = (self._ver, ok)
        return ok

    def series_is_aligned(self, r: int, c: int, o: int,
                          max_disp: float = 0.5) -> bool:
        """series_is_aligned (celltype.py:483-504); EmptyCells use their
        derived bbox. Vectorized + Time-mask cached."""
        idx = r if o == H else c
        key = ("sia", o, idx)
        hit = self._cache.get(key)
        if hit is not None and hit[0] == self._ver:
            return hit[1]
        mask = self._time_mask(o)
        mask = mask & ~(self.absent[r, :] if o == H
                        else self.absent[:, c])
        if o == H:
            coords = self.bbox_arr[r, mask, 1]
        else:
            coords = self.bbox_arr[mask, c, 0]
        coords = coords[~np.isnan(coords)]
        ok = True if coords.size == 0 \
            else bool(max_disp >= coords.max() - coords.min())
        self._cache[key] = (self._ver, ok)
        return ok

    def _aligned_stats(self, r: int, c: int, o: int) -> tuple:
        """(n_texts, total_len, total_letters) over the non-empty,
        time-aligned members of the o-series (the _aligned_texts
        aggregate, without materializing the texts)."""
        idx = r if o == H else c
        key = ("ast", o, idx)
        hit = self._cache.get(key)
        if hit is not None and hit[0] == self._ver:
            return hit[1]
        mask = self._time_mask(o)
        if o == H:
            sel = mask & ~self.empty[r, :]
            lens, lets = self._len[r, sel], self._let[r, sel]
        else:
            sel = mask & ~self.empty[:, c]
            lens, lets = self._len[sel, c], self._let[sel, c]
        res = (int(lens.size), int(lens.sum()), int(lets.sum()))
        self._cache[key] = (self._ver, res)
        return res

    def aligned_avg_len(self, r, c, o) -> float:
        n, total, _ = self._aligned_stats(r, c, o)
        if n == 0:
            return 1.0
        return total / n

    def aligned_letter_ratio(self, r, c, o) -> float:
        _, total, letters = self._aligned_stats(r, c, o)
        if total == 0:
            return 0.0
        return letters / total

    # -- relative indicators (celltype.py:507-833) ---------------------------

    def rel_stop(self, r: int, c: int) -> float:
        if self.is_between(r, c, TIME):
            return 0.0
        col_time = self.col_has(c, TIME)
        row_time = self.row_has(r, TIME)
        if (col_time + row_time) % 2 == 0:
            return 0.0
        o = H if col_time else V
        mean_len = self.aligned_avg_len(r, c, o)
        if math.floor(math.log2(mean_len)) \
                < self.s.cfg.stop_min_mean_normed_length:
            return 0.0
        if self.aligned_letter_ratio(r, c, o) < self.s.cfg.stop_letter_ratio:
            return 0.0
        score = 1.0
        if col_time:
            if not self.time_aligned_non_empty(r, c, H, STOP, STOP):
                return 0.0
            score += self.series_is_aligned(r, c, H)
            score += self.row_has(r, STOP)
            score += self.neighbor_has(r, c, STOP_ANNOT, dirs=(N, S))
        else:
            if not self.time_aligned_non_empty(r, c, V, STOP, STOP):
                return 0.0
            score += self.series_is_aligned(r, c, V)
            score += self.col_has(c, STOP)
            score += self.neighbor_has(r, c, STOP_ANNOT, dirs=(W, E))
        return score

    def rel_stop_annot(self, r: int, c: int) -> float:
        col_time = self.col_has(c, TIME)
        row_time = self.row_has(r, TIME)
        if (col_time + row_time) % 2 == 0:
            return 0.0
        score = 1.0
        if col_time:
            if not self.time_aligned_non_empty(r, c, H, STOP_ANNOT, None):
                return 0.0
            score += self.neighbor_has(r, c, STOP, dirs=(N, S))
            score += self.neighbor_has(r, c, STOP_ANNOT, dirs=(W, E))
        else:
            if not self.time_aligned_non_empty(r, c, V, STOP_ANNOT, None):
                return 0.0
            score += self.neighbor_has(r, c, STOP, dirs=(W, E))
            score += self.neighbor_has(r, c, STOP_ANNOT, dirs=(N, S))
        return score

    def rel_time_annot(self, r: int, c: int) -> float:
        if not self.neighbor_has(r, c, TIME, direct=True):
            return 0.0
        sizes = []
        for d in _DIRS:
            pos = self.first_nonempty(r, c, d)
            if pos is not None \
                    and self._strict_l[pos[0]][pos[1]] == TIME:
                sizes.append(self.s.fontsize[self.g.cells[pos[0]][pos[1]]])
        if not sizes:
            return 0.0
        own = self.s.fontsize[self.g.cells[r][c]]
        return float(own <= sum(sizes) / len(sizes))

    def rel_repeat_ident(self, r: int, c: int) -> float:
        if not self.is_between(r, c, TIME):
            return 0.0
        return 1.0 + self.neighbor_has(r, c, REPEAT_VALUE, direct=True)

    def rel_repeat_value(self, r: int, c: int) -> float:
        if not is_repeat_value_text(self.s.text[self.g.cells[r][c]]):
            return 0.0
        avg = (self.is_between(r, c, TIME)
               + self.is_between(r, c, REPEAT_IDENT)) / 2
        return (avg == 1.0) * 2.0

    def rel_entry_annot_value(self, r: int, c: int) -> float:
        mod = 0
        if self.col_has(c, ENTRY_ANNOT_IDENT):
            mod += self.row_has(r, TIME) - self.col_has(c, STOP)
        elif self.row_has(r, ENTRY_ANNOT_IDENT):
            mod += self.col_has(c, TIME) - self.row_has(r, STOP)
        return mod * 2

    def rel_route_annot_value(self, r: int, c: int) -> float:
        col_time = self.col_has(c, TIME)
        row_time = self.row_has(r, TIME)
        if (col_time + row_time) % 2 == 0:
            return 0.0
        if col_time and not self.row_has(r, ROUTE_ANNOT_IDENT):
            return 0.0
        if row_time and not self.col_has(c, ROUTE_ANNOT_IDENT):
            return 0.0
        o = H if col_time else V
        return float(math.floor(math.log2(self.aligned_avg_len(r, c, o)))
                     < 3)

    def rel_time(self, r: int, c: int) -> float:
        return float(self.neighbor_has(r, c, TIME))

    # Days (O5 longest-substring-first; celltype.py:730-818) ---------------

    def _part_of_days(self, words: list[str], text: str
                      ) -> Optional[tuple]:
        """part_of_days_indexes: the longest (then right-most) word
        sub-sequence matching text, as char-index (start, end) over the
        full days string. Pure in (words, text) -> memoized module-wide
        (header/day texts repeat across cells and turns)."""
        return _part_of_days_cached(" ".join(words), text)

    def rel_days(self, r: int, c: int) -> float:
        cfg = self.s.cfg
        text = self.s.text[self.g.cells[r][c]].lower()
        # lowered header/negative sets are pure in the header config —
        # cache them (rebuilding per probed cell dominated rel_days);
        # keyed by value, so id() reuse after GC cannot alias configs
        key = (tuple(cfg.header_values),
               tuple(cfg.negative_header_values))
        cached = _HEADER_CACHE.get(key)
        if cached is None:
            lowered = [k.lower() for k in cfg.header_values]
            cached = ({v.lower() for v in cfg.negative_header_values},
                      lowered,
                      [(h, " ".join(h.split())) for h in lowered])
            _HEADER_CACHE[key] = cached
        negatives, headers, header_pairs = cached
        if text in negatives:
            return 0.0
        if text in headers:
            return 10.0
        candidates = []
        for days, days_norm in header_pairs:
            idx = _part_of_days_cached(days_norm, text)
            if idx is not None:
                candidates.append((days, idx[0], idx[1]))
        if not candidates:
            return 0.0
        for days, start, end in candidates:
            words = days.split()
            if not self._days_chain(r, c, words, start, W):
                continue
            if not self._days_chain(r, c, words, end, E,
                                    total=len(days)):
                continue
            return 10.0
        return 0.0

    def _days_chain(self, r: int, c: int, words: list[str],
                    pos: int, d: int, total: Optional[int] = None) -> bool:
        """check_left_neighbors / check_right_neighbors: non-empty
        neighbors must tile the rest of the days string exactly."""
        cur = (r, c)
        if d == W:
            while pos > 0:
                cur = self.first_nonempty(cur[0], cur[1], W)
                if cur is None or not self.member(cur[0], cur[1], DAYS):
                    return False
                t = self.s.text[self.g.cells[cur[0]][cur[1]]].lower()
                idx = self._part_of_days(words, t)
                if idx is None or idx[1] != pos - 1:
                    return False
                pos = idx[0]
            return True
        while pos < total - 1:
            cur = self.first_nonempty(cur[0], cur[1], E)
            if cur is None or not self.member(cur[0], cur[1], DAYS):
                return False
            t = self.s.text[self.g.cells[cur[0]][cur[1]]].lower()
            idx = self._part_of_days(words, t)
            if idx is None or idx[0] != pos + 1:
                return False
            pos = idx[1]
        return True

    # -- the sweep (table.py:735-746, celltype.py:83-106) -------------------

    _REL = {
        TIME: rel_time, DAYS: rel_days, STOP: rel_stop,
        STOP_ANNOT: rel_stop_annot, TIME_ANNOT: rel_time_annot,
        ENTRY_ANNOT_VALUE: rel_entry_annot_value,
        ROUTE_ANNOT_VALUE: rel_route_annot_value,
        REPEAT_IDENT: rel_repeat_ident, REPEAT_VALUE: rel_repeat_value,
    }

    def infer_cell(self, r: int, c: int) -> None:
        i = self.g.cells[r][c]
        s = self.s
        if s.is_empty[i]:
            return
        order = (ct.FALLBACK_ORDER if s.fallback[i] else ct.ABS_ORDER)
        row = self._P_py[i]         # python floats; see refresh()
        rel_list = self._REL_LIST   # type-indexed REL dispatch
        best_t, best_v = None, -math.inf
        isnan = math.isnan
        for t in order:
            p = row[t]
            if isnan(p):
                continue
            if t == OTHER:
                mult = 0.1
            else:
                fn = rel_list[t]
                mult = fn(self, r, c) if fn is not None else p
            if not mult:
                continue
            score = mult * p
            if score > best_v:
                best_t, best_v = t, score
        if best_t is None:
            best_t = OTHER
        s.inferred[i] = best_t
        self._set_strict(r, c, best_t)

    def infer_all(self) -> None:
        """Column-major sweep; each cell sees earlier cells' inferred
        types (order-dependence is reference behavior).  Absent
        padding is not a cell — the reference never visits it."""
        for c in range(self.g.n_cols):
            for r in range(self.g.n_rows):
                if not self._absent_l[r][c]:
                    self.infer_cell(r, c)


# type-indexed REL dispatch (list index beats dict hash in the sweep)
Typer._REL_LIST = [Typer._REL.get(t) for t in range(ct.N_TYPES)]

# ---------------------------------------------------------------------------
# cleanup (table.py:748-856)
# ---------------------------------------------------------------------------

def find_stops(ty: Typer) -> tuple[int, list[tuple[int, tuple]]]:
    """find_stops (table.py:713-733): (orientation, [(series_idx, (r,c))])."""
    g = ty.g

    def _find(o: int) -> list[tuple]:
        # the H scan starts from the left COLUMN (enumerated rows
        # only); the V series walk down a column INCLUDES shadow rows
        # (reference _find_stops walks links, table.py:713-733)
        outer = g.n_cols if o == V else g.n_enum_rows
        for k in range(outer):
            series = ([(r, (r, k)) for r in range(g.n_rows)] if o == V
                      else [(c, (k, c)) for c in range(g.n_cols)])
            hits = [(i, pos) for i, pos in series
                    if ty.strict[pos] == STOP]
            if hits:
                return hits
        return []

    v_stops = _find(V)
    h_stops = _find(H)
    return (V, v_stops) if len(v_stops) > len(h_stops) else (H, h_stops)


def merge_stops(ty: Typer, o: int, stops: list[tuple]) -> None:
    """Consecutive stop cols/rows merge (table.py:759-776)."""
    g, s = ty.g, ty.s
    while True:
        if not stops:
            return
        ok = True
        for _, (r, c) in stops:
            pos = ty.direct(r, c, E if o == V else S)
            if pos is None or ty.strict[pos] not in (STOP, EMPTY):
                ok = False
                break
        if not ok:
            return
        if o == V:
            c = stops[0][1][1]
            for r in range(g.n_rows):
                s.merge_into(g.cells[r][c], g.cells[r][c + 1])
            for row in g.cells:
                row.pop(c + 1)
        else:
            r = stops[0][1][0]
            for c in range(g.n_cols):
                s.merge_into(g.cells[r][c], g.cells[r + 1][c])
            g.cells.pop(r + 1)
        ty.refresh()


def fix_stop_abbreviations(ty: Typer, stops: list[tuple]) -> None:
    """fix_stop_abbreviation walk (table.py:58-66, 778-786)."""
    if not stops:
        return
    g, s = ty.g, ty.s
    cells = [g.cells[r][c] for _, (r, c) in stops]
    ref = cells[0]
    for i in cells[1:]:
        starts_delim = text_starts_with_delimiter(s.text[i])
        indented = bbox_is_indented(s.x0[ref], s.x0[i])
        if not starts_delim and not indented:
            ref = i
            continue
        text = s.text[i][1:].strip() if starts_delim else s.text[i]
        s.text[i] = get_stop_base_name(s.text[ref]) + text


def merge_consecutive_days(ty: Typer) -> None:
    """W10 (table.py:787-802): absorb following Days cells.

    Reference quirk mirrored here: replace_cell on a row's LAST cell
    does not remove it — set_neighbor's insert semantics leave the old
    cell dangling after the fresh EmptyCell (see Grid.tails). When the
    absorbed cell sits in the last column, it therefore stays visible
    at the row's end. (If the merged text never reaches a
    header_values entry, the reference would then re-absorb the same
    dangling cell forever — an infinite loop; we break instead, the
    one deliberate divergence.)
    """
    g, s = ty.g, ty.s
    headers = {k.lower() for k in s.cfg.header_values}
    for r in range(g.n_rows):
        for c in range(g.n_cols):
            if ty.strict[r, c] != DAYS or ty.empty[r, c]:
                continue
            i = g.cells[r][c]
            while s.text[i].lower() not in headers:
                pos = ty.first_nonempty(r, c, E)
                if pos is None or ty.strict[pos] != DAYS:
                    break
                j = g.cells[pos[0]][pos[1]]
                s.text[i] += " " + s.text[j]
                g.cells[pos[0]][pos[1]] = s.add_empty()
                if pos[1] == g.n_cols - 1:
                    # absorbed the row's last cell -> it dangles at the
                    # row end in the reference's pointer walk
                    g.tails.setdefault(pos[0], []).append(j)
                    ty.refresh()
                    break
                # emptiness changed -> neighbor index/count caches must
                # rebuild before the next first_nonempty walk
                ty.refresh()


def days_rows(ty: Typer) -> list[list[tuple]]:
    """of_type(T.Days, H): per-row lists of strict-Days positions."""
    out = []
    for r in range(ty.g.n_rows):
        row = [(r, c) for c in range(ty.g.n_cols)
               if ty.strict[r, c] == DAYS]
        if row:
            out.append(row)
    return out


def remove_duplicate_days(ty: Typer, ref: Optional["TypedTable"]) -> None:
    """remove_duplicate_days(H, ref) (table.py:810-856)."""
    if ref is None:
        return
    g, s = ty.g, ty.s
    days = days_rows(ty)
    if len(days) == 1:
        return
    ref_days_list = days_rows(ref.typer)
    ref_days = ref_days_list[0] if ref_days_list else []
    if not days:
        if ref_days and g.potential is not None:
            g.potential += [s.duplicate(ref.grid.cells[r][c])
                            for (r, c) in ref_days]
            g.expand_all()
            # the reference does NOT re-infer here; the new cells keep
            # their guessed types (table.py:836-840)
            ty.refresh()
        return
    if not ref_days:
        return
    r0, c0 = ref_days[0]
    first = r0 < ref.grid.n_rows / 2
    invalid = days[1:] if first else days[:-1]
    for row in invalid:
        for (r, c) in row:
            i = g.cells[r][c]
            s.P[i][DAYS] = math.nan
            s.inferred[i] = None
            ty.infer_cell(r, c)


class TypedTable:
    """One table after expansion: grid + inference state."""

    def __init__(self, grid: Grid) -> None:
        self.grid = grid
        self.typer = Typer(grid)

    def cleanup(self, ref: Optional["TypedTable"]) -> None:
        """table.py:748-808."""
        ty = self.typer
        ty.infer_all()
        merge_stops(ty, *find_stops(ty))
        fix_stop_abbreviations(ty, find_stops(ty)[1])
        merge_consecutive_days(ty)
        remove_duplicate_days(ty, ref)

    # -- CSV (table.py:438-462, F6 blanking) ------------------------------

    def to_csv(self) -> str:
        g, s, ty = self.grid, self.grid.store, self.typer
        bad = (OTHER, LEGEND_IDENT, LEGEND_VALUE)
        lines = []
        stext = s.text
        for r in range(g.n_enum_rows):
            texts = []
            row = g.cells[r]
            srow = ty._strict_l[r]       # list mirror: ~5x faster than
            for c in range(g.short_rows.get(r, g.n_cols)):  # np scalar
                if srow[c] in bad:
                    texts.append("")
                    continue
                t = stext[row[c]].replace('"', "")
                texts.append(f'"{t}"' if "," in t else t)
            for i in g.tails.get(r, ()):     # ragged row tails (quirk)
                if s.strict_type(i) in bad:
                    texts.append("")
                    continue
                t = s.text[i].replace('"', "")
                texts.append(f'"{t}"' if "," in t else t)
            if any(texts):
                lines.append(",".join(texts))
        return "\n".join(lines) + "\n"

    # -- timetable (table.py:624-711) --------------------------------------

    def to_timetable(self, table_id: int,
                     cfg: ExtractConfig) -> tuple[list[dict], list[dict]]:
        g, s, ty = self.grid, self.grid.store, self.typer
        o, stops = find_stops(ty)
        if len(stops) < 3:
            return [], []

        stop_rows = [i for i, _ in stops]          # series indices
        stop_texts = [s.text[g.cells[r][c]] for _, (r, c) in stops]
        is_conn = detect_connections(stop_texts, cfg)
        stop_names = [t.strip() for t in stop_texts]
        stop_annots = [""] * len(stops)     # evolves during the walk
        pos_of_series = {k: p for p, k in enumerate(stop_rows)}

        # entries are sized from the first row / left column —
        # ENUMERATED rows only (table.py:694); the stop-axis walk also
        # starts from the left column, so shadow rows are never read
        # here (reference typed-shadow reads crash instead,
        # table.py:648/655)
        n_entries = g.n_cols if o == V else g.n_enum_rows
        entries = [{
            "kind": None, "values": [], "days": [], "days_text": "",
            "annotations": set(), "route_name": "", "repeat_texts": [],
        } for _ in range(n_entries)]
        valid = set()

        outer = g.n_enum_rows if o == V else g.n_cols
        for k in range(outer):           # stop axis position
            for e_id in range(n_entries):
                r, c = (k, e_id) if o == V else (e_id, k)
                t = ty.strict[r, c]
                text = s.text[g.cells[r][c]]
                ent = entries[e_id]
                if t == TIME:
                    # entry.values is the reference's Stop-keyed dict
                    # (put_stop_value); a StopAnnot cell reached after
                    # a value insert leaves that slot's key stale
                    # (merge-split sweep seed 60268)
                    put_stop_value(ent["values"], stop_names, stop_annots,
                                   pos_of_series.get(k), k, text)
                    valid.add(e_id)
                elif t == ENTRY_ANNOT_VALUE:
                    ent["annotations"] = {a.strip() for a in text.split()}
                elif t == DAYS:
                    ent["days_text"] = text
                    dv = cfg.header_values.get(text.lower().strip(), "")
                    ent["days"] = [d for d in dv.split(",") if d]
                elif t == ROUTE_ANNOT_VALUE:
                    ent["route_name"] = text
                elif t == STOP_ANNOT:
                    if k in pos_of_series:
                        stop_annots[pos_of_series[k]] = text
                elif t == REPEAT_VALUE:
                    if not ent["repeat_texts"]:
                        ent["repeat_texts"] = [text]
                        ent["kind"] = "repeat"
                        # reference quirk (table.py:660-666 +
                        # entries.py:120-135): the entry is REPLACED by
                        # TimeTableRepeatEntry.from_entry, which copies
                        # only days + annotations — Time values and the
                        # route name seen BEFORE the first RepeatValue
                        # cell are silently discarded (values in later
                        # rows are kept). Found by sweep seed 31763: a
                        # merged table put Times above the repeat cells
                        # in the same column.
                        ent["values"] = []
                        ent["route_name"] = ""
                    valid.add(e_id)

        stops_records = [{
            "table_id": table_id, "stop_pos": p, "row_idx": r,
            "stop_name": nm, "stop_annot": an, "is_connection": ic,
        } for p, (r, nm, an, ic) in enumerate(
            zip(stop_rows, stop_names, stop_annots, is_conn))]

        # forward-fill days; initial = first entry's days (reference's
        # first_true(..., e.days != []) always picks entries[0])
        prev_days = entries[0]["days"]
        prev_text = entries[0]["days_text"]
        rows = []
        entry_id = -1
        # reference (table.py:701): `for idx in valid_entry_ids` — a raw
        # CPython set-of-int iteration, NOT ascending order.  Small ints
        # hash to themselves, so e.g. {3,5,7,8} iterates 8,3,5,7 (8 sits
        # in slot 0 of the size-8 table); the days forward-fill runs in
        # that same order.  `valid` here is a real set built with the
        # identical insertion sequence, so plain iteration reproduces
        # the reference order exactly (sweep seed 50333).
        for e_id in valid:
            ent = entries[e_id]
            entry_id += 1
            if not ent["days"]:
                ent["days"], ent["days_text"] = prev_days, prev_text
            prev_days, prev_text = ent["days"], ent["days_text"]
            kind = ent["kind"] or "time"
            repeat = None
            if kind == "repeat":
                repeat = interval_str_to_int_list(ent["repeat_texts"][0])
            base = {
                "table_id": table_id, "entry_id": entry_id, "kind": kind,
                "header_text": ent["days_text"],
                "route_name": ent["route_name"],
                "annotations": sorted(ent["annotations"]),
                "days": ent["days"], "repeat_intervals": repeat,
            }
            values = ([slot[1:] for slot in ent["values"]]
                      or [(None, None, None)])
            for p, k, text in values:
                rows.append({
                    **base,
                    "stop_pos": p,
                    "stop_row_idx": k,
                    "stop_name": (stop_names[p]
                                  if p is not None else None),
                    "stop_annot": (stop_annots[p]
                                   if p is not None else None),
                    "is_connection": (bool(is_conn[p])
                                      if p is not None else False),
                    "value": text,
                })
        return rows, stops_records

    def to_result(self, table_id: int, cfg: ExtractConfig,
                  light: bool = False) -> TableResult:
        g, s, ty = self.grid, self.grid.store, self.typer
        if light:
            # text-surface-only callers (emit="csv", the throughput
            # headline) skip the per-cell/entry/stop record build —
            # same contract as the legacy path's light mode
            # (extract.py::_process_table)
            return TableResult(
                csv_text=self.to_csv(), row_types=[], col_types=[],
                cells_records=[], entries_records=[],
                stops_records=[])
        entries_records, stops_records = self.to_timetable(table_id, cfg)
        # ty.bbox_arr already holds every cell bbox (EmptyCells get the
        # col-x/row-y stripe union); geometry-mutating cleanup steps
        # call ty.refresh(), so it is current here
        bboxes = ty.bbox_arr
        recs = []
        for r in range(g.n_enum_rows):
            for c in range(g.n_cols):
                i = g.cells[r][c]
                if i in g.absent_cells:
                    # short-row / shadow PADDING — cells the reference
                    # grid does not have at all; to_csv already
                    # truncates them (short_rows), so the cells
                    # surface must agree (ADVICE r05 #3)
                    continue
                b = bboxes[r, c]
                recs.append({
                    "row_idx": r, "col_idx": c, "text": s.text[i],
                    "row_type": "",
                    "col_type": TYPE_NAMES[ty.strict[r, c]],
                    "x0": b[0], "y0": b[1], "x1": b[2], "y1": b[3]})
        for r, tail in sorted(g.tails.items()):  # ragged row tails
            for k, i in enumerate(tail):
                bb = s.bbox(i)
                recs.append({
                    "row_idx": r, "col_idx": g.n_cols + k,
                    "text": s.text[i], "row_type": "",
                    "col_type": TYPE_NAMES[s.strict_type(i)],
                    "x0": bb[0], "y0": bb[1], "x1": bb[2], "y1": bb[3]})
        return TableResult(
            csv_text=self.to_csv(), row_types=[], col_types=[],
            cells_records=recs, entries_records=entries_records,
            stops_records=stops_records)


# ---------------------------------------------------------------------------
# merge_tables (table.py:899-938, 1261-1308; J4 as-of walk)
# ---------------------------------------------------------------------------

def _row_y(g, r: int, c: int):
    """y-interval of the walk cell: own bbox if real, else the ROW's
    y-range (EmptyCell.bbox, cell.py:402-414 — the x half comes from
    the column but map_tables only ever reads y, so a dense grid that
    dropped the reference's dangling unmapped-row cells still walks
    identically)."""
    s = g.store
    i = g.cells[r][c]
    if not s.is_empty[i]:
        return float(s.y0[i]), float(s.y1[i])
    rs = g.row_stripe(r)
    return None if rs is None else (rs[1], rs[3])


def _walk_rows(g) -> list[int]:
    """Rows visited by the reference's map walk down a boundary
    column: the column CHAIN has no cell where this dense grid holds
    absent padding (short rows, shadow padding), so those rows are
    skipped entirely."""
    last = g.n_cols - 1
    return [i for i in range(g.n_rows)
            if g.cells[i][last] not in g.absent_cells]


def _map_tables(t1: TypedTable, t2: TypedTable) -> list[tuple]:
    """map_tables(t1, t2, V): pair t1's last-column cells with t2's
    first-column cells by v-overlap; one-sided rows map to None."""
    g1, g2 = t1.grid, t2.grid
    rel = g1.store.cfg.min_cell_overlap
    rows1 = _walk_rows(g1)
    i = j = 0
    cmap: list[tuple] = []
    while i < len(rows1) and j < g2.n_rows:
        b1 = _row_y(g1, rows1[i], g1.n_cols - 1)
        b2 = _row_y(g2, j, 0)
        if b1 is None or b2 is None:
            return []
        if _is_olap(b1[0], b1[1], b2[0], b2[1], rel):
            cmap.append((rows1[i], j))
            i += 1
            j += 1
        elif b1[0] < b2[0]:
            cmap.append((rows1[i], None))
            i += 1
        elif b1[0] > b2[0]:
            cmap.append((None, j))
            j += 1
        else:
            return []
    return cmap


def merge_tables(tables: list[TypedTable]) -> list[TypedTable]:
    """merge_tables (table.py:1291-1308): repeatedly merge vertically
    aligned split tables side by side, then re-infer."""
    if len(tables) < 2:
        return tables

    def key(t: TypedTable):
        b = t.grid.bbox() or (0, 0, 0, 0)
        return (b[1], b[0])

    tables = sorted(tables, key=key)
    i1, i2 = 0, 1
    while i1 < len(tables) and i2 < len(tables):
        cmap = _map_tables(tables[i1], tables[i2])
        if not cmap:
            i2 += 1
            if i2 >= len(tables):
                i1 += 1
                i2 = i1 + 1
            continue
        g1, g2 = tables[i1].grid, tables[i2].grid
        s = g1.store
        n_enum1 = g1.n_enum_rows
        rows: list[list[int]] = []
        shadow_rows: list[list[int]] = []
        for r1, r2 in cmap:
            left = (list(g1.cells[r1]) if r1 is not None
                    else [s.add_empty() for _ in range(g1.n_cols)])
            right = (list(g2.cells[r2]) if r2 is not None
                     else [s.add_empty() for _ in range(g2.n_cols)])
            # a map entry anchored on one of g1's own shadow rows
            # extends that row east but leaves it dangling
            (shadow_rows if r1 is not None and r1 >= n_enum1
             else rows).append(left + right)
        # reference merge (table.py:899-938 + map_tables 1262-1288):
        # ONLY tmap rows receive the east extension.  map_tables
        # returns as soon as either column walk exhausts, so t2 rows
        # past the map's end are never linked into t1's left column
        # and VANISH from enumeration (for fully stacked tables the
        # whole lower table is dropped — every entry is (i, None));
        # t1 rows past the map's end stay in the left column as
        # SHORT rows with no east neighbors (padded dense here, see
        # Grid.short_rows).  The dropped t2 rows' cells stay linked
        # below t2's columns, so they keep feeding COLUMN semantics
        # (re-inference, find_stops' V series, later map walks) —
        # kept here as SHADOW rows (Grid.n_shadow).
        mapped1 = {r1 for r1, _ in cmap if r1 is not None}
        mapped2 = {r2 for _, r2 in cmap if r2 is not None}
        short: dict[int, int] = {}
        absent: set[int] = g1.absent_cells | g2.absent_cells

        def _absent_pad(n: int) -> list[int]:
            pad = [s.add_empty() for _ in range(n)]
            absent.update(pad)
            return pad

        for r1 in range(g1.n_rows):     # t1 rows after the map's end
            if r1 in mapped1:
                continue
            padded = list(g1.cells[r1]) + _absent_pad(g2.n_cols)
            if r1 < n_enum1:
                # an already-short row keeps its ORIGINAL width
                short[len(rows)] = g1.short_rows.get(r1, g1.n_cols)
                rows.append(padded)
            else:                       # g1's shadow rows stay shadow
                shadow_rows.append(padded)
        for r2 in range(g2.n_rows):     # dropped t2 rows -> shadow
            if r2 not in mapped2:
                shadow_rows.append(_absent_pad(g1.n_cols)
                                   + list(g2.cells[r2]))
        merged = Grid(s, rows + shadow_rows)
        merged.n_shadow = len(shadow_rows)
        merged.short_rows = short
        merged.absent_cells = absent
        merged.potential = g1.potential
        tt = TypedTable(merged)
        tt.typer.infer_all()
        tables[i1] = tt
        tables.pop(i2)
    return tables


# ---------------------------------------------------------------------------
# per-turn orchestration (reader.py:292-318)
# ---------------------------------------------------------------------------

def tables_from_fields(fields,
                       cfg: ExtractConfig = DEFAULT_CONFIG
                       ) -> list[TypedTable]:
    """create_tables_from_page for one turn's word fields (the kernel's
    columnar ``_Fields`` arrays)."""
    from pdf2gtfs_spark.kernel.table_grid import CellStore

    keep = np.fromiter(
        (not t.startswith("(cid") for t in fields.text),
        count=len(fields.text), dtype=bool)
    if not keep.all():
        fields = fields.take(keep)
    if len(fields.text) == 0:
        return []
    store = CellStore.from_fields(fields, cfg)
    # vectorized strict-type pass for the time/other split (the
    # fresh store has no inferred types yet, so strict == guess)
    Pm = np.stack(store.P)
    strict0 = ct.strict_guess(Pm, np.asarray(store.fallback, dtype=bool))
    strict0[np.isnan(Pm).all(axis=1)] = OTHER
    time_idx = [int(i) for i in np.nonzero(strict0 == TIME)[0]]
    other_idx = [int(i) for i in np.nonzero(strict0 != TIME)[0]]
    if not time_idx:
        return []

    mega = Grid.from_time_cells(store, time_idx)
    pool = list(other_idx)
    mega.insert_repeat_cells(pool)
    grids = mega.max_split(pool)

    # assign_other_cells_to_tables (reader.py:227-289): each bound is
    # the FIRST strictly-non-overlapping neighbour found scanning
    # outward from this table's own position in the axis-sorted order
    # (get_next_lower/get_next_upper) — NOT the extremal bound over all
    # such tables; with side-by-side layouts those differ (sweep seed
    # 50233: the north bound must come from the nearest-by-y0 table,
    # which can end higher than a farther one).  When both bounds of an
    # axis exist, membership switches from exclusion to >=50%-of-min-
    # extent overlap with the spanning strip (bounds.py:190-220).
    boxes = [g.bbox() for g in grids]
    live = [k for k in range(len(grids)) if boxes[k] is not None]
    by_y0 = sorted(live, key=lambda k: boxes[k][1])
    by_y1 = sorted(live, key=lambda k: boxes[k][3])
    by_x0 = sorted(live, key=lambda k: boxes[k][0])
    by_x1 = sorted(live, key=lambda k: boxes[k][2])

    def next_lower(order: list[int], gi: int, lo: int, hi: int):
        idx = order.index(gi)
        for k in order[idx - 1::-1]:
            if boxes[k][hi] < boxes[gi][lo]:
                return boxes[k][hi]
        return None

    def next_upper(order: list[int], gi: int, lo: int, hi: int):
        idx = order.index(gi)
        for k in order[idx + 1:]:
            if boxes[k][lo] > boxes[gi][hi]:
                return boxes[k][lo]
        return None

    def within(lo_b, hi_b, c_lo: float, c_hi: float) -> bool:
        if lo_b is not None and hi_b is not None:
            olap = max(0.0, min(hi_b, c_hi) - max(lo_b, c_lo))
            return olap >= 0.5 * min(hi_b - lo_b, c_hi - c_lo)
        if lo_b is not None and c_hi <= lo_b:
            return False
        if hi_b is not None and c_lo >= hi_b:
            return False
        return True

    for gi, g in enumerate(grids):
        if boxes[gi] is None:
            g.potential = []
            continue
        n_b = next_lower(by_y0, gi, 1, 3)
        s_b = next_upper(by_y1, gi, 1, 3)
        w_b = next_lower(by_x0, gi, 0, 2)
        e_b = next_upper(by_x1, gi, 0, 2)
        g.potential = [store.duplicate(i) for i in pool
                       if within(w_b, e_b, store.x0[i], store.x1[i])
                       and within(n_b, s_b, store.y0[i], store.y1[i])]

    tables: list[TypedTable] = []
    for g in grids:
        g.expand_all()
        tt = TypedTable(g)
        tt.cleanup(tables[0] if tables else None)
        tables.append(tt)
    if cfg.merge_split_tables:
        tables = merge_tables(tables)
    return tables
