"""Probabilistic cell types for the new (default) extraction path.

Reference: /root/reference/src/pdf2gtfs/datastructures/table/celltype.py.
The reference attaches a ``CellType`` object per cell holding a dict of
type->probability; here a turn's cells are typed in one vectorized pass
producing a (n_cells, N_TYPES) probability matrix. Dict-insertion-order
argmax semantics (celltype.py:30-36: Python ``max`` returns the first
maximal item) are reproduced with explicit per-case priority ranks.

Only text-content ("absolute") indicators live here; the
neighbor-relative ("relative") indicators need the grid and live in
``table_grid.py``.
"""

from __future__ import annotations

import re

import numpy as np

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel.timefmt import (
    is_time_str, time_format_to_regex,
)

# Type ids (order is arbitrary but fixed; ties are broken by the rank
# arrays below, never by this order).
TIME = 0
TIME_ANNOT = 1
STOP = 2
STOP_ANNOT = 3
DAYS = 4
REPEAT_IDENT = 5
REPEAT_VALUE = 6
ROUTE_ANNOT_IDENT = 7
ROUTE_ANNOT_VALUE = 8
ENTRY_ANNOT_IDENT = 9
ENTRY_ANNOT_VALUE = 10
LEGEND_IDENT = 11
LEGEND_VALUE = 12
OTHER = 13
EMPTY = 14
N_TYPES = 15

TYPE_NAMES = [
    "Time", "TimeAnnot", "Stop", "StopAnnot", "Days", "RepeatIdent",
    "RepeatValue", "RouteAnnotIdent", "RouteAnnotValue", "EntryAnnotIdent",
    "EntryAnnotValue", "LegendIdent", "LegendValue", "Other", "Empty",
]

# ABS_INDICATORS dict insertion order (celltype.py:281-290); argmax tie
# order for cells where at least one absolute indicator fired.
ABS_ORDER = [TIME, DAYS, REPEAT_IDENT, STOP_ANNOT, ROUTE_ANNOT_IDENT,
             ENTRY_ANNOT_IDENT, LEGEND_IDENT, OTHER]
# ABS_FALLBACK order (celltype.py:292-294) + Other; argmax tie order for
# cells where no indicator fired.
FALLBACK_ORDER = [STOP, ROUTE_ANNOT_VALUE, ENTRY_ANNOT_VALUE, TIME_ANNOT,
                  LEGEND_VALUE, REPEAT_VALUE, DAYS, OTHER]


def _rank_vector(order: list[int]) -> np.ndarray:
    r = np.full(N_TYPES, N_TYPES + 1, dtype=np.int64)
    for i, t in enumerate(order):
        r[t] = i
    return r

ABS_RANK = _rank_vector(ABS_ORDER)
FALLBACK_RANK = _rank_vector(FALLBACK_ORDER)

# Hyphen-like characters (celltype.py:211-231, via jkorpela.fi/dashes).
HYPHEN_LIKE = ("[-­־᠆‐‑‒–—"
               "―⁻₋−⸺⸻﹘﹣－]")

_REPEAT_VALUE_RES = [
    re.compile(r"^\d+$"),
    re.compile(r"^\d+\s?" + HYPHEN_LIKE + r"\s?\d+$"),
    re.compile(r"\d+\s?,\s?\d+$"),
]
_LEGEND_RE = re.compile(r"^\S+\s?[:=]\s?\S+$")


def is_repeat_value_text(text: str) -> bool:
    """celltype.py:234-251 (incl. the documented quirks: '3 - 8' is a
    repeat value, '3  -8' is not)."""
    return any(rx.match(text) for rx in _REPEAT_VALUE_RES)


def is_legend_text(text: str) -> bool:
    """celltype.py:254-261."""
    return bool(_LEGEND_RE.match(text))


class TypeMatchers:
    """Vectorized absolute indicators for one config."""

    def __init__(self, cfg: ExtractConfig = DEFAULT_CONFIG) -> None:
        # per-text memo for guess_list: the guess row is a pure
        # function of (config, text) and real timetables repeat texts
        # heavily (day headers, annotations, times recur across
        # tables/pages), so each distinct text pays the regex/set
        # probes once per matcher. Bounded to keep a long-lived
        # executor process from growing without limit.
        self._guess_memo: dict = {}
        self.time_re, self.time_order = time_format_to_regex(cfg.time_format)
        self.header_keys = frozenset(k.lower() for k in cfg.header_values)
        self.negative_header = frozenset(
            v.lower() for v in cfg.negative_header_values)
        # collapse() of the (start, end) pairs (celltype.py:284)
        self.repeat_idents = frozenset(
            w.lower() for pair in cfg.repeat_identifier for w in pair)
        self.stop_annots = frozenset(
            v.lower() for v in (tuple(cfg.arrival_identifier)
                                + tuple(cfg.departure_identifier)))
        self.route_idents = frozenset(
            v.lower() for v in cfg.route_identifier)
        self.annot_idents = frozenset(
            v.lower() for v in cfg.annot_identifier)

    def guess_list(self, texts: list) -> tuple[np.ndarray, np.ndarray]:
        """CellType.guess_type over a list (celltype.py:48-81).

        Returns (P, fallback) where P is (n, N_TYPES) with NaN for
        types absent from possible_types, probabilities rounded to 3
        decimals exactly like the reference, and fallback marks cells
        where no absolute indicator fired (selects the tie-break rank).
        Scalar predicates beat pandas str ops ~5x at the tens-to-
        hundreds of cells per turn seen here.
        """
        n = len(texts)
        P = np.empty((n, N_TYPES))
        fb = np.zeros(n, dtype=bool)
        memo = self._guess_memo
        for i, t in enumerate(texts):
            hit = memo.get(t)
            if hit is None:
                hit = self._guess_one(t)
                if len(memo) < 200_000:
                    memo[t] = hit
            P[i] = hit[0]           # copy into this store's backing
            fb[i] = hit[1]
        return P, fb

    def _guess_one(self, t: str) -> tuple[np.ndarray, bool]:
        row = np.full(N_TYPES, np.nan)
        fb_p = round(1 / 9, 3)
        fb_other = round(2 / 9, 3)
        tl = t.lower()
        fired = []
        if is_time_str(t, self.time_re, self.time_order):
            fired.append(TIME)
        if tl in self.header_keys:
            fired.append(DAYS)
        if tl in self.repeat_idents:
            fired.append(REPEAT_IDENT)
        if tl in self.stop_annots:
            fired.append(STOP_ANNOT)
        if tl in self.route_idents:
            fired.append(ROUTE_ANNOT_IDENT)
        if tl in self.annot_idents:
            fired.append(ENTRY_ANNOT_IDENT)
        if _LEGEND_RE.match(t):
            fired.append(LEGEND_IDENT)
        if fired:
            div = len(fired) + 0.5
            for ty in fired:
                row[ty] = round(1 / div, 3)
            row[OTHER] = round(0.5 / div, 3)
            return row, False
        for ty in FALLBACK_ORDER:
            row[ty] = fb_p
        row[OTHER] = fb_other
        return row, True

    def guess_one_cached(self, t: str) -> tuple[np.ndarray, bool]:
        """Single-text guess via the memo, without the (1, N_TYPES)
        array round-trip of guess_list — the lazy duplicate-resolve
        path (_ensure_P) calls this tens of times per turn.  The
        returned row is the SHARED memo row; callers must copy."""
        hit = self._guess_memo.get(t)
        if hit is None:
            hit = self._guess_one(t)
            if len(self._guess_memo) < 200_000:
                self._guess_memo[t] = hit
        return hit


def matcher_key(cfg: ExtractConfig) -> str:
    """Cache key over the config VALUES a text matcher reads.  Keyed by
    value, not id(): every Spark task unpickles its own config copy, so
    an id() key would rebuild the matcher (and its per-text memo) per
    task and grow the cache without bound in a reused Python worker."""
    return repr((cfg.time_format, cfg.header_values,
                 cfg.negative_header_values, cfg.repeat_identifier,
                 cfg.arrival_identifier, cfg.departure_identifier,
                 cfg.route_identifier, cfg.annot_identifier))


_MATCHERS_CACHE: dict = {}


def matchers_for(cfg: ExtractConfig) -> TypeMatchers:
    """Shared TypeMatchers per config VALUE: regex compilation, the
    frozenset builds, and — far more importantly — the per-text guess
    memo survive across turns instead of restarting every
    CellStore.from_fields call."""
    key = matcher_key(cfg)
    m = _MATCHERS_CACHE.get(key)
    if m is None:
        m = TypeMatchers(cfg)
        _MATCHERS_CACHE[key] = m
    return m


def strict_guess(P: np.ndarray, fallback: np.ndarray) -> np.ndarray:
    """Argmax over possible_types with dict-insertion-order ties.

    P values are multiples of 0.001 (reference rounds to 3 decimals),
    so scaling by 1e5 dominates any rank in [0, N_TYPES].
    """
    rank = np.where(fallback[:, None], FALLBACK_RANK[None, :],
                    ABS_RANK[None, :])
    score = np.where(np.isnan(P), -np.inf, P * 1e5 - rank)
    return np.argmax(score, axis=1)
