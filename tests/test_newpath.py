"""New (default) extraction path tests.

Ports the reference's truth tables
(test/test_datastructures/test_table/test_celltype.py) and exercises
the grid engine on synthetic layouts shaped like the reference's vag_1
page 3 (3 stacked tables, repeat columns, split days headers). The
reference's own table tests need a real PDF page via pdfminer (absent
here), so structural expectations are pinned on equivalent synthetic
geometry instead, with the reference's counted outcomes as the model.
"""

import dataclasses

import numpy as np
import pytest

from pdf2gtfs_spark.config import DEFAULT_CONFIG
from pdf2gtfs_spark.kernel import celltypes as ct
from pdf2gtfs_spark.kernel.celltypes import (
    EMPTY, OTHER, REPEAT_IDENT, REPEAT_VALUE, STOP_ANNOT, TIME, TypeMatchers,
    is_legend_text, is_repeat_value_text,
)
from pdf2gtfs_spark.kernel.extract import _Fields, extract_turn
from pdf2gtfs_spark.kernel.payload import CHAR_H, CHAR_W, encode_grid
from pdf2gtfs_spark.kernel.table_grid import CellStore, Grid
from pdf2gtfs_spark.kernel.newpath import Typer, find_stops
from pdf2gtfs_spark.sources.transcripts import (
    cells_to_payload, expected_csv_for_grid, fixture_turns, synth_grid,
    vag_like_block,
)

NEW_CFG = dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")


def guess_one(text: str, cfg=DEFAULT_CONFIG):
    m = TypeMatchers(cfg)
    P, fb = m.guess_list([text])
    return P[0], bool(fb[0])


def fields_from_rows(rows) -> _Fields:
    """Word ``_Fields`` from row dicts (text, x0, y0, x1, y1); the
    coordinates become float arrays like the kernel's."""
    def coord(k):
        return np.array([float(r[k]) for r in rows])
    return _Fields(np.array([r["text"] for r in rows], dtype=object),
                   coord("x0"), coord("y0"), coord("x1"), coord("y1"),
                   np.zeros(len(rows), dtype=np.int64), None)


class TestAbsIndicators:
    """test_celltype.py:16-82 truth tables."""

    def test_is_time(self):
        cfg = dataclasses.replace(DEFAULT_CONFIG, time_format="%H:%M")
        m = TypeMatchers(cfg)
        for t in ["13:33", "03:12", "01:01"]:
            P, _ = m.guess_list([t])
            assert not np.isnan(P[0][TIME]), t
        for t in ["", "a", "19:65", "13.33", "18: 42"]:
            P, _ = m.guess_list([t])
            assert np.isnan(P[0][TIME]), t
        for t in ["13.42", "03.2", "2.2"]:
            P, _ = guess_one(t)  # default %H.%M
            assert not np.isnan(P[TIME]), t

    def test_is_repeat_value(self):
        # incl. the reference's documented quirks (test_celltype.py:47-65)
        for t in ["5", "3-8", "3 -8", "3- 8", "3,5", "3, 5", "3 - 8"]:
            assert is_repeat_value_text(t), t
        for t in ["", "3-7 min", "3 min", "-1", "3,", "3.", "3  -8"]:
            assert not is_repeat_value_text(t), t

    def test_is_legend(self):
        for t in ["a=3", "foobar =barfoo", "foobar= barfoo",
                  "foobar :barfoo", "foobar: barfoo", "13:33", "25:332",
                  "25: =3", "25:=3"]:
            assert is_legend_text(t), t
        for t in ["", "test", "foo bar"]:
            assert not is_legend_text(t), t

    def test_guess_type_probabilities(self):
        # test_celltype.py:213-222
        P, fb = guess_one("")
        assert fb and ct.strict_guess(P[None, :],
                                      np.array([True]))[0] == OTHER
        P, fb = guess_one("09.33")
        assert not fb
        assert P[TIME] == pytest.approx(0.667)
        assert P[OTHER] == pytest.approx(0.333)
        assert ct.strict_guess(P[None, :], np.array([False]))[0] == TIME


def grid_from_cells(cells, cfg=DEFAULT_CONFIG):
    """cells: list of (text, x0, y0) laid out on a CHAR_W/CHAR_H raster;
    returns (Grid over ALL cells, Typer)."""
    rows = []
    for text, x0, y0 in cells:
        rows.append({"text": text, "x0": x0, "y0": y0,
                     "x1": x0 + CHAR_W * max(1, len(text)),
                     "y1": y0 + CHAR_H})
    store = CellStore.from_fields(fields_from_rows(rows), cfg)
    g = Grid.from_time_cells(store, list(range(len(store.text))))
    return g, Typer(g)


def set_possible(store, i, probs: dict, fallback=False):
    p = np.full(ct.N_TYPES, np.nan)
    for t, v in probs.items():
        p[t] = v
    store.P[i] = p
    store.fallback[i] = fallback
    store.inferred[i] = None


class TestGridPredicates:
    """test_celltype.py:94-183 over hand-built grids."""

    def _row3(self):
        g, ty = grid_from_cells(
            [("a", 0, 0), ("b", 20, 0), ("c", 40, 0)])
        s = g.store
        set_possible(s, g.cells[0][0],
                     {t: 0.1 for t in ct.FALLBACK_ORDER if t != OTHER},
                     fallback=True)
        set_possible(s, g.cells[0][1],
                     {STOP_ANNOT: 0.333, ct.TIME_ANNOT: 0.1, OTHER: 0.333})
        set_possible(s, g.cells[0][2], {TIME: 0.667, OTHER: 0.333})
        ty.refresh()
        return g, ty

    def test_row_contains_type(self):
        g, ty = self._row3()
        assert ty.row_has(0, TIME)
        assert not ty.row_has(0, OTHER)       # strict checks only
        assert not ty.row_has(0, ct.TIME_ANNOT)
        assert not ty.row_has(0, ct.LEGEND_IDENT)
        assert not ty.row_has(0, EMPTY)

    def test_neighbor_has_type_empty_skip(self):
        # b next to EmptyCell next to Time: direct fails, skip finds it
        g, ty = grid_from_cells(
            [("b", 0, 0), ("09.33", 40, 0)])
        # force an empty between them by building a 1x3 grid manually
        s = g.store
        mid = s.add_empty()
        g.cells = [[g.cells[0][0], mid, g.cells[0][1]]]
        ty.refresh()
        assert not ty.neighbor_has(0, 0, TIME, direct=True)
        assert ty.neighbor_has(0, 0, TIME, direct=False)

    def test_is_between_type_uses_direct_neighbors(self):
        # test_celltype.py:167-183
        g, ty = grid_from_cells([
            ("a", 0, 10), ("b", 20, 10), ("c", 40, 10),
            ("d", 20, 0), ("e", 20, 20)])
        s = g.store
        pos = {s.text[g.cells[r][c]]: (r, c)
               for r in range(g.n_rows) for c in range(g.n_cols)
               if not s.is_empty[g.cells[r][c]]}
        set_possible(s, g.cells[pos["a"][0]][pos["a"][1]],
                     {REPEAT_IDENT: 1})
        set_possible(s, g.cells[pos["b"][0]][pos["b"][1]],
                     {REPEAT_VALUE: 1})
        set_possible(s, g.cells[pos["c"][0]][pos["c"][1]],
                     {REPEAT_IDENT: 1})
        set_possible(s, g.cells[pos["d"][0]][pos["d"][1]], {TIME: 1})
        set_possible(s, g.cells[pos["e"][0]][pos["e"][1]], {TIME: 1})
        ty.refresh()
        r, c = pos["b"]
        assert ty.is_between(r, c, REPEAT_IDENT)
        assert ty.is_between(r, c, TIME)
        set_possible(s, g.cells[pos["c"][0]][pos["c"][1]], {TIME: 1})
        ty.refresh()
        assert not ty.is_between(r, c, REPEAT_IDENT)
        # empty direct neighbor fails the sandwich
        g.cells[pos["e"][0]][pos["e"][1]] = s.add_empty()
        ty.refresh()
        assert not ty.is_between(r, c, TIME)


class TestVagLikeLayout:
    """Structural pins mirroring the reference's test_table.py outcomes
    on equivalent synthetic geometry."""

    def test_single_block_structure(self):
        cells, xs = vag_like_block(100.0)
        cells.append(("Sonntag", xs[0], 86.0))       # days above times
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert len(res.tables) == 1
        t = res.tables[0]
        counts = t.cells["col_type"].value_counts().to_dict()
        assert counts["Stop"] == 8
        assert counts["StopAnnot"] == 2
        assert counts["Time"] == 32
        assert counts["Days"] == 1
        # all 4 entries inherit the days header via forward fill
        days = t.entries.groupby("entry_id")["days"].first()
        assert all(list(d) == ["6"] for d in days)

    def test_repeat_column_inserted(self):
        cells, xs = vag_like_block(100.0)
        x_rep = xs[1] + 5 * CHAR_W      # between col 1 and col 2
        cells.append(("alle", x_rep, 120.0))
        cells.append(("15", x_rep, 130.0))
        cells.append(("Min.", x_rep, 140.0))
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert len(res.tables) == 1
        t = res.tables[0]
        types = t.cells["col_type"].value_counts().to_dict()
        assert types.get("RepeatIdent") == 2
        assert types.get("RepeatValue") == 1
        reps = t.entries[t.entries["kind"] == "repeat"]
        assert len(reps) == 1
        assert reps["repeat_intervals"].iloc[0] == [15]

    def test_stacked_blocks_split_and_reacquire_days(self):
        b1, xs1 = vag_like_block(100.0, n_stops=8)
        b2, xs2 = vag_like_block(220.0, n_stops=8)
        cells = b1 + b2
        cells.append(("Montag - Freitag", xs1[0], 86.0))
        # split days header for block 2 (W10 + O5 chain); each word
        # sits over a time column stripe like in the real PDF
        cells.append(("Sonn-", xs2[0], 206.0))
        cells.append(("und", xs2[1], 206.0))
        cells.append(("Feiertag", xs2[2], 206.0))
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert len(res.tables) == 2
        t1, t2 = res.tables
        d1 = t1.entries.groupby("entry_id")["days"].first()
        assert all(list(d) == ["0", "1", "2", "3", "4"] for d in d1)
        # W10 merged the split header and parsed "sonn- und feiertag"
        d2 = t2.entries.groupby("entry_id")["days"].first()
        assert all(list(d) == ["6", "h"] for d in d2)
        texts2 = set(t2.cells["text"])
        assert "Sonn- und Feiertag" in texts2

    def test_vag_page_sized_block_counts(self):
        # the size of vag page 1 (23 stops x 20 entries,
        # test/test_reader.py:91-101) as one vag_like_block: its counts
        # follow from the construction, one "ab" and one "an" annotation
        n_stops, n_trips = 23, 20
        cells, _ = vag_like_block(100.0, n_stops=n_stops, n_trips=n_trips)
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert len(res.tables) == 1
        t = res.tables[0]
        assert len(t.stops) == n_stops
        assert t.entries["entry_id"].nunique() == n_trips
        counts = t.cells["col_type"].value_counts().to_dict()
        assert counts["Stop"] == n_stops
        assert counts["StopAnnot"] == 2
        assert counts["Time"] == n_stops * n_trips

    def test_legacy_path_untouched(self):
        grid, hdr = synth_grid(np.random.default_rng(7))
        res = extract_turn(encode_grid(grid, hdr))  # default legacy config
        assert len(res.tables) == 1
        assert res.tables[0].csv_text == expected_csv_for_grid(grid, hdr)

    def test_newpath_csv_snapshot_stable(self):
        """The new path's CSV of a vag-page-sized block under a days
        header is the layout's own grid, byte for byte: the expected
        CSV comes from the construction, not from a recorded run."""
        cells, xs = vag_like_block(100.0, n_stops=23, n_trips=20)
        cells.append(("Montag - Freitag", xs[0], 86.0))
        cols = sorted({x for _, x, _ in cells})
        rows = sorted({y for _, _, y in cells})
        grid = [[""] * len(cols) for _ in rows]
        for text, x, y in cells:
            grid[rows.index(y)][cols.index(x)] = text
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert [t.csv_text for t in res.tables] == [
            expected_csv_for_grid(grid, [0])]

    @pytest.mark.requires_reference
    def test_newpath_golden_csv_hashes(self):
        """Regression pin: the new path's CSV output on the golden
        fixture payloads is deterministic and must not drift silently.

        These hashes are no longer self-referential: on the same
        payloads, tests/test_ref_differential.py proves the CSVs are
        byte-equal to the ACTUAL reference implementation's
        Table.to_file output (reference engine imported via
        tests/refcompat), so the pins below are reference-derived."""
        import hashlib
        expected = {
            "vag_1/01_00.csv": "8b57415238235a262ac4882fcc26752b",
            "kvv_s1/01_00.csv": "1793dd2227da60a154ee2ee9f13e58e8",
        }
        turns = fixture_turns()
        assert [name for name, _, _ in turns] == list(expected)
        for name, payload, _ in turns:
            res = extract_turn(payload, NEW_CFG)
            h = hashlib.md5("\x1d".join(
                t.csv_text for t in res.tables).encode()).hexdigest()
            assert h == expected[name], name

    def test_transposed_orientation(self):
        # stops across the top ROW, trips as rows (the new engine's
        # "regardless of Orientation" claim, table.py:1 + find_stops)
        cells = []
        n_stops, n_trips = 6, 5
        xs = [40.0 + k * 18 * CHAR_W for k in range(n_stops)]
        block, _ = vag_like_block(0.0, n_stops=n_stops, n_trips=0)
        names = [text for text, x, _ in block if x == 40.0]
        for name, x in zip(names, xs):
            # centered over the time column so the edge stop still
            # 50%-overlaps the table's x-range (bounds.py:196)
            cells.append((name, x - (len(name) * CHAR_W - 20) / 2, 100.0))
        for r in range(n_trips):
            for k, x in enumerate(xs):
                h, m = divmod((6 * 60 + 30 * r + 2 * k) % (24 * 60), 60)
                cells.append((f"{h}.{m:02}", x, 112.0 + r * 10.0))
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert len(res.tables) == 1
        t = res.tables[0]
        assert len(t.stops) == n_stops
        assert t.entries["entry_id"].nunique() == n_trips
        counts = t.cells["col_type"].value_counts().to_dict()
        assert counts["Stop"] == n_stops
        assert counts["Time"] == n_stops * n_trips


class TestStoplessTimeRowCollapse:
    """ADVICE r05 (high): TIME cells in rows WITHOUT a stop all map to
    the reference's single None dict key (entries.py set_value with
    get_from_id -> None): one slot per entry — LAST value wins, the
    FIRST such row's id is retained. The r5 probe compared series
    indices (never equal across rows), so every stop-less row appended
    a fresh slot."""

    def test_stopless_time_rows_share_one_none_slot(self):
        from pdf2gtfs_spark.kernel.newpath import (
            find_stops, tables_from_fields,
        )

        cells, xs = vag_like_block(100.0, n_stops=6, n_trips=3)
        rows = [{"text": t, "x0": x0, "y0": y0,
                 "x1": x0 + CHAR_W * max(1, len(t)), "y1": y0 + CHAR_H}
                for t, x0, y0 in cells]
        tts = tables_from_fields(fields_from_rows(rows), NEW_CFG)
        assert len(tts) == 1
        tt = tts[0]
        ty, g, s = tt.typer, tt.grid, tt.grid.store
        o, stops = find_stops(ty)
        assert len(stops) >= 5
        # demote two stop cells: their rows become stop-less TIME rows
        # (to_timetable re-derives the stop axis from ty.strict)
        (k1, (r1, c1)), (k2, (r2, c2)) = stops[1], stops[2]
        ty.strict[r1, c1] = ct.OTHER
        ty.strict[r2, c2] = ct.OTHER
        er, _ = tt.to_timetable(NEW_CFG)
        assert er, "timetable must survive with >= 3 remaining stops"
        by_entry: dict = {}
        for row in er:
            if row["stop_pos"] is None and row["value"] is not None:
                by_entry.setdefault(row["entry_id"], []).append(row)
        assert by_entry, "demoted rows must appear as stop-less values"
        for e_id, noneless in by_entry.items():
            # exactly ONE None slot per entry, first row id, last value
            assert len(noneless) == 1, (e_id, noneless)
            assert noneless[0]["stop_row_idx"] == k1
        # the surviving value is the LATER row's time in each column
        # (entry ids are renumbered in er, so compare as value sets)
        time_cols = [c for c in range(g.n_cols)
                     if ty.strict[k2, c] == ct.TIME]
        assert time_cols
        got_vals = {row["value"] for rows_ in by_entry.values()
                    for row in rows_}
        expect_vals = {s.text[g.cells[k2][c]] for c in time_cols}
        assert got_vals == expect_vals


class TestMergeAndDuplicateDays:
    def test_merge_tables_side_by_side(self):
        from pdf2gtfs_spark.kernel.newpath import (
            TypedTable, merge_tables,
        )
        b1, xs1 = vag_like_block(100.0, n_stops=6, n_trips=3)
        b2, _ = vag_like_block(100.0, n_stops=6, n_trips=3, x_stops=500.0)
        rows = []
        for text, x0, y0 in b1 + b2:
            rows.append({"text": text, "x0": x0, "y0": y0,
                         "x1": x0 + CHAR_W * len(text), "y1": y0 + CHAR_H})
        store = CellStore.from_fields(fields_from_rows(rows), NEW_CFG)
        t_idx = [i for i in range(len(store.text))
                 if store.strict_type(i) == TIME]
        left = [i for i in t_idx if store.x0[i] < 500]
        right = [i for i in t_idx if store.x0[i] >= 500]
        g1 = Grid.from_time_cells(store, left)
        g2 = Grid.from_time_cells(store, right)
        tt1, tt2 = TypedTable(g1), TypedTable(g2)
        merged = merge_tables([tt1, tt2])
        assert len(merged) == 1
        m = merged[0].grid
        assert m.n_rows == 6
        assert m.n_cols == g1.n_cols + g2.n_cols

    def test_remove_duplicate_days_keeps_ref_side(self):
        # table 2 has two days rows; the ref table's days position
        # (first half of its column) selects the first one
        b1, xs1 = vag_like_block(100.0, n_stops=6, n_trips=3)
        b2, xs2 = vag_like_block(220.0, n_stops=6, n_trips=3)
        cells = b1 + b2
        cells.append(("Samstag", xs1[0], 86.0))
        cells.append(("Samstag", xs2[0], 206.0))   # kept (first)
        cells.append(("Sonntag", xs2[0], 292.0))   # below block 2: dup
        res = extract_turn(cells_to_payload(cells), NEW_CFG)
        assert len(res.tables) == 2
        t2 = res.tables[1]
        days_cells = t2.cells[t2.cells["col_type"] == "Days"]
        assert days_cells["text"].tolist() == ["Samstag"]
        d2 = t2.entries.groupby("entry_id")["days"].first()
        assert all(list(d) == ["5"] for d in d2)
