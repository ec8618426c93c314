"""GTFS relational-tail tests: rollover, arr/dep fold, sequence
numbering, repeat expansion, calendar/stop dedup.

Oracles: reference semantics in gtfs_output/stop_times.py (Time, W6,
W7, W11, add_repeat) exercised on hand-built entries frames.
"""

from frames import entries_df

from pdf2gtfs_spark.operators.feed import trip_route_service
from pdf2gtfs_spark.operators.gtfs import (
    build_calendar, build_stop_times, build_stops, expand_repeats,
)

WEEKDAYS = ["0", "1", "2", "3", "4"]


def _mk(entry_id, stop_pos, name, value, days=WEEKDAYS):
    return dict(conv_id="c", turn_idx=0, table_id=0, entry_id=entry_id,
                kind="time", header_text="Montag - Freitag", route_name="",
                annotations=[], days=days, stop_pos=stop_pos,
                stop_row_idx=stop_pos, stop_name=name, stop_annot="",
                value=value)


def _rep(entry_id, intervals):
    """A repeat column ('alle ...') between two timed entries."""
    return dict(conv_id="c", turn_idx=0, table_id=0, entry_id=entry_id,
                kind="repeat", header_text="", route_name="",
                annotations=[], days=[], repeat_intervals=intervals,
                value="alle")


class TestStopTimes:
    def test_time_field_ranges_enforced(self, spark):
        # Time.from_string strips spaces THEN strptime enforces H 0-23
        # / M 0-59 (stop_times.py:32-41): '5.62' and '26.10' are not
        # times (-> 0s), while '5. 35' IS one after the strip (gtfs
        # sweep family v4; the shape-only regex accepted all three)
        rows = [_mk(0, 0, "Stop Alpha Long", "5.62"),
                _mk(0, 1, "Stop Beta Long", "26.10"),
                _mk(0, 2, "Stop Gamma Long", "5. 35")]
        e = entries_df(spark, rows)
        st = {r["stop_sequence"]: r["arrival_time"]
              for r in build_stop_times(e, build_stops(e)).collect()}
        assert st[0] == "00:00:00"
        assert st[1] == "00:00:00"
        assert st[2] == "05:35:00"

    def test_route_anchor_uses_raw_strptime(self, spark):
        # names_from_entry runs strptime on the RAW value
        # (routes.py:149-152): a spaced '5. 35' anchors stop_times but
        # NOT the route's first/last pair
        from pdf2gtfs_spark.operators.feed import build_routes
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _mk(0, 2, "Stop Gamma Long", "8. 20")]
        e = entries_df(spark, rows)
        routes = build_routes(e).collect()
        assert [r["route_long_name"] for r in routes] == [
            "Stop Alpha Long-Stop Beta Long"]

    def test_midnight_rollover(self, spark):
        # vag pattern: 23.47 ... 0.17 wraps to 24:17 (stop_times.py:199-213)
        rows = [_mk(0, 0, "Stop Alpha Long", "23.47"),
                _mk(0, 1, "Stop Beta Long", "23.59"),
                _mk(0, 2, "Stop Gamma Long", "0.17"),
                _mk(0, 3, "Stop Delta Long", "0.30")]
        e = entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        assert [r["arrival_time"] for r in st] == [
            "23:47:00", "23:59:00", "24:17:00", "24:30:00"]

    def test_double_rollover(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "23.00"),
                _mk(0, 1, "Stop Beta Long", "1.00"),
                _mk(0, 2, "Stop Gamma Long", "0.30")]
        e = entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        # second wrap: 0.30 < 1.00 -> +24h again
        assert [r["arrival_time"] for r in st] == [
            "23:00:00", "25:00:00", "48:30:00"]

    def test_arrival_departure_fold(self, spark):
        # consecutive same stop: an/ab -> one row, dep = second time
        # (stop_times.py:215-221)
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(0, 1, "Bertoldsbrunnen Xyz", "10.29"),
                _mk(0, 2, "Bertoldsbrunnen Xyz", "10.31"),
                _mk(0, 3, "Stop Omega Long", "10.45")]
        e = entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        assert len(st) == 3
        fold = st[1]
        assert fold["arrival_time"] == "10:29:00"
        assert fold["departure_time"] == "10:31:00"
        assert fold["stop_sequence"] == 1
        assert st[2]["stop_sequence"] == 3  # seq counts folded rows

    def test_stop_id_deterministic_across_trips(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "11.00")]
        e = entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        assert st[0]["stop_id"] == st[1]["stop_id"]


class TestRepeatExpansion:
    def _base(self, spark, intervals, gap_minutes=60, later=(),
              next_days=WEEKDAYS):
        """time0 (8:00), a repeat column per interval list in
        ``(intervals, *later)``, then the next timed entry
        ``gap_minutes`` later on ``next_days``."""
        nxt = 2 + len(later)
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                *(_rep(1 + i, iv)
                  for i, iv in enumerate((intervals, *later))),
                _mk(nxt, 0, "Stop Alpha Long",
                    f"{8 + gap_minutes // 60}.{gap_minutes % 60:02}",
                    days=next_days),
                _mk(nxt, 1, "Stop Beta Long",
                    f"{8 + (gap_minutes + 10) // 60}."
                    f"{(gap_minutes + 10) % 60:02}", days=next_days)]
        e = entries_df(spark, rows)
        stops = build_stops(e)
        st = build_stop_times(e, stops)
        return e, st

    def test_constant_interval(self, spark):
        # anchors 8:00 and 9:00, alle 20 min -> copies at 8:20, 8:40;
        # the 9:00 tie is DROPPED: add_repeat breaks on
        # __gt__ = not __lt__, so a copy equal to next at the common
        # stop never lands (stop_times.py:255-261, 285-286; pinned by
        # the GTFS differential sweep)
        e, st = self._base(spark, intervals=[20], gap_minutes=60)
        rep = expand_repeats(e, st).collect()
        starts = sorted(r["arrival_time"] for r in rep
                        if r["stop_sequence"] == 0)
        assert starts == ["08:20:00", "08:40:00"]

    def test_cycle_intervals(self, spark):
        # deltas cycle [10, 20]: shifts 10, 30, 40 land (< gap 60);
        # the 60 tie is dropped (strict __lt__)
        e, st = self._base(spark, intervals=[10, 20], gap_minutes=60)
        rep = expand_repeats(e, st).collect()
        starts = sorted(r["arrival_time"] for r in rep
                        if r["stop_sequence"] == 0)
        assert starts == ["08:10:00", "08:30:00", "08:40:00"]

    # anchor rule of the reference handler loop (handler.py:175-216)

    def test_days_change_between_anchors_yields_no_copies(self, spark):
        # a days change resets ``previous`` (same_days,
        # calendar.py:109-115), so the repeat has no left anchor
        e, st = self._base(spark, intervals=[20], next_days=["5"])
        assert expand_repeats(e, st).count() == 0

    def test_intervalless_repeat_clears_pending(self, spark):
        # a repeat column without intervals clears the pending repeat
        # (handler.py:182-184): the [20] column before it copies nothing
        e, st = self._base(spark, intervals=[20], later=[None])
        assert expand_repeats(e, st).count() == 0

    def test_later_repeat_replaces_pending(self, spark):
        # the nearer of two adjacent repeat columns wins: alle 30 gives
        # 8:30 only (the 9:00 tie is dropped); the [20] column alone
        # would give 8:20 and 8:40
        e, st = self._base(spark, intervals=[20], later=[[30]])
        rep = expand_repeats(e, st).collect()
        starts = sorted(r["arrival_time"] for r in rep
                        if r["stop_sequence"] == 0)
        assert starts == ["08:30:00"]

    def test_copies_preserve_shape(self, spark):
        e, st = self._base(spark, intervals=[30], gap_minutes=60)
        rep = expand_repeats(e, st).collect()
        trips = {}
        for r in rep:
            trips.setdefault(r["trip_id"], []).append(r)
        for rows in trips.values():
            assert len(rows) == 2  # both stops copied
            secs = {r["stop_sequence"]: r for r in rows}
            assert (secs[1]["arr_seconds"] - secs[0]["arr_seconds"]
                    == 600)  # 10-minute spacing preserved

    def test_stacked_repeats_anchor_on_first_entry(self, spark):
        # handler.py:175-216: ``previous = current`` runs only when no
        # repeat is pending, so in (time0, rep1, time2, rep3, time4)
        # BOTH repeats anchor on time0 — copies are time0 shifted, with
        # time0's per-stop offsets, bounded by each repeat's own right
        # anchor (sweep seed 97194; the pre-r6 nearest-neighbor pairing
        # wrongly anchored rep3 on time2).
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [25]),
                _mk(2, 0, "Stop Alpha Long", "8.40"),
                _mk(2, 1, "Stop Beta Long", "8.55"),   # +15 offsets
                _rep(3, [20]),
                _mk(4, 0, "Stop Alpha Long", "9.10"),
                _mk(4, 1, "Stop Beta Long", "9.20")]
        e = entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e))
        rep = expand_repeats(e, st).collect()
        trips = {}
        for r in rep:
            trips.setdefault(r["trip_id"], []).append(r)
        got = sorted(
            (min(r["arr_seconds"] for r in rows),
             max(r["arr_seconds"] for r in rows)
             - min(r["arr_seconds"] for r in rows))
            for rows in trips.values())
        # rep1: time0+25 = 8:25 (< 8:40); rep3: time0+20k < 9:10
        # -> 8:20, 8:40(=time2 start but measured at time0's stops,
        # 9:00) — ALL with time0's +10-minute spacing, never time2's
        # +15
        assert all(span == 600 for _, span in got)
        assert [s for s, _ in got] == [
            8 * 3600 + 20 * 60,   # rep3 k=1
            8 * 3600 + 25 * 60,   # rep1 k=1
            8 * 3600 + 40 * 60,   # rep3 k=2
            9 * 3600]             # rep3 k=3 (9:00 < 9:10)


class TestCalendarAndTrips:
    def test_calendar_dedup(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "11.00")]
        e = entries_df(spark, rows)
        cal = build_calendar(e).collect()
        assert len(cal) == 1
        c = cal[0]
        assert (c["monday"], c["friday"], c["saturday"]) == (1, 1, 0)

    def test_trips_per_entry(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "11.00")]
        e = entries_df(spark, rows)
        assert trip_route_service(e).count() == 2


class TestEndToEndStopTimes:
    def test_vag_like_block_stop_times(self, spark):
        """End-to-end: a vag-like block crossing midnight, with one
        stop listed twice in a row (an/ab) -> entries -> stop_times."""
        from pdf2gtfs_spark.plans.pipeline import entries_table, run_extract
        from pdf2gtfs_spark.sources.transcripts import (
            cells_to_payload, vag_like_block,
        )

        # stop_seed 154: column k, stop s at 23:58 + 20k + 2s minutes;
        # stops 2 and 3 become "<stop 2> an" / "<stop 2> ab" (stop
        # column x 40, annotation column x 140) -> the W11 fold
        cells, _ = vag_like_block(100.0, n_stops=8, n_trips=4,
                                  stop_seed=154)
        name2 = next(t for t, x, y in cells if (x, y) == (40.0, 120.0))
        cells = [(name2 if (x, y) == (40.0, 130.0) else t, x, y)
                 for t, x, y in cells]
        cells += [("an", 140.0, 120.0), ("ab", 140.0, 130.0)]
        tdf = spark.createDataFrame(
            [("vag", 0, cells_to_payload(cells))],
            "conv_id string, turn_idx int, text string")
        entries = entries_table(run_extract(tdf))
        rows = build_stop_times(entries, build_stops(entries)).collect()
        by_trip = {}
        for r in rows:
            by_trip.setdefault(r["trip_id"], []).append(r)
        # 4 entries, 8 stops - 1 fold = 7 rows each
        assert len(by_trip) == 4
        assert all(len(rs) == 7 for rs in by_trip.values())
        # the first trip wraps midnight: 0.00 becomes 24:00
        t0 = sorted(by_trip[min(by_trip)], key=lambda r: r["stop_sequence"])
        assert [r["arrival_time"] for r in t0] == [
            "23:58:00", "24:00:00", "24:02:00", "24:06:00", "24:08:00",
            "24:10:00", "24:12:00"]
        fold = t0[2]
        assert (fold["departure_time"], fold["stop_sequence"]) == (
            "24:04:00", 2)
        assert t0[3]["stop_sequence"] == 4


class TestOracleKeySpellings:
    def test_duckdb_keys_match_spark(self, spark):
        """The oracles' DuckDB spellings of the calendar keys equal
        days_key_col / annots_key_col on NULL and empty lists and on
        tokens holding ',' or '\\'."""
        import duckdb
        import pyarrow as pa

        from pdf2gtfs_spark.operators.gtfs import (
            ANNOTS_KEY_SQL, DAYS_KEY_SQL, annots_key_col, days_key_col,
        )

        lists = [(None, None), ([], []), (["0", "h"], ["a"]),
                 (["5"], ["a,b", "c\\d", "e\\,f", ""])]
        e = entries_df(spark, [dict(days=d, annotations=a)
                                for d, a in lists])
        want = [(r[0], r[1]) for r in e.select(
            days_key_col(), annots_key_col()).collect()]
        t = pa.table({"days": pa.array([d for d, _ in lists],
                                        pa.list_(pa.string())),
                      "annotations": pa.array([a for _, a in lists],
                                              pa.list_(pa.string()))})
        got = duckdb.sql(f"SELECT {DAYS_KEY_SQL}, {ANNOTS_KEY_SQL} "
                         "FROM t").fetchall()
        assert got == want
        assert want[3][1] == "a\\,b,c\\\\d,e\\\\\\,f,"
