"""Differential tests for the GTFS output surface: the repo's feed
assembly (operators/gtfs.py build_stops/build_stop_times/
expand_repeats/build_calendar + operators/feed.py build_feed) vs the
reference's gtfs_output/GTFSHandler (handler.py:118-237), both driven
from the SAME payload through each side's legacy extraction.

Ids are generator-specific (the reference uses sequential UIDGenerator
ids, utils.py:15-40; the repo md5-derived ones, X18), so the comparison
is id-free: every surface is normalized onto natural keys —
stops by name, routes by (short, long), services by
(7-day flags, date bounds, annotations), trips by
(route key, service key, ordered (stop, arrival, departure) list),
calendar_dates by (service key, date, exception_type).

The reference side resolves holidays through refcompat's deterministic
fake calendar, which mirrors the repo's synthetic holiday dim
(operators/feed.py HOLIDAY_MONTH_DAYS), and Config.gtfs_date_bounds is
aligned with FEED_DATE_BOUNDS — so calendar/calendar_dates compare
like against like.
"""

from datetime import datetime

import pandas as pd
import pytest

from pdf2gtfs_spark.kernel.extract import cleanup_char_arrays
from pdf2gtfs_spark.kernel.payload import decode_payload_arrays
from pdf2gtfs_spark.sources.transcripts import (
    cells_to_payload, fixture_turns,
)

from refcompat import load_reference_gtfs, reference_available

pytestmark = pytest.mark.skipif(
    not reference_available(),
    reason="reference source not present at /root/reference")

WEEK = ("monday", "tuesday", "wednesday", "thursday", "friday",
        "saturday", "sunday")


def _split_annots_key(key: str) -> list[str]:
    """Inverse of annots_key_col: ',' joins tokens, '\\' escapes a
    literal ',' or '\\' inside a token (gtfs.py)."""
    out, cur, i = [], [], 0
    while i < len(key):
        c = key[i]
        if c == "\\" and i + 1 < len(key):
            cur.append(key[i + 1])
            i += 2
            continue
        if c == ",":
            out.append("".join(cur))
            cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


def _unq(s) -> str:
    return str(s).strip("'\"")


def _t_str(t) -> str:
    return f"{t.hours:02}:{t.minutes:02}:{t.seconds:02}"


def ref_feed(payload):
    """payload -> reference legacy extraction -> GTFSHandler ->
    id-free normalized feed."""
    ref = load_reference_gtfs()
    page, chars = decode_payload_arrays(payload)
    chars = cleanup_char_arrays(chars, page)
    df = pd.DataFrame({k: list(chars[k])
                       for k in ("x0", "x1", "y0", "y1", "text")})
    tts = ref["pdf_tables_to_timetables"](
        ref["get_pdf_tables_from_df"](df))
    h = ref["GTFSHandler"]()
    for tt in tts:
        if tt is not None:
            h.timetable_to_gtfs(tt)
    h._remove_unused_routes()
    stop_name = {s.stop_id: s.stop_name for s in h.stops.entries}
    route_key = {r.route_id: (r.route_short_name, r.route_long_name)
                 for r in h.routes.entries}
    service_key = {
        c.service_id: (tuple(int(getattr(c, d).active) for d in WEEK),
                       _unq(c.start_date), _unq(c.end_date),
                       tuple(sorted(c.annotations)))
        for c in h.calendar.entries}
    st_by_trip = {}
    for st in h.stop_times.entries:
        st_by_trip.setdefault(st.trip_id, []).append(
            (st.stop_sequence, stop_name[st.stop_id],
             _t_str(st.arrival_time), _t_str(st.departure_time)))
    trips = []
    for t in h.trips.entries:
        sts = sorted(st_by_trip.get(t.trip_id, []))
        trips.append((route_key[t.route_id], service_key[t.service_id],
                      tuple((nm, a, d) for _, nm, a, d in sts)))
    caldates = sorted((service_key[cd.service_id], _unq(cd.date),
                       int(cd.exception_type))
                      for cd in h.calendar_dates.entries)
    return {
        "stops": sorted(stop_name.values()),
        "routes": sorted(route_key.values()),
        "calendar": sorted(service_key.values()),
        "trips": sorted(trips),
        "calendar_dates": caldates,
    }


def repo_feed(payload, spark):
    """payload -> distributed extraction -> build_feed -> the same
    id-free normalized feed."""
    from pdf2gtfs_spark.operators.feed import FEED_DATE_BOUNDS, build_feed
    from pdf2gtfs_spark.operators.gtfs import build_calendar
    from pdf2gtfs_spark.plans.pipeline import (
        entries_table, run_extract, stops_table,
    )

    tdf = spark.createDataFrame(
        pd.DataFrame([("c0", 0, "user", payload, "",
                       datetime(2024, 1, 1))],
                     columns=["conv_id", "turn_idx", "role", "text",
                              "tool", "ts"]))
    extracted = run_extract(tdf).cache()
    entries = entries_table(extracted)
    try:
        feed = {k: v.toPandas()
                for k, v in build_feed(entries, spark,
                                       stops_src=stops_table(extracted))
                .items()}
        cal = build_calendar(entries).toPandas()
    finally:
        extracted.unpersist()

    stop_name = dict(zip(feed["stops"].stop_id, feed["stops"].stop_name))
    route_key = {r.route_id: (r.route_short_name, r.route_long_name)
                 for r in feed["routes"].itertuples()}
    service_key = {
        r.service_id: (tuple(int(getattr(r, d)) for d in WEEK),
                       FEED_DATE_BOUNDS[0], FEED_DATE_BOUNDS[1],
                       tuple(sorted(a for a in
                                    _split_annots_key(r.annots_key)
                                    if a)))
        for r in cal.itertuples()}
    st_by_trip = {}
    for st in feed["stop_times"].itertuples():
        st_by_trip.setdefault(st.trip_id, []).append(
            (st.stop_sequence, stop_name[st.stop_id],
             st.arrival_time, st.departure_time))
    trips = []
    for t in feed["trips"].itertuples():
        sts = sorted(st_by_trip.get(t.trip_id, []))
        trips.append((route_key[t.route_id], service_key[t.service_id],
                      tuple((nm, a, d) for _, nm, a, d in sts)))
    caldates = sorted((service_key[cd.service_id], cd.date,
                       int(cd.exception_type))
                      for cd in feed["calendar_dates"].itertuples())
    return {
        "stops": sorted(stop_name.values()),
        "routes": sorted(route_key.values()),
        "calendar": sorted(service_key.values()),
        "trips": sorted(trips),
        "calendar_dates": caldates,
    }


def assert_feed_equivalent(payload, spark, label):
    rf = ref_feed(payload)
    mf = repo_feed(payload, spark)
    for surface in ("stops", "routes", "calendar", "trips",
                    "calendar_dates"):
        assert rf[surface] == mf[surface], (
            f"{label}: {surface} differs\n ref={rf[surface]}\n"
            f"repo={mf[surface]}")
    return rf


class TestFixtureFeeds:
    def test_vag(self, spark):
        _, payload, _ = fixture_turns()[0]
        rf = assert_feed_equivalent(payload, spark, "vag")
        assert rf["trips"], "vag must produce trips"

    def test_kvv(self, spark):
        """kvv exercises the an/ab arrival-departure fold, repeat
        columns and the first-seen stop-variant dedup (the Marktplatz
        (Pyramide U)/(Kaiserstrasse U) pair normalizes to one stop; the
        reference keeps the first-seen display name, stop.py:187-196,
        which build_stops mirrors via document-order first-wins)."""
        _, payload, _ = fixture_turns()[1]
        rf = assert_feed_equivalent(payload, spark, "kvv")
        assert any(a != d for _, _, sts in rf["trips"]
                   for _, a, d in sts), "kvv has an/ab arr!=dep stops"


class TestServiceDayOffsets:
    """Cross-entry service-day chain (handler.py:144-217): columns
    crossing midnight get +24h via new_day(), and the accumulated
    offset re-enters as Time(offset) = HOURS (the reference quirk), so
    the n-th crossing column sits at raw + 24h + (n-1)h."""

    @staticmethod
    def _chain(col_starts, n_stops=8):
        from pdf2gtfs_spark.kernel.payload import CHAR_W
        cells = []
        x_stops = 40.0
        xs = [x_stops + 22 * CHAR_W + k * 10 * CHAR_W
              for k in range(len(col_starts))]
        cells.append(("Sonntag", xs[0], 86.0))
        for s in range(n_stops):
            y = 100.0 + s * 10
            cells.append((f"Halt {chr(65 + s)} Strasse", x_stops, y))
            for k, x in enumerate(xs):
                h0, m0 = col_starts[k]
                m = (h0 * 60 + m0 + 3 * s) % 1440
                cells.append((f"{m // 60}.{m % 60:02}", x, y))
        return cells

    @pytest.mark.parametrize("starts", [
        ((23, 50), (0, 10), (0, 40)),                    # 2 crossings
        ((22, 0), (23, 0), (0, 30), (1, 0), (0, 15)),    # mixed chain
        ((10, 0), (9, 0), (11, 0)),                      # mid-day back
    ])
    def test_midnight_chain(self, spark, starts):
        payload = cells_to_payload(self._chain(list(starts)))
        rf = assert_feed_equivalent(payload, spark,
                                    f"chain{starts}")
        assert rf["trips"], "chain must produce trips"

    def test_hour_quirk_pinned(self, spark):
        """The second crossing column lands at 25:40, not 24:40."""
        payload = cells_to_payload(self._chain([(23, 50), (0, 10), (0, 40)]))
        rf = ref_feed(payload)
        times = sorted(t for _, _, sts in rf["trips"] for _, t, _ in sts)
        assert any(t.startswith("25:") for t in times), times[-3:]


class TestSyntheticFeeds:
    @pytest.mark.parametrize("seed", [9003, 9007, 9013, 1000, 1003,
                                      5000, 5001, 70000])
    def test_layout_feed(self, spark, seed, request):
        """Sample of the offline GTFS sweeps: multi-block pages
        (stop-key collapse), repeat columns (expand_repeats vs
        add_repeat), footer days, sparse columns.  Seed 70000 (round
        5c) pinned the falsy-empty-previous rule: an entry whose every
        stop is a connection produces an EMPTY StopTimes, and
        `previous and previous > current` (handler.py:173) then
        short-circuits, disabling the +24h rollover for the next
        entry."""
        import random

        from test_ref_differential import (
            TestAdversarialLayouts, TestSeededRandomLayouts,
        )
        rng = random.Random(seed)
        if seed >= 9000:
            cells = TestAdversarialLayouts._layout(rng)
        elif seed >= 5000:
            cells = _gen_layout(rng)
        else:
            cells = TestSeededRandomLayouts._layout(None, rng)
        try:
            assert_feed_equivalent(cells_to_payload([c[:3] for c in cells]),
                                   spark, f"feed{seed}")
        except IndexError:
            pytest.skip("reference legacy crashes (no stop column)")


def _gen_layout(rng):
    """Trimmed third-family generator (mixed annotations, legends,
    junk in time columns) — the offline sweep's gen3."""
    from pdf2gtfs_spark.kernel.payload import CHAR_W

    cells = []
    n_stops = rng.randint(5, 11)
    n_trips = rng.randint(2, 5)
    x_stops = 40.0
    x_annot = x_stops + 22 * CHAR_W
    xs = [x_annot + 4 * CHAR_W + k * 11 * CHAR_W for k in range(n_trips)]
    y0 = 104.0
    if rng.random() < 0.7:
        cells.append((rng.choice(["Sonntag", "Samstag",
                                  "Montag - Freitag"]), xs[0], 90.0))
    if rng.random() < 0.35:
        cells.append(("Linie", x_stops, 78.0))
        for k, x in enumerate(xs):
            if rng.random() < 0.8:
                cells.append((f"S{k + 1}", x, 78.0))
    abbrevs = ["Hbf", "Bf", "St.", "Str."]
    for s in range(n_stops):
        yy = y0 + s * 10.0
        r = rng.random()
        if r < 0.25:
            nm = f"Ort {chr(65 + s)} {rng.choice(abbrevs)}"
        elif r < 0.4:
            nm = f"- Teil {chr(65 + s)}"
        elif r < 0.55:
            nm = f"Muster Allee {s}"
        else:
            nm = f"Bahnhof {chr(70 + s)} Ost"
        x_nm = x_stops + (6 if r < 0.4 and rng.random() < 0.5 else 0)
        cells.append((nm, x_nm, yy))
        if rng.random() < 0.35:
            cells.append((rng.choice(["an", "ab"]), x_annot, yy))
        for k, x in enumerate(xs):
            rr = rng.random()
            if rr < 0.12:
                continue
            if rr < 0.18:
                cells.append((rng.choice(["x", "|", "—"]), x, yy))
                continue
            h, m = divmod((5 * 60 + 19 * k + 9 * s
                           + rng.randint(0, 4)) % 1440, 60)
            cells.append((f"{h}.{m:02}", x, yy))
    y_foot = y0 + n_stops * 10.0 + 8
    if rng.random() < 0.4:
        cells.append(("V=Verkehrshinweis", x_stops, y_foot))
        if rng.random() < 0.5:
            cells.append(("a: nur werktags", x_stops, y_foot + 10))
    if rng.random() < 0.3:
        cells.append(("Verkehrshinweis", x_stops, 66.0))
        for k, x in enumerate(xs):
            if rng.random() < 0.6:
                cells.append(("V", x, 66.0))
    return cells
