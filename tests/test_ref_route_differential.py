"""End-to-end differential for the route-location search: the repo's
operators/locate_route.py (per-route heap search via applyInPandas +
candidate prep + select/interpolate) vs the ACTUAL reference pipeline
(locate.prepare_df -> search_locations_for_all_routes ->
select_best_nodes -> interpolate_missing_node_locations), both driven
from the SAME payload (through each side's legacy extraction + GTFS
feed) and the SAME synthetic OSM candidate frame.

Comparison surface (ids are side-specific, names are not): per stop
name, the chosen node's prepared-frame index, its names string, the
final (lat, lon) after global interpolation, and the missing flag.
"""

from datetime import datetime

import pandas as pd
import pytest

from pdf2gtfs_spark.functions.normalize import normalize_name
from pdf2gtfs_spark.sources.transcripts import (
    cells_to_payload, fixture_turns,
)

from refcompat import load_reference_gtfs, reference_available

pytestmark = pytest.mark.skipif(
    not reference_available(),
    reason="reference source not present at /root/reference")

CAT_KEYS = ("railway", "bus", "tram",
            "train", "subway", "monorail", "light_rail")
OPT_TAGS = ("ref_ifopt", "wheelchair", "gtfs_name")


# ---------------------------------------------------------------------------
# synthetic OSM frame: per stop-name a few candidates at controlled
# geometry, plus traps (missing coords, excluded values, no-candidate
# stops, far-away nodes)
# ---------------------------------------------------------------------------

def synthetic_osm(stop_names: list[str], seed: int = 7) -> pd.DataFrame:
    import random
    rng = random.Random(seed)
    base_lat, base_lon = 49.0, 8.4
    rows = []
    for si, name in enumerate(stop_names):
        norm = normalize_name(name)
        if si % 5 == 4:
            continue                      # no candidates: missing stop
        n_cands = 1 + (si % 3)
        for c in range(n_cands):
            lat = base_lat + si * 0.004 + c * 0.0015 \
                + rng.uniform(-0.0005, 0.0005)
            lon = base_lon + si * 0.003 - c * 0.001
            names = norm if c == 0 else f"{norm}|{norm} halt {c}"
            row = {"names": names, "lat": round(lat, 5),
                   "lon": round(lon, 5), "public_transport": "platform"}
            for k in CAT_KEYS:
                row[k] = ""
            row["tram"] = ["stop", "halt", "yes"][c % 3]
            if si % 7 == 3 and c == 0:
                row["railway"] = "signal_box"     # excluded -> inf
            row["ref_ifopt"] = "de:08212:3" if c % 2 == 0 else ""
            row["wheelchair"] = ["yes", "maybe", "no"][c % 3]
            row["gtfs_name"] = ""
            if si % 6 == 5 and c == n_cands - 1:
                row["lat"] = 0.0                  # missing coords
            rows.append(row)
        if si % 4 == 1:
            far = {"names": norm, "lat": round(base_lat + 0.8, 5),
                   "lon": round(base_lon + 0.8, 5),
                   "public_transport": ""}
            for k in CAT_KEYS:
                far[k] = ""
            far["tram"] = "yes"
            far["ref_ifopt"] = ""
            far["wheelchair"] = ""
            far["gtfs_name"] = ""
            rows.append(far)
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# reference side
# ---------------------------------------------------------------------------

def ref_locate(payload, raw_osm: pd.DataFrame):
    ref = load_reference_gtfs()
    from refcompat import _install_folium
    _install_folium()

    from pdf2gtfs_spark.kernel.extract import cleanup_char_arrays
    from pdf2gtfs_spark.kernel.payload import decode_payload_arrays

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

    import pdf2gtfs.locate as L
    import pdf2gtfs.locate.finder as LF

    prepared = L.prepare_df(h.get_used_stops(), raw_osm.copy())
    route_nodes = L.search_locations_for_all_routes(h, prepared)
    best = L.select_best_nodes(route_nodes)
    LF.interpolate_missing_node_locations(list(best.values()))

    from pdf2gtfs.locate.finder.loc_nodes import MNode

    name_of = {s.stop_id: s.stop_name for s in h.stops.entries}
    out = {}
    for stop_id, node in best.items():
        out[name_of[stop_id]] = {
            "idx": int(node.index),
            "names": node.names,
            "lat": node.loc.lat, "lon": node.loc.lon,
            "missing": isinstance(node, MNode),
        }
    return out


# ---------------------------------------------------------------------------
# repo side
# ---------------------------------------------------------------------------

def repo_locate(payload, raw_osm: pd.DataFrame, spark):
    import pdf2gtfs.locate as L

    from pdf2gtfs_spark.operators.feed import build_feed
    from pdf2gtfs_spark.operators.locate_route import (
        find_route_nodes, prepare_candidates, select_and_interpolate,
        unique_routes_meta,
    )
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
    stops_src = stops_table(extracted)
    feed = build_feed(entries, spark, stops_src=stops_src)
    trips_pdf = feed["trips"].toPandas()
    st_pdf = feed["stop_times"].toPandas()
    stops_pdf = feed["stops"].toPandas()
    src_pdf = stops_src.toPandas().sort_values(
        ["conv_id", "turn_idx", "table_id", "stop_pos"], kind="stable")
    extracted.unpersist()

    # document-order stop list (the reference's stops.entries order)
    seen = {}
    norm_to_id = {}
    for r in stops_pdf.itertuples():
        norm_to_id[normalize_name(r.stop_name)] = str(r.stop_id)
    stops_ordered = []
    for r in src_pdf.itertuples():
        if r.is_connection:
            continue
        norm = normalize_name(r.stop_name)
        if norm in seen:
            continue
        seen[norm] = True
        stops_ordered.append((norm_to_id[norm], r.stop_name))

    includes, excludes = L.read_osm_values_yaml()["Tram"]
    cands = prepare_candidates(stops_ordered, raw_osm.copy(),
                               includes, excludes, CAT_KEYS)
    metas = unique_routes_meta(trips_pdf, st_pdf, stops_pdf)
    cands_df = spark.createDataFrame(
        cands) if len(cands) else spark.createDataFrame(
        [], "idx long, stop_id string, names string, lat double, "
            "lon double, node_cost double, name_cost double")
    found = find_route_nodes(spark, metas, cands_df).toPandas()
    best = select_and_interpolate(found)

    name_of = {str(i): n for i, n in
               zip(stops_pdf["stop_id"], stops_pdf["stop_name"])}
    out = {}
    for r in best.itertuples():
        out[name_of[str(r.stop_id)]] = {
            "idx": int(r.node_idx),
            "names": r.names,
            "lat": r.lat, "lon": r.lon,
            "missing": bool(r.is_missing),
        }
    return out


def assert_locate_equivalent(payload, raw_osm, spark, label):
    ref = ref_locate(payload, raw_osm)
    got = repo_locate(payload, raw_osm, spark)
    assert set(ref) == set(got), \
        f"{label}: stop sets differ\n ref={sorted(ref)}\nrepo={sorted(got)}"
    for name in ref:
        r, g = ref[name], got[name]
        assert g["idx"] == r["idx"], (label, name, r, g)
        assert g["names"] == r["names"], (label, name, r, g)
        assert g["missing"] == r["missing"], (label, name, r, g)
        if r["lat"] is None or g["lat"] is None:
            assert (r["lat"] == 0 or r["lat"] is None) \
                and g["lat"] is None, (label, name, r, g)
            continue
        assert g["lat"] == pytest.approx(r["lat"], abs=2e-5), \
            (label, name, r, g)
        assert g["lon"] == pytest.approx(r["lon"], abs=2e-5), \
            (label, name, r, g)
    return ref


class TestRouteLocation:
    def test_vag_fixture(self, spark):
        _, payload, _ = fixture_turns()[0]
        ref = _run_fixture(payload, spark, "vag", seed=7)
        assert ref, "vag must locate stops"

    def test_kvv_fixture(self, spark):
        _, payload, _ = fixture_turns()[1]
        _run_fixture(payload, spark, "kvv", seed=11)

    @pytest.mark.parametrize("seed", [1000, 1002, 1004])
    def test_random_layouts(self, spark, seed):
        import random

        from test_ref_differential import TestSeededRandomLayouts
        rng = random.Random(seed)
        cells = TestSeededRandomLayouts._layout(None, rng)
        payload = cells_to_payload(cells)
        _run_fixture(payload, spark, f"rnd{seed}", seed=seed)


def _run_fixture(payload, spark, label, seed):
    ref_handles = load_reference_gtfs()  # ensures Config is loaded
    stop_names = _stop_names_for(payload, ref_handles)
    raw = synthetic_osm(stop_names, seed=seed)
    return assert_locate_equivalent(payload, raw, spark, label)


def _stop_names_for(payload, ref):
    from pdf2gtfs_spark.kernel.extract import cleanup_char_arrays
    from pdf2gtfs_spark.kernel.payload import decode_payload_arrays

    page, chars = decode_payload_arrays(payload)
    chars = cleanup_char_arrays(chars, page)
    df = pd.DataFrame({k: list(chars[k])
                       for k in ("x0", "x1", "y0", "y1", "text")})
    tts = ref["pdf_tables_to_timetables"](
        ref["get_pdf_tables_from_df"](df))
    names = []
    seen = set()
    for tt in tts:
        if tt is None:
            continue
        for s in tt.stops.stops:
            norm = normalize_name(s.name)
            if norm not in seen:
                seen.add(norm)
                names.append(s.name)
    return names
