"""GTFS feed assembly end-to-end: entries -> seven files -> feed.zip.

Oracle: reference handler.timetable_to_gtfs semantics
(gtfs_output/handler.py:118-310) on the in-repo newpath corpus
(``generate_newpath_transcripts``), with every count derived from the
corpus construction.
"""

import dataclasses
import re
import zipfile

import pytest
from frames import entries_df
from pyspark.sql import functions as F

from pdf2gtfs_spark.config import DEFAULT_CONFIG
from pdf2gtfs_spark.operators.feed import (
    build_feed, build_routes, holiday_dates, write_feed_zip,
)
from pdf2gtfs_spark.plans.pipeline import entries_table, run_extract
from pdf2gtfs_spark.sources.transcripts import (
    generate_newpath_transcripts, vag_like_block,
)

GTFS_FILES = {"agency", "stops", "routes", "calendar", "calendar_dates",
              "trips", "stop_times"}
# class names of the plan nodes and expressions that run Python
PYTHON_NODES = ("PythonUDF", "FlatMapGroupsInPandas", "MapInPandas",
                "MapInArrow", "ArrowEvalPython", "BatchEvalPython")
WEEK = ["monday", "tuesday", "wednesday", "thursday", "friday",
        "saturday", "sunday"]


def _time(entry_id, stop_pos, name, value, days=(), route_name=""):
    """One stop's time of a timed entry in table ("c", 0, 0)."""
    return dict(conv_id="c", turn_idx=0, table_id=0, entry_id=entry_id,
                kind="time", header_text="", route_name=route_name,
                annotations=[], days=list(days), stop_pos=stop_pos,
                stop_row_idx=stop_pos, stop_name=name, stop_annot="",
                is_connection=False, value=value)


def _python_nodes(df) -> set[str]:
    """The Python-run node and expression classes in the frame's
    optimized logical plan and its physical plan."""
    qe = df._jdf.queryExecution()
    js = qe.optimizedPlan().toJSON() + qe.sparkPlan().toJSON()
    return {c for c in re.findall(r'"class":"[\w.$]*\.(\w+)"', js)
            if any(p in c for p in PYTHON_NODES)}


@pytest.fixture(scope="module")
def corpus(spark):
    """(entries, expected): 2 conversations x 2 turns of 1-3 stacked
    blocks; every block is one table whose trips carry a time at every
    stop, on one of three day sets."""
    transcripts, expected = generate_newpath_transcripts(
        n_convs=2, turns_per_conv=2)
    cfg = dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")
    ext = run_extract(spark.createDataFrame(transcripts), cfg).cache()
    yield entries_table(ext), expected
    ext.unpersist()


def _route_long_names(expected) -> set[str]:
    """First-last stop names of each block, rebuilt like the corpus
    (stop_seed = conv index * 7 + block)."""
    names = set()
    for r in expected.itertuples():
        cells, _ = vag_like_block(0.0, n_stops=r.n_stops, n_trips=0,
                                  stop_seed=int(r.conv_id[3:]) * 7
                                  + r.table_id)
        stops = [text for text, x, _ in cells if x == 40.0]
        names.add(f"{stops[0]}-{stops[-1]}")
    return names


class TestFeed:
    def test_feed_structure(self, spark, corpus):
        entries, expected = corpus
        feed = build_feed(entries, spark)
        assert set(feed) == GTFS_FILES
        # every trip has times -> none pruned
        assert feed["trips"].count() == expected.n_entries.sum()
        # one service per day set (no annotations), none on holidays
        # -> exception 2 on every holiday
        cal = feed["calendar"].collect()
        assert ({tuple(c[d] for d in WEEK) for c in cal}
                == {tuple(int(str(i) in k.split(",")) for i in range(7))
                    for k in set(expected.days_key)})
        assert len(cal) == expected.days_key.nunique()
        cd = feed["calendar_dates"].collect()
        assert len(cd) == len(cal) * len(holiday_dates())
        assert all(r["exception_type"] == 2 for r in cd)
        # one route per distinct first-last span, no route names
        routes = feed["routes"].collect()
        assert ({r["route_long_name"] for r in routes}
                == _route_long_names(expected))
        assert len(routes) == len(_route_long_names(expected))
        assert all(r["route_short_name"] == "" for r in routes)
        # every trip's route/service exists
        route_ids = {r["route_id"] for r in routes}
        service_ids = {c["service_id"] for c in cal}
        for t in feed["trips"].collect():
            assert t["route_id"] in route_ids
            assert t["service_id"] in service_ids

    def test_pruning_drops_timeless_trips(self, spark):
        rows = [
            _time(0, 0, "Stop Alpha Long", "10.00", days=["0"]),
            # entry 1 has an unparseable value only -> no stop_times
            _time(1, 0, "Stop Alpha Long", "xx", days=["0"]),
        ]
        e = entries_df(spark, rows)
        feed = build_feed(e, spark)
        trips = feed["trips"].collect()
        # the unparseable trip still has a stop_times row (day_seconds
        # 0 fallback, reference stop_times semantics) so both survive;
        # routes exist only for parseable trips
        assert feed["routes"].count() == 1

    def test_zip_deterministic(self, spark, corpus, tmp_path):
        entries, expected = corpus
        p1 = write_feed_zip(build_feed(entries, spark),
                            str(tmp_path / "feed1.zip"))
        p2 = write_feed_zip(build_feed(entries, spark),
                            str(tmp_path / "feed2.zip"))
        b1 = open(p1, "rb").read()
        assert b1 == open(p2, "rb").read()
        with zipfile.ZipFile(p1) as zf:
            assert {n.rsplit(".", 1)[0] for n in zf.namelist()} == GTFS_FILES
            st = zf.read("stop_times.txt").decode().splitlines()
            assert st[0] == ("trip_id,stop_sequence,arrival_time,"
                             "departure_time,stop_id")
            # distinct stop names per block -> no fold: one row per
            # time cell, plus the header
            assert len(st) == expected.n_time_cells.sum() + 1

    def test_feed_plans_run_no_python(self, spark):
        """No feed frame evaluates Python: the handler loop's anchors,
        shifts and repeat copies are Catalyst expressions."""
        rows = [*(_time(e, s, name, f"{h}.{10 * s:02}", days=days)
                  for e, h, days in ((0, 8, ["0"]), (2, 9, ["0"]),
                                     (3, 7, ["5"]))
                  for s, name in enumerate(["Alpha", "Beta", "Gamma"])),
                dict(conv_id="c", turn_idx=0, table_id=0, entry_id=1,
                     kind="repeat", repeat_intervals=[20], value="alle")]
        e = entries_df(spark, rows)
        # the check sees a Python UDF where there is one
        assert "PythonUDF" in _python_nodes(
            e.select(F.udf(lambda v: v)("value")))
        feed = build_feed(e, spark)
        assert {name: _python_nodes(df) for name, df in feed.items()} == {
            name: set() for name in GTFS_FILES}
        # copies at 8:20 and 8:40 between the 8:00 and 9:00 trips
        assert feed["stop_times"].count() == 5 * 3

    def test_routes_first_last_parseable(self, spark):
        rows = [
            _time(0, 0, "Alpha", "zz", route_name="S1"),  # unparseable
            _time(0, 1, "Beta", "10.00", route_name="S1"),
            _time(0, 2, "Gamma", "10.10", route_name="S1"),
        ]
        e = entries_df(spark, rows)
        r = build_routes(e).collect()
        assert len(r) == 1
        assert r[0]["route_long_name"] == "Beta-Gamma"
        assert r[0]["route_short_name"] == "S1"
