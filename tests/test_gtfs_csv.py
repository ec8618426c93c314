"""GTFS feed CSV round trip (S6-S7): a ``feed.write_feed_zip`` zip read
back through ``gtfs_csv.read_gtfs_feed``."""

import zipfile

from pdf2gtfs_spark.operators.feed import write_feed_zip
from pdf2gtfs_spark.sources.gtfs_csv import read_gtfs_feed


class TestGtfsFeedIO:
    def test_write_read_zip_roundtrip(self, spark, tmp_path):
        stops = spark.createDataFrame(
            [("s1", "Hauptbahnhof, Gleis 1", "48.0", "7.8"),
             ("s2", "Moosweiher", "48.1", "7.9")],
            "stop_id string, stop_name string, stop_lat string, "
            "stop_lon string")
        trips = spark.createDataFrame(
            [("t1", "r1", "svc1")],
            "trip_id string, route_id string, service_id string")
        zip_path = write_feed_zip({"stops": stops, "trips": trips},
                                  str(tmp_path / "feed.zip"))

        out = tmp_path / "feed"
        with zipfile.ZipFile(zip_path) as zf:
            assert sorted(zf.namelist()) == ["stops.txt", "trips.txt"]
            zf.extractall(out)

        back = read_gtfs_feed(spark, str(out))
        assert set(back) == {"stops", "trips"}
        rows = {r["stop_id"]: r for r in back["stops"].collect()}
        # comma-containing name survives CSV quoting
        assert rows["s1"]["stop_name"] == "Hauptbahnhof, Gleis 1"
        assert rows["s2"]["stop_lon"] == "7.9"
        assert [tuple(r) for r in back["trips"].collect()] == [
            ("t1", "r1", "svc1")]
