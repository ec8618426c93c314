"""GTFS feed CSV source (SURVEY.md §2.1 S6).

``read_gtfs_feed``: header-aware all-string reads like the reference's
``pd.read_csv(dtype=str, keep_default_na=False)``
(gtfs_output/__init__.py:59-69). The feed's writer is
``operators.feed.write_feed_zip``.
"""

from __future__ import annotations

from pathlib import Path

GTFS_SCHEMAS = {
    # FIXTURES.md §6 (dataclass fields in the reference)
    "agency": "agency_id string, agency_name string, agency_url string, "
              "agency_timezone string",
    "stops": "stop_id string, stop_name string, stop_lat string, "
             "stop_lon string",
    "routes": "route_id string, agency_id string, route_short_name string, "
              "route_long_name string, route_type string",
    "trips": "trip_id string, route_id string, service_id string",
    "stop_times": "trip_id string, arrival_time string, "
                  "departure_time string, stop_id string, "
                  "stop_sequence string",
    "calendar": "service_id string, monday string, tuesday string, "
                "wednesday string, thursday string, friday string, "
                "saturday string, sunday string, start_date string, "
                "end_date string",
    "calendar_dates": "service_id string, date string, "
                      "exception_type string",
}


def read_gtfs_feed(spark, feed_dir: str) -> dict:
    """Read every known GTFS .txt present in feed_dir, all-string."""
    dfs = {}
    for name, schema in GTFS_SCHEMAS.items():
        p = Path(feed_dir) / f"{name}.txt"
        if not p.exists():
            continue
        dfs[name] = (spark.read
                     .option("header", True)
                     .schema(schema)
                     .csv(str(p)))
    return dfs
