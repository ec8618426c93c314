"""GTFS feed assembly: timetable entries -> the seven GTFS files ->
feed.zip (reference: datastructures/gtfs_output/handler.py:118-310).

Spark-first shapes:
- routes from first/last parseable stop per entry (routes.py:138-170):
  groupBy(trip) + min_by/max_by — one shuffle at trip grain, whose rows
  also carry each trip's service, so routes.txt and trips.txt project
  from the same aggregation;
- trips/stop_times pruning (handler.py:259-264, trips.py:66-72):
  left_semi joins (J9), never collected;
- holiday calendar_dates (handler.py:219-237): broadcast cross join of
  the (tiny) calendar dim against a deterministic holiday dim (J11);
- the zip writer collects only the final per-file frames — at real
  scale stop_times would stay a partitioned table and the zip step
  would be a driver-side stream over its CSV parts; every transform
  before it is distributed.

The holiday dim is synthesized from fixed (month, day) dates — the
sandbox has no holidays package; the reference resolves real calendars
via `country_holidays` (handler.py:225-231).
"""

from __future__ import annotations

import csv
import io
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.operators import register
from pdf2gtfs_spark.operators.gtfs import (
    _ST_TIME_RE, ANNOTS_KEY_SQL, DAYS_KEY_SQL, ENTRIES_GLOB, _md5_id,
    _repeat_copies, _time_parse_cols, _trip_key, annots_key_col,
    apply_service_day_offsets, build_calendar, build_stop_times,
    build_stops, days_key_col, handler_walk, materialize_entries,
)
from pdf2gtfs_spark.sources import literal_frame

AGENCY_ROW = ("0", "pdf2gtfs", "https://example.com", "Europe/Berlin")
FEED_DATE_BOUNDS = ("20240101", "20251231")
# deterministic fixed-date holiday dim (synthetic stand-in for the
# reference's country_holidays call)
HOLIDAY_MONTH_DAYS = [(1, 1), (5, 1), (10, 3), (12, 25), (12, 26)]


def holiday_dates() -> list[str]:
    y0, y1 = int(FEED_DATE_BOUNDS[0][:4]), int(FEED_DATE_BOUNDS[1][:4])
    return [f"{y}{m:02d}{d:02d}" for y in range(y0, y1 + 1)
            for m, d in HOLIDAY_MONTH_DAYS]


def _trip_keys(entries: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """One row per timed entry with a parseable value: ``trip_id``,
    its route (``route_id``, ``route_short_name``, ``route_long_name``,
    from the first/last parseable stop, routes.py:138-170) and its
    calendar ``service_id`` (days + annotations key)."""
    # NOTE connection stops are NOT excluded: the reference's
    # names_from_entry iterates entry.values, which still carries the
    # values of connection-flagged stops (routes.py:138-161; pinned by
    # tests/test_ref_gtfs_differential.py). Only stops.txt and
    # stop_times.txt skip connections.
    timed = (entries.where("kind = 'time' AND value IS NOT NULL "
                           "AND stop_name IS NOT NULL")
             .withColumn("trip_id", _trip_key()))
    # names_from_entry runs RAW strptime (routes.py:149-152): no
    # space strip (unlike Time.from_string) and strict field ranges —
    # '5. 35' and '5.62' are not route-name anchors (gtfs sweep v4)
    raw_is_time, _ = _time_parse_cols(F.col("value"), cfg.time_format,
                                      bounded=True)
    per_trip = (timed.where(raw_is_time).groupBy("trip_id")
                .agg(F.min_by("stop_name", "stop_pos").alias("first_stop"),
                     F.max_by("stop_name", "stop_pos").alias("last_stop"),
                     F.first("route_name", ignorenulls=True)
                     .alias("route_name"),
                     F.first(days_key_col()).alias("days_key"),
                     F.first(annots_key_col()).alias("annots_key")))
    return (per_trip
            .select("trip_id",
                    F.coalesce("route_name", F.lit(""))
                    .alias("route_short_name"),
                    F.concat_ws("-", "first_stop", "last_stop")
                    .alias("route_long_name"),
                    _md5_id(F.concat_ws("|", "days_key", "annots_key"))
                    .alias("service_id"))
            .withColumn("route_id", _md5_id(F.concat_ws(
                "|", F.lit(AGENCY_ROW[0]), "route_short_name",
                "route_long_name"))))


def _routes(keys: DataFrame) -> DataFrame:
    """routes.txt rows of a ``_trip_keys`` frame; dedup on (agency,
    short, long) with deterministic ids (A4 first-wins semantics are
    id-free here because the id is a pure function of the key)."""
    return (keys.select("route_id", F.lit(AGENCY_ROW[0]).alias("agency_id"),
                        "route_short_name", "route_long_name",
                        F.lit(3).alias("route_type"))
            .distinct())


def build_routes(entries: DataFrame,
                 cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Routes from each entry's first/last parseable stop."""
    return _routes(_trip_keys(entries, cfg))


def trip_route_service(entries: DataFrame,
                       cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """trips.txt rows: each timed entry becomes a trip bound to its
    route and calendar service."""
    return _trip_keys(entries, cfg).select("trip_id", "route_id",
                                          "service_id")


def build_calendar_dates(calendar: DataFrame,
                         spark: SparkSession) -> DataFrame:
    """J11: calendar x holiday dim broadcast cross join
    (handler.py:219-237): holiday services gain the dates
    (exception_type 1), weekday services lose them (2)."""
    hol = literal_frame(spark, [(d,) for d in holiday_dates()],
                        "date string")
    on_holiday = F.array_contains(F.split("days_key", ","), "h")
    return (calendar
            .withColumn("exception_type",
                        F.when(on_holiday, 1).otherwise(2))
            .crossJoin(F.broadcast(hol))
            .select("service_id", "date", "exception_type")
            .orderBy("service_id", "date"))


def remove_unused(trips: DataFrame, stop_times: DataFrame,
                  routes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J9 pruning: trips without stop_times, then routes without trips
    (trips.py:66-72, handler.py:259-264) — left_semi joins."""
    trips_kept = trips.join(stop_times.select("trip_id").distinct(),
                            "trip_id", "left_semi")
    routes_kept = routes.join(trips_kept.select("route_id").distinct(),
                              "route_id", "left_semi")
    return trips_kept, routes_kept


def build_feed(entries: DataFrame, spark: SparkSession,
               cfg: ExtractConfig = DEFAULT_CONFIG,
               stops_src: DataFrame | None = None) -> dict[str, DataFrame]:
    """entries -> the seven GTFS frames (handler.timetable_to_gtfs).

    Pass ``stops_src`` (pipeline.stops_table) so stops.txt also carries
    stops without any entry value, like the reference does."""
    stops = build_stops(entries, cfg, stops_src=stops_src)
    st = build_stop_times(entries, stops, cfg)
    # cross-entry service-day offsets precede repeat expansion: the
    # reference duplicates the already-shifted previous trip and
    # compares against the already-shifted next (handler.py:144-217);
    # one walk yields both the offsets and the repeat sandwiches
    walk = handler_walk(entries, st)
    st = apply_service_day_offsets(
        st, walk.select("trip_id", "shift_seconds"))
    rep = _repeat_copies(entries, walk, st, cfg)
    stop_times = st.select(
        "trip_id", "stop_sequence", "arrival_time", "departure_time",
        "stop_id").unionByName(rep.select(
            "trip_id", "stop_sequence", "arrival_time", "departure_time",
            "stop_id"))
    keys = _trip_keys(entries, cfg)
    cal = build_calendar(entries)
    trs = keys.select("trip_id", "route_id", "service_id")
    # repeat-expanded trips ("<next-anchor>#k") inherit the NEXT (right)
    # anchor's route/service — the reference's trip_factory is built
    # from the current entry (handler.py:163-216)
    rep_trips = (rep.select("trip_id").distinct()
                 .withColumn("anchor",
                             F.substring_index("trip_id", "#", 1))
                 .join(trs.withColumnRenamed("trip_id", "anchor"),
                       "anchor")
                 .drop("anchor"))
    trips = trs.unionByName(rep_trips)
    trips_kept, routes_kept = remove_unused(trips, stop_times,
                                            _routes(keys))
    agency = literal_frame(
        spark, [AGENCY_ROW], "agency_id string, agency_name string, "
        "agency_url string, agency_timezone string")
    calendar = cal.select(
        "service_id",
        *[F.col(d) for d in ["monday", "tuesday", "wednesday", "thursday",
                             "friday", "saturday", "sunday"]],
        F.lit(FEED_DATE_BOUNDS[0]).alias("start_date"),
        F.lit(FEED_DATE_BOUNDS[1]).alias("end_date"))
    calendar_dates = build_calendar_dates(cal, spark)
    return {
        "agency": agency,
        "stops": stops.select("stop_id", "stop_name"),
        "routes": routes_kept,
        "calendar": calendar,
        "calendar_dates": calendar_dates,
        "trips": trips_kept.select("route_id", "service_id", "trip_id"),
        "stop_times": stop_times,
    }


def write_feed_zip(feed: dict[str, DataFrame], out_path: str) -> str:
    """Serialize the frames as GTFS CSVs into one zip (S7,
    handler.py:266-310). Deterministic: Spark sorts each frame by all
    columns (executor-side shuffle sort); the driver only streams the
    already-ordered rows into the zip via toLocalIterator — one
    partition in driver memory at a time, never a full toPandas.

    Driver-size bound: a GTFS feed is output-sized (stop_times
    dominates, tens of MB for a national feed), so a single-writer zip
    sink is the right shape; everything upstream stays distributed.
    """
    out = Path(out_path)
    out.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, df in feed.items():
            cols = df.columns
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow(cols)
            for row in df.orderBy(*cols).toLocalIterator():
                w.writerow(["" if v is None else v for v in row])
            info = zipfile.ZipInfo(f"{name}.txt", date_time=(2024,) + (1,) * 5)
            zf.writestr(info, buf.getvalue())
    return str(out)


# ---------------------------------------------------------------------------
# driver queries (oracles over gtfs.materialize_entries' handoff)
# ---------------------------------------------------------------------------

# the rows the feed oracles read; their SQL keeps the same rows (it
# reads only time rows that carry a stop name)
_FEED_ROWS = "stop_name IS NOT NULL OR kind = 'repeat'"

_MD5_SQL = "CAST(concat('0x', substr(md5({e}), 1, 15)) AS BIGINT)"

_ROUTES_CTE = f"""
WITH e AS (
  SELECT concat_ws('/', conv_id, CAST(turn_idx AS VARCHAR),
                   CAST(table_id AS VARCHAR),
                   CAST(entry_id AS VARCHAR)) AS trip_key,
         stop_pos, stop_name, route_name, {DAYS_KEY_SQL} AS days_key,
         {ANNOTS_KEY_SQL} AS annots_key
  FROM read_parquet('{ENTRIES_GLOB}')
  WHERE kind = 'time' AND value IS NOT NULL AND stop_name IS NOT NULL
    AND regexp_matches(replace(value, ' ', ''), '{_ST_TIME_RE}')
), per_trip AS (
  SELECT trip_key,
         arg_min(stop_name, stop_pos) AS first_stop,
         arg_max(stop_name, stop_pos) AS last_stop,
         coalesce(min(route_name), '') AS route_name,
         min(days_key) AS days_key, min(annots_key) AS annots_key
  FROM e GROUP BY trip_key
)"""


@register("gtfs_routes_from_entries", oracle=f"""
{_ROUTES_CTE}
SELECT DISTINCT
  {_MD5_SQL.format(e="concat_ws('|', '0', route_name, "
                   "concat_ws('-', first_stop, last_stop))")} AS route_id,
  route_name AS route_short_name,
  concat_ws('-', first_stop, last_stop) AS route_long_name
FROM per_trip ORDER BY route_id
""")
def gtfs_routes_from_entries(spark, sf_dir):
    """Routes from first/last parseable stop (routes.py:138-170); both
    engines derive them from the same materialized entries."""
    ent = materialize_entries(spark).where(_FEED_ROWS)
    return (build_routes(ent)
            .select("route_id", "route_short_name", "route_long_name")
            .orderBy("route_id"))


@register("gtfs_calendar_dates_holidays", oracle=f"""
WITH keys AS (
  SELECT {DAYS_KEY_SQL} AS days_key, {ANNOTS_KEY_SQL} AS annots_key
  FROM read_parquet('{ENTRIES_GLOB}')
  WHERE kind = 'time' AND stop_name IS NOT NULL
), svc AS (
  SELECT DISTINCT
    {_MD5_SQL.format(e="concat_ws('|', days_key, annots_key)")}
        AS service_id,
    days_key
  FROM keys
), hol AS (SELECT unnest([{", ".join(repr(d) for d in holiday_dates())}])
           AS date)
SELECT service_id, date,
       CASE WHEN list_contains(string_split(days_key, ','), 'h')
            THEN 1 ELSE 2 END AS exception_type
FROM svc, hol ORDER BY service_id, date
""")
def gtfs_calendar_dates_holidays(spark, sf_dir):
    """Holiday calendar_dates (J11, handler.py:219-237)."""
    ent = materialize_entries(spark).where(_FEED_ROWS)
    return build_calendar_dates(build_calendar(ent), spark)


@register("gtfs_feed_pruning", oracle=f"""
{_ROUTES_CTE}
SELECT trip_key AS trip_id,
  {_MD5_SQL.format(e="concat_ws('|', '0', route_name, "
                   "concat_ws('-', first_stop, last_stop))")} AS route_id,
  {_MD5_SQL.format(e="concat_ws('|', days_key, annots_key)")}
      AS service_id
FROM per_trip ORDER BY trip_id
""")
def gtfs_feed_pruning(spark, sf_dir):
    """remove_unused semantics (J9): only trips that produce stop_times
    survive; route/service ids attach relationally."""
    ent = materialize_entries(spark).where(_FEED_ROWS)
    stops = build_stops(ent)
    st = build_stop_times(ent, stops)
    trips = trip_route_service(ent)
    kept = trips.join(st.select("trip_id").distinct(), "trip_id",
                      "left_semi")
    return (kept.select("trip_id", "route_id", "service_id")
            .orderBy("trip_id"))
