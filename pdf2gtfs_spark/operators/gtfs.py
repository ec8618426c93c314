"""GTFS-shaping relational tail (SURVEY.md §2.4-2.5, §3.1 stage 4).

All ops are pure DataFrame transformations over the extraction output
in the kernel's own schema (`entries`/`stops` from plans.pipeline);
every derived key is computed here from its columns:

- stops dedup: first-wins on normalized name with deterministic hash
  ids (replaces the reference's sequential UIDGenerator, utils.py:15-48
  — X18: sequential ids are nondeterministic under distribution)
- trips: one per (conv, turn, table, entry)
- stop_times: W6 sequence numbering, W7 24h service-day rollover
  (stop_times.py:199-213), W11 consecutive-same-stop arrival/departure
  fold (stop_times.py:215-221), X1 time parsing with >24h semantics
- the reference's per-table handler loop (handler.py:144-217): its
  repeat anchors as window columns (``_anchors``), its service-day
  shift as one fold per table (``service_day_offsets``), both over one
  first-common-stop comparison (``_first_common``)
- repeat expansion: sequence+explode between anchor trips
  (stop_times.py:247-264), cycle/mean strategies (X10, A10)
- calendar: dedup on (days, annotations) (calendar.py:109-123)

Scale: every op is a window, a higher-order function or a hash-shuffle
on (conv_id-derived) keys; no driver loops and no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.functions.normalize import normalize_col
from pdf2gtfs_spark.kernel.timefmt import time_format_to_regex
from pdf2gtfs_spark.operators import register


def _time_parse_cols(col, fmt: str, bounded: bool = False):
    """X1: strftime-format -> day-seconds via regexp (never Timestamp).

    ``bounded=True`` additionally enforces strptime's field ranges
    (H 0-23, M 0-59 — kernel/timefmt._FIELD_SPECS), mirroring
    Time.from_string / routes.names_from_entry, which reject '5.62'
    (gtfs sweep family v4; the shape-only regex accepted it)."""
    from pdf2gtfs_spark.kernel.timefmt import _FIELD_SPECS

    pattern, order = time_format_to_regex(fmt)
    jregex = pattern.pattern
    mult = {"H": 3600, "M": 60, "S": 1}
    matched = F.regexp_extract(col, jregex, 0) != ""
    expr = F.lit(0)
    is_time = matched
    for i, spec in enumerate(order, start=1):
        # ANSI mode: cast('') throws, so the cast must stay behind the
        # match guard (the non-bounded expr only ever runs under a
        # when(is_time, ...) at the call sites)
        raw = F.regexp_extract(col, jregex, i)
        expr = expr + raw.cast("int") * mult[spec]
        if bounded:
            v = F.when(matched, raw.cast("int"))
            lo, hi = _FIELD_SPECS[spec][1], _FIELD_SPECS[spec][2]
            is_time = is_time & (v >= lo) & (v <= hi)
    return is_time, expr


def _md5_id(col):
    """Deterministic 60-bit id from a key column (X18 replacement —
    sequential UIDs are nondeterministic under distribution)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _trip_key():
    """Deterministic trip key of an entry: conv/turn/table/entry."""
    return F.concat_ws("/", "conv_id", "turn_idx", "table_id", "entry_id")


def gtfs_time_str(seconds_col):
    """int seconds -> 'HH:MM:SS' with hours allowed past 24."""
    h = (seconds_col / 3600).cast("int")
    m = ((seconds_col % 3600) / 60).cast("int")
    s = (seconds_col % 60).cast("int")
    return F.format_string("%02d:%02d:%02d", h, m, s)


def build_stops(entries: DataFrame,
                cfg: ExtractConfig = DEFAULT_CONFIG,
                stops_src: DataFrame | None = None) -> DataFrame:
    """A4/J5: first-wins dedup on normalized stop name.

    stop_id = 60-bit hash of the normalized name: deterministic across
    runs/cluster sizes, unlike sequential ids (X18).

    "First" is DOCUMENT order (conv, turn, table, stop_pos), matching
    the reference's GTFSStops.add which keeps the first-seen display
    variant while later same-normalized names only mark reuse
    (stop.py:187-196; pinned by the GTFS differential tests).

    ``stops_src`` (the stop-grain frame, pipeline.stops_table) is the
    faithful source: the reference registers EVERY non-connection
    timetable stop (add_timetable_stops), including stops that carry no
    value in any entry — which the entry-grain frame cannot see.
    Without it the stops come from the entries (value-less stops never
    reach stop_times anyway).
    """
    src = stops_src if stops_src is not None else entries
    order_cols = ["conv_id", "turn_idx", "table_id", "stop_pos"]
    cond = ("stop_name IS NOT NULL" if stops_src is not None
            else "kind = 'time' AND stop_name IS NOT NULL")
    # add_timetable_stops only registers non-connection stops
    # (handler.py:132-136, StopList.stops property)
    stops = (src.where(cond)
             .where(~F.coalesce("is_connection", F.lit(False)))
             .select("stop_name", *order_cols)
             .withColumn("normalized_name",
                         normalize_col(F.col("stop_name"), cfg)))
    w = Window.partitionBy("normalized_name").orderBy(
        *order_cols, "stop_name")
    return (stops.withColumn("rn", F.row_number().over(w))
            .where("rn = 1")
            .select(_md5_id(F.col("normalized_name")).alias("stop_id"),
                    "stop_name", "normalized_name"))


def build_stop_times(entries: DataFrame, stops: DataFrame,
                     cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """entries -> GTFS stop_times rows.

    Window chain per trip (= one extracted column), ordered by stop_pos:
      1. X1 parse to day-seconds;
      2. W7 rollover: +24h each time the clock runs backwards
         (prefix-sum window);
      3. W11 fold: runs of consecutive equal normalized stops collapse
         to one row (first time = arrival, last = departure);
      4. W6: stop_sequence = position of the run's first stop.
    """
    # reference skips connection stops before emitting stop_times
    # (gtfs_output/stop_times.py:205-207)
    timed = (entries
             .where("kind = 'time' AND value IS NOT NULL "
                    "AND stop_name IS NOT NULL")
             .where(~F.coalesce("is_connection", F.lit(False)))
             .withColumn("trip_id", _trip_key()))
    # Time.from_string strips spaces, then strptime enforces field
    # ranges (stop_times.py:32-41): '5.62' is NOT a time (-> 0s)
    is_time, secs = _time_parse_cols(
        F.regexp_replace("value", " ", ""), cfg.time_format,
        bounded=True)
    timed = (timed.withColumn("day_seconds",
                              F.when(is_time, secs).otherwise(0))
             .withColumn("normalized_name",
                         normalize_col(F.col("stop_name"), cfg)))

    w = Window.partitionBy("trip_id").orderBy("stop_pos")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # W7 rollover
    rolled = (timed.withColumn(
        "wrapped",
        F.when(F.col("day_seconds")
               < F.lag("day_seconds").over(w), 1).otherwise(0))
        .withColumn("svc_seconds",
                    F.col("day_seconds")
                    + 86400 * F.sum("wrapped").over(run)))
    # W11 fold: run-cluster consecutive same normalized stops
    new_run = F.when(
        F.lag("normalized_name").over(w).isNull()
        | (F.lag("normalized_name").over(w) != F.col("normalized_name")),
        1).otherwise(0)
    clustered = rolled.withColumn(
        "run_id", F.sum(new_run).over(run))
    folded = (clustered.groupBy("trip_id", "run_id")
              .agg(F.first("normalized_name").alias("normalized_name"),
                   F.min("stop_pos").alias("stop_sequence"),
                   F.min("svc_seconds").alias("arr_seconds"),
                   F.max("svc_seconds").alias("dep_seconds")))
    return (folded
            .join(F.broadcast(stops.select("stop_id", "normalized_name")),
                  "normalized_name")
            .select("trip_id", "stop_sequence",
                    F.col("arr_seconds"), F.col("dep_seconds"),
                    gtfs_time_str(F.col("arr_seconds"))
                    .alias("arrival_time"),
                    gtfs_time_str(F.col("dep_seconds"))
                    .alias("departure_time"),
                    "stop_id")
            .orderBy("trip_id", "stop_sequence"))


def expand_repeats(entries: DataFrame, stop_times: DataFrame,
                   cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """Repeat expansion (stop_times.py:247-264) as sequence+explode.

    For each repeat column sandwiched between two timed entries
    (``_anchors``), emit shifted copies of the previous trip until the
    next trip's start is reached. Shift of the k-th copy under the
    cycle strategy:
        shift(k) = (k // len) * sum(deltas) + prefix[k % len]
    computed with element_at over a per-entry cumulative-sum array.
    """
    reps = (entries.where(_REPEAT_OK)
            .select(_trip_key().alias("repeat_trip"), "repeat_intervals")
            .distinct())
    if cfg.repeat_strategy == "mean":
        reps = reps.withColumn(
            "deltas",
            F.array(F.aggregate("repeat_intervals", F.lit(0.0),
                                lambda a, x: a + x)
                    / F.size("repeat_intervals")))
    else:
        reps = reps.withColumn(
            "deltas", F.col("repeat_intervals").cast("array<double>"))
    # The reference's stopping rule compares each copy with the next
    # trip at their first common stop (_first_common), so the gap is
    # measured there — not at each trip's own first stop.  Trips with
    # no common stop make the reference assert/loop; they are dropped
    # here (gap is null).
    anchored = (_first_common(reps.join(_anchors(entries), "repeat_trip")
                              .select("deltas", "prev_trip", "trip_id"),
                              stop_times)
                .select("deltas", "prev_trip",
                        F.col("trip_id").alias("next_trip"),
                        (F.col("n_arr") - F.col("p_arr")).alias("gap"))
                .where(F.col("gap") > 0))
    # cumulative-sum array of one delta cycle
    anchored = (anchored
                .withColumn("cycle_sum",
                            F.aggregate("deltas", F.lit(0.0),
                                        lambda a, x: a + x) * 60)
                .withColumn(
                    "prefix",
                    F.transform(
                        F.sequence(F.lit(1), F.size("deltas")),
                        lambda i: F.aggregate(
                            F.slice("deltas", 1, i), F.lit(0.0),
                            lambda a, x: a + x) * 60))
                .withColumn("n_deltas", F.size("deltas")))
    min_delta = F.array_min("deltas") * 60
    k_hi = F.ceil(F.col("gap") / min_delta) + 1
    exploded = (anchored
                .withColumn("k", F.explode(F.sequence(F.lit(1), k_hi)))
                .withColumn(
                    "shift_s",
                    (F.floor((F.col("k") - 1) / F.col("n_deltas"))
                     * F.col("cycle_sum"))
                    + F.element_at(
                        "prefix",
                        ((F.col("k") - 1) % F.col("n_deltas") + 1)
                        .cast("int")))
                # strict <: the reference keeps a copy only while
                # new < next_ at the common stop (add_repeat breaks on
                # __gt__ = not __lt__, so an exact tie is dropped)
                .where(F.col("shift_s") < F.col("gap")))
    copies = (exploded
              .select("prev_trip", "next_trip", "k",
                      F.col("shift_s").cast("bigint").alias("shift_s")))
    # times are shifted copies of the PREVIOUS trip, but the generated
    # trip's identity (and thus route/service inheritance in
    # build_feed) comes from the NEXT entry: the reference's
    # trip_factory is built from the CURRENT (right) entry's route_id
    # and calendar entry (handler.py:163-216, add_repeat)
    out = (stop_times.join(
               copies.withColumnRenamed("prev_trip", "trip_id"), "trip_id")
           .select(
               F.concat_ws("#", "next_trip", F.col("k").cast("string"))
               .alias("trip_id"),
               "stop_sequence",
               (F.col("arr_seconds") + F.col("shift_s"))
               .alias("arr_seconds"),
               (F.col("dep_seconds") + F.col("shift_s"))
               .alias("dep_seconds"),
               "stop_id")
           .withColumn("arrival_time", gtfs_time_str(F.col("arr_seconds")))
           .withColumn("departure_time", gtfs_time_str(F.col("dep_seconds")))
           .select("trip_id", "stop_sequence", "arr_seconds", "dep_seconds",
                   "arrival_time", "departure_time", "stop_id"))
    return out


_TABLE_KEY = ["conv_id", "turn_idx", "table_id"]
_REPEAT_OK = ("kind = 'repeat' AND repeat_intervals IS NOT NULL "
              "AND size(repeat_intervals) > 0")


def _anchors(entries: DataFrame) -> DataFrame:
    """The pointers of the reference's per-table handler loop
    (handler.py:175-216), one row per timed entry: the table key,
    ``entry_id``, ``trip_id``, ``new_days``, ``pending``, ``prev_trip``
    and ``repeat_trip``. They depend only on kind, days and intervals,
    so they are window columns over each table's entries in
    ``entry_id`` order:

    - ``pending`` is the repeat just before the entry when that repeat
      has intervals. A repeat without intervals clears the pending one
      and a later repeat replaces an earlier (handler.py:182-184).
    - A timed entry is an anchor (it becomes ``previous``) when nothing
      is pending: ``previous`` advances only then, so stacked
      sandwiches (time, repeat, time, repeat, time) all anchor on the
      entry before the FIRST repeat (sweep seed 97194).
    - A days segment is a run of consecutive timed entries with the
      same days; ``new_days`` marks its first entry, where the chain
      resets (offset 0, previous None). Annotations are not part of
      same_days (calendar.py:109-115).
    - ``prev_trip`` is the last anchor before the entry in its segment.
    - ``repeat_trip`` is ``pending``, set only when ``prev_trip`` is: a
      repeat with previous None is skipped (handler.py:205-210).
    """
    w = Window.partitionBy(*_TABLE_KEY).orderBy("entry_id")
    timed = (entries.where("kind IN ('time', 'repeat')")
             .select(*_TABLE_KEY, "entry_id", "kind",
                     days_key_col().alias("days_key"),
                     F.expr(_REPEAT_OK).alias("repeat_ok"))
             .distinct()
             .withColumn("trip_id", _trip_key())
             .withColumn("pending", F.when(F.lag("repeat_ok").over(w),
                                           F.lag("trip_id").over(w)))
             .where("kind = 'time'")
             .withColumn("new_days", F.coalesce(
                 F.lag("days_key").over(w) != F.col("days_key"),
                 F.lit(True)))
             .withColumn("segment", F.sum(F.col("new_days").cast("int"))
                         .over(w.rowsBetween(Window.unboundedPreceding, 0))))
    before = (Window.partitionBy(*_TABLE_KEY, "segment").orderBy("entry_id")
              .rowsBetween(Window.unboundedPreceding, -1))
    prev = F.last(F.when(F.col("pending").isNull(), F.col("trip_id")),
                  ignorenulls=True).over(before)
    return (timed.withColumn("prev_trip", prev)
            .withColumn("repeat_trip",
                        F.when(F.col("prev_trip").isNotNull(),
                               F.col("pending")))
            .select(*_TABLE_KEY, "entry_id", "trip_id", "new_days",
                    "pending", "prev_trip", "repeat_trip"))


def _first_common(pairs: DataFrame, stop_times: DataFrame) -> DataFrame:
    """The reference's trip comparison (StopTimes.__lt__,
    stop_times.py:265-279) for each row of ``pairs``, which names a
    ``prev_trip`` and a ``trip_id``: both trips' arrivals at the first
    stop, in the previous trip's order, that the other trip also
    serves. A trip's arrival at a stop is its FIRST row there
    (_get_entry_from_stop_id), on both trips, so a trip that visits a
    stop twice (a cyclic route, or a multi-block collapse) is compared
    at its first visit.

    Adds ``compared`` (the previous trip has stop times), ``p_arr`` and
    ``n_arr``; the arrivals are NULL when the two trips share no stop.
    """
    first = (stop_times.groupBy("trip_id", "stop_id")
             .agg(F.min(F.struct("stop_sequence", "arr_seconds"))
                  .alias("f")))
    prev = first.select(F.col("trip_id").alias("prev_trip"), "stop_id",
                        F.col("f.stop_sequence").alias("p_seq"),
                        F.col("f.arr_seconds").alias("p_arr"))
    nxt = first.select("trip_id", "stop_id",
                       F.col("f.arr_seconds").alias("n_arr"))
    common = F.min(F.when(F.col("n_arr").isNotNull(),
                          F.struct("p_seq", "p_arr", "n_arr")))
    return (pairs.join(prev, "prev_trip", "left")
            .join(nxt, ["trip_id", "stop_id"], "left")
            .groupBy(*pairs.columns)
            .agg((F.count("p_seq") > 0).alias("compared"),
                 common.alias("c"))
            .select(*pairs.columns, "compared", "c.p_arr", "c.n_arr"))


def service_day_offsets(entries: DataFrame, stop_times: DataFrame,
                        cfg: ExtractConfig = DEFAULT_CONFIG) -> DataFrame:
    """(trip_id, shift_seconds): the reference's service-day offset
    chain (handler.py:144-217), one fold per table over its timed
    entries in ``entry_id`` order with an (offset, anchor_shift) state,
    where anchor_shift is the shift of the last anchor (``_anchors``).
    Mirrored bug-for-bug:

    - new_day() tests ``previous > current`` where __gt__ is
      ``not __lt__ and not __eq__`` (stop_times.py:285-286) and __lt__
      compares arrivals at the first common stop (``_first_common``),
      the previous trip's shifted, the current one's at the running
      offset — so a tie OR a disjoint stop set also triggers the +24h
      shift;
    - an EMPTY previous StopTimes (every stop a connection) is FALSY
      (BaseContainer.__len__, gtfs_output/__init__.py:141), so
      ``previous and previous > current`` (handler.py:173)
      short-circuits and no shift fires (GTFS sweep seed 70000);
    - the accumulated ``service_day_offset`` is passed to add_multiple
      as ``Time(offset)`` — i.e. as HOURS, not days (handler.py:152,
      stop_times.py:202): the n-th day-crossing column is shifted by
      24h + (n-1)h on top of earlier offsets;
    - a new days segment resets the offset.
    """
    steps = (_first_common(_anchors(entries), stop_times)
             .groupBy(*_TABLE_KEY)
             .agg(F.array_sort(F.collect_list(F.struct(
                 "entry_id", "trip_id", "new_days", "pending", "compared",
                 "p_arr", "n_arr"))).alias("steps")))

    def step(acc, x):
        offset = F.when(x["new_days"], 0).otherwise(acc["offset"])
        fire = x["compared"] & (
            x["n_arr"].isNull()
            | ~(x["p_arr"] + acc["anchor_shift"]
                < x["n_arr"] + 3600 * offset))
        shift = (3600 * offset
                 + F.when(fire, 86400).otherwise(0)).cast("bigint")
        return F.struct(
            (offset + fire.cast("int")).alias("offset"),
            F.when(x["pending"].isNull(), shift)
            .otherwise(acc["anchor_shift"]).alias("anchor_shift"),
            F.concat(acc["shifts"], F.array(F.struct(
                x["trip_id"].alias("trip_id"),
                shift.alias("shift_seconds")))).alias("shifts"))

    zero = F.struct(
        F.lit(0).alias("offset"),
        F.lit(0).cast("bigint").alias("anchor_shift"),
        F.array().cast("array<struct<trip_id:string,shift_seconds:bigint>>")
        .alias("shifts"))
    return steps.select(F.inline(F.aggregate("steps", zero, step,
                                             lambda acc: acc["shifts"])))


def apply_service_day_offsets(stop_times: DataFrame,
                              offsets: DataFrame) -> DataFrame:
    """Shift each trip's stop_times by its service-day offset and
    regenerate the GTFS time strings."""
    shifted = (stop_times.join(offsets, "trip_id", "left")
               .withColumn("shift_seconds",
                           F.coalesce("shift_seconds", F.lit(0)))
               .withColumn("arr_seconds",
                           F.col("arr_seconds") + F.col("shift_seconds"))
               .withColumn("dep_seconds",
                           F.col("dep_seconds") + F.col("shift_seconds"))
               .drop("shift_seconds"))
    return (shifted
            .withColumn("arrival_time", gtfs_time_str(F.col("arr_seconds")))
            .withColumn("departure_time",
                        gtfs_time_str(F.col("dep_seconds"))))


def days_key_col():
    """Calendar days key: the entry's day tokens joined by ',' ('' when
    it has none)."""
    return F.array_join(F.coalesce(
        F.col("days"), F.array().cast("array<string>")), ",")


def annots_key_col(col: str = "annotations"):
    """Collision-proof annotations key. The reference dedups calendar
    entries on the annotation SET (calendar.py:109-123); annotation
    tokens are whitespace-split words and may contain ',' (gtfs sweep
    seed 98215: token '86,.3005'), so a plain ',' join conflated
    {'a,b'} with {'a','b'}. Escape '\\' then ',' per token before the
    join — set equality <=> key equality. Comma-free sets (all
    declared fixtures) keep their exact previous key, so no declared
    service_id changes."""
    esc = F.transform(
        F.coalesce(F.col(col), F.array().cast("array<string>")),
        lambda x: F.replace(F.replace(x, F.lit("\\"), F.lit("\\\\")),
                            F.lit(","), F.lit("\\,")))
    return F.array_join(esc, ",")


def build_calendar(entries: DataFrame) -> DataFrame:
    """A4 calendar dedup on (days, annotations) (calendar.py:109-123)."""
    svc = (entries.where("kind = 'time'")
           .select(days_key_col().alias("days_key"),
                   annots_key_col().alias("annots_key"),
                   "days")
           .distinct())
    day_flags = [
        F.array_contains(F.coalesce(F.col("days"),
                                    F.array().cast("array<string>")),
                         str(i)).cast("int").alias(dname)
        for i, dname in enumerate(
            ["monday", "tuesday", "wednesday", "thursday", "friday",
             "saturday", "sunday"])]
    return (svc.select(
                _md5_id(F.concat_ws("|", "days_key", "annots_key"))
                .alias("service_id"),
                "days_key", "annots_key", *day_flags)
            .distinct()
            .orderBy("service_id"))


# ---------------------------------------------------------------------------
# registered queries
# ---------------------------------------------------------------------------
#
# Kernel-backed queries hand DuckDB a deterministic parquet (see _aux):
# - flagship: the *expected* per-turn CSVs from the fixture/synthetic
#   generator (ground truth, computed without the Spark kernel); the
#   oracle hashes those, the Spark side hashes what the distributed
#   kernel actually extracted -> hash match == per-turn text equality.
# - gtfs/feed tail: the kernel's entries are materialized once
#   (materialize_entries) and BOTH engines derive every key and run the
#   tail's windows, folds and joins on that same parquet.

from pdf2gtfs_spark.operators._aux import (aux_glob, aux_path,
                                            write_aux_pandas,
                                            write_aux_spark)

_SYNTH_PARAMS = dict(n_convs=3, base_turns=2, skew_every=0)


def _synthetic_transcripts():
    from pdf2gtfs_spark.sources.transcripts import generate_transcripts

    return generate_transcripts(**_SYNTH_PARAMS)


def _synthetic_extracted(spark):
    from pdf2gtfs_spark.plans.pipeline import run_extract

    transcripts, _ = _synthetic_transcripts()
    tdf = spark.createDataFrame(transcripts)
    return run_extract(tdf, num_partitions=8)


@register("extract_cells_flagship", oracle=f"""
SELECT conv_id, turn_idx,
       md5(expected_csvs) AS csv_md5,
       CAST(length(expected_csvs) AS BIGINT) AS csv_len
FROM read_parquet('{aux_path("flagship_expected.parquet")}')
ORDER BY conv_id, turn_idx
""")
def extract_cells_flagship(spark, sf_dir):
    """Flagship invariant, oracle-checked: the distributed kernel's
    per-turn CSV concatenation must hash-equal the generator's expected
    CSVs (BASELINE.json per-turn text equality)."""
    from pdf2gtfs_spark.plans.pipeline import turn_csvs

    _, expected = _synthetic_transcripts()
    write_aux_pandas("flagship_expected.parquet", expected)
    per_turn = turn_csvs(_synthetic_extracted(spark))
    return (per_turn.select(
                "conv_id", "turn_idx",
                F.md5("extracted_csvs").alias("csv_md5"),
                F.length("extracted_csvs").cast("bigint").alias("csv_len"))
            .orderBy("conv_id", "turn_idx"))


@register("extract_cells_newpath", oracle=f"""
SELECT conv_id, turn_idx, table_id, n_stops, n_entries, days_key,
       n_time_cells
FROM read_parquet('{aux_path("newpath_expected.parquet")}')
ORDER BY conv_id, turn_idx, table_id
""")
def extract_cells_newpath(spark, sf_dir):
    """New (default) extraction path on the vag-like block corpus: the
    distributed kernel's per-table structure (stop/entry/time-cell
    counts, inferred days) must match facts derived from the corpus
    construction (sources/transcripts.py:generate_newpath_transcripts),
    which the oracle reads back independently."""
    import dataclasses

    from pdf2gtfs_spark.config import DEFAULT_CONFIG
    from pdf2gtfs_spark.plans.pipeline import (
        cells_table, entries_table, run_extract, stops_table,
    )
    from pdf2gtfs_spark.sources.transcripts import (
        generate_newpath_transcripts,
    )

    transcripts, expected = generate_newpath_transcripts()
    write_aux_pandas("newpath_expected.parquet", expected)
    cfg = dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")
    extracted = run_extract(spark.createDataFrame(transcripts), cfg,
                            num_partitions=8)
    keys = ["conv_id", "turn_idx", "table_id"]
    n_stops = (stops_table(extracted).groupBy(keys)
               .agg(F.count("*").alias("n_stops")))
    ent = entries_table(extracted).where("kind = 'time'")
    n_entries = (ent.groupBy(keys)
                 .agg(F.countDistinct("entry_id").alias("n_entries"),
                      F.min(days_key_col()).alias("days_key")))
    n_time = (cells_table(extracted).where("col_type = 'Time'")
              .groupBy(keys).agg(F.count("*").alias("n_time_cells")))
    return (n_stops.join(n_entries, keys).join(n_time, keys)
            .select("conv_id", "turn_idx", "table_id",
                    F.col("n_stops").cast("bigint").alias("n_stops"),
                    F.col("n_entries").cast("bigint").alias("n_entries"),
                    "days_key",
                    F.col("n_time_cells").cast("bigint")
                    .alias("n_time_cells"))
            .orderBy(*keys))


# heavily skewed conversations: every 4th conv is 16x longer (up to
# 64 turns vs a median of ~3) — the monster convs dominate the input
_SKEW_PARAMS = dict(n_convs=12, base_turns=2, skew_every=4,
                    skew_factor=16, include_fixtures=False)


@register("extract_skewed_salted", oracle=f"""
SELECT conv_id, turn_idx,
       md5(expected_csvs) AS csv_md5,
       CAST(length(expected_csvs) AS BIGINT) AS csv_len
FROM read_parquet('{aux_path("skewed_expected.parquet")}')
ORDER BY conv_id, turn_idx
""")
def extract_skewed_salted(spark, sf_dir):
    """Skew handling as a driver-checked invariant (SURVEY §4 item 1):
    a transcripts table with 16x-skewed conversation lengths runs
    through the SALTED extract path — run_extract(num_partitions=...)
    hash-repartitions on (conv_id, turn_idx) so the monster
    conversations spread across tasks — and the per-turn CSVs must
    still hash-equal the generator's expectations (salting must not
    perturb per-turn ordering or content).  Wall-clock evidence for
    the same claim: ``tools/scaling_bench.py skew`` (BENCH/BASELINE.md
    round 4)."""
    from pdf2gtfs_spark.plans.pipeline import run_extract, turn_csvs
    from pdf2gtfs_spark.sources.transcripts import generate_transcripts

    transcripts, expected = generate_transcripts(**_SKEW_PARAMS)
    write_aux_pandas("skewed_expected.parquet", expected)
    per_turn = turn_csvs(run_extract(spark.createDataFrame(transcripts),
                                     num_partitions=16))
    return (per_turn.select(
                "conv_id", "turn_idx",
                F.md5("extracted_csvs").alias("csv_md5"),
                F.length("extracted_csvs").cast("bigint")
                .alias("csv_len"))
            .orderBy("conv_id", "turn_idx"))


_ENTRIES_PARQUET = aux_path("gtfs_entries.parquet")   # Spark-written dir
ENTRIES_GLOB = aux_glob("gtfs_entries.parquet")       # DuckDB-side glob
_ST_TIME_RE = r"^(\d{1,2})\.(\d{1,2})$"

# DuckDB spellings of days_key_col / annots_key_col and _REPEAT_OK.
# array_to_string gives NULL on an empty list where Spark's array_join
# gives '', hence the coalesce.
DAYS_KEY_SQL = "coalesce(array_to_string(days, ','), '')"
ANNOTS_KEY_SQL = (r"coalesce(array_to_string(list_transform(annotations, "
                  r"x -> replace(replace(x, '\', '\\'), ',', '\,')), ','), "
                  r"'')")
_REPEAT_OK_SQL = ("kind = 'repeat' AND repeat_intervals IS NOT NULL "
                  "AND len(repeat_intervals) > 0")


def materialize_entries(spark) -> DataFrame:
    """The one handoff of the gtfs/feed oracles: the kernel's entries of
    the synthetic corpus, unfiltered, plus ``trip_id`` and the
    ``normalized_name`` that DuckDB cannot compute (normalize_col).
    Each query filters the re-read frame itself."""
    from pdf2gtfs_spark.plans.pipeline import entries_table

    handoff = (entries_table(_synthetic_extracted(spark))
               .withColumn("trip_id", _trip_key())
               .withColumn("normalized_name",
                           normalize_col(F.col("stop_name"))))
    # executor-side handoff: write.parquet, never toPandas — at 100 TB
    # the entries frame does not fit on the driver (VERDICT r2 #2)
    write_aux_spark("gtfs_entries.parquet", handoff)
    return spark.read.parquet(_ENTRIES_PARQUET)


# build_stop_times' W7 rollover / W11 fold chain over the emitted
# (non-connection) stop times; both gtfs oracles below start from it
_ST_CHAIN_SQL = f"""
e AS (
  SELECT conv_id, turn_idx, table_id, trip_id, stop_pos, normalized_name,
         CASE WHEN regexp_matches(replace(value, ' ', ''), '{_ST_TIME_RE}')
              THEN CAST(regexp_extract(replace(value, ' ', ''),
                        '{_ST_TIME_RE}', 1) AS INT) * 3600
                 + CAST(regexp_extract(replace(value, ' ', ''),
                        '{_ST_TIME_RE}', 2) AS INT) * 60
              ELSE 0 END AS day_seconds
  FROM read_parquet('{ENTRIES_GLOB}')
  WHERE kind = 'time' AND value IS NOT NULL AND stop_name IS NOT NULL
    AND is_connection IS NOT TRUE
), flagged AS (
  SELECT *, CASE WHEN day_seconds < lag(day_seconds) OVER w
                 THEN 1 ELSE 0 END AS wrapped,
         CASE WHEN lag(normalized_name) OVER w IS NULL
               OR lag(normalized_name) OVER w <> normalized_name
              THEN 1 ELSE 0 END AS new_run
  FROM e WINDOW w AS (PARTITION BY trip_id ORDER BY stop_pos)
), rolled AS (
  SELECT *, day_seconds + 86400 * sum(wrapped) OVER w2 AS svc_seconds,
         sum(new_run) OVER w2 AS run_id
  FROM flagged
  WINDOW w2 AS (PARTITION BY trip_id ORDER BY stop_pos
                ROWS UNBOUNDED PRECEDING)
)"""


@register("gtfs_stop_times_pipeline", oracle=f"""
WITH {_ST_CHAIN_SQL}, folded AS (
  SELECT trip_id, run_id, min(normalized_name) AS normalized_name,
         CAST(min(stop_pos) AS INT) AS stop_sequence,
         CAST(min(svc_seconds) AS BIGINT) AS arr_seconds,
         CAST(max(svc_seconds) AS BIGINT) AS dep_seconds
  FROM rolled GROUP BY trip_id, run_id
)
SELECT trip_id, stop_sequence, arr_seconds, dep_seconds,
       printf('%02d:%02d:%02d', arr_seconds // 3600,
              (arr_seconds % 3600) // 60, arr_seconds % 60)
           AS arrival_time,
       printf('%02d:%02d:%02d', dep_seconds // 3600,
              (dep_seconds % 3600) // 60, dep_seconds % 60)
           AS departure_time,
       CAST(concat('0x', substr(md5(normalized_name), 1, 15)) AS BIGINT)
           AS stop_id
FROM folded ORDER BY trip_id, stop_sequence
""")
def gtfs_stop_times_pipeline(spark, sf_dir):
    """Extraction -> timed entries (materialized) -> GTFS stop_times.

    Both engines run the W7 rollover / W11 fold / W6 sequence chain on
    the same materialized entries parquet; Spark reuses the production
    build_stop_times/build_stops operators end to end.
    """
    ent = materialize_entries(spark).where(
        "kind = 'time' AND value IS NOT NULL AND stop_name IS NOT NULL")
    st = build_stop_times(ent, build_stops(ent))
    return (st.select("trip_id",
                      F.col("stop_sequence").cast("int")
                      .alias("stop_sequence"),
                      F.col("arr_seconds").cast("bigint")
                      .alias("arr_seconds"),
                      F.col("dep_seconds").cast("bigint")
                      .alias("dep_seconds"),
                      "arrival_time", "departure_time", "stop_id")
            .orderBy("trip_id", "stop_sequence"))


# The walk state is a first-order recurrence over each table's entry
# sequence, so the oracle recomputes it with a RECURSIVE CTE: `seq`
# numbers the timed entries, `pairs` precomputes the
# first-common-stop arrival comparison for every ordered trip pair of
# a table, and `walk` threads (offset, previous pointer, previous
# shift) from rn to rn+1 exactly like handler.py:144-217.
_SDO_SQL = f"""
WITH RECURSIVE {_ST_CHAIN_SQL}, base AS (
  SELECT *, {DAYS_KEY_SQL} AS days_key, {_REPEAT_OK_SQL} AS repeat_ok
  FROM read_parquet('{ENTRIES_GLOB}') WHERE kind IN ('time', 'repeat')
), folded AS (
  SELECT conv_id, turn_idx, table_id, trip_id, run_id,
         min(normalized_name) AS nm,
         CAST(min(stop_pos) AS INT) AS stop_sequence,
         CAST(min(svc_seconds) AS BIGINT) AS arr
  FROM rolled
  GROUP BY conv_id, turn_idx, table_id, trip_id, run_id
), ffirst AS (
  -- first entry per stop per trip (_get_entry_from_stop_id semantics)
  SELECT conv_id, turn_idx, table_id, trip_id, nm,
         arg_min(arr, stop_sequence) AS arr,
         min(stop_sequence) AS seq
  FROM folded GROUP BY conv_id, turn_idx, table_id, trip_id, nm
), pairs AS (
  SELECT p.trip_id AS ptrip, n.trip_id AS ntrip,
         arg_min(p.arr, p.seq) AS p_arr,
         arg_min(n.arr, p.seq) AS n_arr
  FROM ffirst p
  JOIN ffirst n
    ON p.conv_id = n.conv_id AND p.turn_idx = n.turn_idx
   AND p.table_id = n.table_id AND p.nm = n.nm
   AND p.trip_id <> n.trip_id
  GROUP BY p.trip_id, n.trip_id
), ne0 AS (
  -- trips with at least one emitted (non-connection) stop time: an
  -- EMPTY previous StopTimes is falsy, so the rollover comparison
  -- never fires after it (handler.py:173, BaseContainer.__len__)
  SELECT DISTINCT trip_id FROM e
), ord AS (
  SELECT DISTINCT conv_id, turn_idx, table_id, entry_id, kind, repeat_ok
  FROM base
), anch AS (
  SELECT *, lag(kind) OVER wo AS pk,
         lag(repeat_ok) OVER wo AS pok
  FROM ord
  WINDOW wo AS (PARTITION BY conv_id, turn_idx, table_id
                ORDER BY entry_id)
), seq AS (
  SELECT t.conv_id, t.turn_idx, t.table_id, t.entry_id, t.days_key,
         t.trip_id,
         COALESCE(a.pk = 'repeat' AND a.pok, FALSE) AS right_anchor,
         row_number() OVER (PARTITION BY t.conv_id, t.turn_idx, t.table_id
                            ORDER BY t.entry_id) AS rn
  FROM (SELECT DISTINCT conv_id, turn_idx, table_id, entry_id, days_key,
               trip_id FROM base WHERE kind = 'time') t
  JOIN anch a USING (conv_id, turn_idx, table_id, entry_id)
), walk AS (
  SELECT s.conv_id, s.turn_idx, s.table_id, s.rn, s.trip_id,
         CAST(0 AS BIGINT) AS shift,
         0 AS offs,
         CASE WHEN s.right_anchor THEN NULL ELSE s.trip_id END AS prev_trip,
         CAST(0 AS BIGINT) AS prev_shift,
         s.days_key AS prev_days
  FROM seq s WHERE s.rn = 1
  UNION ALL
  SELECT s.conv_id, s.turn_idx, s.table_id, s.rn, s.trip_id,
         CAST(3600 * (CASE WHEN s.days_key <> w.prev_days
                           THEN 0 ELSE w.offs END)
              + CASE WHEN (CASE WHEN s.days_key <> w.prev_days
                                THEN NULL ELSE w.prev_trip END)
                          IS NOT NULL
                      AND ne.trip_id IS NOT NULL AND (pr.ptrip IS NULL
                           OR NOT (pr.p_arr + w.prev_shift
                                   < pr.n_arr
                                   + 3600 * (CASE WHEN s.days_key
                                                       <> w.prev_days
                                                  THEN 0
                                                  ELSE w.offs END)))
                     THEN 86400 ELSE 0 END AS BIGINT) AS shift,
         (CASE WHEN s.days_key <> w.prev_days THEN 0 ELSE w.offs END)
         + CASE WHEN (CASE WHEN s.days_key <> w.prev_days
                           THEN NULL ELSE w.prev_trip END) IS NOT NULL
                 AND ne.trip_id IS NOT NULL AND (pr.ptrip IS NULL
                      OR NOT (pr.p_arr + w.prev_shift
                              < pr.n_arr
                              + 3600 * (CASE WHEN s.days_key
                                                  <> w.prev_days
                                             THEN 0 ELSE w.offs END)))
                THEN 1 ELSE 0 END AS offs,
         CASE WHEN s.right_anchor
              THEN (CASE WHEN s.days_key <> w.prev_days
                         THEN NULL ELSE w.prev_trip END)
              ELSE s.trip_id END AS prev_trip,
         CASE WHEN s.right_anchor THEN w.prev_shift
              ELSE CAST(3600 * (CASE WHEN s.days_key <> w.prev_days
                                     THEN 0 ELSE w.offs END)
                   + CASE WHEN (CASE WHEN s.days_key <> w.prev_days
                                     THEN NULL
                                     ELSE w.prev_trip END) IS NOT NULL
                           AND ne.trip_id IS NOT NULL AND (pr.ptrip IS NULL
                                OR NOT (pr.p_arr + w.prev_shift
                                        < pr.n_arr
                                        + 3600 * (CASE WHEN s.days_key
                                                       <> w.prev_days
                                                       THEN 0
                                                       ELSE w.offs END)))
                          THEN 86400 ELSE 0 END AS BIGINT) END
             AS prev_shift,
         s.days_key AS prev_days
  FROM walk w
  JOIN seq s ON s.conv_id = w.conv_id AND s.turn_idx = w.turn_idx
            AND s.table_id = w.table_id AND s.rn = w.rn + 1
  LEFT JOIN pairs pr ON pr.ptrip = (CASE WHEN s.days_key <> w.prev_days
                                         THEN NULL ELSE w.prev_trip END)
                    AND pr.ntrip = s.trip_id
  LEFT JOIN ne0 ne ON ne.trip_id = (CASE WHEN s.days_key <> w.prev_days
                                         THEN NULL ELSE w.prev_trip END)
)
SELECT trip_id, shift AS shift_seconds FROM walk ORDER BY trip_id
"""


@register("gtfs_service_day_offsets", oracle=_SDO_SQL)
def gtfs_service_day_offsets(spark, sf_dir):
    """Cross-entry service-day offsets (handler.py:144-217) on the
    materialized entries; the oracle recomputes the sequential walk
    with a recursive CTE over precomputed first-common-stop pair
    comparisons."""
    ent = materialize_entries(spark).where("kind IN ('time', 'repeat')")
    timed = ent.where("kind = 'time'")
    st = build_stop_times(timed, build_stops(timed))
    offs = service_day_offsets(ent, st)
    return (offs.select("trip_id",
                        F.col("shift_seconds").cast("bigint")
                        .alias("shift_seconds"))
            .orderBy("trip_id"))
