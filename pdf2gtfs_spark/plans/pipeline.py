"""The distributed extraction pipeline (BASELINE.json north_rule).

Dataflow (SURVEY.md §3.1 Spark recast):

    transcripts (conv_id, turn_idx, role, text, tool, ts)
      -> the scan partitions as they are; an input of at most one
         scan split is coalesce()d to defaultParallelism (narrow: one
         wave, no exchange).  Only with ``num_partitions`` does a
         salted repartition(hash(conv_id, turn_idx)) run instead: the
         kernel is stateless per turn, so skewed long conversations
         spread across all executors; conv-level grouping happens only
         at the reassembly afterwards
      -> mapInArrow(extract kernel)                  # Arrow batches in/out
      -> per-table rows with nested cells/entries/stops
      -> exploded relational outputs (Catalyst-side, codegen)
      -> per-conversation reassembly: one groupBy(conv_id) shuffle of
         the extracted rows, sorted by (turn_idx, table_id) per doc

One kernel pass produces every output; the nested row avoids running
the extraction once per output table.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Iterator

import pyarrow as pa

from pdf2gtfs_spark.config import DEFAULT_CONFIG, ExtractConfig
from pdf2gtfs_spark.kernel.extract import extract_turn
from pdf2gtfs_spark.sources.transcripts import CONV_DOC_SEP, TABLE_SEP

# Grain: one row per (turn, table); turns without tables emit one row
# with table_id NULL so metrics/lineage cover every input turn.
EXTRACT_SCHEMA = (
    "conv_id string, turn_idx int, table_id int, csv_text string, "
    "n_chars int, n_fields int, malformed boolean, "
    "cells array<struct<row_idx:int,col_idx:int,text:string,"
    "row_type:string,col_type:string,"
    "x0:double,y0:double,x1:double,y1:double>>, "
    "entries array<struct<entry_id:int,kind:string,header_text:string,"
    "route_name:string,annotations:array<string>,days:array<string>,"
    "repeat_intervals:array<int>,stop_pos:int,stop_row_idx:int,"
    "stop_name:string,stop_annot:string,is_connection:boolean,"
    "value:string>>, "
    "stops array<struct<stop_pos:int,row_idx:int,stop_name:string,"
    "stop_annot:string,is_connection:boolean>>"
)

# text-surface-only schema (emit="csv"): the per-turn equality surface
# without the nested per-cell detail — Arrow/JVM cost per turn drops
# ~3x, which is what the turns/sec headline measures (BASELINE.json's
# metric is per-turn text equality, not grid shipping)
EXTRACT_SCHEMA_CSV = (
    "conv_id string, turn_idx int, table_id int, csv_text string, "
    "n_chars int, n_fields int, malformed boolean"
)


def _drop_zip_finders() -> None:
    """Drop the cached zip finders from ``sys.path_importer_cache``.

    PySpark calls ``importlib.invalidate_caches()`` at the start of
    every task; before CPython 3.13 that re-reads the central directory
    of every archive behind a cached ``zipimporter`` (pyspark.zip,
    py4j, Spark's jar: 0.13-0.45 s per task on a 4-core host). Dropping
    them changes nothing that can be imported: the next import through
    such a path entry builds a new finder from zipimport's directory
    cache without reading the archive, and imported modules keep their
    own loaders.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def _extract_ddl(emit: str, with_ts: bool) -> str:
    ddl = EXTRACT_SCHEMA if emit == "full" else EXTRACT_SCHEMA_CSV
    return ddl + ", ts timestamp" if with_ts else ddl


def make_extract_kernel(cfg: ExtractConfig = DEFAULT_CONFIG,
                        emit: str = "full", with_ts: bool = False):
    """Build the mapInArrow kernel closure (cfg is broadcast by value).

    ``emit``: "full" ships nested cells/entries/stops per table;
    "csv" ships only the text surface (see EXTRACT_SCHEMA_CSV).
    ``with_ts``: pass event time through (streaming reassembly); the
    output schema then ends with a ``ts`` field.

    Each input Arrow batch yields one ``pa.RecordBatch`` of the output
    schema (parsed from the DDL above, on the driver): ``from_pylist``
    packs the per-table values and the key columns are taken over from
    the input batch, cast to their declared types.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(_extract_ddl(emit, with_ts)))
    keys = [n for n in ("conv_id", "turn_idx", "ts") if n in schema.names]
    values = pa.schema([f for f in schema if f.name not in keys])
    light = emit == "csv"

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pdf2gtfs_spark.kernel.payload import decode_payload_batch

        try:
            for batch in batches:
                src: list[int] = []     # input row of each output row
                rows: list[dict] = []
                # one vectorized CSV parse for the whole Arrow batch
                # (pyarrow C++ reader), straight from the text column's
                # bytes: no per-turn Python strings (guide §4.5)
                for k, dec in enumerate(
                        decode_payload_batch(batch.column("text"))):
                    res = extract_turn(None, cfg, light=light, decoded=dec)
                    turn = {"n_chars": res.n_chars,
                            "n_fields": res.n_fields,
                            "malformed": res.malformed}
                    if not res.tables:  # one row, table fields NULL
                        src.append(k)
                        rows.append(turn)
                    for t in res.tables:
                        row = {**turn, "table_id": t.table_id,
                               "csv_text": t.csv_text}
                        if not light:
                            row.update(cells=t.cells_records,
                                       entries=t.entries_records,
                                       stops=t.stops_records)
                        src.append(k)
                        rows.append(row)
                take = pa.array(src, pa.int32())
                packed = pa.RecordBatch.from_pylist(rows, schema=values)
                yield pa.RecordBatch.from_arrays([
                    batch.column(f.name).take(take).cast(f.type)
                    if f.name in keys else packed.column(f.name)
                    for f in schema], schema=schema)
        finally:
            _drop_zip_finders()

    return kernel


def map_extract(df, cfg: ExtractConfig = DEFAULT_CONFIG,
                emit: str = "full", with_ts: bool = False):
    """``df.mapInArrow`` of the extraction kernel and its output
    schema; ``df`` needs ``conv_id``, ``turn_idx`` and ``text`` (and
    ``ts`` with ``with_ts``)."""
    return df.mapInArrow(make_extract_kernel(cfg, emit, with_ts),
                         _extract_ddl(emit, with_ts))


def run_extract(transcripts_df, cfg: ExtractConfig = DEFAULT_CONFIG,
                num_partitions: int | None = None, emit: str = "full"):
    """transcripts -> nested per-table extraction DataFrame.

    The kernel is stateless per turn, so by default it runs directly on
    the scan partitions — shuffling multi-KB payloads before a map-only
    stage would double the stage's I/O for nothing. Pass
    ``num_partitions`` to force a salted repartition on
    (conv_id, turn_idx): needed only when the *input layout* is skewed
    (e.g. one file per conversation with 10^4-turn outliers, SURVEY.md
    §4 item 1); salting at turn grain is safe because no per-conv state
    exists before the reassembly, which shuffles the far smaller
    extracted rows.

    One wave for small inputs: when ``num_partitions`` is not given and
    the optimizer's size estimate of the input is at most one scan
    split (``spark.sql.files.maxPartitionBytes``), the scan partitions
    are coalesced to ``defaultParallelism`` before the kernel. Every
    Python task pays a fixed start-up cost, whatever the batch holds
    (~0.07 s on a 4-core host once ``_drop_zip_finders`` has run on the
    worker), that ``openCostInBytes`` packing does not model, so a
    small input of many files would otherwise run one task per file,
    in several waves. ``coalesce`` is narrow (no exchange, one stage)
    and only lowers the count; no task gets more input than one split.
    Larger inputs keep one task per split: coalesce balances partition
    counts, not bytes, so it could stack big splits together.

    At 100 TB the scan parallelism comes from Iceberg file splits —
    keep spark.sql.files.maxPartitionBytes small enough that wide
    payload rows still yield >= 2-3 splits per executor core.
    """
    from pyspark.sql import functions as F

    df = transcripts_df
    if num_partitions:
        df = df.repartition(num_partitions, F.col("conv_id"),
                            F.col("turn_idx"))
    else:
        spark = df.sparkSession
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        split = spark._jsparkSession.sessionState().conf() \
            .filesMaxPartitionBytes()
        if size <= split:
            df = df.coalesce(spark.sparkContext.defaultParallelism)
    return map_extract(df, cfg, emit)


def cells_table(extracted):
    """Exploded per-cell grid (FIXTURES.md §4)."""
    from pyspark.sql import functions as F

    return (extracted
            .where(F.col("table_id").isNotNull())
            .select("conv_id", "turn_idx", "table_id",
                    F.explode("cells").alias("c"))
            .select("conv_id", "turn_idx", "table_id", "c.*"))


def entries_table(extracted):
    """Exploded normalized timetable entries (FIXTURES.md §5)."""
    from pyspark.sql import functions as F

    return (extracted
            .where(F.col("table_id").isNotNull())
            .select("conv_id", "turn_idx", "table_id",
                    F.explode("entries").alias("e"))
            .select("conv_id", "turn_idx", "table_id", "e.*"))


def stops_table(extracted):
    from pyspark.sql import functions as F

    return (extracted
            .where(F.col("table_id").isNotNull())
            .select("conv_id", "turn_idx", "table_id",
                    F.explode("stops").alias("s"))
            .select("conv_id", "turn_idx", "table_id", "s.*"))


def turn_csvs(extracted):
    """Per-turn concatenation of table CSVs in deterministic table order
    (the per-turn text-equality surface)."""
    from pyspark.sql import functions as F

    return (extracted
            .groupBy("conv_id", "turn_idx")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("table_id", "csv_text"))),
                        lambda s: s["csv_text"]),
                    TABLE_SEP).alias("extracted_csvs"),
                F.max("n_chars").alias("n_chars"),
                F.max("n_fields").alias("n_fields"),
                F.max(F.col("malformed").cast("int")).cast("boolean")
                .alias("malformed"),
                F.count(F.col("table_id")).alias("n_tables"),
            ))


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal of ``\\uXXXX`` escapes."""
    return "'%s'" % "".join(f"\\u{ord(c):04X}" for c in s)


# The separator in front of element i of a conversation's sorted
# (turn_idx, table_id, csv_text) structs ``r``: CONV_DOC_SEP when the
# turn changes, nothing after a table-less row (csv_text NULL; it sorts
# first in its turn) and TABLE_SEP after any other table.
_ELEMENT_SEP = (
    "CASE WHEN i = 0 THEN '' WHEN NOT (r[i - 1].turn_idx <=> s.turn_idx) "
    f"THEN {_sql_str(CONV_DOC_SEP)} WHEN r[i - 1].csv_text IS NULL "
    f"THEN '' ELSE {_sql_str(TABLE_SEP)} END")


def reassemble_conversations(extracted):
    """W12: one document per conversation, byte-equal to the
    CONV_DOC_SEP join of its ``turn_csvs`` texts in turn_idx order (NULL
    first), in one conv_id shuffle with map-side partial aggregation:
    the structs are sorted once, then joined with _ELEMENT_SEP."""
    from pyspark.sql import functions as F

    return extracted.groupBy("conv_id").agg(
        F.expr("array_sort(collect_list(struct(turn_idx, table_id, "
               "csv_text))) AS r"),
        F.expr("count(table_id) AS n_tables")).selectExpr(
        "conv_id", f"array_join(transform(r, (s, i) -> concat({_ELEMENT_SEP}, "
        "coalesce(s.csv_text, ''))), '') AS conversation_doc",
        "CAST(size(array_distinct(r.turn_idx)) AS BIGINT) AS n_turns",
        "n_tables")


def match_rate(extracted, expected_df):
    """Per-turn text equality vs ground truth; returns (per_turn, rate).

    expected_df: (conv_id, turn_idx, expected_csvs).
    """
    from pyspark.sql import functions as F

    per_turn = turn_csvs(extracted).join(
        expected_df, ["conv_id", "turn_idx"], "full_outer")
    per_turn = per_turn.withColumn(
        "match",
        F.coalesce(F.col("extracted_csvs") == F.col("expected_csvs"),
                   F.lit(False)))
    rate = per_turn.agg(
        F.avg(F.col("match").cast("double")).alias("match_rate"))
    return per_turn, rate
