"""Hand-built frames for the GTFS tail tests."""

from pyspark.sql.types import StructType

from pdf2gtfs_spark.plans.pipeline import EXTRACT_SCHEMA


def entries_df(spark, rows: list[dict]):
    """An entries frame with the kernel's columns (those of
    pipeline.entries_table: the table key, then every field of
    EXTRACT_SCHEMA's ``entries`` struct); a field that a row leaves out
    is NULL."""
    ext = StructType.fromDDL(EXTRACT_SCHEMA)
    schema = StructType(
        [ext[c] for c in ("conv_id", "turn_idx", "table_id")]
        + ext["entries"].dataType.elementType.fields)
    return spark.createDataFrame(
        [tuple(r.get(f.name) for f in schema) for r in rows], schema)
