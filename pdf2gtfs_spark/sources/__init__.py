"""Sources: transcripts table (synthetic/Iceberg-shaped), GTFS CSV IO,
and small driver-side literal frames."""


def literal_frame(spark, rows, schema: str):
    """A small frame of driver-side tuples (``schema``: a DDL string),
    handed to the JVM as one Arrow table. ``createDataFrame`` of a
    Python list ships pickled rows that a Python worker task per
    partition decodes on every read; the Arrow table needs none."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist([dict(zip(struct.names, r)) for r in rows],
                                 schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)
