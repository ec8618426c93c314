"""Pure (Spark-free) vectorized extraction kernel.

Runs per turn-batch inside Arrow-batched ``mapInPandas``; a turn stays
columnar from payload decode to emitted records: parallel numpy arrays
per turn (chars, then word fields, then per-table cells), never
per-row Python over Spark rows. DataFrames appear only in the
``TableResult`` accessors. Semantics mirror the reference's legacy
extraction path, which is the columnar blueprint (reference:
src/pdf2gtfs/reader.py:349-383, datastructures/pdftable/*).
"""

from pdf2gtfs_spark.kernel.extract import extract_turn, TurnResult  # noqa: F401
from pdf2gtfs_spark.kernel.payload import encode_chars, encode_grid  # noqa: F401
