"""pdf2gtfs_spark — a PySpark-native re-implementation of the pdf2gtfs
extraction core (reference: heijul/pdf2gtfs).

Architecture (Spark-first, per BASELINE.json north_rule):

- The per-turn layout-extraction kernel (char boxes -> line clustering ->
  field split -> table split -> column clustering -> typing -> timetable
  normalization) is a *pure, vectorized pandas library* in
  ``pdf2gtfs_spark.kernel`` — no Spark imports — executed on the cluster
  via ``mapInArrow``, Arrow batches in and out
  (``pdf2gtfs_spark.plans.pipeline``).
- Everything around the kernel (partitioning, skew salting, reassembly
  windows, dedup, GTFS-shaping joins/windows, lineage/checkpointing) is
  declarative DataFrame/SQL so Catalyst/AQE optimizes it.
- Training-data-pipeline operators (dedup families, similarity search,
  text analysis) live in ``pdf2gtfs_spark.operators`` /
  ``pdf2gtfs_spark.functions``.
"""

__version__ = "0.1.0"
