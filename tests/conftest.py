import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "requires_reference: reads the reference checkout's "
        "golden CSVs; skipped, naming the missing files, without them")


def pytest_runtest_setup(item):
    if item.get_closest_marker("requires_reference") is None:
        return
    from pdf2gtfs_spark.sources import transcripts

    where = transcripts.REFERENCE_FIXTURE_DIR
    missing = [rel for rel in transcripts.GOLDEN_FIXTURES
               if not (where / rel).exists()]
    if missing:
        pytest.skip(f"golden fixtures missing under REFERENCE_FIXTURE_DIR "
                    f"{where}: {', '.join(missing)}")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (
        SparkSession.builder.master("local[4]")
        .appName("pdf2gtfs_spark-tests")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture
def set_split_bytes(spark):
    """Setter for ``spark.sql.files.maxPartitionBytes`` in one test;
    the session is shared, so the caller's value is restored after."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    try:
        yield lambda value: spark.conf.set(key, value)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
