"""Oracle hand-off directory placement."""

from pathlib import Path

import pdf2gtfs_spark
from pdf2gtfs_spark.operators._aux import AUX_DIR


def test_aux_dir_sits_in_the_package_checkout():
    # a second checkout must not overwrite (or read) another tree's
    # hand-off files
    root = Path(pdf2gtfs_spark.__file__).resolve().parents[1]
    assert AUX_DIR == root / ".oracle_aux"
