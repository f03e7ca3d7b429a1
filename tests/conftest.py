import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from atlas_upscaling_dask_spark.session import get_spark

    # Small shuffle fan-out: test inputs are tiny and window-heavy tests
    # spend their time on task scheduling otherwise.  The daemon module
    # keeps Python workers from re-reading pyspark.zip before every task
    # (tests/_pyworker.py).
    spark = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.python.daemon.module": "tests._pyworker"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
