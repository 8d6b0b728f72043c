import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pig_spark.session import get_spark

    s = get_spark("pig_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def checkpointed(monkeypatch):
    """Every frame a local checkpoint stores while the test runs.

    A checkpoint replaces its input's plan with a ``LogicalRDD`` leaf,
    so a pin that reads only the final plan cannot see what runs below
    it — RANK and packing store their input this way
    (operators/prefix.running_sums). Pins assert on these frames too."""
    from pyspark.sql.classic.dataframe import DataFrame

    seen: list = []
    real = DataFrame.localCheckpoint

    def spy(self, *args, **kwargs):
        seen.append(self)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", spy)
    return seen
