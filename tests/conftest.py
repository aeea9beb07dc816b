import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from entitysummarization_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_small():
    from entitysummarization_spark.fixtures import make_fixture

    return make_fixture(n_files=60, seed=42)


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def one_record_batches(spark):
    """Arrow batches of one record each for the test's duration, so a
    sampler's runner rewraps every column batch by batch; the session's
    setting is restored afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    yield
    spark.conf.set(key, old)
