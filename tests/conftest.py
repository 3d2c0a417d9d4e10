from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the session's 48 GB default heap lets the test JVM outgrow a 16 GB machine;
# the whole suite runs in 4 GB
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from rca_data_tools_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("rca-tests", shuffle_partitions=8)
    yield s


def get_shared_spark():
    """Module-level accessor for hypothesis tests (fixtures don't compose
    with @given): same session/config as the `spark` fixture."""
    return get_spark("rca-tests", shuffle_partitions=8)
