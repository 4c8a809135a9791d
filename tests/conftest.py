import os
import sys

import pytest

sys.path.insert(0, "/root/repo")

from gcp_cloudsql_to_bigquery_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


# task threads follow the host: SPARK_GRAFT_CPUS when set, else the CPUs this
# process may run on (what `nproc` prints)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master=f"local[{CPUS}]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001
