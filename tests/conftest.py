import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from blacklab_spark.session import get_spark

    # a bounded driver heap: under the 64g library default the JVM keeps
    # growing over the suite and, on a host with less memory than that, the
    # OOM killer ends the run part-way
    sp = get_spark(
        "blacklab-tests", cores=4, shuffle_partitions=8,
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
    )
    yield sp


@pytest.fixture(scope="session")
def tmp_root(tmp_path_factory):
    p = tmp_path_factory.mktemp("indexes")
    yield str(p)
    shutil.rmtree(str(p), ignore_errors=True)
