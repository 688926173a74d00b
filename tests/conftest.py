import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from datax_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="datax_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture()
def tmp_table_root(tmp_path):
    return str(tmp_path / "table")


@pytest.fixture(autouse=True)
def _no_leaked_streaming_queries(request):
    """A test that leaves a streaming query running fails, and the query
    is stopped so it cannot keep working through the rest of the suite."""
    s = request.getfixturevalue("spark") if "spark" in request.fixturenames else None
    yield
    if s is None:
        return
    leaked = s.streams.active
    for q in leaked:
        q.stop()
    if leaked:
        pytest.fail(f"test left streaming queries running: {[q.name or q.id for q in leaked]}")
