import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# The package defaults to a 48 GB driver heap. Over a full suite run the
# driver JVM grows its heap toward that until the kernel kills it on a
# 16 GB host, and every later Spark test fails. The tests need a few GB;
# the subprocess sessions some tests start inherit the setting.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from butterfly_osm_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="butterfly-osm-spark-tests", master="local[8]", shuffle_partitions="8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fix001():
    from butterfly_osm_spark.fixtures.generate import ensure_fixtures

    return ensure_fixtures("0.001")


def persistent_rdd_ids(spark):
    """Identity set of currently-persisted RDD ids. Leak tests must diff
    SETS, not counts: another test's ASYNC unpersist can complete
    mid-test, so totals may legally drop while a real leak still adds a
    NEW id."""
    m = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = m.keysIterator()
    out = set()
    while it.hasNext():
        out.add(it.next())
    return out
