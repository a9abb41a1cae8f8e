import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# The package's default driver heap is half the host's RAM, at most 48 GB
# (session.default_driver_memory). Over a full suite run the driver JVM
# grows its heap toward that, which leaves little RAM for the Python
# workers and the subprocess sessions some tests start. The tests need a
# few GB; those subprocess sessions inherit the setting.
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


def group_job_ids(sc, group, timeout_s=30.0):
    """Job ids of a job group, once the listener bus has caught up: a
    one-job fence in a second group is seen only after every job started
    before it."""
    fence = f"{group}-fence"
    sc.setJobGroup(fence, "fence")
    sc.parallelize([0], 1).count()
    deadline = time.time() + timeout_s
    while not sc.statusTracker().getJobIdsForGroup(fence):
        assert time.time() < deadline, "fence job never reached the status tracker"
        time.sleep(0.05)
    return sc.statusTracker().getJobIdsForGroup(group)


def union_find(edges, nodes):
    """Reference labels: {node: min node of its component}, by a
    pure-Python union-find over ``edges`` (pairs) and ``nodes``."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}
