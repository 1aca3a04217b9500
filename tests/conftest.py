import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_wrap_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session("etl_wrap_spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def distributed(monkeypatch):
    """Pins the route of the size-gated graph/dedup/hierarchy operators
    and of the IVF centroid / PQ codebook literals (``ivf_topk``,
    ``semantic_dedup``, ``ivfpq_topk``) through their one deployment
    setting, the driver-headroom floor ``SPARK_GRAFT_FASTPATH_MIN_MB``:
    the test body runs with 0 (the guard is off, so a small input takes
    the driver kernel or the literal on any host), and inside
    ``with distributed():`` the floor is 2^40 MB, so every
    ``graph._small_cols`` gate declines before it runs a job and the
    operator builds its distributed plan."""
    key = "SPARK_GRAFT_FASTPATH_MIN_MB"
    monkeypatch.setenv(key, "0")

    @contextlib.contextmanager
    def forced():
        monkeypatch.setenv(key, str(1 << 40))
        try:
            yield
        finally:
            monkeypatch.setenv(key, "0")

    return forced


@pytest.fixture
def parallelism():
    """Sets the partition count of the distributed prefix sum behind the
    ranking operators: ``sampling.global_prefix`` range-partitions into
    the session's default parallelism, and inside ``with
    parallelism(k):`` ``SparkContext.defaultParallelism`` reads ``k``.
    An invariance test builds the same ranking under several counts to
    move where the range partitioner cuts."""
    from pyspark import SparkContext

    @contextlib.contextmanager
    def fixed(k):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(SparkContext, "defaultParallelism", property(lambda self: k))
            yield

    return fixed
