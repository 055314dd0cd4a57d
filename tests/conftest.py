import contextlib

import pytest

# Heap must be sized at JVM-launch time (builder confs can't resize a live
# JVM); the test entry point owns the launch, so it sets it — mirroring
# bench.py. See session.size_driver_heap_for_launch.
from spark_on_hbase_spark.session import get_spark, size_driver_heap_for_launch

size_driver_heap_for_launch()

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def layer_files(spark):
    """``with layer_files(n):`` — inside the block AQE coalescing is off and
    ``spark.sql.shuffle.partitions`` is ``n``, so every KeyedTable layer
    written there is ``n`` range part-files (fewer only when the data has
    fewer distinct keys). For tests of file-granular behaviour — footer
    pruning, dirty compaction, Bloom pruning — that tables sizing their own
    files would otherwise collapse into one file. Both settings are restored
    on exit."""
    confs = ("spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions")

    @contextlib.contextmanager
    def fixed(n: int):
        old = [spark.conf.get(c) for c in confs]
        spark.conf.set(confs[0], "false")
        spark.conf.set(confs[1], str(n))
        try:
            yield
        finally:
            for c, v in zip(confs, old):
                spark.conf.set(c, v)

    return fixed
