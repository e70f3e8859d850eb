import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from spatial4n_spark.session import get_spark
    # Bound the shared test JVM's heap. Under get_spark's 24g default the
    # G1 heap grows lazily to 10-12 GB of resident memory over the suite,
    # and on a 16 GB box the kernel OOM-kills it as soon as a second JVM
    # starts (test_tile_index_job's spark-submit run), failing every Spark
    # test after it. The test tables are small; the benchmark runs its
    # 300k-doc workloads in a 3 GB heap.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("spatial4n_spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()
