import os
import sys
import time

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


@pytest.fixture
def strict_codegen(spark):
    """Make a whole-stage-codegen compile failure raise instead of
    falling back to interpreted execution, which Spark only logs (a
    Janino "grows beyond 64 KB" error, for one)."""
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        yield spark
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")


@pytest.fixture
def settle_spark_tasks(spark):
    """For a test that expects jobs to fail: afterwards, wait (up to
    30 s) until no task is running.

    The failed jobs' other tasks are still being killed when such a
    test returns; Spark kills their Python workers once
    `spark.python.task.killTimeout` passes, and a task of the next
    test's job that picked up such a worker then fails with
    CancelledKeyException."""
    yield
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    deadline = time.monotonic() + 30
    while (time.monotonic() < deadline
           and any(e.numRunningTasks() for e in tracker.getExecutorInfos())):
        time.sleep(0.1)
