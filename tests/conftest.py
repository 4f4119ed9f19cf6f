from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from deltalake_spark.session import get_spark

    # Heap: get_spark's machine-derived default (~1 GB per core, at most
    # a quarter of RAM, floor 8g, cap 31g; session.default_driver_memory),
    # so the suite and the engine size the heap in one place. The old
    # fixed 16g pin assumed a ~128 GB box ("~1/8 of the box"); on a 16 GB
    # box it is more heap than RAM, and the kernel OOM-killed the test
    # JVM midway through the volume smokes, failing every later Spark
    # test. SPARK_GRAFT_TEST_DRIVER_MEM overrides for the test session
    # alone, SPARK_DRIVER_MEM for every session.
    mem = os.environ.get("SPARK_GRAFT_TEST_DRIVER_MEM")
    spark = get_spark(
        "deltalake-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": mem} if mem else None,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from deltalake_spark.session import load_tables

    return load_tables(spark, sf_dir)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (``fn()``, number of Spark jobs it started).

    Jobs are tagged with a job group, which is thread-local, so jobs other
    threads run at the same time are not counted."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # job-start events reach the status store through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
