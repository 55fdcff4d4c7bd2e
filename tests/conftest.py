import time
import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from ocrflow.session import build_session
    s = build_session(master="local[4]", app="ocrflow-tests",
                      shuffle_partitions=8, arrow_batch=64)
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` calls ``fn()`` and returns ``(result, jobs)``,
    the number of Spark jobs the call started. The status tracker hears
    of jobs through the listener bus, in start order, so a marker job
    in a second group is waited for before the first group is counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(fn):
        group, marker = f"count-{uuid.uuid4().hex}", f"mark-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
            sc.setJobGroup(marker, marker)
            spark.range(1).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(marker):
            assert time.monotonic() < deadline, "marker job never seen"
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return run


@pytest.fixture()
def count_compiles(spark):
    """``count_compiles(fn)`` calls ``fn()`` and returns ``(result,
    compiles)``, the number of classes Janino compiled meanwhile. In
    local mode the driver and the executors share one JVM, and so one
    codegen cache and one ``CodegenMetrics`` counter."""
    timer = (spark.sparkContext._jvm.org.apache.spark.metrics.source
             .CodegenMetrics.METRIC_COMPILATION_TIME())

    def run(fn):
        before = timer.getCount()
        out = fn()
        return out, timer.getCount() - before

    return run
