from __future__ import annotations

import shutil
import tempfile

import pytest

from data_profiler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dps_tests",
        cores=8,
        shuffle_partitions=8,
        extra_confs={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), jobs, stages): the Spark jobs ``fn`` ran
    outside any job group — every job the engine submits — and their stages,
    skipped ones included (read from ``sc.statusTracker()``, so it works
    with the UI off). Raises if ``fn`` ran no such job: every budgeted call
    runs at least one, so a count of 0 means the jobs went uncounted (into
    a job group, say), and a budget must not pass on it."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # the tracker is fed through it
    tracker = sc.statusTracker()

    def count(fn):
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup())
        out = fn()
        bus.waitUntilEmpty()
        new = set(tracker.getJobIdsForGroup()) - before
        if not new:
            raise AssertionError("count_jobs: fn ran no job outside a job group")
        return out, len(new), sum(len(tracker.getJobInfo(j).stageIds) for j in new)

    return count


@pytest.fixture()
def tmp_io():
    from data_profiler_spark.sources.tableio import ParquetTableIO

    root = tempfile.mkdtemp(prefix="dps_io_")
    yield ParquetTableIO(root)
    shutil.rmtree(root, ignore_errors=True)
