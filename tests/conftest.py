from __future__ import annotations

import time

import pytest

from kgp.session import get_spark

SF_TEST = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kgp-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST


@pytest.fixture(scope="session")
def jobs_in_group(spark):
    """count(group, run): the Spark jobs run() starts, counted by job
    group. A control job in its own group runs after; job-start events
    arrive in order, so once the control job shows, every job of run()
    has too."""
    sc = spark.sparkContext

    def count(group: str, run) -> int:
        sc.setJobGroup(group, group)
        try:
            run()
            sc.setJobGroup(group + "-control", "control")
            spark.range(4).rdd.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        deadline = time.time() + 30
        while (not tracker.getJobIdsForGroup(group + "-control")
               and time.time() < deadline):
            time.sleep(0.1)
        assert tracker.getJobIdsForGroup(group + "-control")
        return len(tracker.getJobIdsForGroup(group))
    return count


@pytest.fixture(scope="session")
def per_stage_jobs(jobs_in_group):
    """wrap(fn, tag, into): fn(spark, out_dir, stage, ...) — a stage
    runner or read_stage — with each call's Spark jobs counted into
    into[stage] under the job group f"{tag}-{stage}"."""
    def wrap(fn, tag: str, into: dict):
        def counted(spark, out_dir, stage, *a, **kw):
            got = []
            into[stage] = jobs_in_group(f"{tag}-{stage}", lambda: got.append(
                fn(spark, out_dir, stage, *a, **kw)))
            return got[0]
        return counted
    return wrap
