from __future__ import annotations

import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from myaku_spark.session import get_spark

    s = get_spark("myaku_spark_tests", parallelism=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    path = "/root/testdata/sf0.001"
    if not os.path.isdir(path):
        pytest.skip(f"driver test data not present: {path}")
    return path


@pytest.fixture(scope="session")
def jobs_run_by(spark):
    """``jobs_run_by(fn)`` runs ``fn()`` and returns the Spark jobs it
    started, from the status tracker: {job_id: [task count of each stage
    that ran]}. A stage skipped because its shuffle output is reused ran
    no task and is left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    groups = itertools.count()

    def run(fn) -> dict[int, list[int]]:
        group = f"jobs-run-by-{next(groups)}"
        sc.setJobGroup(group, "count the jobs of one call")
        try:
            fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids = sorted(tracker.getJobIdsForGroup(group))
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        out = {}
        for j in ids:
            stages = [
                tracker.getStageInfo(s) for s in tracker.getJobInfo(j).stageIds
            ]
            out[j] = [
                st.numTasks for st in stages
                if st is not None and st.numCompletedTasks + st.numFailedTasks
            ]
        return out

    return run
