import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from sparkbm25.session import get_spark

    s = get_spark("sparkbm25-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def spark_jobs(spark):
    """spark_jobs(fn) -> (fn(), [[tasks run per stage] per job]) for the
    Spark jobs fn launched, read from the status tracker after the
    listener bus has drained (so a job is never missed)."""
    import itertools

    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"spark_jobs_{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        jobs = [
            [st.getStageInfo(s).numCompletedTasks
             for s in st.getJobInfo(j).stageIds]
            for j in sorted(st.getJobIdsForGroup(group))
        ]
        return out, jobs

    return run
