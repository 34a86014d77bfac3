import itertools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from replicator_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # cores=None: SPARK_GRAFT_CPUS when set, else every core of the host
    s = get_spark("replicator-spark-tests", cores=None, shuffle_partitions=8)
    yield s


def formatted_plan(df, execute: bool = False) -> str:
    """``df.explain("formatted")`` as a string. AQE finalizes the
    physical plan only at execution, so ``execute=True`` collects first."""
    if execute:
        df.collect()
    jqe = df._jdf.queryExecution()
    return df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        jqe, "formatted"
    )


_JOB_GROUPS = itertools.count()


def spark_jobs(spark, fn):
    """Run ``fn()`` under a Spark job group of its own and return its
    result and the jobs it launched: ``{job id: [task count of each
    stage, by stage id]}``. The listener bus is drained first, so every
    job ``fn`` started is counted."""
    sc = spark.sparkContext
    group = f"spark-jobs-{next(_JOB_GROUPS)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {}
    for j in sorted(tracker.getJobIdsForGroup(group)):
        stages = map(tracker.getStageInfo, sorted(tracker.getJobInfo(j).stageIds))
        jobs[j] = [s.numTasks for s in stages if s is not None]
    return result, jobs


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
