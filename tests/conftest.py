import sys
import uuid
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
FIXTURES = REPO_ROOT / "tests" / "fixtures"
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from clickhub_spark.session import get_spark

    spark = get_spark("pytest", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def built_queries(spark):
    """Every registered query's DataFrame, built once per session for the
    sweeps that inspect only plans and schemas."""
    from clickhub_spark.plans import all_specs

    return {name: spec.builder(spark, SF_DIR) for name, spec in all_specs().items()}


def cached_entries(spark) -> int:
    """Entries in the session's CacheManager (persisted plans)."""
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def final_plan(df) -> str:
    """The executed plan of an already-collected DataFrame as AQE
    finalized it (exchange reuse applied), without the initial plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _last_execution(spark) -> int:
    """Id of the newest SQL execution in the status store (ids are
    sequential per JVM, so a difference counts the executions run in
    between even after the store starts evicting old entries)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def sql_executions(spark, fn):
    """(fn(), number of SQL executions it ran)."""
    before = _last_execution(spark)
    out = fn()
    return out, _last_execution(spark) - before


def spark_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
