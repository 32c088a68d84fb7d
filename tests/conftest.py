import sys
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
