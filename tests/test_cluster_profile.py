"""Execute the cluster profile, don't just inspect its configs: a
real multi-executor master (local-cluster[2,2,1024] — 2 worker JVMs,
2 cores each) runs a representative query under the exact settings a
spark-submit deployment would get, proving the profile's AQE story
(coalesce down from initialPartitionNum=2000) engages at runtime.

Runs in a subprocess: one JVM per process means the session-scoped
local[] fixture and a local-cluster master cannot coexist.
"""

import subprocess
import sys

from tests.conftest import REPO_ROOT

_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from clickhub_spark.session import _builder
spark = (
    _builder("cluster-profile-test", None, "cluster")
    .master("local-cluster[2,2,1024]")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
assert spark.conf.get(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "2000"
from clickhub_spark.plans import all_specs
df = all_specs()["q_agg_multi"].builder(spark, "/root/testdata/sf0.001")
rows = df.collect()
assert len(rows) == 6, rows
plan = df._jdf.queryExecution().executedPlan().toString()
# AQE must have re-planned the 2000-partition exchange down
assert "AQEShuffleRead" in plan and "coalesced" in plan, plan
spark.stop()
print("CLUSTER_PROFILE_OK")
"""


def test_cluster_profile_executes_with_aqe_coalesce():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(REPO_ROOT)],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "CLUSTER_PROFILE_OK" in out.stdout, out.stdout[-2000:] + out.stderr[-2000:]
