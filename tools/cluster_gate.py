"""Full correctness gate + TPC-H bench under the CLUSTER profile on a
local-cluster master — multi-process executors, not local[n] threads.

Why this exists (VERDICT r4 item 2): the 149-query gate and the bench
had only ever run in-process on local[32], which structurally cannot
catch in-process-only assumptions — driver-local filesystem state read
from executors, objects captured in closures that don't serialize,
AQE initialPartitionNum=2000 interactions with real Exchange nodes.
``local-cluster[N, cores, mem_mb]`` launches real separate executor
JVMs with real RPC/shuffle, the closest local approximation of a
multi-node cluster.  The oracle gate is ``tools/check.py``'s ``gate``
(driver canon probe included) and the TPC-H timing is ``bench.py``'s
``bench_set``, so this script only supplies the cluster session.

Usage:  python tools/cluster_gate.py [sf_dir] [out_json]
Env:    CLUSTER_SPEC (default "local-cluster[2,8,4096]")

Writes one JSON artifact: {"master", "profile_settings", "sf", "gate":
{name: "pass"|"rows"|"fail"}, "n_pass", "n_rowsonly", "n_fail",
"tpch": {name: exec_sec}, "tpch_total", "wall_sec"}.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from check import gate, tally  # noqa: E402  (tools/ sibling)

from bench import bench_set  # noqa: E402


def main() -> int:
    from clickhub_spark.plans import all_specs
    from clickhub_spark.session import _builder, ship_package

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else str(REPO / "CLUSTER_GATE.json")
    spec = os.environ.get("CLUSTER_SPEC", "local-cluster[2,8,4096]")

    # the cluster profile sets no master (spark-submit's job); supply
    # the local-cluster master here, everything else is profile-true
    spark = (
        _builder("cluster-gate", None, "cluster")
        .master(spec)
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    # multi-process executors need the package shipped (their Python
    # workers don't share the driver's sys.path) — same as a real
    # cluster's --py-files
    ship_package(spark)
    t_start = time.time()

    results = gate(spark, sf_dir)
    n_pass, n_rowsonly, n_fail = tally(results)
    # TPC-H under the same session: warm build-once best-of-2 noop
    tpch, _ = bench_set(
        spark, all_specs(), [f"q_tpch_q{i}" for i in range(1, 23)], sf_dir, runs=2
    )
    for name, sec in tpch.items():
        print(f"tpch {name}: {sec}s")

    out = {
        "master": spec,
        "profile": "cluster",
        "sf_dir": sf_dir,
        "n_pass": n_pass,
        "n_rowsonly": n_rowsonly,
        "n_fail": n_fail,
        "gate": results,
        "tpch": tpch,
        "tpch_total": round(sum(tpch.values()), 3),
        "wall_sec": round(time.time() - t_start, 1),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail -> {out_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
