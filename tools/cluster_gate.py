"""Full correctness gate + TPC-H bench under the CLUSTER profile on a
local-cluster master — multi-process executors, not local[n] threads.

Why this exists (VERDICT r4 item 2): the 149-query gate and the bench
had only ever run in-process on local[32], which structurally cannot
catch in-process-only assumptions — driver-local filesystem state read
from executors, objects captured in closures that don't serialize,
AQE initialPartitionNum=2000 interactions with real Exchange nodes.
``local-cluster[N, cores, mem_mb]`` launches real separate executor
JVMs with real RPC/shuffle, the closest local approximation of a
multi-node cluster.

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
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from check import normalize  # noqa: E402  (tools/ sibling)


def main() -> int:
    import duckdb

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

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    specs = all_specs()
    gate: dict[str, str] = {}
    n_pass = n_fail = n_rowsonly = 0
    for name, qspec in sorted(specs.items()):
        t0 = time.time()
        try:
            sdf = qspec.builder(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = [tuple(r[c] for c in cols) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error")
            traceback.print_exc(limit=3)
            gate[name] = "fail"
            n_fail += 1
            continue
        if qspec.oracle is None:
            print(f"rows {name}: {len(srows)} rows [{time.time() - t0:.1f}s]")
            gate[name] = "rows"
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(qspec.oracle)
            raw_cols = rel.columns
            raw_rows = rel.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error")
            traceback.print_exc(limit=3)
            gate[name] = "fail"
            n_fail += 1
            continue
        order = sorted(range(len(raw_cols)), key=lambda i: raw_cols[i])
        dcols = [raw_cols[i] for i in order]
        drows = [tuple(row[i] for i in order) for row in raw_rows]
        ok = [c.lower() for c in cols] == [c.lower() for c in dcols]
        if ok and len(srows) == len(drows):
            ok = normalize(srows) == normalize(drows)
        else:
            ok = False
        gate[name] = "pass" if ok else "fail"
        if ok:
            print(f"PASS {name}: {len(srows)} rows [{time.time() - t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL {name}: mismatch vs oracle")
            n_fail += 1

    # TPC-H under the same session: warm build-once best-of-2 noop
    tpch: dict[str, float] = {}
    for i in range(1, 23):
        name = f"q_tpch_q{i}"
        df = specs[name].builder(spark, sf_dir)
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        tpch[name] = round(best, 3)
        print(f"tpch {name}: {tpch[name]}s")

    out = {
        "master": spec,
        "profile": "cluster",
        "sf_dir": sf_dir,
        "n_pass": n_pass,
        "n_rowsonly": n_rowsonly,
        "n_fail": n_fail,
        "gate": gate,
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
