"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload llm-sf0.1 --seed 1 --seconds 20 --trace 0

Makes the workload's inputs from the seed under ``perfbench/_work/``
(``llm-sf0.1`` reads the committed sf0.1 tables), sets the engine up once (timed as
``setup_s``), checks correctness against the DuckDB oracle or the
expected app state, then measures closed-loop requests for
``--seconds`` seconds.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The two lines before it record the environment and the run's detail.
See ``perfbench/METHOD.md``.
"""

import time

T0 = time.perf_counter()  # set-up is timed from here
with open("/proc/stat") as _stat:
    T0_CPU = _stat.readline()  # CPU ticks at T0, for the steal correction

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# Fail before any work when the engine or its oracle helpers are absent.
import clickhub_spark  # noqa: E402,F401
from tools.check import driver_canon_probe, normalize  # noqa: E402,F401

import workloads  # noqa: E402

#: extra Java options: JVM temp files inside the run directory, no
#: hsperfdata file under /tmp
_JAVA_OPTS = "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _configure_env(work: str) -> None:
    """Keep every file the engine, Spark, the JVM and Python workers
    write inside ``work``; pin the session to local[nproc]."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM that spark-submit starts first takes the same
    # options, so it writes nothing outside the run directory either
    os.environ["SPARK_LAUNCHER_OPTS"] = _JAVA_OPTS.format(tmp=tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workloads.DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            f"--driver-java-options '{_JAVA_OPTS.format(tmp=tmp)}'",
            "pyspark-shell",
        ]
    )


def _environment(args) -> dict:
    import duckdb
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip()
    except OSError:
        commit = ""
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        "driver_memory": workloads.DRIVER_MEMORY,
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "commit": commit or "unknown (not a git checkout)",
        "loadavg_1m": os.getloadavg()[0],
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt",
        action="store_true",
        help="self-test: alter one expected result; the run must then report a failure",
    )
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)
    env = _environment(args)
    print(json.dumps({"environment": env}), flush=True)
    run = workloads.WORKLOADS[args.workload](args, work, (T0, workloads.cpu_ticks(T0_CPU)))
    try:
        result = run.execute()
    finally:
        run.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": run.extra}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
