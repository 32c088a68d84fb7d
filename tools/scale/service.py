"""Service scenarios: HTTP queue claim/release throughput with worker
processes and the cross-process coordinator failover drill (neither
starts a Spark session), and the app's per-repo questions answered
from part footers."""

from __future__ import annotations

import json
import os
import signal
import socket
import subprocess
import sys
import threading
import time
import urllib.request

from tools.scale import REPO

#: child processes import clickhub_spark from this checkout
_CHILD_ENV = {**os.environ, "PYTHONPATH": str(REPO)}

_WORKER = """
import json, sys
from clickhub_spark.queue_http import HttpWorkQueue
q = HttpWorkQueue(sys.argv[1])
done = q.work(sys.argv[2], lambda job: None, max_polls=int(sys.argv[3]))
print(json.dumps(done))
"""


def queue_throughput(run, n=2000, w=4):
    """HTTP queue coordinator throughput (queue_http.py): ``w`` worker
    PROCESSES claim and release ``n`` jobs as fast as they can against
    one coordinator.  A 1000-executor fleet is bounded by import work
    only if this rate comfortably exceeds the fleet's completion rate.

    Check: every job is processed exactly once."""
    from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

    srv, _ = make_coordinator(max_queue_length=n + 1, host="127.0.0.1")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        q = HttpWorkQueue(url)
        sched_sec, _ = run.timed(lambda: [q.schedule(f"org/repo{i:06d}", priority=i % 5) for i in range(n)], 2)

        def drain() -> list[str]:
            procs = [
                subprocess.Popen(
                    [sys.executable, "-c", _WORKER, url, f"w{i}", str(n)],
                    stdout=subprocess.PIPE,
                    text=True,
                    env=_CHILD_ENV,
                )
                for i in range(w)
            ]
            done: list[str] = []
            for p in procs:
                stdout, _ = p.communicate(timeout=600)
                run.check(f"worker_{p.pid}_exit", p.returncode == 0)
                if p.returncode == 0:
                    done.extend(json.loads(stdout.strip().splitlines()[-1]))
            return done

        drain_sec, processed = run.timed(drain, 2)
    finally:
        srv.shutdown()
        srv.server_close()
    return {
        "metric": "queue_throughput_smoke",
        "n_jobs": n,
        "n_workers": w,
        "schedule_sec": sched_sec,
        "drain_sec": drain_sec,
        "claims_per_sec": round(n / drain_sec, 1),
        "exactly_once": run.check("exactly_once", len(processed) == n == len(set(processed))),
    }


def _health(url: str) -> dict:
    with urllib.request.urlopen(url + "/health", timeout=2) as r:
        return json.loads(r.read())


def _wait_health(url: str, timeout: float = 10.0) -> dict:
    deadline = time.monotonic() + timeout
    while True:
        try:
            return _health(url)
        except OSError:
            if time.monotonic() > deadline:
                raise
            time.sleep(0.1)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def failover(run):
    """Cross-PROCESS automated failover: two coordinator OS processes
    (``python -m clickhub_spark coordinator``) share a snapshot ledger
    and a lease dir; a worker here claims a job whose slow handler
    SIGKILLs the primary.  Real process death, the lease file as the
    only cross-process signal, and the CLI wiring end to end — what the
    in-process tests/test_election.py cannot do.

    Check: the primary leads epoch ≥1 and the standby follows before
    the kill; afterwards the standby serves as leader of a higher epoch
    with a valid lease, the worker has re-pointed to it, and the job
    completed exactly once."""
    from clickhub_spark.queue_http import HttpWorkQueue

    lease_s = 0.8
    out: dict = {"metric": "failover_smoke", "lease_s": lease_s}
    base = [
        sys.executable, "-m", "clickhub_spark", "coordinator",
        "--snapshot", run.path("queue.snap"), "--lease-dir", run.path("lease"),
        "--lease-s", str(lease_s), "--host", "127.0.0.1",
    ]  # fmt: skip
    port1, port2 = _free_port(), _free_port()
    url1, url2 = f"http://127.0.0.1:{port1}", f"http://127.0.0.1:{port2}"
    procs = [
        subprocess.Popen(base + extra, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, env=_CHILD_ENV)
        for extra in (
            ["--port", str(port1), "--node-id", "primary"],
            ["--port", str(port2), "--node-id", "standby", "--standby"],
        )
    ]
    try:
        h1 = _wait_health(url1)
        # the primary's elector claims epoch 1 at start(); /health alone
        # tells "no leader" from "leader renewing"
        el1 = h1.get("election") or _wait_health(url1)["election"]
        out["pre_kill_election"] = el1
        h2 = _wait_health(url2)
        run.check("primary_leads", h1["serving"] is True and el1["role"] == "leader" and el1["epoch"] >= 1)
        run.check("standby_follows", h2["serving"] is False and h2["election"]["role"] == "follower")
        q = HttpWorkQueue(url1, lease_s=0.5, failover_urls=[url2])
        q.schedule("acme/kill9")
        executions: list[str] = []

        def handler(job) -> None:
            executions.append(job.repo_name)
            time.sleep(0.3)
            procs[0].send_signal(signal.SIGKILL)  # no goodbye
            time.sleep(8 * lease_s)  # outlive expiry + grace + promotion

        out["work_sec"], done = run.timed(lambda: q.work("w-kill9", handler), 2)
        h2 = _health(url2)
        el2 = h2.get("election") or {}
        out["standby_serving"] = h2["serving"]
        out["post_takeover_election"] = h2.get("election")
        out["completed"] = done
        out["executions"] = executions
        out["failures"] = q.failures
        out["repointed"] = q.base_url == url2
        out["ok"] = run.check(
            "takeover_exactly_once",
            done == ["acme/kill9"]
            and executions == ["acme/kill9"]
            and not q.failures
            and h2["serving"] is True
            and out["repointed"]
            # the standby won a HIGHER epoch and renews its lease
            and el2.get("role") == "leader"
            and el2.get("epoch", 0) > el1["epoch"]
            and el2.get("cluster_owner") == "standby"
            and el2.get("lease_valid") is True,
        ) and all(run.checks.values())
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
            proc.wait(timeout=10)
    return out


def _scan_answers(spark, path, repos, limit):
    """The three questions as full scans of the commits table — the
    formulations the footer answers replaced (the oracle), each
    opening the table per call as they did."""
    from pyspark.sql import functions as F

    from clickhub_spark.catalog import STORED_SCHEMAS
    from clickhub_spark.sources.writer import read_table

    def mine(repo):
        return read_table(spark, path, STORED_SCHEMAS["commits"]).where(F.col("repo_name") == repo)

    def stale():
        return [
            r.repo_name
            for r in read_table(spark, path, STORED_SCHEMAS["commits"])
            .groupBy("repo_name")
            .agg(F.min("updated_at").alias("last_updated"))
            .orderBy(F.col("last_updated").asc(), F.col("repo_name").asc())
            .limit(limit)
            .collect()
        ]

    return {
        "is_processed": lambda: [bool(mine(r).limit(1).take(1)) for r in repos],
        "high_water_mark": lambda: [mine(r).agg(F.max("time").alias("h")).first().h for r in repos],
        "stale_repos": stale,
    }


def app_parts(run, n_repos=2000, probes=20, limit=100):
    """The app's per-repo questions from part footers
    (sources/writer.footer_answers): the membership probe, the import
    watermark and the ``update_all_repos`` sweep over a commits table
    of ``n_repos`` single-repo parts — the layout one import per repo
    leaves — and again after a compaction into ``ORDER BY repo_name``
    range parts.  Each question is timed against its full-scan
    formulation over ``probes`` repos (half present, half absent).

    Check: every footer answer equals the scan's, on both layouts; the
    single-repo layout answers with no Spark job."""
    from pyspark.sql import functions as F

    from clickhub_spark.catalog import STORED_SCHEMAS
    from clickhub_spark.introspect import table_stats
    from clickhub_spark.orchestrator import Orchestrator
    from clickhub_spark.queue import WorkQueue
    from clickhub_spark.sources.writer import compact, high_water_mark
    from tests.conftest import spark_jobs

    spark = run.spark
    schema = STORED_SCHEMAS["commits"]
    path = run.path("commits")
    per_repo = 5
    t0, hour = 1_672_531_200_000_000, 3_600_000_000
    r, k = (F.col("id") / per_repo).cast("long"), F.col("id") % per_repo
    cols = {
        "repo_name": F.format_string("org/r%06d", r),
        "hash": F.format_string("%06d-%d", r, k),
        "time": F.timestamp_micros(F.lit(t0) + (r * 7 % 1000 + k) * hour),
        "updated_at": F.timestamp_micros(F.lit(t0) + (r * 13 % 997) * hour + k),
    }
    # one task writes the rows in repo order, a new file every
    # ``per_repo`` rows: one part per repo
    spark.range(n_repos * per_repo, numPartitions=1).select(
        *[cols.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name) for f in schema.fields]
    ).write.option("maxRecordsPerFile", per_repo).parquet(path)
    orch = Orchestrator(spark, path, WorkQueue(run.path("queue")))
    step = max(1, n_repos // max(1, probes // 2))
    repos = [f"org/r{i:06d}" for i in range(0, n_repos, step)][: max(1, probes // 2)]
    repos += [f"org/none{i:03d}" for i in range(len(repos))]
    footer = {
        "is_processed": lambda: [orch.is_processed(r) for r in repos],
        "high_water_mark": lambda: [
            high_water_mark(spark, path, "time", "repo_name", r, schema) for r in repos
        ],
        "stale_repos": lambda: orch.stale_repos(limit),
    }

    def measure(layout: str) -> dict:
        out = {"parts": table_stats(path)["files"]}
        scan = _scan_answers(spark, path, repos, limit)
        for q in footer:
            (got, jobs), want = spark_jobs(spark, footer[q]), scan[q]()
            run.check(f"{layout}_{q}_equal", got == want)
            if layout == "single_repo":
                run.check(f"{layout}_{q}_no_job", jobs == 0)
            footer_s, _ = run.timed(footer[q], 4)
            scan_s, _ = run.timed(scan[q], 4)
            out[q] = {"footer_s": footer_s, "scan_s": scan_s, "footer_jobs": jobs}
        return out

    out = {"metric": "app_parts", "n_repos": n_repos, "probes": len(repos), "limit": limit}
    out["single_repo"] = measure("single_repo")
    compact(
        spark,
        path,
        sort_cols=("repo_name", "time"),
        target_files=None,
        transform=lambda df: df.repartitionByRange(max(1, n_repos // 250), "repo_name"),
        read_schema=schema,
    )
    out["compacted"] = measure("compacted")
    # the sweep itself, on the queue: the stale batch is scheduled
    scheduled = orch.update_all_repos(limit)
    run.check("update_all_repos_schedules_stale", scheduled == footer["stale_repos"]())
    out["ok"] = all(run.checks.values())
    return out


#: scenario -> keyword arguments of its tiny Tier-1 run
SCENARIOS = {
    queue_throughput: {"n": 200, "w": 2},
    failover: {},
    app_parts: {"n_repos": 8, "probes": 4, "limit": 5},
}
