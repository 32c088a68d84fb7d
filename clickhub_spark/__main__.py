"""CLI — command-for-command parity with the reference's clickhub.py
(reference clickhub.py:29-49: schedule, bulk_schedule, start_worker,
import, update_all_repos), driving the Spark engine instead of a
ClickHouse server.

    python -m clickhub_spark schedule --repo_name apache/spark
    python -m clickhub_spark bulk_schedule --repo_file repos.txt --limit 100
    python -m clickhub_spark import --repo_name acme/widgets --tsv commits.tsv
    python -m clickhub_spark start_worker --tsv-dir /data/tsv --polls 10
    python -m clickhub_spark start_workers --tsv-dir /data/tsv --n 4
    python -m clickhub_spark update_all_repos --limit 50000
    python -m clickhub_spark query --name q_agg_multi --sf-dir /root/testdata/sf0.01
    python -m clickhub_spark serve --port 5000
    python -m clickhub_spark extract --repo /path/or/url --out-dir /data/tsv
    python -m clickhub_spark sql --query "SELECT count() FROM git.commits FINAL"
"""

from __future__ import annotations

import argparse
import os
import sys
import uuid

from clickhub_spark.sqltext import split_top


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="clickhub_spark")
    p.add_argument("--data-dir", default=os.environ.get("CLICKHUB_SPARK_DATA", None))
    p.add_argument(
        "--queue-url",
        default=os.environ.get("CLICKHUB_SPARK_QUEUE_URL", None),
        help="HTTP queue-coordinator URL (queue_http.py) — workers on "
        "any host coordinate through it instead of the data-dir "
        "filesystem queue (≙ the reference's ZooKeeper/KeeperMap)",
    )
    p.add_argument(
        "--queue-failover-urls",
        default=os.environ.get("CLICKHUB_SPARK_QUEUE_FAILOVER", ""),
        help="comma-separated standby coordinator URLs — the worker "
        "auto-repoints (fencing tokens preserved) when the primary "
        "dies or answers 503-standby; pair with `coordinator "
        "--lease-dir` for hands-off failover",
    )
    p.add_argument(
        "-c", "--config", default=None,
        help="YAML config (reference config.yml keys: data_cache, "
        "max_queue_length, sleep_time; unknown keys ignored)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("schedule")  # reference clickhub.py:89-96
    s.add_argument("--repo_name", required=True)
    s.add_argument("--priority", type=int, default=0)

    b = sub.add_parser("bulk_schedule")  # reference clickhub.py:97-108
    b.add_argument("--repo_file", required=True)
    b.add_argument("--limit", type=int, default=None)

    i = sub.add_parser("import")  # reference clickhub.py:116-120
    i.add_argument("--repo_name", required=True)
    i.add_argument("--tsv", required=True)

    w = sub.add_parser("start_worker")  # reference clickhub.py:122-132
    w.add_argument("--tsv-dir", required=True)
    w.add_argument("--polls", type=int, default=1)

    ws = sub.add_parser("start_workers")  # ≙ reference start_workers.sh:3-8
    ws.add_argument("--tsv-dir", required=True)
    ws.add_argument(
        "--n",
        type=int,
        default=int(os.environ.get("NUMBER_OF_WORKERS", "4")),
        help="worker processes to fork (default $NUMBER_OF_WORKERS or 4)",
    )
    ws.add_argument("--polls", type=int, default=1)

    u = sub.add_parser("update_all_repos")  # reference clickhub.py:109-114
    u.add_argument("--limit", type=int, default=50_000)

    q = sub.add_parser("query")  # run any registered engine query
    q.add_argument("--name", required=True)
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--show", type=int, default=20)
    q.add_argument(
        "--format",
        choices=["table", "json", "csv", "tsv"],
        default="table",
        help="output format (≙ clickhouse-client FORMAT Pretty/JSONEachRow/CSV/TSV)",
    )

    v = sub.add_parser("serve")  # reference app.py:65 (Flask, port 5000)
    v.add_argument(
        "--host",
        default="127.0.0.1",
        help="bind address (loopback by default; pass 0.0.0.0 to "
        "expose the unauthenticated endpoint externally — the "
        "reference's posture, app.py:65)",
    )
    v.add_argument("--port", type=int, default=5000)

    e = sub.add_parser("extract")  # ≙ clone + git-import (repo/importer.py:86-90)
    e.add_argument("--repo", required=True, help="git URL or local path")
    e.add_argument("--out-dir", required=True)
    e.add_argument("--workdir", default=None, help="clone here (default: out-dir/clone)")

    fr = sub.add_parser(  # ≙ the reference insert→MV loop (README.md:247-268)
        "refresh_events",
        help="one freshness cycle: landing files → events table → stars MV",
    )
    fr.add_argument("--landing", required=True, help="event parquet landing dir")
    fr.add_argument("--show", type=int, default=20)

    x = sub.add_parser("sql")  # ClickHouse-dialect SQL over registered tables
    x.add_argument("--query", default=None, help="ClickHouse-dialect SQL")
    x.add_argument(
        "--file",
        default=None,
        help="file of ;-separated ClickHouse-dialect statements — the "
        "reference create_db.py bootstrap runs verbatim here (DDL/DML "
        "dispatch to the warehouse, SELECTs print)",
    )
    x.add_argument("--sf-dir", default=None, help="also register testdata tables")
    x.add_argument(
        "--warehouse",
        default=None,
        help="warehouse root for CREATE/INSERT statements "
        "(default {data-dir}/warehouse)",
    )
    x.add_argument("--show", type=int, default=20)
    x.add_argument(
        "--format", choices=["table", "json", "csv", "tsv"], default="table"
    )

    c = sub.add_parser("coordinator")  # HTTP queue coordinator (queue_http)
    c.add_argument("--host", default="127.0.0.1")
    c.add_argument("--port", type=int, default=8377)
    c.add_argument("--snapshot", default=None, help="shared ledger path")
    c.add_argument("--token", default=None)
    c.add_argument("--standby", action="store_true")
    c.add_argument(
        "--lease-dir",
        default=None,
        help="enable automated failover: filesystem-lease election "
        "over this shared dir (election.py); a standby started with "
        "the same --snapshot and --lease-dir self-promotes when the "
        "leader's lease lapses",
    )
    c.add_argument("--node-id", default=None)
    c.add_argument("--lease-s", type=float, default=2.0)

    args = p.parse_args(argv)

    if args.cmd == "coordinator":  # no Spark session needed
        from clickhub_spark.queue_http import make_coordinator

        srv, coord = make_coordinator(
            snapshot_path=args.snapshot,
            host=args.host,
            port=args.port,
            token=args.token,
            standby=args.standby,
        )
        el = None
        if args.lease_dir:
            from clickhub_spark.election import Elector

            el = Elector(
                coord,
                args.lease_dir,
                args.node_id or f"coord-{os.getpid()}",
                lease_s=args.lease_s,
            ).start()
        host, port = srv.server_address[0], srv.server_address[1]
        print(f"coordinator on {host}:{port} (serving={coord.serving})")
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            if el is not None:
                el.stop()
        return 0

    if args.cmd == "extract":  # no Spark session needed
        from clickhub_spark.sources.git_extract import clone, extract_git_history

        src = args.repo
        if not os.path.isdir(os.path.join(src, ".git")) and not src.endswith(".git"):
            src = clone(args.repo, args.workdir or os.path.join(args.out_dir, "clone"))
        for name, path in extract_git_history(src, args.out_dir).items():
            print(f"{name}: {path}")
        return 0

    if args.cmd == "start_workers":
        # one OS process per worker, exactly like the reference's
        # start_workers.sh fork loop; the filesystem queue's atomic
        # rename-claim makes the races safe (queue.py).  Each child is
        # its own `start_worker` invocation — same config, own
        # SparkSession, crash-isolated from its siblings.
        import subprocess

        base = [sys.executable, "-m", "clickhub_spark"]
        if args.data_dir:
            base += ["--data-dir", args.data_dir]
        if args.queue_url:
            base += ["--queue-url", args.queue_url]
        if args.config:
            base += ["-c", args.config]
        procs = [
            subprocess.Popen(
                base
                + ["start_worker", "--tsv-dir", args.tsv_dir, "--polls", str(args.polls)]
            )
            for _ in range(args.n)
        ]
        rc = 0
        for proc in procs:
            rc = rc or proc.wait()
        return rc

    from clickhub_spark.config import load_config
    from clickhub_spark.orchestrator import Orchestrator
    from clickhub_spark.queue import WorkQueue
    from clickhub_spark.session import get_spark

    cfg = load_config(args.config)
    data_dir = args.data_dir or cfg["data_dir"]
    spark = get_spark("clickhub-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if args.queue_url:
        from clickhub_spark.queue_http import HttpWorkQueue

        queue = HttpWorkQueue(
            args.queue_url,
            max_queue_length=cfg["max_queue_length"],
            failover_urls=[
                u for u in args.queue_failover_urls.split(",") if u
            ],
        )
    else:
        queue = WorkQueue(
            os.path.join(data_dir, "queue"),
            max_queue_length=cfg["max_queue_length"],
        )
    orch = Orchestrator(spark, os.path.join(data_dir, "commits"), queue)

    if args.cmd == "schedule":
        r = orch.add_new_repo(args.repo_name, args.priority)
        print(r.code, r.status)
    elif args.cmd == "bulk_schedule":
        n = 0
        with open(args.repo_file) as f:
            for line in f:
                name = line.strip()
                if not name:
                    continue
                if orch.add_new_repo(name).code == 201:
                    n += 1
                if args.limit and n >= args.limit:
                    break
        print(f"scheduled {n}")
    elif args.cmd == "import":
        print(f"appended {orch.import_repo(args.repo_name, args.tsv)} rows")
    elif args.cmd == "start_worker":
        wid = f"worker-{uuid.uuid4().hex[:8]}"  # ≙ clickhub.py:38 per-worker UUID
        done = orch.run_worker(
            wid,
            tsv_for=lambda repo: os.path.join(args.tsv_dir, repo.replace("/", "%2F") + ".tsv"),
            max_polls=args.polls,
            sleep_time=cfg["sleep_time"],
        )
        print(f"{wid} imported {done}; failures {orch.queue.failures}")
    elif args.cmd == "update_all_repos":
        scheduled = orch.update_all_repos(args.limit)
        print(f"scheduled {len(scheduled)}: {scheduled[:10]}{'...' if len(scheduled) > 10 else ''}")
    elif args.cmd == "refresh_events":
        from clickhub_spark.streaming.freshness import refresh

        from pyspark.sql import functions as F

        wh = os.path.join(data_dir, "events_wh")
        view = refresh(spark, args.landing, wh)
        view.orderBy(F.col("stars").desc(), F.col("user_id")).show(
            args.show, truncate=False
        )
    elif args.cmd == "serve":
        from clickhub_spark.server import serve

        print(f"serving /add_new_repo on {args.host}:{args.port}")
        serve(orch, args.host, args.port)
    elif args.cmd == "sql":
        from clickhub_spark.catalog import STORED_SCHEMAS, register_final_views, register_views
        from clickhub_spark.ddl import STATEMENT_VERBS, Warehouse
        from clickhub_spark.sources.writer import read_table
        from clickhub_spark.sql_compat import run

        if not args.query and not args.file:
            print("sql: one of --query/--file is required", file=sys.stderr)
            return 2
        if args.sf_dir:
            register_views(spark, args.sf_dir)
        for table, schema in STORED_SCHEMAS.items():
            df = read_table(spark, os.path.join(data_dir, table), schema)
            if df is not None:
                df.createOrReplaceTempView(table)
        register_final_views(spark, data_dir)
        wh = Warehouse(args.warehouse or os.path.join(data_dir, "warehouse"))
        wh.register_views(spark)
        text = args.query or ""
        if args.file:
            with open(args.file, encoding="utf-8") as f:
                text = f.read()
        for stmt in split_top(text, ";"):
            verb = stmt.split(None, 1)[0].upper() if stmt.strip() else ""
            if verb in STATEMENT_VERBS:
                print(wh.execute(stmt, spark=spark))
                wh.register_views(spark)  # new tables visible to later SELECTs
            else:
                _emit(run(spark, stmt), args.show, getattr(args, "format", "table"))
    elif args.cmd == "query":
        from clickhub_spark.plans import all_specs

        specs = all_specs()
        if args.name not in specs:
            print(
                f"unknown query {args.name!r}; available: {', '.join(sorted(specs))}",
                file=sys.stderr,
            )
            return 2
        df = specs[args.name].builder(spark, args.sf_dir)
        _emit(df, args.show, getattr(args, "format", "table"))
    return 0


def _emit(df, limit: int, fmt: str) -> None:
    """Print a result in the chosen output format (≙ clickhouse-client
    FORMAT Pretty / JSONEachRow / CSV / TSV)."""
    if fmt == "table":
        df.show(limit, truncate=False)
        return
    rows = df.limit(limit).collect() if limit else df.collect()
    cols = df.columns
    if fmt == "json":
        import json

        for r in rows:
            print(json.dumps(r.asDict(recursive=True), default=str))
    else:
        # csv.writer, not a naive join: a value containing the
        # delimiter, a quote, or a newline (c_name, free text) must be
        # quoted/escaped, not silently corrupt the row framing —
        # matching clickhouse-client's escaped CSV/TSV formats
        import csv

        sep = "," if fmt == "csv" else "\t"
        w = csv.writer(sys.stdout, delimiter=sep, lineterminator="\n")
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if v is None else str(v) for v in r])


if __name__ == "__main__":
    sys.exit(main())
