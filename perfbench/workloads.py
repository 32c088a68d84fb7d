"""The workloads.  Each is a closed loop with one client in one
process: the next request is sent only when the previous one returned.

- ``llm-sf0.1``: the LLM-data-pipeline queries over the engine's sf0.1
  tables, built and executed to the noop sink; driver plan
  construction, eager build jobs and the Python/Arrow boundary
  dominate.
- ``app-ingest``: the reference app's lifecycle from an empty
  warehouse: HTTP schedule, worker import, FINAL reads through the SQL
  shim, periodic stale-repo re-imports and streaming refreshes.

Every workload reports the same end-to-end metrics; a "query" is a
registered query on ``llm-sf0.1`` and the app's FINAL read on
``app-ingest``, whose other operations are reported in the detail
line.  See METHOD.md.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import statistics
import threading
import time
import urllib.error
import urllib.request
from collections import Counter, defaultdict

import datagen
from tracing import RssSampler, SparkProbe, Tracer

#: driver JVM heap for every workload (the engine default is 8g; the
#: benchmark shares its machine, and 2g holds every workload below)
DRIVER_MEMORY = "2g"
#: a traced run alternates traced and untraced rounds (a pass of the
#: query mix, or a group of app cycles) and runs at least this many, so
#: the tracing overhead is measured inside the run
TRACED_MIN_ROUNDS = 4
#: module spans must cover at least this share of the traced request
#: wall time (the rest is benchmark glue in the ``request`` span)
ATTRIBUTION_TOLERANCE = 0.95
#: the scan byte counter must read within this factor of the file size
COUNTER_TOLERANCE = 0.1

LLM_QUERIES = [
    "q_llm_dedup_exact",
    "q_llm_knn_lsh_md5",
    "q_llm_knn",
    "q_llm_pii_scrub",
    "q_multimodal_video",
    "q_llm_chunk_sentences",
]


def tail(samples: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it — or,
    below 44 samples, with a quarter of them beyond it — and the sample
    count."""
    xs = sorted(samples)
    beyond = min(10, len(xs) // 4)
    return xs[len(xs) - 1 - beyond], len(xs)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def cpu_ticks(line: str | None = None) -> list[int]:
    """System-wide CPU ticks from the first line of /proc/stat: user,
    nice, system, idle, iowait, irq, softirq, steal."""
    if line is None:
        with open("/proc/stat") as f:
            line = f.readline()
    return [int(x) for x in line.split()[1:9]]


def _cpu_shares(start: list[int]) -> dict[str, float]:
    """Since ``start``: the busy share of all CPU time, and the share of
    the time our CPUs wanted to run that the hypervisor gave to other
    guests (steal), which slows every request by about that share."""
    d = [b - a for a, b in zip(start, cpu_ticks())]
    running = d[0] + d[1] + d[2] + d[5] + d[6]
    return {
        "cpu_busy_share": running / max(1, sum(d)),
        "cpu_steal_of_running": d[7] / max(1, running + d[7]),
    }


def stamp() -> tuple[float, list[int]]:
    """Now, for ``seconds_since``."""
    return time.perf_counter(), cpu_ticks()


def seconds_since(start: tuple[float, list[int]]) -> float:
    """Wall seconds since ``start`` less the time the hypervisor gave to
    other guests: the wall time scaled by 1 minus the steal share of
    running CPU time over the interval.  On a machine of one's own
    (no steal) this is the wall time.  On a shared VM, steal of 0-12%
    of running time otherwise moves every figure by up to a quarter
    from run to run."""
    t0, ticks = start
    return (time.perf_counter() - t0) * (1.0 - _cpu_shares(ticks)["cpu_steal_of_running"])


class Run:
    """Shared harness: one timed set-up, the timed loop, the results.

    ``setup_s`` runs from process start (``t0``) to the first timed
    request, less the benchmark's own input generation (``generate``)
    and correctness checks (``verify``)."""

    #: requests per round; the timed loop stops only between rounds
    round_size = 1

    def __init__(self, args, work: str, t0: tuple[float, list[int]]) -> None:
        self.args = args
        self.work = work
        self.t0 = t0
        self.seed = args.seed
        self.tracer = Tracer()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.latencies: list[float] = []
        self.kinds: list[str] = []  # per request: what it ran
        self.traced: set[int] = set()
        self.layer_samples: dict[int, dict[str, float]] = {}
        self.extra: dict = {}
        self.probe: SparkProbe | None = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        from clickhub_spark.session import get_spark

        t = stamp()
        self.generate()
        datagen_s = seconds_since(t)
        t = stamp()
        self.spark = get_spark("perfbench")
        self.get_spark_s = seconds_since(t)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.prepare()
        setup_s = seconds_since(self.t0) - datagen_s
        self.verify()
        elapsed = self.timed_loop()
        self.verify_after()
        self.extra.update(
            datagen_s=datagen_s, get_spark_s=self.get_spark_s, setup_s=setup_s, elapsed_s=elapsed
        )
        self.extra["requests"] = len(self.latencies)
        if self.args.trace:
            metrics = self.per_layer()
        else:
            metrics = self.end_to_end(setup_s, elapsed)
        self.extra["error_rate"] = self.failed / max(1, self.attempted)
        self.extra["failures"] = self.failures[:20]
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def timed_loop(self) -> float:
        """Call ``request(i)`` in whole rounds until ``--seconds`` have
        passed; return the elapsed time.  With ``--trace 1`` even rounds
        are traced and odd rounds are not: only cheap job-id marks are
        taken inside a traced request, and its status-store figures are
        read after the loop."""
        if self.args.trace:
            self.probe = SparkProbe(self.spark)
        sc = self.spark.sparkContext
        min_rounds = TRACED_MIN_ROUNDS if self.args.trace else 1
        marks = []
        i = 0
        with RssSampler() as rss:
            loop_start = stamp()
            t_start = loop_start[0]
            while not self.loop_done(i, time.perf_counter() - t_start, min_rounds):
                traced = bool(self.probe) and (i // self.round_size) % 2 == 0
                self.tracer.enabled = traced
                self.tracer.request = i
                sc.setJobGroup(f"perfbench-{i}", f"request {i}")
                start = self.probe.mark() if traced else None
                t0 = stamp()
                with self.tracer.span("request"):
                    self.request(i)
                self.latencies.append(seconds_since(t0))
                self.tracer.enabled = False
                if traced:
                    self.traced.add(i)
                    marks.append((i, start, self.probe.mark()))
                i += 1
            self.extra["wall_s"] = time.perf_counter() - t_start
            self.extra.update(_cpu_shares(loop_start[1]))
            elapsed = seconds_since(loop_start)
        self.tracer.request = None
        sc.setJobGroup(None, None)
        self.extra["peak_rss_mb"] = rss.peak_mb
        for j, start, end in marks:
            self.layer_samples[j] = self.probe.collect(start, end)
        return elapsed

    def loop_done(self, i: int, elapsed: float, min_rounds: int) -> bool:
        return (
            i % self.round_size == 0
            and i >= min_rounds * self.round_size
            and elapsed >= self.args.seconds
        )

    # -- results -----------------------------------------------------------

    def query_samples(self) -> dict[str, list[float]]:
        """Query latencies by query."""
        by: dict[str, list[float]] = defaultdict(list)
        for kind, s in zip(self.kinds, self.latencies):
            by[kind].append(s)
        return by

    def end_to_end(self, setup_s: float, elapsed: float) -> dict:
        """``query.p50_s`` is each query's median averaged over the mix,
        so it does not jump between neighbouring queries the way a
        pooled median of a mix does.  ``query.tail_s`` scales it by the
        tail of every latency over its own query's median, pooled over
        the mix, so the tail rests on all samples of the run."""
        by = self.query_samples()
        medians = {k: statistics.median(xs) for k, xs in by.items()}
        p50 = statistics.fmean(medians.values())
        factor, n = tail([s / medians[k] for k, xs in by.items() for s in xs])
        self.extra["query_samples"] = n
        return {
            "setup_s": (setup_s, "s"),
            "throughput_ops_s": (len(self.latencies) / elapsed, "1/s"),
            "query.p50_s": (p50, "s"),
            "query.tail_s": (p50 * factor, "s"),
        }

    #: per-layer figures only app-ingest produces; 0 on llm-sf0.1,
    #: which bypasses those modules
    APP_LAYERS = {
        "queue.schedule_s": "s",
        "queue.claim_s": "s",
        "queue.release_s": "s",
        "queue.claims_won_per_attempt": "ratio",
        "orchestrator.is_processed_s": "s",
        "server.overhead_s": "s",
        "sources.hwm_s": "s",
        "sources.append_s": "s",
        "sources.files_written": "count",
        "sources.table_files": "count",
        "sources.bytes_per_row": "bytes",
        "sql_compat.translate_s": "s",
        "sql_compat.run_s": "s",
        "operators.final_view_rows_scanned_per_returned": "ratio",
        "streaming.ingest_s": "s",
        "streaming.mv_s": "s",
    }

    def per_layer(self) -> dict:
        """Per traced request means of the status-store figures, per call
        medians of module spans, and the attribution and overhead
        checks of the tracing itself."""
        reqs = self.traced
        n = max(1, len(reqs))
        total: dict[str, float] = defaultdict(float)
        for sample in self.layer_samples.values():
            for k, v in sample.items():
                total[k] += v
        mean = {k: v / n for k, v in total.items()}
        self_s = self.tracer.self_times(reqs)
        wall = sum(self.tracer.durations("request", reqs))
        # the root span's self time is benchmark glue, not any module
        attributed = 1.0 - self_s.get("request", 0.0) / wall if wall else 0.0
        overhead = self.tracing_overhead()
        counter = self.validate_counters()
        metrics = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            "plans.build_s": (sum(self.tracer.durations("plans.build", reqs)) / n, "s"),
            "plans.build_jobs": (self.tracer.counts.get("plans.build_jobs", 0.0) / n, "count"),
            "exec.wall_s": (mean.get("wall_s", 0.0), "s"),
            "exec.executor_run_s": (mean.get("executor_run_s", 0.0), "s"),
            "exec.executor_cpu_s": (mean.get("executor_cpu_s", 0.0), "s"),
            "exec.gc_s": (mean.get("gc_s", 0.0), "s"),
            "exec.jobs": (mean.get("jobs", 0.0), "count"),
            "exec.stages": (mean.get("stages", 0.0), "count"),
            "exec.tasks": (mean.get("tasks", 0.0), "count"),
            "exec.scan_bytes": (mean.get("scan_bytes", 0.0), "bytes"),
            "exec.shuffle_read_bytes": (mean.get("shuffle_read_bytes", 0.0), "bytes"),
            "exec.shuffle_write_bytes": (mean.get("shuffle_write_bytes", 0.0), "bytes"),
            "exec.spill_bytes": (mean.get("spill_bytes", 0.0), "bytes"),
            "exec.scheduler_wait_s": (mean.get("scheduler_wait_s", 0.0), "s"),
            "operators.python_rows": (mean.get("python_rows", 0.0), "rows"),
            "operators.python_bytes": (mean.get("python_bytes", 0.0), "bytes"),
        }
        app = self.app_layers()
        metrics.update({k: (app.get(k, 0.0), u) for k, u in self.APP_LAYERS.items()})
        metrics["trace.attributed_share"] = (attributed, "ratio")
        metrics["trace.overhead_ratio"] = (overhead, "ratio")
        self.extra["trace"] = {
            "traced_requests": len(reqs),
            "untraced_requests": len(self.latencies) - len(reqs),
            "request_wall_s": wall / n,
            "self_s_per_request": {k: v / n for k, v in sorted(self_s.items())},
            "attribution_ok": attributed >= ATTRIBUTION_TOLERANCE,
            "stage_input_bytes": mean.get("stage_input_bytes", 0.0),
            "scan_rows": mean.get("scan_rows", 0.0),
            "counter_check": counter,
        }
        return metrics

    def app_layers(self) -> dict[str, float]:
        return {}

    def tracing_overhead(self) -> float:
        """Median, over request kinds, of the traced median latency over
        the untraced median latency of that kind in this run."""
        by: dict[tuple[str, bool], list[float]] = defaultdict(list)
        for i, (lat, kind) in enumerate(zip(self.latencies, self.kinds)):
            by[kind, i in self.traced].append(lat)
        ratios = [
            statistics.median(by[k, True]) / statistics.median(by[k, False])
            for k in set(self.kinds)
            if by[k, True] and by[k, False]
        ]
        return statistics.median(ratios) if ratios else 0.0

    def validate_counters(self) -> dict:
        """Scan one known file and compare the byte counters against its
        size: the scan node's ``size of files read`` (published as
        ``exec.scan_bytes``; a disagreement is a failed check) and the
        stage ``inputBytes`` (not published: it reads a few KB for a
        multi-MB parquet scan)."""
        path = self.counter_file()
        start = self.probe.mark()
        self.spark.read.parquet(path).write.format("noop").mode("overwrite").save()
        got = self.probe.collect(start, self.probe.mark())
        size = os.path.getsize(path)
        scan = got.get("scan_bytes", 0.0) / size
        self.check(abs(scan - 1.0) <= COUNTER_TOLERANCE, f"scan byte counter reads {scan:.3f} x file size")
        return {
            "file_bytes": size,
            "scan_bytes_ratio": scan,
            "stage_input_bytes_ratio": got.get("stage_input_bytes", 0.0) / size,
        }

    def close(self) -> None:
        if self.spark is not None:
            try:
                _stop_spark(self.spark)
            finally:
                self.spark = None


# -- llm-sf0.1 ---------------------------------------------------------------


class LlmRun(Run):
    """Registered queries: build through ``plans.all_specs()[name].builder``,
    execute to the noop sink.  A round is one pass over the whole mix in
    an order shuffled by the seed.  Set-up warms the whole mix once,
    collecting each result; those results are checked against the
    DuckDB oracle after set-up."""

    queries = LLM_QUERIES
    round_size = len(LLM_QUERIES)

    def generate(self) -> None:
        self.data = datagen.SF01

    def prepare(self) -> None:
        from clickhub_spark.catalog import register_views
        from clickhub_spark.plans import all_specs

        self.specs = all_specs()
        register_views(self.spark, self.data)
        self.warm: dict[str, tuple[list[str], list[tuple]] | Exception] = {}
        self.extra["warmup_s"] = warmup = {}
        for name in self.queries:
            t = time.perf_counter()
            try:
                sdf = self.specs[name].builder(self.spark, self.data)
                cols = sorted(sdf.columns)
                self.warm[name] = cols, [tuple(r[c] for c in cols) for r in sdf.collect()]
            except Exception as e:
                self.warm[name] = e
            warmup[name] = time.perf_counter() - t

    def verify(self) -> None:
        """Every query's set-up result against its DuckDB oracle SQL over
        the same files, compared the way ``tools/check.py`` does."""
        import duckdb
        from tools.check import driver_canon_probe, normalize

        con = duckdb.connect()
        con.sql(f"SET temp_directory='{os.path.join(self.work, 'tmp')}'")
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        rows_out = {}
        for k, name in enumerate(self.queries):
            got = self.warm[name]
            try:
                if isinstance(got, Exception):
                    raise got
                cols, srows = got
                driver_canon_probe(cols, srows)
                rel = con.sql(self.specs[name].oracle)
                order = sorted(range(len(rel.columns)), key=lambda j: rel.columns[j])
                dcols = [rel.columns[j] for j in order]
                drows = [tuple(row[j] for j in order) for row in rel.fetchall()]
                if self.args.corrupt and k == 0:
                    drows = drows[1:] + [tuple("corrupted" for _ in dcols)]
                ok = [c.lower() for c in cols] == [c.lower() for c in dcols] and normalize(
                    srows
                ) == normalize(drows)
                rows_out[name] = len(srows)
            except Exception as e:
                ok = False
                name = f"{name}: {e!r:.200}"
            self.check(ok, f"oracle {name}")
        con.close()
        self.extra["result_rows"] = rows_out

    def request(self, i: int) -> None:
        n = len(self.queries)
        if i % n == 0:
            self.order = random.Random(self.seed * 1000 + i // n).sample(self.queries, n)
        name = self.order[i % n]
        self.kinds.append(name)
        tr = self.tracer
        try:
            first_job = self.probe.mark()[0] if tr.enabled else 0
            with tr.span("plans.build"):
                df = self.specs[name].builder(self.spark, self.data)
            if tr.enabled:
                tr.count("plans.build_jobs", self.probe.mark()[0] - first_job)
            with tr.span("exec.run"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted, the loop goes on
            self.check(False, f"{name}: {e!r:.200}")
        else:
            self.check(True, name)

    def verify_after(self) -> None:
        self.extra["query_p50_s"] = {
            k: statistics.median(v) for k, v in sorted(self.query_samples().items())
        }

    def counter_file(self) -> str:
        return os.path.join(self.data, "lineitem.parquet")


# -- app-ingest --------------------------------------------------------------

#: every EVERY_K-th cycle also runs update_all_repos and a streaming
#: refresh; a round is EVERY_K cycles
EVERY_K = 3
#: cap on cycles per run (bounds the generated inputs)
MAX_CYCLES = 24
#: standing low-priority queue backlog that schedule and claim scan
BACKLOG = 1_000
#: the FINAL reads, the reference app's SQL
READS = (
    "SELECT COUNT(repo_name) AS count FROM git.commits FINAL WHERE repo_name = '{repo}'",
    "SELECT max(time) AS max_time FROM git.commits FINAL WHERE repo_name = '{repo}'",
)


class AppIngestRun(Run):
    """The reference app's lifecycle against an initially empty
    warehouse.  A request is one cycle for a new repo: HTTP schedule →
    worker import → the repo's rows visible in a FINAL read (its
    freshness), and on every ``EVERY_K``-th cycle a probe of a processed
    repo, ``update_all_repos`` with the re-import it schedules, and a
    streaming refresh over a newly landed events file."""

    round_size = EVERY_K

    def generate(self) -> None:
        from clickhub_spark.queue import WorkQueue

        app = os.path.join(self.work, "app")
        self.n_events = MAX_CYCLES // EVERY_K + 1  # the last one is for set-up
        self.inputs = datagen.write_app_inputs(
            app, self.seed, MAX_CYCLES, 1, self.n_events + 1, self.n_events
        )
        self.tsv_dir = os.path.join(app, "tsv")
        self.events_dir = os.path.join(app, "events")
        backlog = WorkQueue(os.path.join(self.work, "queue"))
        for j in range(BACKLOG):
            backlog.schedule(f"backlog/repo{j:05d}", priority=-1)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.count_reads: list[tuple] = []
        self._install_tracing()

    # -- wiring ------------------------------------------------------------

    def _install_tracing(self) -> None:
        from clickhub_spark import catalog, orchestrator, sql_compat
        from clickhub_spark.operators import dedup
        from clickhub_spark.queue import WorkQueue
        from clickhub_spark.sources import writer
        from clickhub_spark.streaming import freshness

        tr = self.tracer
        tr.wrap(orchestrator.Orchestrator, "add_new_repo", "orchestrator.add_new_repo")
        tr.wrap(orchestrator.Orchestrator, "is_processed", "orchestrator.is_processed")
        tr.wrap(orchestrator.Orchestrator, "update_all_repos", "orchestrator.update_all_repos")
        tr.wrap(orchestrator.Orchestrator, "run_worker", "orchestrator.run_worker")
        tr.wrap(orchestrator.Orchestrator, "import_repo", "orchestrator.import_repo")
        tr.wrap(orchestrator, "read_positional_tsv", "sources.read_tsv")
        tr.wrap(orchestrator, "incremental_append", "sources.append")
        tr.wrap(writer, "high_water_mark", "sources.hwm")
        tr.wrap(sql_compat, "translate", "sql_compat.translate")
        tr.wrap(sql_compat, "run", "sql_compat.run")
        tr.wrap(catalog, "register_final_views", "catalog.register_final_views")
        tr.wrap(dedup, "final_view", "operators.final_view")
        tr.wrap(freshness, "refresh", "streaming.refresh")
        tr.wrap(freshness, "stream_ingest", "streaming.ingest")
        tr.wrap(freshness, "maintain_stars_mv", "streaming.mv")

        class TracedQueue(WorkQueue):
            """The queue handed to Orchestrator, timing each primitive."""

            def schedule(self, repo_name, priority=0):
                with tr.span("queue.schedule"):
                    return super().schedule(repo_name, priority)

            def claim(self, worker_id, retries=2):
                with tr.span("queue.claim"):
                    job = super().claim(worker_id, retries)
                tr.count("queue.claim_attempts")
                tr.count("queue.claims_won", job is not None)
                return job

            def release(self, repo_name, worker_id):
                with tr.span("queue.release"):
                    return super().release(repo_name, worker_id)

            def list_jobs(self):
                with tr.span("queue.list_jobs"):
                    return super().list_jobs()

        self.queue_cls = TracedQueue

    def _open_app(self, root: str, queue_dir: str) -> None:
        from clickhub_spark.orchestrator import Orchestrator
        from clickhub_spark.server import make_server

        self.app_root = root
        self.warehouse = os.path.join(root, "warehouse")
        self.commits = os.path.join(self.warehouse, "commits")
        self.queue = self.queue_cls(queue_dir)
        self.orch = Orchestrator(self.spark, self.commits, self.queue)
        self.server = make_server(self.orch, port=0)
        self.url = "http://127.0.0.1:%d/add_new_repo?repo=" % self.server.server_address[1]
        self.server_thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.server_thread.start()
        self.version: Counter = Counter()
        self.imported: Counter = Counter()
        self.scheduled: Counter = Counter()
        self.expected_stars: Counter = Counter()

    def _close_app(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.server_thread.join()

    def prepare(self) -> None:
        """View registration over the (empty) warehouse, then one warm-up
        round of every operation on a throwaway warehouse and queue."""
        from clickhub_spark import catalog

        catalog.register_final_views(self.spark, os.path.join(self.work, "app-run", "warehouse"))
        scratch = os.path.join(self.work, "warmup")
        self._open_app(scratch, os.path.join(scratch, "queue"))
        try:
            self._cycle(0, self.n_events - 1)
        finally:
            self._close_app()
            shutil.rmtree(scratch, ignore_errors=True)
        self._open_app(os.path.join(self.work, "app-run"), os.path.join(self.work, "queue"))

    def verify(self) -> None:
        """The app's outputs are checked as each operation returns (HTTP
        codes, read results, MV totals) and after the loop."""

    # -- operations ----------------------------------------------------------

    def _tsv_for(self, repo: str) -> str:
        idx = int(repo.rsplit("repo", 1)[1])
        v = self.version[repo]
        self.version[repo] += 1
        return os.path.join(self.tsv_dir, f"{idx:04d}.v{v}.tsv")

    def _sample(self, kind: str, value: float) -> None:
        if self.tracer.request is not None:  # inside the timed loop
            self.samples[kind].append(value)

    def _schedule(self, repo: str, expect: int) -> None:
        t0 = stamp()
        with self.tracer.span("server.request"):
            try:
                with urllib.request.urlopen(self.url + repo, timeout=60) as r:
                    code = r.status
            except urllib.error.HTTPError as e:
                code = e.code
        self._sample("schedule", seconds_since(t0))
        self.check(code == expect, f"schedule {repo}: HTTP {code}, expected {expect}")
        if code == 201:
            self.scheduled[repo] += 1

    def _part_files(self) -> int:
        try:
            return sum(f.startswith("part-") for f in os.listdir(self.commits))
        except FileNotFoundError:
            return 0

    def _import(self, repo: str) -> None:
        tr = self.tracer
        before = self._part_files() if tr.enabled else 0
        t0 = stamp()
        done = self.orch.run_worker("worker-1", self._tsv_for, max_polls=1)
        self._sample("import", seconds_since(t0))
        if tr.enabled:
            tr.count("sources.imports")
            tr.count("sources.files_written", self._part_files() - before)
        for r in done:
            self.imported[r] += 1
        self.check(done == [repo], f"import {repo}: {done}")

    def _read(self, repo: str) -> None:
        from clickhub_spark import catalog, sql_compat

        got = []
        for sql in READS:
            traced = self.tracer.enabled
            start = self.probe.mark() if traced else None
            t0 = stamp()
            catalog.register_final_views(self.spark, self.warehouse)
            df = sql_compat.run(self.spark, sql.format(repo=repo))
            with self.tracer.span("exec.collect"):
                got.append(df.collect()[0][0])
            self._sample("read", seconds_since(t0))
            if traced and len(got) == 1:  # the count: rows the FINAL view returns
                self.count_reads.append((start, self.probe.mark(), got[0]))
        keys, max_time = self.inputs["versions"][repo][self.version[repo] - 1]
        if self.args.corrupt:
            keys += 1
        want_time = dt.datetime.fromtimestamp(max_time, dt.timezone.utc).replace(tzinfo=None)
        self.check(got == [keys, want_time], f"read {repo}: {got} != {[keys, want_time]}")

    def _refresh(self, k: int) -> None:
        """Land events file ``k`` and refresh the stars MV."""
        from clickhub_spark.streaming import freshness

        landing = os.path.join(self.app_root, "landing")
        os.makedirs(landing, exist_ok=True)
        name = f"part-{k:04d}.parquet"
        shutil.copyfile(os.path.join(self.events_dir, name), os.path.join(landing, name))
        self.expected_stars.update(self.inputs["views"][k])
        t0 = stamp()
        stars = freshness.refresh(self.spark, landing, os.path.join(self.app_root, "stream"))
        with self.tracer.span("exec.collect"):
            got = {r.user_id: r.stars for r in stars.collect()}
        self._sample("refresh", seconds_since(t0))
        self.check(got == dict(self.expected_stars), "stars MV totals != direct count")

    def _cycle(self, idx: int, events_file: int, round_end: bool = True) -> None:
        repo = datagen.repo_name(idx)
        t0 = stamp()
        self._schedule(repo, 201)
        self._import(repo)
        self._read(repo)
        self._sample("freshness", seconds_since(t0))
        if round_end:
            first = datagen.repo_name(0)
            self._schedule(first, 200)  # already processed: the probe answers
            t1 = stamp()
            stale = self.orch.update_all_repos(limit=1)
            self._sample("update", seconds_since(t1))
            self.check(stale == [first], f"update_all_repos: {stale}")
            for r in stale:
                self.scheduled[r] += 1
                self._import(r)
                self._read(r)
            self._refresh(events_file)

    def request(self, i: int) -> None:
        round_end = i % EVERY_K == EVERY_K - 1
        self.kinds.append("cycle+update" if round_end else "cycle")
        try:
            self._cycle(i, i // EVERY_K, round_end)
        except Exception as e:  # counted, the loop goes on
            self.check(False, f"cycle {i}: {e!r:.200}")

    def loop_done(self, i: int, elapsed: float, min_rounds: int) -> bool:
        return super().loop_done(i, elapsed, min_rounds) or i >= MAX_CYCLES

    def timed_loop(self) -> float:
        try:
            return super().timed_loop()
        finally:
            self._close_app()

    def verify_after(self) -> None:
        """Exactly-once imports, no leftover jobs, and the FINAL row count
        of every repo."""
        from clickhub_spark import catalog, sql_compat

        self.check(self.imported == self.scheduled, f"imports {self.imported} != schedules {self.scheduled}")
        leftover = [j.repo_name for j in self.queue.list_jobs() if not j.repo_name.startswith("backlog/")]
        self.check(not leftover, f"jobs left in queue: {leftover}")
        catalog.register_final_views(self.spark, self.warehouse)
        got = {
            r[0]: r[1]
            for r in sql_compat.run(
                self.spark,
                "SELECT repo_name, count() AS n FROM git.commits FINAL GROUP BY repo_name",
            ).collect()
        }
        want = {r: self.inputs["versions"][r][v - 1][0] for r, v in self.version.items()}
        self.check(got == want, "FINAL row count per repo != distinct keys across versions")
        files = [f for f in os.listdir(self.commits) if f.startswith("part-")]
        self.table_files = len(files)
        self.bytes_per_row = sum(
            os.path.getsize(os.path.join(self.commits, f)) for f in files
        ) / max(1, sum(got.values()))
        for k, xs in sorted(self.samples.items()):
            self.extra[f"{k}.p50_s"] = statistics.median(xs)
            self.extra[f"{k}.tail_s"], self.extra[f"{k}.samples"] = tail(xs)

    def query_samples(self) -> dict[str, list[float]]:
        """FINAL read latencies by statement (reads come in ``READS``
        order)."""
        by: dict[str, list[float]] = defaultdict(list)
        for j, s in enumerate(self.samples["read"]):
            by[READS[j % len(READS)]].append(s)
        return by

    def counter_file(self) -> str:
        return os.path.join(self.commits, sorted(f for f in os.listdir(self.commits) if f.startswith("part-"))[0])

    def app_layers(self) -> dict[str, float]:
        tr, reqs = self.tracer, self.traced

        def median(name: str) -> float:
            xs = tr.durations(name, reqs)
            return statistics.median(xs) if xs else 0.0

        counts = tr.counts
        attempts = counts.get("queue.claim_attempts", 0.0)
        scanned = returned = 0.0
        for start, end, rows in self.count_reads:
            scanned += self.probe.collect(start, end).get("scan_rows", 0.0)
            returned += rows
        http = tr.durations("server.request", reqs)
        handler = tr.durations("orchestrator.add_new_repo", reqs)
        return {
            "queue.schedule_s": median("queue.schedule"),
            "queue.claim_s": median("queue.claim"),
            "queue.release_s": median("queue.release"),
            "queue.claims_won_per_attempt": counts.get("queue.claims_won", 0.0) / attempts if attempts else 0.0,
            "orchestrator.is_processed_s": median("orchestrator.is_processed"),
            "server.overhead_s": (sum(http) - sum(handler)) / max(1, len(http)),
            "sources.hwm_s": median("sources.hwm"),
            "sources.append_s": median("sources.append"),
            "sources.files_written": counts.get("sources.files_written", 0.0) / max(1.0, counts.get("sources.imports", 0.0)),
            "sources.table_files": float(self.table_files),
            "sources.bytes_per_row": self.bytes_per_row,
            "sql_compat.translate_s": median("sql_compat.translate"),
            "sql_compat.run_s": median("sql_compat.run"),
            "operators.final_view_rows_scanned_per_returned": scanned / returned if returned else 0.0,
            "streaming.ingest_s": median("streaming.ingest"),
            "streaming.mv_s": median("streaming.mv"),
        }


WORKLOADS = {
    "llm-sf0.1": LlmRun,
    "app-ingest": AppIngestRun,
}
