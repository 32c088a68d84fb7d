"""App-level orchestration — the reference's entry points (clickhub.py
CLI: schedule / bulk_schedule / update_all_repos / start_worker /
import; Flask /add_new_repo, app.py:41-61) recomposed over the Spark
engine modules.  A user of the reference drives the same lifecycle
here: schedule repos into a queue, workers claim + import git-history
TSVs into parquet fact tables, reads go through the FINAL dedup view.

Status codes mirror app.py:46-61: 400 invalid, 200 already-processed/
already-scheduled, 403 queue full, 201 scheduled.  Note app.py:51
compares ``COUNT(...) >= 0`` — always true, making every valid repo
return ALREADY_PROCESSED and the schedule path dead code; we
implement the documented intent (``> 0``) per SURVEY §3 entry 3.

The per-repo questions on the hot path — the membership probe, the
import watermark (sources/writer.high_water_mark) and the
``update_all_repos`` sweep — are answered from part footers, the
analog of the primary and min/max index ClickHouse answers them from;
Spark reads only the parts a footer cannot answer.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import COMMITS_SCHEMA, FINAL_KEYS, STORED_SCHEMAS
from clickhub_spark.operators.dedup import final_view
from clickhub_spark.queue import AlreadyScheduled, QueueFull, WorkQueue
from clickhub_spark.sources.tsv import read_positional_tsv, stamp_updated_at
from clickhub_spark.sources.writer import (
    footer_answers,
    incremental_append,
    read_table,
    table_files,
)


@dataclass
class ScheduleResult:
    code: int
    status: str


class Orchestrator:
    def __init__(self, spark: SparkSession, commits_path: str, queue: WorkQueue):
        self.spark = spark
        self.commits_path = commits_path
        self.queue = queue

    def _commits(self):
        """The stored commits table (sources/writer.read_table under its
        declared schema); empty before the first import."""
        schema = STORED_SCHEMAS["commits"]
        df = read_table(self.spark, self.commits_path, schema)
        return self.spark.createDataFrame([], schema) if df is None else df

    # -- membership probe (≙ SELECT COUNT(repo_name) FROM git.commits
    #    WHERE repo_name='X', reference app.py:48-50) -------------------
    def is_processed(self, repo_name: str) -> bool:
        """Answered from part footers (sources/writer.footer_answers):
        a part holding only ``repo_name`` answers True with no Spark
        job; parts whose repo range excludes it are not read; Spark
        reads only the parts a footer cannot answer."""
        parts = table_files(self.commits_path)
        if parts is None:
            return False
        schema = STORED_SCHEMAS["commits"]
        answered, rest = footer_answers(parts, "repo_name", key=repo_name, schema=schema)
        if answered:
            return True
        if not rest:
            return False
        df = read_table(self.spark, self.commits_path, schema, rest)
        return bool(df.where(F.col("repo_name") == repo_name).limit(1).take(1))

    # -- /add_new_repo (reference app.py:41-61) -------------------------
    def add_new_repo(self, repo_name: str, priority: int = 0) -> ScheduleResult:
        if "/" not in repo_name:
            return ScheduleResult(400, "INVALID_REPO")
        if self.is_processed(repo_name):
            return ScheduleResult(200, "ALREADY_PROCESSED")
        try:
            self.queue.schedule(repo_name, priority)
        except AlreadyScheduled:
            return ScheduleResult(200, "ALREADY_SCHEDULED")
        except QueueFull:
            return ScheduleResult(403, "QUEUE_FULL")
        return ScheduleResult(201, "SCHEDULED")

    # -- import (≙ clickhub.py import → repo/importer.py:93-110) --------
    def import_repo(self, repo_name: str, tsv_path: str) -> int:
        """Positional-cast the git-import TSV, stamp updated_at, append
        rows past the high-water mark (repo/importer.py:95,107)."""
        df = stamp_updated_at(
            read_positional_tsv(
                self.spark, tsv_path, COMMITS_SCHEMA, literals={"repo_name": repo_name}
            )
        )
        return incremental_append(
            self.spark, df, self.commits_path, "time", "repo_name", repo_name
        )

    def commits_final(self):
        """The FINAL read view over commits (≙ ReplacingMergeTree merge
        visibility, reference README.md:133), with the same keys and
        tie-break as the registered ``commits_final`` SQL view."""
        keys, version = FINAL_KEYS["commits"]
        return final_view(self._commits(), keys=keys, version=version)

    def stale_repos(self, limit: int) -> list[str]:
        """SELECT repo_name FROM commits GROUP BY repo_name ORDER BY
        min(updated_at) ASC, repo_name ASC LIMIT <limit>
        (repo/schedule.py:81-83), with the per-repo minima taken from
        part footers (sources/writer.footer_answers).  When every part
        answers, the sort and limit run in Python on the raw micros,
        with no Spark job; otherwise the footer minima join the Spark
        query as a small input, so Spark's ordering (NULLs first) still
        decides and the collect stays bounded by ``limit``."""
        schema = STORED_SCHEMAS["commits"]
        parts = table_files(self.commits_path) or []
        answered, rest = footer_answers(parts, "repo_name", "updated_at", schema=schema)
        minima: dict[str, int] = {}
        for repo, stats in answered:
            minima[repo] = min(stats.min, minima.get(repo, stats.min))
        if not rest:
            return sorted(minima, key=lambda r: (minima[r], r))[: max(limit, 0)]
        commits = read_table(self.spark, self.commits_path, schema, rest).select(
            "repo_name", "updated_at"
        )
        if minima:
            commits = commits.unionByName(
                self.spark.createDataFrame(
                    list(minima.items()), "repo_name string, micros long"
                ).select("repo_name", F.timestamp_micros("micros").alias("updated_at"))
            )
        stale = (
            commits.groupBy("repo_name")
            .agg(F.min("updated_at").alias("last_updated"))
            .orderBy(F.col("last_updated").asc(), F.col("repo_name").asc())
            .limit(limit)
        )
        return [r.repo_name for r in stale.collect()]

    # -- update_all_repos (≙ clickhub.py:109-114 →
    #    repo/schedule.py:71-107: the biggest query in the app) ---------
    def update_all_repos(self, limit: int = 50_000) -> list[str]:
        """Schedule the ``limit`` least recently updated repos
        (:meth:`stale_repos`) minus the currently scheduled ones — the
        reference does the minus with 1000-element IN-probes + Python
        set difference (repo/schedule.py:84-100); here it is one set
        difference on the bounded stale list."""
        # The collect in stale_repos is control-plane by design, but
        # bound it by the queue's capacity: scheduling past
        # max_queue_length always raises QueueFull, so a misconfigured
        # limit can never pull an unbounded repo list driver-side.
        stale = self.stale_repos(min(limit, self.queue.max_queue_length))
        queued = {j.repo_name for j in self.queue.list_jobs()}
        todo = [name for name in stale if name not in queued]
        scheduled = []
        for name in todo:
            try:
                self.queue.schedule(name)
                scheduled.append(name)
            except AlreadyScheduled:
                continue
            except QueueFull:
                break  # capacity cannot free mid-loop; stop probing
        return scheduled

    # -- worker loop (≙ clickhub.py start_worker →
    #    repo/importer.py:161-179) --------------------------------------
    def run_worker(
        self, worker_id: str, tsv_for, max_polls: int = 1, sleep_time: float = 0.0
    ) -> list[str]:
        """Claim → import → always release.  ``tsv_for(repo_name)``
        resolves the repo's git-import TSV (the clone+git-import step
        is the out-of-engine producer, SURVEY §2.A5).  ``sleep_time``
        is the wait after an empty poll (config ``sleep_time``,
        reference config.yml:17)."""
        return self.queue.work(
            worker_id,
            lambda job: self.import_repo(job.repo_name, tsv_for(job.repo_name)),
            max_polls=max_polls,
            sleep_time=sleep_time,
        )
