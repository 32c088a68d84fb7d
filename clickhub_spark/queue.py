"""Work-queue semantics — the KeeperMap analog (SURVEY §2.I5-I7).

The reference coordinates distributed workers through a ZooKeeper-
backed KV table: uniqueness on insert ("Transaction failed (Node
exists)" → AlreadyScheduled, reference repo/schedule.py:60-63),
optimistic claim via conditional UPDATE + verify-read (reference
repo/importer.py:136-158, keeper_map_strict_mode=1
clickhouse/__init__.py:33-35), point DELETE to release
(repo/importer.py:175).

Here the queue is a directory of one-file-per-job JSON records, and
every CAS primitive maps to an atomic filesystem operation:

- insert-if-absent  → ``open(O_CREAT|O_EXCL)``  (Node-exists analog)
- claim CAS         → ``os.rename(job, job.claimed.<worker>)`` —
  rename is atomic; exactly one racing worker's rename succeeds
- verify-read       → stat the claimed path + re-read owner field
  (mirrors repo/importer.py:148-155's read-after-write check)
- release           → unlink (delete-even-on-failure semantics,
  repo/importer.py:174-175)

This is deliberately a tiny driver-local coordination state, NOT a
dataframe job: the reference holds ≤10,000 queue rows
(config.yml:11) against 128k repos — coordination state is small by
design and does not belong on the executors.  The documented
scale-out seam (SURVEY §7 M4 hard part #2): swap the directory for
any linearizable KV (the operations used are exactly put-if-absent /
compare-and-swap / delete).  ``SqliteWorkQueue`` below is that seam
exercised — the identical protocol over sqlite-WAL transactions,
race-tested by the same suite (tests/test_queue.py runs every test
against both backends).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass


class AlreadyScheduled(Exception):
    """≙ KeeperMap 'Transaction failed (Node exists)' (repo/schedule.py:62)."""


class QueueFull(Exception):
    """≙ max_queue_length check (repo/schedule.py:30-32, config.yml:11)."""


@dataclass
class Job:
    repo_name: str
    priority: int = 0
    scheduled: float = 0.0
    started_time: float = 0.0
    worker_id: str = ""


def _safe(name: str) -> str:
    return name.replace("/", "%2F")


class _WorkLoop:
    """Poll → claim → handle → always release (I7) — backend-agnostic;
    subclasses supply schedule/claim/release over their own CAS
    primitives."""

    @contextlib.contextmanager
    def _claim_guard(self, job, worker_id: str):
        """Surrounds the handler call while the claim is held.  The
        base backends' claims never expire, so this is a no-op;
        lease-based backends override it to keep the lease alive for
        the handler's whole duration (HttpWorkQueue's renewal
        heartbeat) — without it, a handler outliving the lease gets
        its job reclaimed and executed twice."""
        yield

    def work(self, worker_id: str, handler, max_polls: int = 1, sleep_time: float = 0.0):
        """Handler failures are swallowed like the reference worker loop
        (repo/importer.py:161-179 keeps the worker alive; the job is
        dropped, not retried — comment repo/importer.py:174).  Failed
        repo names are recorded on ``self.failures``.  An empty poll
        waits ``sleep_time`` seconds before the next one (none after
        the last).
        """
        done = []
        self.failures: list[tuple[str, str]] = []
        for poll in range(max_polls):
            job = self.claim(worker_id)
            if job is None:
                if sleep_time and poll + 1 < max_polls:
                    time.sleep(sleep_time)
                continue
            try:
                with self._claim_guard(job, worker_id):
                    handler(job)
                done.append(job.repo_name)
            except Exception as e:  # dropped, not retried
                self.failures.append((job.repo_name, repr(e)))
            finally:
                self.release(job.repo_name, worker_id)
        return done


class WorkQueue(_WorkLoop):
    """Filesystem-CAS job queue with the reference's claim protocol."""

    def __init__(self, root: str, max_queue_length: int = 10_000):
        self.root = root
        self.max_queue_length = max_queue_length
        os.makedirs(root, exist_ok=True)

    # -- schedule (reference repo/schedule.py:37-67) ---------------------

    def schedule(self, repo_name: str, priority: int = 0) -> Job:
        # capacity check by directory-entry COUNT (≙ the reference's
        # SELECT count()), not list_jobs(): parsing every job file is
        # O(queue) JSON loads per schedule — ~10k opens per call at
        # the documented capacity
        n_jobs = sum(1 for p in os.listdir(self.root) if ".job" in p)
        if n_jobs >= self.max_queue_length:
            raise QueueFull(f"queue holds {self.max_queue_length} jobs")
        # A claimed job lives at <repo>.job.claimed.<worker>, so the
        # O_EXCL insert below would not see it — check in-flight claims
        # first, matching the reference where the KeeperMap row persists
        # until the post-import DELETE (repo/importer.py:175): scheduling
        # a repo whose import is running must fail, or two workers can
        # import the same repo concurrently.
        if self.is_scheduled(repo_name):
            raise AlreadyScheduled(repo_name)
        job = Job(repo_name, priority, scheduled=time.time())
        path = os.path.join(self.root, _safe(repo_name) + ".job")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise AlreadyScheduled(repo_name) from e
        with os.fdopen(fd, "w") as f:
            json.dump(job.__dict__, f)
        return job

    def is_scheduled(self, repo_name: str) -> bool:
        base = os.path.join(self.root, _safe(repo_name))
        if os.path.exists(base + ".job"):
            return True
        return any(
            p.startswith(_safe(repo_name) + ".job.claimed.") for p in os.listdir(self.root)
        )

    def list_jobs(self) -> list[Job]:
        jobs = []
        for p in sorted(os.listdir(self.root)):
            if ".job" not in p:
                continue
            try:
                with open(os.path.join(self.root, p)) as f:
                    jobs.append(Job(**json.load(f)))
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # racing claim/release — skip, like a stale read
        return jobs

    # -- claim (reference repo/importer.py:136-158) ----------------------

    def claim(self, worker_id: str, retries: int = 2) -> Job | None:
        """Candidate scan ORDER BY priority DESC, started_time ASC
        LIMIT ``retries`` (repo/importer.py:138-139), then optimistic
        CAS + verify-read per candidate.  Only UNCLAIMED job files are
        parsed — a claimed job lives at ``<repo>.job.claimed.<w>``, so
        filtering on the NAME first keeps a worker poll at
        O(unclaimed) JSON loads instead of O(queue) (in-flight jobs
        can dominate the directory under a busy fleet)."""
        unclaimed = []
        for p in sorted(os.listdir(self.root)):
            if not p.endswith(".job"):
                continue  # claimed (.job.claimed.<w>) or foreign file
            try:
                with open(os.path.join(self.root, p)) as f:
                    unclaimed.append(Job(**json.load(f)))
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # racing claim/release — skip, stale read
        unclaimed = [j for j in unclaimed if j.worker_id == ""]
        unclaimed.sort(key=lambda j: (-j.priority, j.scheduled, j.repo_name))
        for job in unclaimed[:retries]:
            src = os.path.join(self.root, _safe(job.repo_name) + ".job")
            dst = src + f".claimed.{worker_id}"
            try:
                os.rename(src, dst)  # the CAS: exactly one renamer wins
            except FileNotFoundError:
                continue  # lost the race (≙ KeeperMap rejecting the UPDATE)
            job.worker_id = worker_id
            job.started_time = time.time()
            with open(dst, "w") as f:
                json.dump(job.__dict__, f)
            # verify-read (repo/importer.py:148-155): confirm ownership
            with open(dst) as f:
                if json.load(f)["worker_id"] == worker_id:
                    return job
        return None

    def claim_key(self, repo_name: str, worker_id: str) -> Job | None:
        """Key-SPECIFIC optimistic claim — the reference's literal
        ``ALTER TABLE … UPDATE worker_id=… WHERE repo_name=… AND
        worker_id=''`` statement (repo/importer.py:146-147), exposed
        so the DDL statement path can execute it verbatim.  Same CAS
        rename + verify-read as claim(); None when the job is absent
        or already claimed (the 0-rows-matched UPDATE)."""
        src = os.path.join(self.root, _safe(repo_name) + ".job")
        try:
            with open(src) as f:
                job = Job(**json.load(f))
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        if job.worker_id:
            return None
        dst = src + f".claimed.{worker_id}"
        try:
            os.rename(src, dst)  # the CAS: exactly one renamer wins
        except FileNotFoundError:
            return None
        job.worker_id = worker_id
        job.started_time = time.time()
        with open(dst, "w") as f:
            json.dump(job.__dict__, f)
        with open(dst) as f:  # verify-read (repo/importer.py:148-155)
            if json.load(f)["worker_id"] == worker_id:
                return job
        return None

    # -- release (reference repo/importer.py:175) ------------------------

    def release(self, repo_name: str, worker_id: str) -> None:
        """DELETE the job whether the import succeeded or not — failed
        repos are dropped, not retried (repo/importer.py:174 comment)."""
        for suffix in (f".job.claimed.{worker_id}", ".job"):
            path = os.path.join(self.root, _safe(repo_name) + suffix)
            try:
                os.unlink(path)
                return
            except FileNotFoundError:
                continue

class SqliteWorkQueue(_WorkLoop):
    """The scale-out seam made concrete: the same claim protocol over a
    second linearizable KV — sqlite in WAL mode.  Every primitive maps
    to a transactional statement instead of a filesystem op:

    - insert-if-absent → ``INSERT`` against a PRIMARY KEY
      (IntegrityError ≙ 'Node exists')
    - claim CAS        → ``UPDATE ... WHERE repo_name=? AND
      worker_id=''`` — rowcount tells exactly one racing worker it won
    - verify-read      → re-``SELECT`` the owner after commit
    - release          → point ``DELETE``

    A fresh connection per operation (busy_timeout, WAL) keeps it safe
    across processes — the same two-claimant race test runs against
    both backends.  Swapping in ZooKeeper/etcd/DynamoDB is the same
    exercise: implement these four statements."""

    def __init__(self, path: str, max_queue_length: int = 10_000):
        self.path = path
        self.max_queue_length = max_queue_length
        with self._conn() as con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS jobs ("
                " repo_name TEXT PRIMARY KEY, priority INT, scheduled REAL,"
                " started_time REAL, worker_id TEXT)"
            )

    def _conn(self):
        import contextlib
        import sqlite3

        # autocommit: each statement is its own transaction — the CAS
        # granularity the protocol needs; fresh connection per op keeps
        # the queue usable from any thread or process
        con = sqlite3.connect(self.path, timeout=30.0, isolation_level=None)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA busy_timeout=30000")
        return contextlib.closing(con)

    def schedule(self, repo_name: str, priority: int = 0) -> Job:
        import sqlite3

        job = Job(repo_name, priority, scheduled=time.time())
        with self._conn() as con:
            (n,) = con.execute("SELECT COUNT(*) FROM jobs").fetchone()
            if n >= self.max_queue_length:
                raise QueueFull(f"queue holds {self.max_queue_length} jobs")
            try:
                con.execute(
                    "INSERT INTO jobs VALUES (?, ?, ?, 0.0, '')",
                    (repo_name, priority, job.scheduled),
                )
            except sqlite3.IntegrityError as e:
                raise AlreadyScheduled(repo_name) from e
        return job

    def is_scheduled(self, repo_name: str) -> bool:
        with self._conn() as con:
            return (
                con.execute(
                    "SELECT 1 FROM jobs WHERE repo_name=?", (repo_name,)
                ).fetchone()
                is not None
            )

    def list_jobs(self) -> list[Job]:
        with self._conn() as con:
            rows = con.execute(
                "SELECT repo_name, priority, scheduled, started_time, worker_id"
                " FROM jobs ORDER BY repo_name"
            ).fetchall()
        return [Job(*r) for r in rows]

    def claim(self, worker_id: str, retries: int = 2) -> Job | None:
        """Same candidate scan as WorkQueue.claim (priority DESC,
        scheduled ASC LIMIT ``retries``), CAS via conditional UPDATE."""
        with self._conn() as con:
            candidates = con.execute(
                "SELECT repo_name, priority, scheduled FROM jobs"
                " WHERE worker_id='' ORDER BY priority DESC, scheduled ASC,"
                " repo_name LIMIT ?",
                (retries,),
            ).fetchall()
        for name, priority, scheduled in candidates:
            started = time.time()
            with self._conn() as con:
                cur = con.execute(
                    "UPDATE jobs SET worker_id=?, started_time=?"
                    " WHERE repo_name=? AND worker_id=''",
                    (worker_id, started, name),
                )
                if cur.rowcount != 1:
                    continue  # lost the race (≙ KeeperMap rejecting the UPDATE)
            with self._conn() as con:  # verify-read after commit
                row = con.execute(
                    "SELECT worker_id FROM jobs WHERE repo_name=?", (name,)
                ).fetchone()
            if row and row[0] == worker_id:
                return Job(name, priority, scheduled, started, worker_id)
        return None

    def claim_key(self, repo_name: str, worker_id: str) -> Job | None:
        """Key-specific optimistic claim (see WorkQueue.claim_key) —
        the conditional UPDATE is the CAS, rowcount the verdict."""
        started = time.time()
        with self._conn() as con:
            cur = con.execute(
                "UPDATE jobs SET worker_id=?, started_time=?"
                " WHERE repo_name=? AND worker_id=''",
                (worker_id, started, repo_name),
            )
            if cur.rowcount != 1:
                return None
        with self._conn() as con:  # verify-read after commit
            row = con.execute(
                "SELECT repo_name, priority, scheduled, started_time,"
                " worker_id FROM jobs WHERE repo_name=?",
                (repo_name,),
            ).fetchone()
        if row and row[4] == worker_id:
            return Job(*row)
        return None

    def release(self, repo_name: str, worker_id: str) -> None:
        # Ownership-guarded: only the claiming worker (or anyone, for a
        # still-unclaimed job) may delete.  An unconditional delete
        # would let a stale worker remove a job another worker has
        # since claimed and is processing — the filesystem backend's
        # release is naturally a no-op there (its .job.claimed.<self>
        # path is gone), and both backends must share that contract.
        with self._conn() as con:
            con.execute(
                "DELETE FROM jobs WHERE repo_name=? AND worker_id IN ('', ?)",
                (repo_name, worker_id),
            )
