"""Queue claim semantics (SURVEY §2.I5-I7) — mirrors the reference's
KeeperMap contract: duplicate-insert rejection (repo/schedule.py:60-63),
priority claim order (repo/importer.py:138-139), CAS + verify-read
(repo/importer.py:146-155), release-even-on-failure (repo/importer.py:175)."""

import json
import threading

import pytest

from clickhub_spark.queue import (
    AlreadyScheduled,
    QueueFull,
    SqliteWorkQueue,
    WorkQueue,
)

from tests.conftest import REPO_ROOT


@pytest.fixture(params=["fs", "sqlite", "http"])
def make_queue(request, tmp_path):
    """Every test runs against ALL THREE backends — filesystem-CAS,
    sqlite-WAL, and the HTTP coordinator (queue_http.py) share one
    claim-protocol contract."""
    servers = []

    def make(max_queue_length=10_000):
        if request.param == "fs":
            return WorkQueue(str(tmp_path / "q"), max_queue_length)
        if request.param == "sqlite":
            return SqliteWorkQueue(str(tmp_path / "q.db"), max_queue_length)
        from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

        srv, _ = make_coordinator(max_queue_length, host="127.0.0.1")
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        servers.append(srv)
        return HttpWorkQueue(f"http://127.0.0.1:{srv.server_address[1]}")

    yield make
    for srv in servers:
        srv.shutdown()
        srv.server_close()


def test_duplicate_insert_rejected(make_queue):
    q = make_queue()
    q.schedule("apache/spark")
    with pytest.raises(AlreadyScheduled):
        q.schedule("apache/spark")


def test_reschedule_while_claimed_rejected(make_queue):
    """An in-flight job (claimed, not yet released) must still block
    scheduling — the reference's KeeperMap row persists until the
    post-import DELETE (repo/importer.py:175), so two workers can
    never import the same repo concurrently."""
    q = make_queue()
    q.schedule("apache/spark")
    assert q.claim("w1").repo_name == "apache/spark"
    with pytest.raises(AlreadyScheduled):
        q.schedule("apache/spark")
    q.release("apache/spark", "w1")
    q.schedule("apache/spark")  # released → schedulable again


def test_queue_full(make_queue):
    q = make_queue(max_queue_length=2)
    q.schedule("a/a")
    q.schedule("b/b")
    with pytest.raises(QueueFull):
        q.schedule("c/c")


def test_claim_order_priority_desc_then_fifo(make_queue):
    q = make_queue()
    q.schedule("low/1", priority=1)
    q.schedule("high/1", priority=9)
    q.schedule("low/2", priority=1)
    job = q.claim("w1")
    assert job.repo_name == "high/1"
    assert job.worker_id == "w1"


def test_concurrent_claim_exactly_one_winner(make_queue):
    """Two racing claimants, one job — exactly one wins (the CAS heart
    of the system, repo/importer.py:145-155)."""
    q = make_queue()
    q.schedule("contested/repo")
    results = {}
    barrier = threading.Barrier(2)

    def worker(wid):
        barrier.wait()
        results[wid] = q.claim(wid)

    ts = [threading.Thread(target=worker, args=(w,)) for w in ("w1", "w2")]
    [t.start() for t in ts]
    [t.join() for t in ts]
    winners = [w for w, job in results.items() if job is not None]
    assert len(winners) == 1
    assert results[winners[0]].repo_name == "contested/repo"


def test_release_even_on_failure_drops_job_and_worker_survives(make_queue):
    """Worker loop mirrors repo/importer.py:161-179: a failing import
    is logged and released (dropped, not retried); the loop continues
    to the next job."""
    q = make_queue()
    q.schedule("will/fail", priority=9)
    q.schedule("will/work", priority=1)

    def handler(job):
        if job.repo_name == "will/fail":
            raise RuntimeError("import blew up")

    done = q.work("w1", handler, max_polls=2)
    assert done == ["will/work"]
    assert q.failures == [("will/fail", "RuntimeError('import blew up')")]
    assert not q.is_scheduled("will/fail")  # dropped, not retried
    assert q.list_jobs() == []


def test_work_loop_processes_and_releases(make_queue):
    q = make_queue()
    q.schedule("a/a", priority=2)
    q.schedule("b/b", priority=1)
    seen = []
    done = q.work("w1", lambda job: seen.append(job.repo_name), max_polls=3)
    assert done == ["a/a", "b/b"]
    assert q.list_jobs() == []


def test_many_workers_many_jobs_each_processed_once(make_queue):
    """8 racing workers, 20 jobs: every job processed exactly once
    across the fleet (the linear-scale-out claim, reference
    README.md:8, start_workers.sh)."""
    q = make_queue()
    for i in range(20):
        q.schedule(f"org/repo{i:02d}", priority=i % 3)
    processed = []
    lock = threading.Lock()

    def worker(wid):
        done = q.work(wid, lambda job: None, max_polls=10)
        with lock:
            processed.extend(done)

    ts = [threading.Thread(target=worker, args=(f"w{i}",)) for i in range(8)]
    [t.start() for t in ts]
    [t.join() for t in ts]
    assert sorted(processed) == sorted(f"org/repo{i:02d}" for i in range(20))
    assert len(processed) == len(set(processed))  # no double-processing
    assert q.list_jobs() == []


# ---------------------------------------------------------------------------
# HTTP-coordinator specifics: cross-host linearizability, lease recovery,
# fencing, snapshot restart (VERDICT r7 item 2)
# ---------------------------------------------------------------------------


@pytest.fixture
def http_coord(tmp_path):
    """A running coordinator + its URL; snapshot under tmp_path."""
    from clickhub_spark.queue_http import make_coordinator

    srv, coord = make_coordinator(
        snapshot_path=str(tmp_path / "queue.snap"), host="127.0.0.1"
    )
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", coord
    srv.shutdown()
    srv.server_close()


def test_http_two_processes_no_shared_local_state(http_coord, tmp_path):
    """The multi-node claim (reference README.md:216-226, KeeperMap):
    two separate OS processes, each given ONLY the coordinator URL —
    no shared filesystem path, no shared sqlite file — drain 12 jobs
    with every job processed exactly once across the pair."""
    import subprocess
    import sys

    url, _ = http_coord
    from clickhub_spark.queue_http import HttpWorkQueue

    q = HttpWorkQueue(url)
    for i in range(12):
        q.schedule(f"org/repo{i:02d}", priority=i % 3)

    worker_src = (
        "import sys, json\n"
        "from clickhub_spark.queue_http import HttpWorkQueue\n"
        "q = HttpWorkQueue(sys.argv[1])\n"
        "done = q.work(sys.argv[2], lambda job: None, max_polls=12)\n"
        "print(json.dumps(done))\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker_src, url, f"proc-w{i}"],
            stdout=subprocess.PIPE,
            text=True,
            cwd=REPO_ROOT,
        )
        for i in range(2)
    ]
    import json as _json

    processed = []
    for p in procs:
        out, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        processed.extend(_json.loads(out.strip().splitlines()[-1]))
    assert sorted(processed) == sorted(f"org/repo{i:02d}" for i in range(12))
    assert len(processed) == len(set(processed))  # exactly once, fleet-wide
    assert q.list_jobs() == []


def test_http_dead_worker_lease_recovery_and_fencing(http_coord):
    """Dead-worker recovery — the documented divergence from the
    reference (repo/importer.py:174-175 drops a dead worker's job
    forever): here the claim's lease expires, another worker reclaims
    the job, and the dead worker's late release is fenced off by its
    stale token."""
    import time as _time

    from clickhub_spark.queue_http import HttpWorkQueue

    url, _ = http_coord
    qa = HttpWorkQueue(url, lease_s=0.2)  # worker A: short lease
    qb = HttpWorkQueue(url, lease_s=300.0)  # worker B: normal lease

    qa.schedule("acme/orphaned")
    job_a = qa.claim("worker-a")
    assert job_a.repo_name == "acme/orphaned"
    # worker A "dies" here: no release.  Before expiry nobody else
    # can claim it (in-flight jobs stay exclusive)...
    assert qb.claim("worker-b") is None
    _time.sleep(0.3)
    # ...after expiry the job is claimable again
    job_b = qb.claim("worker-b")
    assert job_b is not None and job_b.repo_name == "acme/orphaned"
    # A comes back from the dead and releases with its STALE fence:
    # rejected — B still owns the job
    qa.release("acme/orphaned", "worker-a")
    assert qb.is_scheduled("acme/orphaned")
    # B's release (current fence) succeeds
    qb.release("acme/orphaned", "worker-b")
    assert not qb.is_scheduled("acme/orphaned")


def test_http_claim_key_is_strict_cas_despite_expired_lease(http_coord):
    """ADVICE r13: claim_key is the reference's literal
    ``UPDATE … WHERE worker_id = ''`` conditional CAS — the file and
    sqlite backends return None for ANY claimed job, lease or no
    lease.  The HTTP backend's /claim treated an expired lease as
    claimable, so the same statement answered 'claimed 1' vs
    'claimed 0' depending on backend.  Strict mode pins the parity:
    claim_key never steals an expired-lease claim; the general
    claim() reclaim path still does."""
    import time as _time

    from clickhub_spark.queue_http import HttpWorkQueue

    url, _ = http_coord
    qa = HttpWorkQueue(url, lease_s=0.2)
    qb = HttpWorkQueue(url, lease_s=300.0)
    qa.schedule("acme/leased")
    assert qa.claim_key("acme/leased", "worker-a") is not None
    _time.sleep(0.3)  # lease expires; job still shows worker-a
    # strict key-CAS: worker_id != '' → 0 rows matched → None,
    # exactly like WorkQueue.claim_key / SqliteWorkQueue.claim_key
    assert qb.claim_key("acme/leased", "worker-b") is None
    # the recovery path is claim(), which MAY reclaim after expiry
    job = qb.claim("worker-b")
    assert job is not None and job.repo_name == "acme/leased"
    qb.release("acme/leased", "worker-b")


def test_http_infinite_lease_matches_reference_drop_semantics(http_coord):
    """lease_s=0 restores the reference's behavior exactly: a claimed
    job whose worker died is never reclaimed (dropped in flight)."""
    from clickhub_spark.queue_http import HttpWorkQueue

    url, _ = http_coord
    q = HttpWorkQueue(url, lease_s=0)
    q.schedule("acme/forever")
    assert q.claim("w1").repo_name == "acme/forever"
    assert q.claim("w2") is None  # no expiry, ever
    assert q.is_scheduled("acme/forever")


def test_http_coordinator_snapshot_restart(http_coord, tmp_path):
    """A restarted coordinator resumes its queue from the snapshot:
    scheduled jobs survive; the fence counter keeps monotonic (a token
    issued before the crash can never be re-issued after)."""
    import threading as _threading

    from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

    url, coord = http_coord
    q = HttpWorkQueue(url)
    q.schedule("acme/durable", priority=5)
    q.schedule("acme/other")
    claimed = q.claim("w1")  # bumps the fence counter
    assert claimed.repo_name == "acme/durable"

    # "crash": start a SECOND coordinator from the same snapshot file
    srv2, coord2 = make_coordinator(
        snapshot_path=str(tmp_path / "queue.snap"), host="127.0.0.1"
    )
    _threading.Thread(target=srv2.serve_forever, daemon=True).start()
    try:
        q2 = HttpWorkQueue(f"http://127.0.0.1:{srv2.server_address[1]}")
        names = {j.repo_name for j in q2.list_jobs()}
        assert names == {"acme/durable", "acme/other"}  # state survived
        assert coord2._fence == coord._fence  # monotonic across restart
        job = q2.claim("w2")  # the unclaimed job is still claimable
        assert job.repo_name == "acme/other"
    finally:
        srv2.shutdown()
        srv2.server_close()


def test_http_slow_handler_renewal_keeps_ownership(http_coord):
    """ADVICE r9 (lease renewal): a handler running LONGER than
    lease_s must not lose its job — the work loop's heartbeat renews
    the lease, so a concurrently polling rival never reclaims, the
    job completes exactly once, and the slow worker's own release
    still succeeds (its fence stays current)."""
    import time as _time

    from clickhub_spark.queue_http import HttpWorkQueue

    url, _ = http_coord
    lease = 0.15
    q = HttpWorkQueue(url, lease_s=lease)
    rival = HttpWorkQueue(url, lease_s=lease)
    q.schedule("acme/slow")

    stolen = []
    stop = threading.Event()

    def poach() -> None:
        while not stop.wait(0.03):
            job = rival.claim("rival")
            if job is not None:
                stolen.append(job.repo_name)

    t = threading.Thread(target=poach, daemon=True)
    t.start()
    try:
        # handler takes 4x the lease: without renewal the rival WOULD
        # reclaim (test_http_dead_worker_lease_recovery proves leases
        # this short do lapse)
        done = q.work("w-slow", lambda job: _time.sleep(4 * lease))
    finally:
        stop.set()
        t.join(timeout=5)
    assert done == ["acme/slow"]
    assert stolen == []  # renewal kept the claim alive throughout
    assert q.failures == []
    assert q.list_jobs() == []  # released by its rightful owner


def test_http_heartbeat_survives_coordinator_outage(tmp_path):
    """ADVICE r9 #2: a coordinator crash/restart MID-HANDLER must not
    kill the heartbeat thread — beat() used to catch only HTTPError,
    so the URLError from a refused connection silently terminated
    renewal; after the coordinator came back the lease lapsed under
    the still-running handler and a rival double-executed.  The beat
    must retry through the outage and resume renewing on restart."""
    import time as _time

    from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

    snap = str(tmp_path / "queue.snap")
    srv, _ = make_coordinator(snapshot_path=snap, host="127.0.0.1")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    url = f"http://127.0.0.1:{port}"

    # 1.2 s, not 0.4: the beat thread wakes every lease/3, and under a
    # fully loaded box (the whole suite drives 32 Spark threads) GIL /
    # scheduler jitter can delay a wake-up past a 0.4 s lease — the
    # rival then steals LEGITIMATELY and the assertion reads as a code
    # bug.  The scenario only needs outage (~0.4 s) < remaining lease.
    lease = 1.2
    q = HttpWorkQueue(url, lease_s=lease)
    rival = HttpWorkQueue(url, lease_s=lease)
    q.schedule("acme/outage")

    stolen: list[str] = []
    stop = threading.Event()

    def poach() -> None:
        import http.client as _hc

        while not stop.wait(0.05):
            try:
                job = rival.claim("rival")
            except (OSError, _hc.HTTPException):
                # coordinator down / killed mid-response: rival
                # retries too (a dead poacher would make the
                # stolen==[] assertion vacuous)
                continue
            if job is not None:
                stolen.append(job.repo_name)

    def handler(job) -> None:
        # outage shorter than the remaining lease, placed right after
        # the first beats: the old code's beat thread dies HERE
        _time.sleep(0.2)
        srv.shutdown()
        srv.server_close()
        _time.sleep(0.2)
        srv2, _ = make_coordinator(
            snapshot_path=snap, host="127.0.0.1", port=port
        )
        threading.Thread(target=srv2.serve_forever, daemon=True).start()
        handler.srv2 = srv2
        # keep running 4x the lease past the restart: only a LIVE
        # heartbeat prevents the reclaim now
        _time.sleep(4 * lease)

    t = threading.Thread(target=poach, daemon=True)
    t.start()
    try:
        done = q.work("w-outage", handler)
    finally:
        stop.set()
        t.join(timeout=5)
        srv2 = getattr(handler, "srv2", None)
        if srv2 is not None:
            srv2.shutdown()
            srv2.server_close()
    assert done == ["acme/outage"]
    assert stolen == []  # heartbeat retried through the outage
    assert q.failures == []


def test_http_renew_fails_after_reclaim(http_coord):
    """renew() returning False is the slow-vs-dead signal: once the
    lease lapses WITHOUT heartbeats and another worker reclaims, the
    old owner's renew (stale fence) must be rejected — it has lost
    the job and must not keep working on it."""
    import time as _time

    from clickhub_spark.queue_http import HttpWorkQueue

    url, _ = http_coord
    qa = HttpWorkQueue(url, lease_s=0.15)
    qb = HttpWorkQueue(url, lease_s=300.0)
    qa.schedule("acme/lost")
    assert qa.claim("w-a") is not None
    assert qa.renew("acme/lost", "w-a")  # still owned: renew works
    _time.sleep(0.3)  # no heartbeat: lease lapses
    assert qb.claim("w-b").repo_name == "acme/lost"  # reclaimed
    assert not qa.renew("acme/lost", "w-a")  # stale fence: rejected
    assert qb.renew("acme/lost", "w-b")  # new owner renews fine


def test_http_token_auth(tmp_path):
    """A coordinator with a shared token rejects untokened and
    mis-tokened requests on every endpoint (401), and accepts the
    fleet's tokened clients — the non-loopback deployment posture
    (the default bind is loopback-only)."""
    from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

    srv, _ = make_coordinator(host="127.0.0.1", token="s3cret")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}"
        good = HttpWorkQueue(url, token="s3cret")
        good.schedule("acme/secure")
        assert [j.repo_name for j in good.list_jobs()] == ["acme/secure"]

        for bad in (HttpWorkQueue(url), HttpWorkQueue(url, token="wrong")):
            with pytest.raises(RuntimeError):  # POST guarded
                bad.schedule("acme/intruder")
            with pytest.raises(RuntimeError):  # GET guarded
                bad.list_jobs()
            assert bad.claim("intruder") is None  # 401, no job handed out

        job = good.claim("w1")
        assert job.repo_name == "acme/secure"
        good.release("acme/secure", "w1")
        assert good.list_jobs() == []
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_warm_standby_failover_exactly_once(tmp_path):
    """VERDICT r9 item 6: a warm standby tails the snapshot ledger.
    While the primary lives it refuses every queue op (503) — the
    single-writer invariant; after the primary dies, POST /promote
    loads the ledger and the fleet re-points (HttpWorkQueue.repoint
    keeps fencing tokens).  Exactly-once must hold across the
    takeover: finished jobs stay finished, an in-flight claim
    survives with its pre-crash fence, a stale pre-crash owner stays
    fenced off, and the fleet drains the remainder exactly once."""
    import time as _time
    import urllib.request

    import pytest

    from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

    snap = str(tmp_path / "queue.snap")
    primary, _ = make_coordinator(snapshot_path=snap, host="127.0.0.1")
    threading.Thread(target=primary.serve_forever, daemon=True).start()
    url_p = f"http://127.0.0.1:{primary.server_address[1]}"
    standby, _ = make_coordinator(
        snapshot_path=snap, host="127.0.0.1", standby=True
    )
    threading.Thread(target=standby.serve_forever, daemon=True).start()
    url_s = f"http://127.0.0.1:{standby.server_address[1]}"

    try:
        # standby refuses ops while unpromoted; health shows the role
        probe = HttpWorkQueue(url_s)
        with pytest.raises(RuntimeError, match="503"):
            probe.schedule("org/too-early")
        with urllib.request.urlopen(url_s + "/health", timeout=5) as r:
            assert json.loads(r.read())["serving"] is False

        q1 = HttpWorkQueue(url_p, lease_s=0.2)    # stale-owner worker
        q2 = HttpWorkQueue(url_p, lease_s=300.0)  # in-flight worker
        for i in range(5):
            q1.schedule(f"org/job{i}", priority=5 - i)
        assert q1.claim("w0").repo_name == "org/job0"
        q1.release("org/job0", "w0")              # finished pre-crash
        assert q1.claim("w1").repo_name == "org/job1"  # will go stale
        assert q2.claim("w2").repo_name == "org/job2"  # in flight

        # ---- primary dies; w1's lease lapses during the gap ----
        primary.shutdown()
        primary.server_close()
        _time.sleep(0.25)

        # ---- promote the standby, re-point the fleet ----
        req = urllib.request.Request(url_s + "/promote", data=b"{}", method="POST")
        with urllib.request.urlopen(req, timeout=5) as r:
            assert json.loads(r.read())["serving"] is True
        q1.repoint(url_s)
        q2.repoint(url_s)

        names = {j.repo_name for j in q2.list_jobs()}
        assert names == {f"org/job{i}" for i in range(1, 5)}  # job0 stays done

        # in-flight claim survived with its fence: w2 finishes + releases
        q2.release("org/job2", "w2")
        assert not q2.is_scheduled("org/job2")

        # the stale owner stays fenced: job1 reclaims to a new worker,
        # w1's late renew/release are rejected
        q3 = HttpWorkQueue(url_s, lease_s=300.0)
        assert q3.claim("w3").repo_name == "org/job1"
        assert not q1.renew("org/job1", "w1")
        q1.release("org/job1", "w1")  # fenced no-op server-side
        assert q3.is_scheduled("org/job1")  # w3 still owns it

        # drain the rest exactly once
        q3.release("org/job1", "w3")
        done = q3.work("w3", lambda job: None, max_polls=3)
        assert sorted(done) == ["org/job3", "org/job4"]
        assert q3.list_jobs() == []
    finally:
        standby.shutdown()
        standby.server_close()


def test_http_coordinator_crash_failover_exactly_once(tmp_path):
    """VERDICT r8 item 4: kill the coordinator MID-FLEET with claims
    in flight, restart it from the snapshot on the same port, and
    prove the exactly-once ledger: finished jobs stay finished,
    in-flight claims survive with their fences (no double execution),
    a pre-crash stale owner stays fenced off after the restart, and
    the fleet drains every remaining job exactly once."""
    import time as _time

    from clickhub_spark.queue_http import HttpWorkQueue, make_coordinator

    snap = str(tmp_path / "queue.snap")
    srv, _ = make_coordinator(snapshot_path=snap, host="127.0.0.1")
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    url = f"http://127.0.0.1:{port}"

    q1 = HttpWorkQueue(url, lease_s=0.2)   # short-lease worker (w1)
    q2 = HttpWorkQueue(url, lease_s=300.0)  # normal worker (w2)
    for i in range(5):
        q1.schedule(f"org/job{i}", priority=5 - i)

    # pre-crash activity: job0 completes and releases; w1 claims job1
    # (short lease) and STALLS; w2 claims job2 (long lease) and is
    # mid-handler when the coordinator dies
    assert q1.claim("w0").repo_name == "org/job0"
    q1.release("org/job0", "w0")
    assert q1.claim("w1").repo_name == "org/job1"
    assert q2.claim("w2").repo_name == "org/job2"

    # ---- crash ----
    srv.shutdown()
    srv.server_close()
    _time.sleep(0.25)  # w1's lease lapses while the coordinator is down

    # ---- restart from snapshot, same port: clients just reconnect ----
    srv2, coord2 = make_coordinator(snapshot_path=snap, host="127.0.0.1", port=port)
    threading.Thread(target=srv2.serve_forever, daemon=True).start()
    try:
        names = {j.repo_name for j in q2.list_jobs()}
        # finished work stayed finished (no resurrected job0)...
        assert names == {f"org/job{i}" for i in range(1, 5)}

        # ...w2's unexpired claim survived the crash: job2 is not
        # claimable by anyone else, and w2 can finish + release with
        # its pre-crash fence
        q3 = HttpWorkQueue(url, lease_s=300.0)
        got = q3.claim("w3")
        assert got.repo_name == "org/job1"  # w1's EXPIRED lease reclaims
        q2.release("org/job2", "w2")
        assert not q2.is_scheduled("org/job2")  # pre-crash fence honored

        # the stalled w1 wakes up: its renew and release are fenced
        # (job1 now belongs to w3) — no double completion possible
        assert not q1.renew("org/job1", "w1")
        q1.release("org/job1", "w1")
        assert q3.is_scheduled("org/job1")  # still w3's
        q3.release("org/job1", "w3")

        # drain the tail; fleet-wide each job completed exactly once
        done = q3.work("w3", lambda job: None, max_polls=4)
        assert sorted(done) == ["org/job3", "org/job4"]
        assert q3.list_jobs() == []
    finally:
        srv2.shutdown()
        srv2.server_close()


# ---------------------------------------------------------------------------
# Property: the coordinator is observationally equivalent to a sequential
# reference model of the queue contract (VERDICT r8 item 8).  Linearizability
# means every concurrent history collapses to SOME sequential order of the
# lock's critical sections — so the contract itself is pinned by driving
# generated sequential histories through both implementations and comparing
# every observable result and the full state after each step.
# ---------------------------------------------------------------------------


class _ModelQueue:
    """Independent straight-line model of the coordinator contract:
    priority-then-FIFO-then-name claim order, monotonic fencing
    tokens, lease expiry reclaim, owner+fence-gated release/renew."""

    def __init__(self, now):
        self.jobs = {}  # name -> dict
        self.fence = 0
        self.now = now

    def schedule(self, name, prio):
        if name in self.jobs:
            return "dup"
        self.jobs[name] = {
            # claim order: priority DESC, then schedule time ASC, then
            # NAME (the contract's deterministic tiebreak for claims
            # landing in the same clock instant)
            "prio": prio, "at": self.now(), "owner": "",
            "fence": 0, "deadline": 0.0,
        }
        return "ok"

    def claim(self, worker, lease_s):
        now = self.now()
        free = [
            (r["prio"] * -1, r["at"], n)
            for n, r in self.jobs.items()
            if r["owner"] == "" or (r["deadline"] and r["deadline"] <= now)
        ]
        if not free:
            return None
        _, _, name = min(free)
        rec = self.jobs[name]
        self.fence += 1
        rec["owner"], rec["fence"] = worker, self.fence
        rec["deadline"] = (now + lease_s) if lease_s else 0.0
        return name, self.fence

    def renew(self, name, worker, fence, lease_s):
        rec = self.jobs.get(name)
        if rec is None or rec["owner"] != worker or rec["fence"] != fence:
            return False
        rec["deadline"] = (self.now() + lease_s) if lease_s else 0.0
        return True

    def release(self, name, worker, fence):
        rec = self.jobs.get(name)
        if rec is None:
            return False
        if rec["owner"] and not (rec["owner"] == worker and rec["fence"] == fence):
            return False
        del self.jobs[name]
        return True

    def state(self):
        return {
            n: (r["owner"], r["fence"]) for n, r in self.jobs.items()
        }, self.fence


def test_http_coordinator_matches_sequential_model():
    """hypothesis drives generated histories of schedule / claim /
    renew / release / clock-advance through QueueCoordinator (fake
    clock) and the model; every op result and the post-op (owner,
    fence) state must match, and fences must be strictly monotonic."""
    from unittest import mock

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhub_spark import queue_http as qh

    names = st.sampled_from(["r/a", "r/b", "r/c", "r/d"])
    workers = st.sampled_from(["w1", "w2", "w3"])
    leases = st.sampled_from([0.0, 5.0, 30.0])
    op = st.one_of(
        st.tuples(st.just("schedule"), names, st.integers(0, 2)),
        st.tuples(st.just("claim"), workers, leases),
        st.tuples(st.just("renew"), names, workers, leases),
        st.tuples(st.just("release"), names, workers),
        st.tuples(st.just("tick"), st.sampled_from([1.0, 6.0, 40.0])),
    )

    @settings(max_examples=120, deadline=None)
    @given(st.lists(op, max_size=40))
    def run(ops):
        clock = [1000.0]
        with mock.patch.object(qh.time, "time", lambda: clock[0]):
            coord = qh.QueueCoordinator()
            model = _ModelQueue(lambda: clock[0])
            # worker-visible fences, exactly what HttpWorkQueue tracks
            fences: dict[tuple[str, str], int] = {}
            last_fence = 0
            for o in ops:
                if o[0] == "schedule":
                    _, name, prio = o
                    try:
                        coord.schedule(name, prio)
                        got = "ok"
                    except AlreadyScheduled:
                        got = "dup"
                    assert got == model.schedule(name, prio)
                elif o[0] == "claim":
                    _, worker, lease = o
                    rec = coord.claim(worker, lease_s=lease)
                    want = model.claim(worker, lease)
                    if rec is None:
                        assert want is None
                    else:
                        assert want == (rec["repo_name"], rec["fence"])
                        assert rec["fence"] > last_fence  # monotonic
                        last_fence = rec["fence"]
                        fences[(rec["repo_name"], worker)] = rec["fence"]
                elif o[0] == "renew":
                    _, name, worker, lease = o
                    f = fences.get((name, worker), 0)
                    assert coord.renew(name, worker, f, lease) == model.renew(
                        name, worker, f, lease
                    )
                elif o[0] == "release":
                    _, name, worker = o
                    f = fences.get((name, worker), 0)
                    assert coord.release(name, worker, f) == model.release(
                        name, worker, f
                    )
                else:
                    clock[0] += o[1]
                got_state = {
                    r["repo_name"]: (r["worker_id"], r["fence"])
                    for r in coord.jobs()
                }
                want_state, want_fence = model.state()
                assert got_state == want_state
                assert coord._fence == want_fence

    run()


def test_heartbeat_warns_on_persistent_misses(caplog):
    """ADVICE r10 #3: a permanently unreachable/misconfigured
    coordinator (endless 401 after a token roll, 404 from a repoint)
    must surface periodically instead of spinning a silent daemon.
    _beat_miss keeps the retry posture but logs every
    BEAT_WARN_EVERY-th consecutive non-authoritative attempt."""
    import logging

    from clickhub_spark.queue import Job
    from clickhub_spark.queue_http import HttpWorkQueue

    q = HttpWorkQueue.__new__(HttpWorkQueue)  # no coordinator needed
    job = Job(repo_name="acme/unreachable", priority=0)
    misses = 0
    with caplog.at_level(logging.WARNING, logger="clickhub_spark.queue_http"):
        for _ in range(q.BEAT_WARN_EVERY - 1):
            misses = q._beat_miss(job, misses, "http 401")
        assert not caplog.records  # below threshold: silent retry
        misses = q._beat_miss(job, misses, "http 401")
    assert misses == q.BEAT_WARN_EVERY
    assert len(caplog.records) == 1
    msg = caplog.records[0].getMessage()
    assert "acme/unreachable" in msg and "http 401" in msg


def test_claim_key_specific_cas(make_queue):
    """claim_key — the reference's literal key-specific conditional
    UPDATE (repo/importer.py:146-147): exactly one of two racing
    claimants wins the SAME key; the loser's CAS reports None (the
    0-rows-matched UPDATE); an absent or already-claimed key is None;
    other keys stay claimable."""
    q = make_queue()
    q.schedule("apache/spark", priority=1)
    q.schedule("apache/kafka", priority=9)
    results = {}
    barrier = threading.Barrier(2)

    def racer(wid):
        barrier.wait()
        results[wid] = q.claim_key("apache/spark", wid)

    ts = [threading.Thread(target=racer, args=(w,)) for w in ("w1", "w2")]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    winners = [w for w, job in results.items() if job is not None]
    assert len(winners) == 1
    w = winners[0]
    assert results[w].repo_name == "apache/spark"
    assert results[w].worker_id == w
    # re-claim of a claimed key fails; absent key fails
    assert q.claim_key("apache/spark", "w3") is None
    assert q.claim_key("no/such", "w3") is None
    # the OTHER key is untouched and still claimable by key
    job = q.claim_key("apache/kafka", "w4")
    assert job is not None and job.worker_id == "w4"
