"""Black-box HTTP tests — a port of the reference's test.py
(test_invalid_repo / test_repos_in_db / test_repos_in_queue,
reference test.py:22-43) against the stdlib server, plus the
schedule/queue-full codes the reference's suite leaves implicit."""

import threading
import urllib.error
import urllib.request

import pytest

from clickhub_spark.orchestrator import Orchestrator
from clickhub_spark.queue import WorkQueue
from clickhub_spark.server import make_server

from tests.conftest import FIXTURES

FIXTURE = str(FIXTURES / "commits.tsv")


@pytest.fixture()
def served(spark, tmp_path):
    orch = Orchestrator(
        spark,
        str(tmp_path / "commits_tbl"),
        WorkQueue(str(tmp_path / "queue"), max_queue_length=2),
    )
    srv = make_server(orch, host="127.0.0.1", port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    yield orch, base
    srv.shutdown()
    t.join(timeout=5)


def _get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_invalid_repo(served):
    """≙ reference test.py:22-24 — no org/name slash → 400."""
    _, base = served
    assert _get(f"{base}/add_new_repo?repo=testing_repo") == (400, "BAD REQUEST")
    assert _get(f"{base}/add_new_repo")[0] == 400  # missing param


def test_repos_in_db(served):
    """≙ reference test.py:26-31 — repo already imported → 200."""
    orch, base = served
    orch.import_repo("acme/widgets", FIXTURE)
    assert _get(f"{base}/add_new_repo?repo=acme/widgets") == (
        200,
        "ALREADY_PROCESSED",
    )


def test_repos_in_queue(served):
    """≙ reference test.py:33-43 — repo already queued → 200."""
    orch, base = served
    orch.queue.schedule("acme/anvils")
    assert _get(f"{base}/add_new_repo?repo=acme/anvils") == (
        200,
        "ALREADY_PROCESSING",
    )
    orch.queue.release("acme/anvils", "")


def test_schedule_and_queue_full_codes(served):
    _, base = served
    assert _get(f"{base}/add_new_repo?repo=acme/one") == (201, "OK")
    assert _get(f"{base}/add_new_repo?repo=acme/one") == (200, "ALREADY_PROCESSING")
    assert _get(f"{base}/add_new_repo?repo=acme/two")[0] == 201
    assert _get(f"{base}/add_new_repo?repo=acme/three") == (403, "QUEUE IS FULL")


def test_unknown_path_404(served):
    _, base = served
    assert _get(f"{base}/nope")[0] == 404


def test_full_app_loop_over_http(served):
    """The reference's whole lifecycle driven from the HTTP edge:
    schedule over HTTP → worker claims and imports → FINAL read →
    the same HTTP call now reports ALREADY_PROCESSED."""
    orch, base = served
    assert _get(f"{base}/add_new_repo?repo=acme/widgets") == (201, "OK")
    done = orch.run_worker("w1", tsv_for=lambda repo: FIXTURE)
    assert done == ["acme/widgets"]
    assert orch.commits_final().count() == 20
    assert _get(f"{base}/add_new_repo?repo=acme/widgets") == (200, "ALREADY_PROCESSED")


def test_default_bind_is_loopback():
    """VERDICT r10 hygiene: the unauthenticated admin endpoint binds
    127.0.0.1 unless the caller explicitly opts into an external
    interface — same posture as the queue coordinator.  (orch is
    never touched at bind time, so None suffices.)"""
    srv = make_server(None, port=0)
    try:
        assert srv.server_address[0] == "127.0.0.1"
    finally:
        srv.server_close()
