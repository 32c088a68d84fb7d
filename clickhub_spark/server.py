"""HTTP entry point — the reference app's endpoint surface
(reference app.py:41-65: Flask ``GET /add_new_repo``, port 5000)
served over the Spark orchestrator with stdlib ``http.server`` (no
web-framework dependency).

Response contract, byte-for-byte the reference's bodies/codes
(app.py:46-61):

- 400 ``BAD REQUEST``         — invalid repo name
- 200 ``ALREADY_PROCESSED``   — repo already in the commits table
- 200 ``ALREADY_PROCESSING``  — job queued or claimed (in flight)
- 403 ``QUEUE IS FULL``       — queue at max_queue_length
- 201 ``OK``                  — scheduled
- 500 (``send_error`` page)   — the orchestrator raised, e.g. on an
  unreadable commits table (the reference's Flask app answers 500 on
  an unhandled exception too)

Two deliberate divergences, both documented in SURVEY §3:
- app.py:51 compares ``COUNT(...) >= 0`` — always true, which makes
  every valid repo ALREADY_PROCESSED and the schedule path dead code;
  we implement the stated intent (``> 0``).
- validity here is the repo-name shape check the orchestrator uses,
  not the reference's ``git ls-remote`` network probe
  (repo/importer.py:77-83) — an HTTP handler should not block on a
  remote git call per request.

The server is a ThreadingHTTPServer; the orchestrator's Spark reads
(the membership probe) are thread-safe driver-side actions.
"""

from __future__ import annotations

import logging
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from clickhub_spark.orchestrator import Orchestrator

#: orchestrator status → the reference's literal response body.
_BODY = {
    "INVALID_REPO": "BAD REQUEST",
    "ALREADY_PROCESSED": "ALREADY_PROCESSED",
    "ALREADY_SCHEDULED": "ALREADY_PROCESSING",
    "QUEUE_FULL": "QUEUE IS FULL",
    "SCHEDULED": "OK",
}


def make_server(
    orch: Orchestrator, host: str = "127.0.0.1", port: int = 5000
) -> ThreadingHTTPServer:
    """Build (without starting) the HTTP server; ``port=0`` binds an
    ephemeral port (tests).  ``server.server_address`` has the bound
    address.

    Binds LOOPBACK by default — the same posture as
    ``QueueCoordinator`` (queue_http.py): an unauthenticated admin
    endpoint must be an explicit opt-in on an external interface.
    The reference binds 0.0.0.0 (app.py:65); reproduce that with
    ``host="0.0.0.0"`` deliberately."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 (http.server API name)
            url = urlparse(self.path)
            if url.path != "/add_new_repo":
                self.send_error(404)
                return
            repo = (parse_qs(url.query).get("repo") or [None])[0]
            if repo is None:
                code, body = 400, "BAD REQUEST"
            else:
                # the reference schedules HTTP-submitted repos at
                # priority 1, above the bulk/update default 0
                # (app.py:54)
                try:
                    r = orch.add_new_repo(repo, priority=1)
                except Exception:
                    logging.getLogger(__name__).exception("add_new_repo %r", repo)
                    self.send_error(500)
                    return
                code, body = r.code, _BODY[r.status]
            data = body.encode()
            self.send_response(code)
            self.send_header("Content-Type", "text/plain; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):  # keep the driver log clean
            pass

    return ThreadingHTTPServer((host, port), Handler)


def serve(
    orch: Orchestrator, host: str = "127.0.0.1", port: int = 5000
) -> None:
    """Blocking serve loop (≙ app.run(..., port=5000), reference
    app.py:65 — but loopback-first; pass ``host="0.0.0.0"`` to
    opt in to an external bind, see make_server)."""
    with make_server(orch, host, port) as srv:
        srv.serve_forever()
