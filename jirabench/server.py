"""The benchmark's mock Jira REST server.

Serves ``/rest/api/2/search`` with ``startAt``/``maxResults`` paging over
``gen.rest_issue``. Per-project totals grow between scheduled runs
(``advance``). A fixed seeded share of requests fails once: 429 with
``Retry-After: 0`` or 503. The retry of the same request then succeeds.
The server counts requests, failed (retried) responses and the issues it
served; these are the ``sources.*`` layer counters.
"""

from __future__ import annotations

import hashlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from . import gen


class JiraServer:
    def __init__(self, seed: int, projects: tuple[str, ...], initial: int, growth: int,
                 fail_share: float):
        self.seed = seed
        self.projects = projects
        self.initial = initial
        self.growth = growth
        self.fail_share = fail_share
        self.epoch = 0
        self.totals = {p: initial for p in projects}
        self.requests = 0
        self.retried = 0
        self.issues_served = 0
        self.served_ids: list[int] = []  # issue ids of every data page served
        self._failed: set[tuple] = set()
        self._cache: dict[tuple[str, int], dict] = {}
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.0"

            def log_message(self, *a):  # noqa: N802
                pass

            def do_GET(self):  # noqa: N802
                status, body, headers = outer.handle(self.path)
                self.send_response(status)
                for k, v in headers.items():
                    self.send_header(k, v)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_port}"

    def advance(self) -> None:
        """Start the next scheduled run's epoch: every project grows."""
        with self._lock:
            self.epoch += 1
            for p in self.projects:
                self.totals[p] += self.growth

    def counters(self) -> dict:
        with self._lock:
            return {"requests": self.requests, "retried": self.retried,
                    "issues_served": self.issues_served}

    def _fails(self, key: tuple) -> int:
        """The one-shot failure status for a request key, or 0."""
        h = hashlib.sha256(repr((self.seed, self.epoch) + key).encode()).digest()
        if int.from_bytes(h[:4], "big") / 2**32 >= self.fail_share:
            return 0
        return 429 if h[4] & 1 else 503

    def _issue(self, project: str, index: int) -> dict:
        got = self._cache.get((project, index))
        if got is None:
            got = self._cache[(project, index)] = gen.rest_issue(self.seed, project, index)
        return got

    def handle(self, path: str) -> tuple[int, bytes, dict]:
        q = {k: v[0] for k, v in parse_qs(urlparse(path).query).items()}
        jql = q.get("jql", "")
        project = jql.split("=", 1)[1].split("ORDER")[0].strip() if "=" in jql else ""
        start = int(q.get("startAt", 0))
        n = int(q.get("maxResults", 50))
        key = (project, start, n)
        with self._lock:
            self.requests += 1
            fail = 0
            if (self.epoch,) + key not in self._failed:
                fail = self._fails(key)
                if fail:
                    self._failed.add((self.epoch,) + key)
                    self.retried += 1
            total = self.totals.get(project, 0)
        if fail:
            headers = {"Retry-After": "0"} if fail == 429 else {}
            return fail, b"", headers
        issues = [self._issue(project, i) for i in range(start, min(start + n, total))]
        if n > 1:  # a data page, not the planner's total probe
            with self._lock:
                self.issues_served += len(issues)
                self.served_ids.extend(int(i["id"]) for i in issues)
        body = json.dumps(
            {"total": total, "startAt": start, "maxResults": n, "issues": issues}
        ).encode()
        return 200, body, {"Content-Type": "application/json"}

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
