"""Fixture ClickUp REST API served from a thread of the benchmark
process, in the shape the live-client tests use: ``GET
/team/{id}/time_entries?start_date=&end_date=`` answers ``{"data":
[...]}`` with the entries whose ``start`` lies in [start, end).

Pages are encoded before a tick starts (``publish``), so serving one is
a dict lookup and a socket write; a window that was not pre-encoded
answers 404, which the client treats as a failed chunk (and the tick's
fetched-row check then fails). The server counts requests and bytes
itself, so the client-side ``sources.*`` counters can be checked from
the other end of the socket."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        srv = self.server
        url = urlparse(self.path)
        q = {k: v[0] for k, v in parse_qs(url.query).items()}
        body, status = None, 200
        if url.path == f"/team/{srv.team_id}/time_entries":
            body = srv.pages.get((q.get("start_date"), q.get("end_date")))
        if body is None:
            body, status = b'{"err": "no pre-encoded page for this request"}', 404
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)
        with srv.lock:
            srv.requests += 1
            srv.bytes += len(body)


class FixtureClickUp:
    def __init__(self, team_id: str = "team1"):
        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self.httpd.daemon_threads = True
        self.httpd.team_id = team_id
        self.httpd.pages = {}
        self.httpd.lock = threading.Lock()
        self.httpd.requests = 0
        self.httpd.bytes = 0
        self.team_id = team_id
        self.base_url = f"http://127.0.0.1:{self.httpd.server_address[1]}"
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    def publish(self, entries: list[dict], windows: list[tuple[int, int]]) -> None:
        """Serve ``entries`` from now on: one pre-encoded page per window
        ``[lo, hi)`` of ``start``; any other request answers 404."""
        self.httpd.pages = {
            (str(lo), str(hi)): json.dumps({"data": [e for e in entries if lo <= int(e["start"]) < hi]}).encode()
            for lo, hi in windows
        }

    def counters(self) -> tuple[int, int]:
        with self.httpd.lock:
            return self.httpd.requests, self.httpd.bytes

    def __enter__(self) -> "FixtureClickUp":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self._thread.join()
