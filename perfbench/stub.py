"""Loopback REST app the ``ingest`` workload's REST feed posts to.

Runs as its own process, so its CPU time stays out of the engine's process
tree. It prints its port on the first line of stdout and serves until stdin
closes. ``POST /api/records`` answers 422 for the fixed ~10% of keys that
``inputs.stub_rejects`` names and 200 for the rest. It counts data requests
and the TCP connections that carried them. ``GET /stats`` returns the
counters as JSON and ``POST /reset`` zeroes them; neither is counted.

    python3 perfbench/stub.py
"""

from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from inputs import stub_rejects  # noqa: E402

_LOCK = threading.Lock()
_COUNTS = {"requests": 0, "connections": 0, "accepted": 0, "rejected": 0, "bad_body": 0}


def _bump(**deltas: int) -> None:
    with _LOCK:
        for k, v in deltas.items():
            _COUNTS[k] += v


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive when the client asks for it

    def setup(self) -> None:
        super().setup()
        self.counted = False

    def _reply(self, code: int, body: bytes = b"{}") -> None:
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self) -> None:  # noqa: N802
        if self.path == "/stats":
            with _LOCK:
                body = json.dumps(_COUNTS).encode()
            self._reply(200, body)
        else:
            self._reply(404)

    def do_POST(self) -> None:  # noqa: N802
        body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
        if self.path == "/reset":
            with _LOCK:
                for k in _COUNTS:
                    _COUNTS[k] = 0
            self._reply(200)
            return
        if not self.counted:
            self.counted = True
            _bump(connections=1)
        try:
            key = json.loads(body)["key"]
        except (ValueError, KeyError, TypeError):
            _bump(requests=1, bad_body=1)
            self._reply(400)
            return
        if stub_rejects(key):
            _bump(requests=1, rejected=1)
            self._reply(422)
        else:
            _bump(requests=1, accepted=1)
            self._reply(200)

    def log_message(self, *args) -> None:
        pass


class Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 128


def main() -> None:
    server = Server(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # the parent closes our stdin to stop us
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
