"""Loopback REST endpoint for the export workload.

Accepts the ``{"d": [...], "batch_id": ...}`` payloads that
``operators.sinks.rest_batch_sink`` posts. A seeded ~2% of batch ids get
503 on their first attempt, so the sink's retry path runs; no request is
ever answered with a permanent 4xx. The endpoint counts attempts,
acknowledgements, bytes and handler busy time, and keeps every
acknowledged record so the benchmark can check what arrived.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

FAIL_PER_MILLE = 20  # ~2% of first attempts answer 503


class Endpoint:
    """A counting, fault-injecting HTTP endpoint on 127.0.0.1."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self._lock = threading.Lock()
        self.attempts = 0
        self.rejected = 0
        self.bytes = 0
        self.busy_s = 0.0
        self.max_batch = 0
        self.seen: set[str] = set()  # batch ids that reached the endpoint
        self.acked_ids: list[str] = []
        self.records: list[dict] = []
        self._server = ThreadingHTTPServer(("127.0.0.1", 0), self._handler())
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/upload"

    def start(self) -> "Endpoint":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def fails_first(self, batch_id: str) -> bool:
        h = hashlib.sha256(f"{self.seed}:{batch_id}".encode()).digest()
        return int.from_bytes(h[:4], "big") % 1000 < FAIL_PER_MILLE

    def take_records(self) -> list[dict]:
        """Return and clear the records acknowledged since the last call."""
        with self._lock:
            out, self.records = self.records, []
        return out

    def counters(self) -> dict:
        with self._lock:
            return {
                "attempts": self.attempts,
                "acks": len(self.acked_ids),
                "rejected": self.rejected,
                "bytes": self.bytes,
                "busy_s": self.busy_s,
                "max_batch": self.max_batch,
                "unique_acks": len(set(self.acked_ids)),
            }

    def _receive(self, body: bytes) -> int:
        t0 = time.perf_counter()
        payload = json.loads(body)
        bid = payload["batch_id"]
        records = payload["d"]
        with self._lock:
            self.attempts += 1
            self.bytes += len(body)
            self.max_batch = max(self.max_batch, len(records))
            first = bid not in self.seen
            self.seen.add(bid)
            if first and self.fails_first(bid):
                self.rejected += 1
                status = 503
            else:
                self.acked_ids.append(bid)
                self.records.extend(records)
                status = 200
            self.busy_s += time.perf_counter() - t0
        return status

    def _handler(self):
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self) -> None:  # noqa: N802 - http.server naming
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                status = endpoint._receive(body)
                self.send_response(status)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        return Handler
