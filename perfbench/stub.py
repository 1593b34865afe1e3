"""In-process InfluxDB 1.x ``/write`` stub that counts what the sink sends.

It answers every POST with 204 and records, under one lock: lines,
POSTs, body bytes, TCP connections accepted, time spent handling POSTs,
the multiset of received lines, and the first receive time of every
probe token (``feed.PROBE``) for latency.
"""

from __future__ import annotations

import hashlib
import http.server
import re
import threading
import time
from collections import Counter

_PROBE_RE = re.compile(rb"pb(\d{7})")


def multiset_digest(lines) -> tuple[int, int]:
    """(count, order-independent digest) of a multiset of lines: the
    sum of per-line 64-bit BLAKE2 hashes mod 2**64, so duplicates count
    and order does not."""
    total, n = 0, 0
    for ln in lines:
        b = ln if isinstance(ln, bytes) else ln.encode()
        total = (total + int.from_bytes(hashlib.blake2b(b, digest_size=8).digest(), "big")) % (1 << 64)
        n += 1
    return n, total


def probes_in(line: bytes | str) -> list[int]:
    b = line if isinstance(line, bytes) else line.encode()
    return [int(m.group(1)) for m in _PROBE_RE.finditer(b)]


class InfluxStub:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.lines: Counter = Counter()
        self.posts = 0
        self.bytes = 0
        self.connections = 0
        self.server_s = 0.0
        self.first_seen: dict[int, float] = {}
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def setup(self):  # one call per accepted connection
                super().setup()
                with stub.lock:
                    stub.connections += 1

            def do_POST(self):  # noqa: N802
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                now = time.time()
                got = body.split(b"\n") if body else []
                probes = probes_in(body)
                with stub.lock:
                    stub.posts += 1
                    stub.bytes += len(body)
                    stub.lines.update(got)
                    for p in probes:
                        stub.first_seen.setdefault(p, now)
                self.send_response(204)
                self.end_headers()
                with stub.lock:
                    stub.server_s += time.perf_counter() - t0

            def log_message(self, *a):
                pass

        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._srv.daemon_threads = True
        self.url = f"http://127.0.0.1:{self._srv.server_address[1]}"
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)

    def __enter__(self) -> "InfluxStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        self._thread.join(timeout=10)

    def n_lines(self) -> int:
        with self.lock:
            return sum(self.lines.values())

    def snapshot(self) -> dict:
        with self.lock:
            return {
                "lines": sum(self.lines.values()), "posts": self.posts, "bytes": self.bytes,
                "connections": self.connections, "server_s": self.server_s,
            }
