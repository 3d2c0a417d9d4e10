"""Localhost HTTP object-store fixture, run as its own process.

Serves the files under a root directory read-only over HTTP/1.1 with
keep-alive. Idle kept-alive connections wait in one selector loop; a
request is handed to a pool of at most ``--threads`` handler threads, so
the number of open connections never pins threads. Every GET/HEAD is
counted (requests, requests for data keys -- any key whose last path
component does not start with ``.`` -- and body bytes served);
``GET /__stats`` returns the counters as JSON and is not itself counted.

    python3 objstore.py ROOT [--threads N]

prints ``PORT <n>`` on stdout once it is listening, and serves until it
receives SIGTERM or its stdin closes.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import signal
import socket
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import unquote, urlsplit

MAX_HEADER = 64 * 1024


class ObjectStore:
    def __init__(self, root: str, threads: int):
        self.root = os.path.realpath(root)
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.sel = selectors.DefaultSelector()
        self.lock = threading.Lock()
        self.requests = 0
        self.chunk_requests = 0
        self.bytes_served = 0
        self.blobs: dict[str, bytes | None] = {}
        self.ready: list[tuple[socket.socket, bytes]] = []
        self.wake_r, self.wake_w = socket.socketpair()
        self.wake_r.setblocking(False)
        self.listener = socket.create_server(("127.0.0.1", 0), backlog=128)
        self.listener.setblocking(False)
        self.stopping = False

    @property
    def port(self) -> int:
        return self.listener.getsockname()[1]

    def _blob(self, path: str) -> "bytes | None":
        if path not in self.blobs:
            full = os.path.realpath(os.path.join(self.root, path.lstrip("/")))
            data = None
            if full.startswith(self.root + os.sep) and os.path.isfile(full):
                with open(full, "rb") as f:
                    data = f.read()
            self.blobs[path] = data
        return self.blobs[path]

    def serve_forever(self) -> None:
        self.sel.register(self.listener, selectors.EVENT_READ, "accept")
        self.sel.register(self.wake_r, selectors.EVENT_READ, "wake")
        while not self.stopping:
            for key, _ in self.sel.select(timeout=0.5):
                if key.data == "accept":
                    try:
                        conn, _addr = self.listener.accept()
                    except BlockingIOError:
                        continue
                    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    self.sel.register(conn, selectors.EVENT_READ, b"")
                elif key.data == "wake":
                    try:
                        self.wake_r.recv(4096)
                    except BlockingIOError:
                        pass
                    with self.lock:
                        ready, self.ready = self.ready, []
                    for conn, buf in ready:
                        self.sel.register(conn, selectors.EVENT_READ, buf)
                else:
                    self.sel.unregister(key.fileobj)
                    self.pool.submit(self._serve_one, key.fileobj, key.data)
        self.pool.shutdown(wait=True)

    def _park(self, conn: socket.socket, buf: bytes) -> None:
        with self.lock:
            self.ready.append((conn, buf))
        self.wake_w.send(b"x")

    def _serve_one(self, conn: socket.socket, buf: bytes) -> None:
        """Answer one request on ``conn``; park the connection for the next
        one when the client keeps it alive."""
        try:
            conn.setblocking(True)
            while b"\r\n\r\n" not in buf:
                chunk = conn.recv(65536)
                if not chunk or len(buf) > MAX_HEADER:
                    conn.close()
                    return
                buf += chunk
            head, _, rest = buf.partition(b"\r\n\r\n")
            lines = head.decode("latin-1").split("\r\n")
            method, target, version = lines[0].split(" ", 2)
            headers = {}
            for line in lines[1:]:
                k, _, v = line.partition(":")
                headers[k.strip().lower()] = v.strip()
            keep = version == "HTTP/1.1" and headers.get("connection", "").lower() != "close"
            path = unquote(urlsplit(target).path)
            if path == "/__stats":
                with self.lock:
                    body = json.dumps({
                        "requests": self.requests,
                        "chunk_requests": self.chunk_requests,
                        "bytes": self.bytes_served,
                    }).encode()
                status, counted = 200, False
            else:
                blob = self._blob(path) if method in ("GET", "HEAD") else None
                status, body, counted = (404, b"", True) if blob is None else (200, blob, True)
            if counted:
                with self.lock:
                    self.requests += 1
                    if not os.path.basename(path).startswith("."):
                        self.chunk_requests += 1
                    if method == "GET":
                        self.bytes_served += len(body)
            reason = {200: "OK", 404: "Not Found"}[status]
            out = (
                f"HTTP/1.1 {status} {reason}\r\nContent-Length: {len(body)}\r\n"
                f"Connection: {'keep-alive' if keep else 'close'}\r\n\r\n"
            ).encode()
            conn.sendall(out + body if method != "HEAD" else out)
            if keep:
                conn.setblocking(False)
                self._park(conn, rest)
            else:
                conn.close()
        except (OSError, ValueError):
            conn.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root")
    ap.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args(argv)
    store = ObjectStore(args.root, max(1, args.threads))

    def _stop(*_a):
        store.stopping = True

    signal.signal(signal.SIGTERM, _stop)
    threading.Thread(target=lambda: (sys.stdin.read(), _stop()), daemon=True).start()
    print(f"PORT {store.port}", flush=True)
    store.serve_forever()
    return 0


if __name__ == "__main__":
    sys.exit(main())
