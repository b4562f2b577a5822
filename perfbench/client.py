"""Generator-side clients: the open-loop POST sender, the ``/ws`` and
``/events`` subscribers, and a plain GET. The sender and subscribers
each run on their own thread over one connection and record wall-clock
(``time.time``) stamps, so they line up with the system under test's
own stamps."""

from __future__ import annotations

import base64
import http.client
import json
import os
import socket
import threading
import time
from urllib.parse import urlparse


def _hostport(url: str) -> tuple[str, int]:
    u = urlparse(url)
    return u.hostname, u.port


def _sleep_until(t: float) -> None:
    d = t - time.time()
    if d > 0:
        time.sleep(d)


class PostLoop(threading.Thread):
    """Open loop on one keep-alive connection: event ``i`` is sent at
    ``t0 + due_s`` whatever happened to earlier ones. Records
    ``(send_start, ack_end, status)`` per event."""

    def __init__(self, url: str, events: list, t0: float) -> None:
        super().__init__(daemon=True)
        self.host, self.port = _hostport(url)
        self.events, self.t0 = events, t0
        self.sent: list[tuple[float, float, int]] = []

    def run(self) -> None:
        conn = http.client.HTTPConnection(self.host, self.port, timeout=30)
        headers = {"Content-Type": "application/json"}
        try:
            for e in self.events:
                _sleep_until(self.t0 + e.due_s)
                start = time.time()
                try:
                    conn.request("POST", "/send_emoji", body=e.body, headers=headers)
                    r = conn.getresponse()
                    r.read()
                    status = r.status
                except (OSError, http.client.HTTPException):
                    conn.close()
                    conn = http.client.HTTPConnection(self.host, self.port, timeout=30)
                    status = 0
                self.sent.append((start, time.time(), status))
        finally:
            conn.close()


def get(url: str, path: str) -> tuple[int, bytes]:
    """One GET on a fresh connection (the stats server speaks HTTP/1.0)."""
    host, port = _hostport(url)
    conn = http.client.HTTPConnection(host, port, timeout=60)
    try:
        conn.request("GET", path)
        r = conn.getresponse()
        return r.status, r.read()
    except (OSError, http.client.HTTPException):
        return 0, b""
    finally:
        conn.close()


class _Subscriber(threading.Thread):
    """Records ``(recv_time, batch_id, event_type, window_start, cnt)``
    per hub message and the highest ``cnt`` seen per key."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.msgs: list[tuple] = []
        self.max_cnt: dict[tuple[str, str], int] = {}
        self.lock = threading.Lock()
        self.ready = threading.Event()
        self.sock: socket.socket | None = None

    def _on(self, payload: bytes) -> None:
        t = time.time()
        m = json.loads(payload)
        key = (m["event_type"], m["window"]["start"][:19])
        with self.lock:
            self.msgs.append((t, m["batch_id"], key[0], key[1], m["cnt"]))
            if m["cnt"] > self.max_cnt.get(key, 0):
                self.max_cnt[key] = m["cnt"]

    def counts(self) -> dict[tuple[str, str], int]:
        with self.lock:
            return dict(self.max_cnt)

    def close(self) -> None:
        if self.sock is not None:
            try:
                self.sock.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            self.sock.close()
        self.join(timeout=10)


class WsSubscriber(_Subscriber):
    """RFC 6455 client for ``/ws``: handshake, then text frames."""

    def __init__(self, url: str) -> None:
        super().__init__()
        self.host, self.port = _hostport(url)

    def run(self) -> None:
        self.sock = socket.create_connection((self.host, self.port), timeout=None)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (f"GET /ws HTTP/1.1\r\nHost: {self.host}\r\nUpgrade: websocket\r\n"
             f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
             "Sec-WebSocket-Version: 13\r\n\r\n").encode()
        )
        f = self.sock.makefile("rb")
        try:
            if b" 101 " not in f.readline():
                return
            while f.readline() not in (b"\r\n", b""):
                pass
            self.ready.set()
            while True:
                hdr = f.read(2)
                if len(hdr) < 2:
                    return
                op, n = hdr[0] & 0x0F, hdr[1] & 0x7F
                if n == 126:
                    n = int.from_bytes(f.read(2), "big")
                elif n == 127:
                    n = int.from_bytes(f.read(8), "big")
                payload = f.read(n)
                if op == 0x8:
                    return
                if op == 0x1:
                    self._on(payload)
        except OSError:
            return
        finally:
            self.ready.set()


class SseSubscriber(_Subscriber):
    """``/events`` client: ``data: <json>`` lines."""

    def __init__(self, url: str) -> None:
        super().__init__()
        self.host, self.port = _hostport(url)

    def run(self) -> None:
        self.sock = socket.create_connection((self.host, self.port), timeout=None)
        self.sock.sendall(
            f"GET /events HTTP/1.1\r\nHost: {self.host}\r\n\r\n".encode()
        )
        f = self.sock.makefile("rb")
        try:
            if b" 200 " not in f.readline():
                return
            while f.readline() not in (b"\r\n", b""):
                pass
            self.ready.set()
            for line in f:
                if line.startswith(b"data: {"):
                    self._on(line[6:])
        except OSError:
            return
        finally:
            self.ready.set()
