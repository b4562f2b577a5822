"""HTTP + SSE serving tier over the engine's streaming state — a REAL
bound listener, stdlib-only (SURVEY.md §2.1 S7/S8).

The reference serves its aggregation state over Flask
(analytical_server.py:137-150: ``/api/stats``, ``/api/emoji-data``,
``/api/total-data``) and relays the live event feed to browsers as
Server-Sent Events (client.py:157-181: ``/events`` yields
``data: <payload>\\n\\n`` frames with a ``ping`` on 20 s idle), with the
WebSocket pub-sub layer broadcasting every message to every subscriber
(pubsub.py:98-103).

Engine equivalents, with the serving tier reading ONLY from streaming
sink state (never re-aggregating):

- :func:`api_stats` / :func:`api_emoji_data` / :func:`api_total_data`
  build the reference's exact payload shapes from an update-mode memory
  sink table (one small DataFrame query each — the per-(type, window)
  aggregate state is bounded by cardinality, so the terminal
  ``collect`` is serving-sized by construction, not data-sized).
- :class:`SseHub` is the in-process pub-sub node: thread-safe
  subscriber registry, broadcast with drop-on-disconnect — the
  stdlib twin of the reference's ClusterNode (pubsub.py:14-31).
- :func:`sse_batch_sink` adapts the hub to the engine's
  ``fanout_foreach_batch`` contract so each micro-batch of an
  aggregate stream is pushed to every connected SSE client.
- :class:`StatsHttpServer` binds ``ThreadingHTTPServer`` (port 0 =
  ephemeral) and routes the three JSON endpoints, ``/events`` (SSE,
  ping-on-idle like the reference client), ``/ws`` (RFC 6455 WebSocket
  — the reference's OTHER live transport, pubsub.py:15-29, ports
  8765-8767 per its README.md:84 — handshake + unmasked text frames +
  protocol ping/pong/close, fed by the same hub), a minimal ``/`` index,
  and ``/dashboard`` — the reference's browser analytics dashboard
  (analytical_server.py:420-540: stat tiles, two time-series charts,
  last-10 data table, 10 s auto-refresh) plus its client page's live
  EventSource feed (templates/index.html:119-135), re-served as ONE
  self-contained page whose charts are inline canvas instead of the
  reference's CDN-loaded Chart.js (an engine dashboard must render on
  an air-gapped cluster).

No Flask/websockets dependency: the transport is ~the stdlib, and the
analytics underneath is the engine's watermarked windowed aggregation
instead of the reference's hand-rolled in-Python minute ledger
(analytical_server.py:13-110).
"""

from __future__ import annotations

import itertools
import json
import queue
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the reference's rolling retention (analytical_server.py:13)
WINDOW_MINUTES = 3

# reference client.py:171-173: 20 s idle -> "data: ping"
SSE_IDLE_SECONDS = 20.0


# ---------------------------------------------------------------- payloads


def latest_counts(spark: SparkSession, sink_table: str) -> DataFrame:
    """Current per-(type, window) counts: an update-mode memory sink keeps
    EVERY emission, so collapse to the latest (cnt is monotone per window,
    hence max == last)."""
    return (
        spark.sql(f"SELECT * FROM {sink_table}")
        .groupBy("event_type", "window")
        .agg(F.max("cnt").alias("cnt"))
    )


def api_stats(
    spark: SparkSession,
    sink_table: str,
    window_minutes: int = WINDOW_MINUTES,
) -> dict:
    """reference /api/stats (analytical_server.py:96-109, 147-150)."""
    t = latest_counts(spark, sink_table)
    cutoff = t.agg(
        (F.max("window.end") - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        .alias("c")
    ).collect()[0]["c"]
    recent = t.filter(F.col("window.end") > F.lit(cutoff))
    breakdown = {
        r["event_type"]: r["n"]
        for r in recent.groupBy("event_type")
        .agg(F.sum("cnt").alias("n"))
        .collect()
    }
    return {
        "total_emojis": int(sum(breakdown.values())),
        "emoji_breakdown": breakdown,
        "window_minutes": window_minutes,
    }


def api_total_data(spark: SparkSession, sink_table: str) -> list[dict]:
    """reference /api/total-data (analytical_server.py:84-94, 142-145)."""
    rows = (
        latest_counts(spark, sink_table)
        .groupBy(F.col("window.start").alias("minute"))
        .agg(F.sum("cnt").alias("count"))
        .orderBy("minute")
        .collect()
    )
    return [
        {"timestamp": r["minute"].isoformat(), "count": r["count"]}
        for r in rows
    ]


def api_emoji_data(spark: SparkSession, sink_table: str) -> dict[str, list[dict]]:
    """reference /api/emoji-data (analytical_server.py:68-82, 137-140)."""
    rows = (
        latest_counts(spark, sink_table)
        .select("event_type", F.col("window.start").alias("minute"), "cnt")
        .orderBy("event_type", "minute")
        .collect()
    )
    out: dict[str, list[dict]] = {}
    for r in rows:
        out.setdefault(r["event_type"], []).append(
            {"timestamp": r["minute"].isoformat(), "count": r["cnt"]}
        )
    return out


# ---------------------------------------------------------------- SSE hub

# Queued last for a subscriber the hub dropped: its handler writes what
# was queued before it, then ends the connection.
_DROPPED = object()


class SseHub:
    """In-process pub-sub node: every published message goes to every
    live subscriber; slow/dead subscribers are dropped, not waited on
    (the reference broadcasts with a 5 s send timeout and discards
    closed sockets, pubsub.py:14-31 — a bounded per-subscriber queue is
    the synchronous-HTTP equivalent)."""

    def __init__(self, max_queue: int = 1000) -> None:
        self._subs: dict[int, queue.Queue] = {}
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._max_queue = max_queue

    def subscribe(self) -> tuple[int, queue.Queue]:
        q: queue.Queue = queue.Queue(maxsize=self._max_queue)
        with self._lock:
            sid = next(self._ids)
            self._subs[sid] = q
        return sid, q

    def unsubscribe(self, sid: int) -> None:
        with self._lock:
            self._subs.pop(sid, None)

    @property
    def subscriber_count(self) -> int:
        with self._lock:
            return len(self._subs)

    def publish(self, message: dict) -> int:
        """Broadcast to all subscribers; a full queue drops THAT
        subscriber (backpressure = disconnect, as in the reference's
        send-timeout eviction): it is unsubscribed and ``_DROPPED``
        is queued past its bound, so its handler ends the connection.
        Returns live-subscriber count."""
        with self._lock:
            subs = list(self._subs.items())
        dead = []
        for sid, q in subs:
            try:
                q.put_nowait(message)
            except queue.Full:
                dead.append((sid, q))
        for sid, q in dead:
            self.unsubscribe(sid)
            with q.mutex:  # past maxsize: put_nowait would raise Full
                q.queue.append(_DROPPED)
                q.not_empty.notify()
        return self.subscriber_count


def sse_batch_sink(hub: SseHub) -> Callable[[DataFrame, int], None]:
    """Adapt a hub to the ``fanout_foreach_batch`` BatchSink contract:
    each micro-batch row becomes one SSE message. Meant for AGGREGATE
    streams (per-window counts — rows bounded by key×window cardinality,
    so the collect is state-sized); the raw-event relay shape of the
    reference is the same sink fed by the decoded wire stream."""

    def deliver(batch_df: DataFrame, batch_id: int) -> None:
        cols = batch_df.columns
        for row in batch_df.collect():
            msg = {
                k: (v.isoformat() if hasattr(v, "isoformat") else v)
                for k, v in zip(cols, row)
            }
            # window structs arrive as Rows; flatten to ISO strings
            for k, v in list(msg.items()):
                if hasattr(v, "asDict"):
                    msg[k] = {
                        kk: (vv.isoformat() if hasattr(vv, "isoformat") else vv)
                        for kk, vv in v.asDict().items()
                    }
            msg["batch_id"] = batch_id
            hub.publish(msg)

    return deliver


# ---------------------------------------------------------------- websocket

# RFC 6455 §1.3 handshake GUID (public constant)
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


def _ws_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept for a client's Sec-WebSocket-Key
    (RFC 6455 §4.2.2: base64(sha1(key + GUID)))."""
    import base64
    import hashlib

    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def _ws_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """One unmasked server→client frame (FIN set; servers MUST NOT mask,
    RFC 6455 §5.1). opcode 0x1=text, 0x9=ping, 0x8=close."""
    head = bytes([0x80 | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([n])
    elif n < 1 << 16:
        head += bytes([126]) + n.to_bytes(2, "big")
    else:
        head += bytes([127]) + n.to_bytes(8, "big")
    return head + payload


# Reject client frames above this payload size (round-8 ADVICE): the
# 127 extended-length form lets a misbehaving client declare up to 2^64
# bytes and force the handler thread into a huge blocking read/alloc.
# The hub only ever relays small JSON rows, so 1 MiB is generous.
_WS_MAX_FRAME = 1 << 20


def _ws_read_frame(rfile) -> tuple[int, bytes] | None:
    """Read one client frame → (opcode, unmasked payload), or None on a
    closed/invalid/oversized stream (None closes the connection).
    Client frames MUST be masked; the server closes the connection on
    an unmasked one (§5.1)."""
    hdr = rfile.read(2)
    if len(hdr) < 2 or not hdr[1] & 0x80:
        return None
    opcode = hdr[0] & 0x0F
    n = hdr[1] & 0x7F
    if n == 126:
        n = int.from_bytes(rfile.read(2), "big")
    elif n == 127:
        n = int.from_bytes(rfile.read(8), "big")
    if n > _WS_MAX_FRAME:
        return None
    mask = rfile.read(4)
    data = rfile.read(n)
    if len(data) < n:
        return None
    return opcode, bytes(b ^ mask[i % 4] for i, b in enumerate(data))


# ---------------------------------------------------------------- server

_INDEX_HTML = """<!DOCTYPE html>
<html><head><title>engine stats</title></head>
<body>
<h1>Streaming stats</h1>
<p><a href="/dashboard">/dashboard</a> (live charts)</p>
<p>Endpoints: <a href="/api/stats">/api/stats</a>,
<a href="/api/emoji-data">/api/emoji-data</a>,
<a href="/api/total-data">/api/total-data</a>,
<a href="/events">/events</a> (SSE), <code>/ws</code> (WebSocket)</p>
</body></html>
"""

# The reference's browser tier, re-served self-contained: its analytics
# dashboard (analytical_server.py:420-540 — stat tiles for total/unique
# types/window from /api/stats, two time-series line charts from
# /api/total-data and /api/emoji-data, a last-10 data table with the
# per-type breakdown, 10 s auto-refresh) plus the client page's live
# EventSource feed (templates/index.html:119-135 — /events with 'ping'
# frames skipped). One deliberate divergence: the reference pulls
# Chart.js from a CDN at runtime; an engine dashboard must render on an
# air-gapped cluster, so the two line charts are drawn by a ~40-line
# inline canvas renderer with no external fetch at all.
_DASHBOARD_HTML = """<!DOCTYPE html>
<html lang="en">
<head>
<meta charset="UTF-8">
<title>Emoji Analytics Dashboard</title>
<style>
 body { font-family: Arial, sans-serif; max-width: 960px;
        margin: 0 auto; padding: 20px; }
 .tiles { display: flex; gap: 16px; margin-bottom: 20px; }
 .tile { border: 1px solid #ccc; border-radius: 5px; padding: 12px 20px;
         text-align: center; flex: 1; }
 .tile .num { font-size: 28px; font-weight: bold; }
 .tile .lbl { color: #666; font-size: 12px; }
 canvas { border: 1px solid #eee; width: 100%; height: 220px; }
 table { border-collapse: collapse; width: 100%; margin-top: 12px; }
 th, td { border: 1px solid #ccc; padding: 4px 8px; font-size: 13px; }
 #live { border: 1px solid #ccc; border-radius: 5px; height: 160px;
         overflow-y: auto; padding: 8px; background: #f9f9f9;
         font-size: 12px; }
 .status { color: #666; font-style: italic; }
</style>
</head>
<body>
<h1>Emoji Analytics Dashboard</h1>
<span id="status" class="status">loading…</span>
<div class="tiles">
 <div class="tile"><div class="num" id="totalEmojis">-</div>
  <div class="lbl">total emojis (window)</div></div>
 <div class="tile"><div class="num" id="uniqueTypes">-</div>
  <div class="lbl">unique types</div></div>
 <div class="tile"><div class="num" id="windowSize">-</div>
  <div class="lbl">window minutes</div></div>
</div>
<h3>Total emojis over time</h3>
<canvas id="totalChart" width="920" height="220"></canvas>
<h3>Per-type over time</h3>
<canvas id="emojiChart" width="920" height="220"></canvas>
<h3>Recent data</h3>
<table><thead><tr><th>minute</th><th>count</th><th>breakdown</th></tr>
</thead><tbody id="dataTableBody"></tbody></table>
<h3>Live feed (SSE)</h3>
<div id="live"></div>
<script>
const COLORS = ['#36a2eb','#ff6384','#4bc0c0','#ff9f40','#9966ff',
                '#ffcd56','#c9cbcf','#2ecc71','#e74c3c','#34495e'];

// minimal multi-series line chart: series = [{label, points, color}]
// with points aligned to the shared `labels` x-axis
function drawChart(canvasId, labels, series) {
  const c = document.getElementById(canvasId), g = c.getContext('2d');
  const W = c.width, H = c.height, L = 44, B = 24, T = 10, R = 8;
  g.clearRect(0, 0, W, H);
  const ymax = Math.max(1, ...series.flatMap(s => s.points));
  const nx = Math.max(1, labels.length - 1);
  const px = i => L + (W - L - R) * i / nx;
  const py = v => H - B - (H - B - T) * v / ymax;
  g.strokeStyle = '#999'; g.beginPath();
  g.moveTo(L, T); g.lineTo(L, H - B); g.lineTo(W - R, H - B); g.stroke();
  g.fillStyle = '#666'; g.font = '10px sans-serif';
  g.fillText(String(ymax), 2, py(ymax) + 4);
  g.fillText('0', 2, py(0) + 4);
  const step = Math.max(1, Math.ceil(labels.length / 8));
  labels.forEach((t, i) => {
    if (i % step === 0) g.fillText(t, px(i) - 14, H - 8);
  });
  series.forEach((s, si) => {
    g.strokeStyle = s.color; g.beginPath();
    s.points.forEach((v, i) => {
      if (i === 0) g.moveTo(px(i), py(v)); else g.lineTo(px(i), py(v));
    });
    g.stroke();
    g.fillStyle = s.color;
    g.fillText(s.label, L + 8 + 90 * si, T + 10);
  });
}

function updateDataTable(totalData, emojiData) {
  const tbody = document.getElementById('dataTableBody');
  tbody.innerHTML = '';
  totalData.slice(-10).forEach(item => {
    const row = tbody.insertRow();
    row.insertCell(0).textContent =
      new Date(item.timestamp).toLocaleString();
    row.insertCell(1).textContent = item.count;
    const parts = [];
    for (const [etype, pts] of Object.entries(emojiData)) {
      const p = pts.find(d => d.timestamp === item.timestamp);
      if (p && p.count > 0) parts.push(etype + ': ' + p.count);
    }
    row.insertCell(2).textContent = parts.join(', ') || 'No data';
  });
}

async function refreshData() {
  const status = document.getElementById('status');
  try {
    const stats = await (await fetch('/api/stats')).json();
    document.getElementById('totalEmojis').textContent =
      stats.total_emojis;
    document.getElementById('uniqueTypes').textContent =
      Object.keys(stats.emoji_breakdown).length;
    document.getElementById('windowSize').textContent =
      stats.window_minutes;
    const totalData = await (await fetch('/api/total-data')).json();
    const emojiData = await (await fetch('/api/emoji-data')).json();
    updateDataTable(totalData, emojiData);
    const fmt = t => new Date(t).toLocaleTimeString();
    drawChart('totalChart', totalData.map(d => fmt(d.timestamp)),
      [{label: 'total', color: COLORS[0],
        points: totalData.map(d => d.count)}]);
    const stamps = [...new Set(
      Object.values(emojiData).flat().map(d => d.timestamp))].sort();
    drawChart('emojiChart', stamps.map(fmt),
      Object.keys(emojiData).map((etype, i) => ({
        label: etype, color: COLORS[i % COLORS.length],
        points: stamps.map(t => {
          const p = emojiData[etype].find(d => d.timestamp === t);
          return p ? p.count : 0;
        }),
      })));
    status.textContent = 'updated ' + new Date().toLocaleTimeString();
  } catch (err) {
    status.textContent = 'error fetching data: ' + err.message;
  }
}

function startLiveFeed() {
  const live = document.getElementById('live');
  const es = new EventSource('/events');
  es.onmessage = ev => {
    if (ev.data === 'ping') return;  // idle keep-alive, not data
    const entry = document.createElement('div');
    entry.textContent =
      new Date().toLocaleTimeString() + ' - ' + ev.data;
    live.appendChild(entry);
    while (live.childNodes.length > 200) live.removeChild(live.firstChild);
    live.scrollTop = live.scrollHeight;
  };
}

refreshData();
setInterval(refreshData, 10000);
startLiveFeed();
</script>
</body>
</html>
"""


class StatsHttpServer:
    """A real bound HTTP listener serving the reference's endpoint
    surface from engine streaming state.

    ``port=0`` binds an ephemeral port (read it back from ``.port``).
    ``serve_background()`` runs the accept loop on a daemon thread;
    ``close()`` shuts it down. ``sse_idle_seconds`` controls the
    keep-alive ping cadence (the reference's 20 s, client.py:171-173);
    tests shrink it."""

    def __init__(
        self,
        spark: SparkSession,
        sink_table: str,
        hub: SseHub | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
        window_minutes: int = WINDOW_MINUTES,
        sse_idle_seconds: float = SSE_IDLE_SECONDS,
    ) -> None:
        self.spark = spark
        self.sink_table = sink_table
        self.hub = hub or SseHub()
        self.window_minutes = window_minutes
        self.sse_idle_seconds = sse_idle_seconds
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # tests shouldn't spam stderr with access logs
            def log_message(self, fmt: str, *args: Any) -> None:
                pass

            def _json(self, payload: Any) -> None:
                body = json.dumps(payload, sort_keys=True).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self) -> None:  # noqa: N802 — stdlib contract
                path = self.path.split("?", 1)[0]
                try:
                    if path == "/api/stats":
                        self._json(
                            api_stats(
                                outer.spark,
                                outer.sink_table,
                                outer.window_minutes,
                            )
                        )
                    elif path == "/api/emoji-data":
                        self._json(api_emoji_data(outer.spark, outer.sink_table))
                    elif path == "/api/total-data":
                        self._json(api_total_data(outer.spark, outer.sink_table))
                    elif path == "/events":
                        self._sse()
                    elif path == "/ws":
                        self._ws()
                    elif path in ("/", "/dashboard"):
                        body = (
                            _DASHBOARD_HTML if path == "/dashboard"
                            else _INDEX_HTML
                        ).encode()
                        self.send_response(200)
                        self.send_header("Content-Type", "text/html")
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                    else:
                        self.send_error(404)
                except BrokenPipeError:
                    pass  # client went away mid-response

            def _ws(self) -> None:
                """WebSocket endpoint (reference pubsub.py:15-29: every
                published message goes to every live ws subscriber;
                README.md:84 ports 8765-8767). RFC 6455 over the same
                bound listener: handshake upgrade, then hub messages as
                unmasked text frames, protocol PING on idle (the ws twin
                of the SSE ``data: ping``), PONG for client pings, clean
                CLOSE echo, and a CLOSE once the hub drops this
                subscriber."""
                import select

                key = self.headers.get("Sec-WebSocket-Key")
                upgrade = (self.headers.get("Upgrade") or "").lower()
                if upgrade != "websocket" or not key:
                    self.send_error(400, "expected websocket upgrade")
                    return
                self.send_response(101, "Switching Protocols")
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", _ws_accept_key(key))
                self.end_headers()
                self.close_connection = True
                sid, q = outer.hub.subscribe()

                def pending() -> bool:
                    """A client frame is available NOW: bytes already
                    sit in the rfile BUFFER (a previous frame read pulls
                    whole coalesced TCP segments into the BufferedReader
                    — select() cannot see those; round-8 ADVICE) or the
                    socket itself is readable."""
                    try:
                        # peek must not block when the buffer is empty —
                        # zero timeout turns its raw read into an
                        # immediate BlockingIOError instead
                        self.connection.settimeout(0.0)
                        try:
                            if self.rfile.peek(1):
                                return True
                        finally:
                            self.connection.settimeout(None)
                    except (BlockingIOError, InterruptedError, ValueError):
                        self.connection.settimeout(None)
                    except OSError:
                        self.connection.settimeout(None)
                        return True  # dead socket: let the frame read fail
                    return bool(
                        select.select([self.connection], [], [], 0)[0]
                    )

                try:
                    while True:
                        # drain any client frames first (close/ping)
                        while pending():
                            fr = _ws_read_frame(self.rfile)
                            if fr is None or fr[0] == 0x8:  # close
                                if fr is not None:
                                    self.wfile.write(_ws_frame(fr[1], 0x8))
                                return
                            if fr[0] == 0x9:  # ping -> pong
                                self.wfile.write(_ws_frame(fr[1], 0xA))
                        try:
                            msg = q.get(timeout=outer.sse_idle_seconds)
                            if msg is _DROPPED:
                                self.wfile.write(_ws_frame(b"", 0x8))
                                return
                            payload = json.dumps(msg, sort_keys=True).encode()
                            self.wfile.write(_ws_frame(payload, 0x1))
                        except queue.Empty:
                            self.wfile.write(_ws_frame(b"ping", 0x9))
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError, OSError):
                    pass  # subscriber went away — normal ws lifecycle
                finally:
                    outer.hub.unsubscribe(sid)

            def _sse(self) -> None:
                """reference client.py:157-181: text/event-stream,
                ``data: <json>\\n\\n`` per message, ``data: ping`` on
                idle timeout; the response ends once the hub drops this
                subscriber."""
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                sid, q = outer.hub.subscribe()
                try:
                    while True:
                        try:
                            msg = q.get(timeout=outer.sse_idle_seconds)
                            if msg is _DROPPED:
                                return
                            frame = f"data: {json.dumps(msg, sort_keys=True)}\n\n"
                        except queue.Empty:
                            frame = "data: ping\n\n"
                        self.wfile.write(frame.encode())
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass  # subscriber disconnected — normal SSE lifecycle
                finally:
                    outer.hub.unsubscribe(sid)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._httpd.daemon_threads = True
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def serve_background(self) -> "StatsHttpServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever,
            kwargs={"poll_interval": 0.1},
            daemon=True,
        )
        self._thread.start()
        return self

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
