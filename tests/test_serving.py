"""Serving-tier tests: a REAL bound HTTP listener over streaming state.

Reference parity targets:
- the three Flask JSON endpoints (reference analytical_server.py:137-150)
  served from the engine's memory-sink state, checked against a batch
  recomputation of the same aggregate (the oracle);
- the SSE relay (reference client.py:157-181): ``data: <json>\\n\\n``
  framing, ping-on-idle keep-alive, subscriber drop on disconnect;
- the hub broadcast semantics (reference pubsub.py:14-31): every
  subscriber sees every message, slow subscribers are evicted.
"""

from __future__ import annotations

import http.client
import json
import queue
import time
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    windowed_counts_scaled,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.serving import (
    SseHub,
    StatsHttpServer,
    api_emoji_data,
    api_stats,
    api_total_data,
    sse_batch_sink,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.sinks import (
    fanout_foreach_batch,
    start_memory_sink,
)


# ---------------------------------------------------------------- hub unit


def test_hub_broadcasts_to_all_subscribers():
    hub = SseHub()
    _, q1 = hub.subscribe()
    _, q2 = hub.subscribe()
    hub.publish({"a": 1})
    assert q1.get(timeout=1) == {"a": 1}
    assert q2.get(timeout=1) == {"a": 1}
    assert hub.subscriber_count == 2


def test_hub_drops_backpressured_subscriber():
    hub = SseHub(max_queue=2)
    sid, _q = hub.subscribe()
    _, live = hub.subscribe()
    got = []
    for i in range(3):  # third publish overflows the undrained queue
        hub.publish({"i": i})
        got.append(live.get(timeout=1))  # the live subscriber keeps up
    assert hub.subscriber_count == 1  # slow subscriber evicted
    assert got == [{"i": 0}, {"i": 1}, {"i": 2}]
    hub.unsubscribe(sid)  # idempotent on already-dropped id


# ---------------------------------------------------------------- fixtures


@pytest.fixture(scope="module")
def served_sink(spark, sf_dir, tmp_path_factory):
    """First 30 minutes of events replayed through the reference pipeline
    shape into an update-mode memory sink; yields (sink_table, events_df)."""
    ev = table(spark, sf_dir, "events")
    lo = ev.agg(F.min("ts")).collect()[0][0]
    ev = ev.filter(F.col("ts") < F.lit(lo) + F.expr("INTERVAL 30 MINUTES"))
    ev = ev.select("event_id", "ts", "event_type").cache()
    replay = str(tmp_path_factory.mktemp("serve") / uuid.uuid4().hex[:8])
    ev.write.parquet(replay)

    stream = spark.readStream.schema(ev.schema).parquet(replay)
    counts = windowed_counts_scaled(stream)
    name = "serving_state"
    q = start_memory_sink(counts, name, output_mode="update")
    q.processAllAvailable()
    yield name, ev
    q.stop()
    ev.unpersist()


@pytest.fixture(scope="module")
def server(spark, served_sink):
    name, _ = served_sink
    srv = StatsHttpServer(
        spark, name, sse_idle_seconds=0.3
    ).serve_background()
    yield srv
    srv.close()


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        assert r.headers["Content-Type"] == "application/json"
        return json.loads(r.read().decode())


# ------------------------------------------------------------- endpoints


def test_endpoints_match_batch_oracle(spark, server, served_sink):
    """The served payloads equal a batch recomputation of the same
    aggregate — the serving tier adds transport, not new math."""
    name, ev = served_sink
    per_window = (
        windowed_counts_scaled(ev)
        .select(
            "event_type",
            F.col("window.start").alias("minute"),
            "cnt",
        )
        .collect()
    )
    expect_emoji: dict[str, list[dict]] = {}
    for r in sorted(per_window, key=lambda r: (r["event_type"], r["minute"])):
        expect_emoji.setdefault(r["event_type"], []).append(
            {"timestamp": r["minute"].isoformat(), "count": r["cnt"]}
        )

    got = _get_json(f"{server.url}/api/emoji-data")
    assert got == expect_emoji

    total = _get_json(f"{server.url}/api/total-data")
    assert sum(b["count"] for b in total) == ev.count()
    assert [b["timestamp"] for b in total] == sorted(
        {b["timestamp"] for b in total}
    )

    stats = _get_json(f"{server.url}/api/stats")
    assert stats["window_minutes"] == 3
    assert stats["total_emojis"] == sum(stats["emoji_breakdown"].values())
    # the 3-minute recency cut keeps only windows ending within 3 min of
    # the newest window end — recompute from the batch frame
    ends = sorted({r["minute"] for r in per_window})
    cutoff = max(ends)  # window.start of last window; end = start + 1 min
    recent_total = sum(
        r["cnt"]
        for r in per_window
        # window.end > max(window.end) - 3 min  <=>  start > cutoff - 3 min
        if (cutoff - r["minute"]).total_seconds() < 180
    )
    assert stats["total_emojis"] == recent_total


def test_payload_builders_equal_endpoints(spark, server, served_sink):
    """HTTP layer returns exactly what the builders produce (S8: the
    endpoint IS the DataFrame query)."""
    name, _ = served_sink
    assert _get_json(f"{server.url}/api/stats") == json.loads(
        json.dumps(api_stats(spark, name), sort_keys=True)
    )
    assert _get_json(f"{server.url}/api/total-data") == api_total_data(
        spark, name
    )
    assert _get_json(f"{server.url}/api/emoji-data") == api_emoji_data(
        spark, name
    )


def test_dashboard_and_404(server):
    with urllib.request.urlopen(f"{server.url}/", timeout=30) as r:
        body = r.read()
        assert b"/api/stats" in body
        assert b"/dashboard" in body
    try:
        urllib.request.urlopen(f"{server.url}/nope", timeout=30)
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_dashboard_page_is_selfcontained_reference_twin(server):
    """/dashboard reproduces the reference's browser tier surface
    (analytical_server.py:420-540 dashboard + templates/index.html:119-135
    EventSource client) with zero external fetches: stat tiles + data
    table + both time-series charts polling the three JSON endpoints on
    the reference's 10 s cadence, and the live SSE feed skipping 'ping'
    idle frames. The reference loads Chart.js from a CDN; the engine page
    must render on an air-gapped cluster, so charts are inline canvas."""
    with urllib.request.urlopen(f"{server.url}/dashboard", timeout=30) as r:
        assert r.headers["Content-Type"] == "text/html"
        page = r.read().decode()
    # the three data endpoints the reference dashboard polls
    for endpoint in ("/api/stats", "/api/total-data", "/api/emoji-data"):
        assert endpoint in page
    # the reference dashboard's element ids (stat tiles + data table)
    for elem in ("totalEmojis", "uniqueTypes", "windowSize",
                 "dataTableBody", "totalChart", "emojiChart"):
        assert elem in page
    # live feed: EventSource on /events, ping frames skipped
    assert "EventSource('/events')" in page
    assert "ping" in page
    # reference cadence: auto-refresh every 10 s
    assert "setInterval(refreshData, 10000)" in page
    # self-contained: no CDN / external URL anywhere in the page
    assert "http://" not in page and "https://" not in page
    assert "<canvas" in page


# ------------------------------------------------------------------ SSE


def _open_sse(server):
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
    conn.request("GET", "/events")
    resp = conn.getresponse()
    assert resp.headers["Content-Type"] == "text/event-stream"
    return conn, resp


def _read_frame(resp) -> str:
    """One SSE frame = 'data: ...' line + blank line."""
    line = resp.fp.readline().decode()
    assert line.startswith("data: "), line
    assert resp.fp.readline() == b"\n"
    return line[len("data: "):].strip()


def test_sse_delivers_published_messages_then_pings(server):
    conn, resp = _open_sse(server)
    try:
        deadline = time.monotonic() + 10
        while server.hub.subscriber_count == 0:
            assert time.monotonic() < deadline, "subscriber never registered"
            time.sleep(0.02)
        server.hub.publish({"event_type": "fire", "cnt": 7})
        saw_msg = saw_ping = False
        for _ in range(5):
            payload = _read_frame(resp)
            if payload == "ping":
                saw_ping = True  # idle gap (0.3 s here, 20 s in prod)
            else:
                assert json.loads(payload) == {"event_type": "fire", "cnt": 7}
                saw_msg = True
            if saw_msg and saw_ping:
                break
        assert saw_msg and saw_ping
    finally:
        # resp holds a makefile() dup of the socket — close BOTH, or the
        # fd stays open and the server never sees the disconnect
        resp.close()
        conn.close()
    # the handler notices the dead socket on its next write and drops the
    # subscription (reference pubsub.py:24-31 eviction)
    deadline = time.monotonic() + 10
    while server.hub.subscriber_count > 0 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert server.hub.subscriber_count == 0


def test_sse_fanout_sink_streams_aggregate_rows(spark, served_sink, tmp_path):
    """fanout_foreach_batch + sse_batch_sink: every aggregate row of every
    micro-batch reaches the hub, window struct flattened to ISO strings."""
    _, ev = served_sink
    replay = str(tmp_path / "sse_replay")
    ev.write.parquet(replay)
    stream = spark.readStream.schema(ev.schema).parquet(replay)
    counts = windowed_counts_scaled(stream)

    hub = SseHub()
    _, q = hub.subscribe()
    sq = fanout_foreach_batch(
        counts, [sse_batch_sink(hub)], query_name="sse_test"
    )
    sq.processAllAvailable()
    sq.stop()

    got = []
    while True:
        try:
            got.append(q.get_nowait())
        except queue.Empty:
            break
    assert got, "no SSE messages delivered"
    total = sum(m["cnt"] for m in got)
    assert total == ev.count()
    m = got[0]
    assert set(m) == {"event_type", "window", "cnt", "scaled_count", "batch_id"}
    assert isinstance(m["window"], dict) and "start" in m["window"]
    assert isinstance(m["window"]["start"], str)  # ISO-flattened


def _trigger(q) -> tuple[str, int]:
    t = q._jsq.streamingQuery().trigger()
    return t.getClass().getSimpleName(), t.intervalMs()


def test_memory_sink_refreshes_on_reference_trigger(spark, served_sink, tmp_path):
    """The /api/* table refreshes on the reference's 2 s processing-time
    trigger (spark_consumer.py:52); the live fan-out over the same source
    keeps the as-fast-as-possible trigger, a 0 ms interval."""
    _, ev = served_sink
    replay = str(tmp_path / "trigger_replay")
    ev.limit(10).write.parquet(replay)
    stream = spark.readStream.schema(ev.schema).parquet(replay)
    counts = windowed_counts_scaled(stream)
    mem = start_memory_sink(counts, "trigger_probe")
    fan = fanout_foreach_batch(
        counts, [lambda df, batch_id: None], query_name="trigger_probe_fanout"
    )
    try:
        assert _trigger(mem) == ("ProcessingTimeTrigger", 2000)
        assert _trigger(fan) == ("ProcessingTimeTrigger", 0)
    finally:
        fan.stop()
        mem.stop()


# ---------------------------------------------------------------- websocket


def _ws_connect(server, timeout: float = 10.0):
    """Minimal RFC 6455 client: raw socket handshake against /ws.
    Returns (sock, rfile). Client frames are masked per §5.1."""
    import base64
    import socket

    host, port = "127.0.0.1", server.port
    key = base64.b64encode(b"0123456789abcdef").decode()
    s = socket.create_connection((host, port), timeout=timeout)
    s.sendall(
        (
            f"GET /ws HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    rfile = s.makefile("rb")
    status = rfile.readline().decode()
    assert " 101 " in status, status
    accept = None
    while True:
        line = rfile.readline().decode().strip()
        if not line:
            break
        k, _, v = line.partition(":")
        if k.lower() == "sec-websocket-accept":
            accept = v.strip()
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.serving import (
        _ws_accept_key,
    )

    assert accept == _ws_accept_key(key)  # RFC 6455 §4.2.2 proof
    return s, rfile


def _ws_read(rfile):
    """Read one unmasked server frame -> (opcode, payload bytes)."""
    hdr = rfile.read(2)
    assert len(hdr) == 2
    opcode = hdr[0] & 0x0F
    n = hdr[1] & 0x7F
    assert not (hdr[1] & 0x80)  # servers MUST NOT mask (§5.1)
    if n == 126:
        n = int.from_bytes(rfile.read(2), "big")
    elif n == 127:
        n = int.from_bytes(rfile.read(8), "big")
    return opcode, rfile.read(n)


def _ws_send(sock, payload: bytes, opcode: int) -> None:
    import os as _os

    mask = _os.urandom(4)
    assert len(payload) < 126
    frame = bytes([0x80 | opcode, 0x80 | len(payload)]) + mask + bytes(
        b ^ mask[i % 4] for i, b in enumerate(payload)
    )
    sock.sendall(frame)


def test_ws_handshake_broadcast_and_ping(server):
    """The ws twin of test_sse_delivers_published_messages_then_pings:
    handshake (accept-key checked), hub broadcast arrives as a text
    frame, idle gaps produce protocol PINGs, client PING gets a PONG,
    and a client CLOSE is echoed + unsubscribes."""
    sock, rfile = _ws_connect(server)
    try:
        deadline = time.monotonic() + 10
        while server.hub.subscriber_count == 0:
            assert time.monotonic() < deadline, "ws subscriber never registered"
            time.sleep(0.02)
        server.hub.publish({"event_type": "fire", "cnt": 9})
        saw_msg = saw_ping = False
        for _ in range(6):
            op, payload = _ws_read(rfile)
            if op == 0x9:
                saw_ping = True  # idle keep-alive (0.3 s here)
            elif op == 0x1:
                assert json.loads(payload) == {"event_type": "fire", "cnt": 9}
                saw_msg = True
            if saw_msg and saw_ping:
                break
        assert saw_msg and saw_ping
        # client ping -> server pong (may be preceded by idle pings)
        _ws_send(sock, b"hello", 0x9)
        for _ in range(6):
            op, payload = _ws_read(rfile)
            if op == 0xA:
                assert payload == b"hello"
                break
        else:
            raise AssertionError("no pong")
        # clean close: echo + unsubscribe
        _ws_send(sock, b"", 0x8)
        for _ in range(6):
            op, payload = _ws_read(rfile)
            if op == 0x8:
                break
        else:
            raise AssertionError("no close echo")
    finally:
        rfile.close()
        sock.close()
    deadline = time.monotonic() + 10
    while server.hub.subscriber_count > 0 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert server.hub.subscriber_count == 0


def test_ws_rejects_plain_get(server):
    """GET /ws without upgrade headers is a 400, not a hang."""
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(f"{server.url}/ws", timeout=10)
    assert ei.value.code == 400


def _masked_frame(payload: bytes, opcode: int) -> bytes:
    mask = b"\x01\x02\x03\x04"
    assert len(payload) < 126
    return bytes([0x80 | opcode, 0x80 | len(payload)]) + mask + bytes(
        b ^ mask[i % 4] for i, b in enumerate(payload)
    )


def test_ws_coalesced_control_frames_one_segment(server):
    """Two client frames sent in ONE TCP segment (ping then close) must
    BOTH be processed promptly: the first frame read pulls the whole
    segment into the server's rfile buffer, where select() can't see
    the second frame — the drain loop must also check the buffer
    (round-8 ADVICE). The pong and the close echo must both arrive
    well before the idle-ping timeout proves the server only found the
    buffered CLOSE on a later wakeup."""
    sock, rfile = _ws_connect(server)
    try:
        deadline = time.monotonic() + 10
        while server.hub.subscriber_count == 0:
            assert time.monotonic() < deadline
            time.sleep(0.02)
        # one segment: ping + close back-to-back
        sock.sendall(
            _masked_frame(b"both", 0x9) + _masked_frame(b"", 0x8)
        )
        saw_pong = saw_close = False
        for _ in range(8):
            op, payload = _ws_read(rfile)
            if op == 0xA:
                assert payload == b"both"
                saw_pong = True
            elif op == 0x8:
                saw_close = True
                break
        assert saw_pong and saw_close
    finally:
        rfile.close()
        sock.close()
    deadline = time.monotonic() + 10
    while server.hub.subscriber_count > 0 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert server.hub.subscriber_count == 0


def test_ws_oversized_frame_closes_connection(server):
    """A client frame declaring a payload beyond _WS_MAX_FRAME must end
    the connection (reader returns None -> handler exits and
    unsubscribes) instead of blocking the handler thread in a giant
    read (round-8 ADVICE)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.serving import (
        _WS_MAX_FRAME,
    )

    sock, rfile = _ws_connect(server)
    try:
        deadline = time.monotonic() + 10
        while server.hub.subscriber_count == 0:
            assert time.monotonic() < deadline
            time.sleep(0.02)
        # 127-form header declaring 2 MiB, no payload bytes following
        n = _WS_MAX_FRAME * 2
        sock.sendall(
            bytes([0x80 | 0x1, 0x80 | 127])
            + n.to_bytes(8, "big")
            + b"\x01\x02\x03\x04"
        )
        deadline = time.monotonic() + 10
        while server.hub.subscriber_count > 0:
            assert time.monotonic() < deadline, (
                "oversized frame did not close the ws connection"
            )
            time.sleep(0.05)
    finally:
        rfile.close()
        sock.close()


def test_ws_three_listener_cluster_topology(spark):
    """The reference's pub-sub tier runs THREE ws listeners
    (pubsub.py:33-41, ports 8765-8767) all broadcasting every consumed
    message. Engine twin: three StatsHttpServer instances sharing ONE
    SseHub — a single publish reaches a subscriber on each listener
    (examples/ws_cluster_demo.py is the runnable form)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.serving import (
        SseHub,
        StatsHttpServer,
    )

    hub = SseHub()
    servers = [
        StatsHttpServer(
            spark, "unused_sink", hub=hub, sse_idle_seconds=0.3
        ).serve_background()
        for _ in range(3)
    ]
    conns = []
    try:
        for s in servers:
            conns.append(_ws_connect(s))
        deadline = time.monotonic() + 10
        while hub.subscriber_count < 3:
            assert time.monotonic() < deadline
            time.sleep(0.02)
        hub.publish({"event_type": "clusterwide", "cnt": 3})
        for _, rfile in conns:
            for _ in range(6):
                op, payload = _ws_read(rfile)
                if op == 0x1:
                    assert json.loads(payload) == {
                        "event_type": "clusterwide",
                        "cnt": 3,
                    }
                    break
            else:
                raise AssertionError("listener missed the broadcast")
    finally:
        for sock, rfile in conns:
            rfile.close()
            sock.close()
        for s in servers:
            s.close()


def _read_until_eof(sock, rfile, seconds: float) -> bytes:
    """Everything the server sends until it closes the connection;
    fails if the connection is still open after ``seconds``."""
    end = time.monotonic() + seconds
    received = b""
    try:
        while True:
            sock.settimeout(max(end - time.monotonic(), 0.01))
            chunk = rfile.read1(65536)
            if not chunk:
                return received
            received += chunk
    except TimeoutError:
        pytest.fail(f"connection still open after {seconds} s: {received[-80:]!r}")


def _ws_frames(data: bytes) -> list[tuple[int, bytes]]:
    """Split a byte stream of small unmasked server frames."""
    frames, i = [], 0
    while i < len(data):
        op, n = data[i] & 0x0F, data[i + 1] & 0x7F
        i += 2
        if n == 126:
            n = int.from_bytes(data[i : i + 2], "big")
            i += 2
        frames.append((op, data[i : i + n]))
        i += n
    return frames


def _wait_subscribed(hub) -> None:
    deadline = time.monotonic() + 10
    while hub.subscriber_count == 0:
        assert time.monotonic() < deadline, "subscriber never registered"
        time.sleep(0.02)


@pytest.mark.parametrize("path", ["/events", "/ws"])
def test_dropped_subscriber_connection_ends(spark, path):
    """A subscriber the hub drops for a full queue gets what was already
    queued, then the connection ends (reference pubsub.py:14-31 discards
    the socket) instead of staying open on pings alone; /ws sends a
    CLOSE frame first."""
    import socket

    srv = StatsHttpServer(
        spark, "unused_sink", hub=SseHub(max_queue=2), sse_idle_seconds=0.2
    ).serve_background()
    try:
        if path == "/ws":
            sock, rfile = _ws_connect(srv)
        else:
            sock = socket.create_connection(("127.0.0.1", srv.port), timeout=10)
            sock.sendall(b"GET /events HTTP/1.1\r\nHost: 127.0.0.1\r\n\r\n")
            rfile = sock.makefile("rb")
        try:
            _wait_subscribed(srv.hub)
            for i in range(200):
                srv.hub.publish({"i": i})
            assert srv.hub.subscriber_count == 0  # dropped by the burst
            received = _read_until_eof(sock, rfile, 2.0)
        finally:
            rfile.close()
            sock.close()
    finally:
        srv.close()
    if path == "/ws":
        frames = _ws_frames(received)
        assert frames[-1] == (0x8, b"")
        got = [json.loads(p)["i"] for op, p in frames if op == 0x1]
    else:
        assert received.startswith(b"HTTP/1.0 200 ")
        got = [
            json.loads(line[len(b"data: ") :])["i"]
            for line in received.split(b"\n")
            if line.startswith(b"data: {")
        ]
    assert got == sorted(set(got)) and len(got) < 200


def test_ws_unmasked_client_frame_closes_connection(server):
    """Client frames MUST be masked (RFC 6455 §5.1): an unmasked PING
    gets no PONG, and the server closes the connection."""
    sock, rfile = _ws_connect(server)
    try:
        _wait_subscribed(server.hub)
        sock.sendall(bytes([0x80 | 0x9, 5]) + b"hello")
        received = _read_until_eof(sock, rfile, 5.0)
    finally:
        rfile.close()
        sock.close()
    assert 0xA not in [op for op, _ in _ws_frames(received)]
