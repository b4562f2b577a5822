"""HTTP ingest gateway tests: the reference's /send_emoji contract
(api_server.py:52-66) — status codes, payloads, queue backpressure,
batch spooling — and the spool→decode streaming path end to end."""

from __future__ import annotations

import json
import socket
import time
import urllib.error
import urllib.request
from collections import Counter

import pytest
from py4j.protocol import Py4JJavaError

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    windowed_counts_scaled,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.ingest import (
    IngestGateway,
    ingest_stream,
)


def _post(url: str, payload) -> tuple[int, dict]:
    req = urllib.request.Request(
        f"{url}/send_emoji",
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, json.loads(r.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


WIRE = {
    "user_id": "user_1",
    "emoji_type": "🔥",
    "timestamp": "2024-01-01T00:00:00.000000",
}


def test_send_emoji_contract(tmp_path):
    gw = IngestGateway(str(tmp_path / "spool")).serve_background()
    try:
        # accepted: reference api_server.py:58-61
        code, body = _post(gw.url, WIRE)
        assert (code, body) == (200, {"status": "Emoji data queued"})
        # missing field: api_server.py:54-56
        code, body = _post(gw.url, {"user_id": "u", "timestamp": "t"})
        assert (code, body) == (
            400,
            {"error": "Missing fields in request data"},
        )
        # non-JSON body is a validation failure, not a 500
        code, body = _post(gw.url, "not an object")
        assert code == 400
        assert gw.accepted_count == 1
    finally:
        gw.close()


def test_negative_content_length_gets_400_without_waiting(tmp_path):
    # a keep-alive POST declaring Content-Length: -1 must be answered at
    # once; reading -1 bytes would block until the client hangs up
    gw = IngestGateway(str(tmp_path / "spool")).serve_background()
    try:
        with socket.create_connection(("127.0.0.1", gw.port), timeout=2) as s:
            s.sendall(
                b"POST /send_emoji HTTP/1.1\r\n"
                b"Host: localhost\r\n"
                b"Content-Type: application/json\r\n"
                b"Content-Length: -1\r\n"
                b"Connection: keep-alive\r\n\r\n"
            )
            t0 = time.monotonic()
            status = s.recv(64).split(b"\r\n", 1)[0]
            assert time.monotonic() - t0 < 2.0
        assert status.split()[1] == b"400", status
        assert gw.accepted_count == 0
    finally:
        gw.close()


@pytest.mark.parametrize("declared", [1 << 30, 1 << 45], ids=["1GiB", "2^45"])
def test_oversized_content_length_gets_413_without_reading(tmp_path, declared):
    # a declared body far over the cap must be refused unread: reading
    # 1 GiB stalls the handler, and 2^45 bytes raises MemoryError
    gw = IngestGateway(str(tmp_path / "spool")).serve_background()
    try:
        with socket.create_connection(("127.0.0.1", gw.port), timeout=2) as s:
            t0 = time.monotonic()
            s.sendall(
                b"POST /send_emoji HTTP/1.1\r\n"
                b"Host: localhost\r\n"
                b"Content-Type: application/json\r\n"
                b"Content-Length: %d\r\n"
                b"Connection: keep-alive\r\n\r\n" % declared
                + json.dumps(WIRE).encode()[:48]
            )
            reply = b""
            while chunk := s.recv(4096):
                reply += chunk
            assert time.monotonic() - t0 < 2.0
        head, _, body = reply.partition(b"\r\n\r\n")
        assert head.split(b"\r\n", 1)[0].split()[1] == b"413", head
        assert json.loads(body) == {"error": "Request body too large"}
        assert gw.accepted_count == 0
    finally:
        gw.close()


def test_chunked_post_gets_411_and_one_reply(tmp_path):
    # a chunked body is not read: the reply is one 411 and the connection
    # closes, so the chunk lines are never parsed as a second request
    gw = IngestGateway(str(tmp_path / "spool")).serve_background()
    body = json.dumps(WIRE).encode()
    try:
        with socket.create_connection(("127.0.0.1", gw.port), timeout=2) as s:
            s.sendall(
                b"POST /send_emoji HTTP/1.1\r\n"
                b"Host: localhost\r\n"
                b"Content-Type: application/json\r\n"
                b"Transfer-Encoding: chunked\r\n"
                b"Connection: keep-alive\r\n\r\n"
                b"%x\r\n%s\r\n0\r\n\r\n" % (len(body), body)
            )
            reply = b""
            while chunk := s.recv(4096):
                reply += chunk
        head, _, rest = reply.partition(b"\r\n\r\n")
        assert head.split(b"\r\n", 1)[0].split()[1] == b"411", head
        assert json.loads(rest) == {"error": "Length Required"}
        assert gw.accepted_count == 0
    finally:
        gw.close()


def test_queue_backpressure_returns_503(tmp_path):
    # a 2-slot queue with NO drain: the third POST gets the reference's
    # 503 (api_server.py:62-63)
    gw = IngestGateway(
        str(tmp_path / "spool"), max_queue=2
    ).serve_background(flusher=False)
    try:
        assert _post(gw.url, WIRE)[0] == 200
        assert _post(gw.url, WIRE)[0] == 200
        code, body = _post(gw.url, WIRE)
        assert (code, body) == (503, {"error": "Message queue is full"})
    finally:
        gw.close()


def test_flusher_spools_batches_and_close_drains(tmp_path):
    spool = tmp_path / "spool"
    gw = IngestGateway(
        str(spool), batch_max=5, flush_interval=0.2
    ).serve_background()
    n = 12
    for i in range(n):
        payload = dict(WIRE, user_id=f"user_{i}")
        assert _post(gw.url, payload)[0] == 200
    deadline = time.monotonic() + 15
    while gw.flushed_count < n and time.monotonic() < deadline:
        time.sleep(0.05)
    gw.close()  # drains any residue
    assert gw.flushed_count == n
    lines = []
    for p in sorted(spool.glob("part-*.json")):
        lines += p.read_text().splitlines()
    assert len(lines) == n
    assert {json.loads(ln)["user_id"] for ln in lines} == {
        f"user_{i}" for i in range(n)
    }
    assert not list(spool.glob(".*.tmp"))  # every file landed atomically


def test_ingest_stream_decodes_spool_end_to_end(spark, tmp_path):
    """Gateway POSTs → spool → readStream.text → decode_wire_events:
    the full front door, typed ts included (no LEGACY parser)."""
    spool = tmp_path / "spool"
    gw = IngestGateway(
        str(spool), batch_max=4, flush_interval=0.2
    ).serve_background()
    try:
        n = 10
        for i in range(n):
            payload = {
                "user_id": f"user_{i}",
                "emoji_type": "🎉",
                "timestamp": f"2024-01-01T00:00:{i:02d}.000000",
            }
            assert _post(gw.url, payload)[0] == 200
        deadline = time.monotonic() + 15
        while gw.flushed_count < n and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        gw.close()
    q = (
        ingest_stream(spark, str(spool))
        .writeStream.format("memory")
        .queryName("ingest_e2e")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT user_id, emoji_type, ts FROM ingest_e2e"
        ).collect()
        assert len(rows) == n
        assert all(r.ts is not None for r in rows)  # typed timestamps
        assert {r.user_id for r in rows} == {f"user_{i}" for i in range(n)}
    finally:
        q.stop()


def test_close_final_drain_spools_unflushed_residue(tmp_path):
    """The shutdown race (round-8 ADVICE): a handler thread can ACK 200
    and enqueue after the flusher's stop-check — close() must sweep any
    residue into one last spool file so no acknowledged message is
    lost. Deterministic form: with NO flusher running, every accepted
    message IS residue, and close() alone must land all of them."""
    gw = IngestGateway(str(tmp_path / "spool")).serve_background(
        flusher=False
    )
    msgs = [
        {"user_id": f"u{i}", "emoji_type": "fire", "timestamp": "t"}
        for i in range(7)
    ]
    for m in msgs:
        code, body = _post(gw.url, m)
        assert code == 200, body
    assert gw.flushed_count == 0  # nothing drained yet — no flusher
    gw.close()
    assert gw.flushed_count == len(msgs)
    lines = []
    for p in sorted((tmp_path / "spool").glob("part-*.json")):
        lines += [
            json.loads(ln)
            for ln in p.read_text().splitlines()
            if ln.strip()
        ]
    assert sorted(m["user_id"] for m in lines) == sorted(
        m["user_id"] for m in msgs
    )


def test_backlog_drain_lists_files_without_a_spark_job(spark, tmp_path):
    """A backlog of more spool files than Spark's parallel-listing
    threshold (32) drains in one micro-batch whose file index is built
    on the driver: the local session launches no file-listing job, and
    the windowed counts equal the tallies of the written files."""
    spool = tmp_path / "spool"
    spool.mkdir()
    emojis = ["🔥", "🎉", "😂", "👍"]
    tally: Counter = Counter()
    for f in range(40):
        lines = []
        for i in range(25):
            n = f * 25 + i
            emoji = emojis[n % len(emojis)]
            minute, second = divmod(n // 5, 60)
            lines.append(json.dumps({
                "user_id": f"user_{n}",
                "emoji_type": emoji,
                "timestamp": f"2024-01-01T00:{minute:02d}:{second:02d}.000000",
            }, ensure_ascii=False))
            tally[(emoji, f"2024-01-01 00:{minute:02d}")] += 1
        # the gateway's spool format: one JSON object per line
        (spool / f"part-backlog0-{f:08d}.json").write_text(
            "\n".join(lines) + "\n", encoding="utf-8"
        )
    listing_jobs = (
        spark._jvm.org.apache.spark.metrics.source.HiveCatalogMetrics
        .METRIC_PARALLEL_LISTING_JOB_COUNT()
    )
    before = listing_jobs.getCount()
    q = (
        windowed_counts_scaled(
            ingest_stream(spark, str(spool)), key_col="emoji_type"
        )
        .writeStream.format("memory")
        .queryName("backlog_drain")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert listing_jobs.getCount() == before
    rows = spark.sql(
        "SELECT emoji_type, date_format(window.start, 'yyyy-MM-dd HH:mm')"
        " AS minute, cnt FROM backlog_drain"
    ).collect()
    assert {(r.emoji_type, r.minute): r.cnt for r in rows} == dict(tally)


def test_local_checkpoint_files_commit_through_filesystem_renames(
    spark, tmp_path
):
    """A local session commits checkpoint files through Hadoop's
    FileSystem API, whose rename forks no ``readlink`` per link lookup
    when the native library is absent. The commit protocol keeps its
    guarantees: the file gets its ``.crc`` sibling, and a second
    no-overwrite create of an existing file fails on close and leaves
    the first version in place, which is how the offset log detects a
    concurrent writer."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    manager = (
        jvm.org.apache.spark.sql.execution.streaming.checkpointing
        .CheckpointFileManager.create(target.getParent(), conf)
    )
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )
    first = manager.createAtomic(target, False)
    first.write(bytearray(b"v1"))
    first.close()
    second = manager.createAtomic(target, False)
    second.write(bytearray(b"v2"))
    with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
        second.close()
    assert (tmp_path / "0").read_bytes() == b"v1"
    assert (tmp_path / ".0.crc").is_file()
