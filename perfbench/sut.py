"""The system under test: one Spark driver process.

Run by ``run.py`` as ``python3 perfbench/sut.py <mode> <config-json>``.
It composes the engine from its public functions only and talks to the
generator over JSON lines: one ``{"ready": ...}`` line on stdout once
the pipeline is up, then, when stdin delivers ``finish``, one
``{"report": ...}`` line before it stops everything and exits.

After ``catchup`` reports, it serves the last drain's sink table over
``StatsHttpServer`` until stdin delivers ``stop``.

Modes:

* ``stream`` — the paper's topology, wired as
  ``examples/stats_api_server.py`` wires it but fed by the gateway's
  spool: ``IngestGateway`` → ``ingest_stream`` →
  ``windowed_counts_scaled`` → ``start_memory_sink`` and
  ``fanout_foreach_batch([sse_batch_sink(hub)])``, served by
  ``StatsHttpServer`` (``/api/*``, ``/ws``, ``/events``).
* ``catchup`` — ``ingest_stream`` → ``windowed_counts_scaled`` drained
  from an empty checkpoint over a pre-written backlog, repeated with a
  fresh checkpoint each time until the measuring time is used up.

With ``trace`` set, the benchmark's own ``hub.publish`` and sink
wrappers record what they saw; the package itself is never edited.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PKG = "cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark"
CORES = 4
SHUFFLE_PARTITIONS = 4  # the session's own rule: one per core
DRIVER_MEMORY = "1g"
DRAIN_TIMEOUT_S = 120
SINK_TABLE = "perfbench_live"
FANOUT_QUERY = "sse_fanout"
PHASES = (
    "triggerExecution",
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM, which exits when its stdin closes,
    so no process outlives the run."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)


def _emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def _session(cfg: dict):
    from importlib import import_module

    build_session = import_module(f"{PKG}.session").build_session
    work = cfg["workdir"]
    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


class ProgressLog:
    """Collects every ``StreamingQueryProgress`` through a listener
    (``query.recentProgress`` silently keeps only the last 100)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.rows: list[dict] = []
        self.input_rows: dict[str, int] = {}
        self._lock = threading.Lock()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                outer._add(event.progress, time.time())

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def _add(self, p, seen: float) -> None:
        ops = p.stateOperators
        row = {
            "name": p.name,
            "run_id": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "start": p.timestamp,
            "seen": seen,
            "ms": {k: p.durationMs.get(k, 0) for k in PHASES},
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self.rows.append(row)
            key = row["run_id"]
            self.input_rows[key] = self.input_rows.get(key, 0) + row["rows"]

    def total_rows(self, run_id: str) -> int:
        with self._lock:
            return self.input_rows.get(run_id, 0)


class Recorder:
    """The benchmark's wrappers around its own hub's bound ``publish``
    and around the sink callable it hands to ``fanout_foreach_batch``.
    ``hook_s`` is the time spent in their own bookkeeping."""

    def __init__(self, hub, sink) -> None:
        self.publishes: list[tuple] = []  # (t, seconds, batch, type, window, cnt)
        self.delivers: list[tuple] = []  # (batch, t, seconds, rows published)
        self.hook_s = 0.0
        self._publish, self._sink = hub.publish, sink
        hub.publish = self.publish

    def publish(self, msg: dict) -> int:
        t = time.time()
        p0 = time.perf_counter()
        n = self._publish(msg)
        p1 = time.perf_counter()
        self.publishes.append((t, p1 - p0, msg["batch_id"], msg["event_type"],
                               msg["window"]["start"][:19], msg["cnt"]))
        self.hook_s += time.perf_counter() - p1
        return n

    def sink(self, batch_df, batch_id: int) -> None:
        t = time.time()
        p0 = time.perf_counter()
        before = len(self.publishes)
        self._sink(batch_df, batch_id)
        p1 = time.perf_counter()
        self.delivers.append((batch_id, t, p1 - p0, len(self.publishes) - before))
        self.hook_s += time.perf_counter() - p1


def _final_counts(spark, table: str) -> list[list]:
    from importlib import import_module

    latest_counts = import_module(f"{PKG}.streaming.serving").latest_counts
    return [
        [r["event_type"], r["window"]["start"].isoformat()[:19], r["cnt"]]
        for r in latest_counts(spark, table).collect()
    ]


def run_stream(cfg: dict) -> None:
    from importlib import import_module

    spark, session_s = _session(cfg)
    ingest = import_module(f"{PKG}.streaming.ingest")
    core = import_module(f"{PKG}.streaming.core")
    sinks = import_module(f"{PKG}.streaming.sinks")
    serving = import_module(f"{PKG}.streaming.serving")
    progress = ProgressLog(spark)

    spool = os.path.join(cfg["workdir"], "spool")
    gateway = ingest.IngestGateway(spool).serve_background()
    events = ingest.ingest_stream(spark, spool).withColumnRenamed(
        "emoji_type", "event_type"
    )
    counts = core.windowed_counts_scaled(events)
    mem_q = sinks.start_memory_sink(counts, SINK_TABLE, output_mode="update")

    hub = serving.SseHub()
    sink = serving.sse_batch_sink(hub)
    rec = Recorder(hub, sink) if cfg["trace"] else None
    if rec:
        sink = rec.sink
    fan_q = sinks.fanout_foreach_batch(counts, [sink], query_name=FANOUT_QUERY)
    server = serving.StatsHttpServer(spark, SINK_TABLE, hub=hub).serve_background()
    _emit({
        "ready": {
            "gateway": gateway.url,
            "server": server.url,
            "session_s": session_s,
        }
    })

    for line in sys.stdin:
        if line.strip() == "finish":
            break
    # Drain: everything the gateway accepted reaches both sinks.
    gateway.close()
    mem_q.processAllAvailable()
    fan_q.processAllAvailable()
    subscribers = hub.subscriber_count
    report = {
        "accepted": gateway.accepted_count,
        "spool": [
            [n, os.stat(os.path.join(spool, n)).st_mtime, _lines(os.path.join(spool, n))]
            for n in sorted(os.listdir(spool))
            if n.startswith("part-")
        ],
        "final_counts": _final_counts(spark, SINK_TABLE),
        "sink_table_rows": spark.sql(f"SELECT * FROM {SINK_TABLE}").count(),
        "subscribers_at_finish": subscribers,
        "progress": progress.rows,
        "publish": rec.publishes if rec else [],
        "deliver": rec.delivers if rec else [],
        "hook_s": rec.hook_s if rec else 0.0,
        "session_s": session_s,
    }
    _emit({"report": report})
    sys.stdin.readline()  # "stop" or EOF: the generator's final reads are done
    server.close()
    fan_q.stop()
    mem_q.stop()
    _stop(spark)


def _lines(path: str) -> int:
    with open(path, "rb") as fh:
        return sum(1 for _ in fh)


def run_catchup(cfg: dict) -> None:
    """Warm-up drains, then timed drains until ``seconds`` is spent."""
    from importlib import import_module

    spark, session_s = _session(cfg)
    ingest = import_module(f"{PKG}.streaming.ingest")
    core = import_module(f"{PKG}.streaming.core")
    progress = ProgressLog(spark)
    backlog, expected = cfg["backlog"], cfg["backlog_events"]

    def drain(i: int) -> dict:
        table = f"catchup_{i}"
        events = ingest.ingest_stream(spark, backlog).withColumnRenamed(
            "emoji_type", "event_type"
        )
        counts = core.windowed_counts_scaled(events)
        writer = counts.writeStream.outputMode("update").format("memory").queryName(table)
        t0 = time.time()
        p0 = time.perf_counter()
        q = writer.start()
        run_id = str(q.runId)
        deadline = p0 + DRAIN_TIMEOUT_S
        while progress.total_rows(run_id) < expected and time.perf_counter() < deadline:
            time.sleep(0.005)
        drain_s = time.perf_counter() - p0
        q.stop()
        return {
            "run_id": run_id, "start": t0, "drain_s": drain_s,
            "rows": progress.total_rows(run_id),
            "final_counts": _final_counts(spark, table),
        }

    drains = [drain(i) for i in range(cfg["warmup_drains"])]
    _emit({"ready": {"session_s": session_s}})
    stop_at = time.perf_counter() + cfg["seconds"]
    while len(drains) == cfg["warmup_drains"] or time.perf_counter() < stop_at:
        drains.append(drain(len(drains)))
    # Serve the last drain's sink table for the generator's read-path checks.
    table = f"catchup_{len(drains) - 1}"
    serving = import_module(f"{PKG}.streaming.serving")
    server = serving.StatsHttpServer(spark, table).serve_background()
    _emit({"report": {
        "drains": drains,
        "progress": progress.rows,
        "session_s": session_s,
        "server": server.url,
        "sink_table_rows": spark.sql(f"SELECT * FROM {table}").count(),
    }})
    sys.stdin.readline()
    server.close()
    _stop(spark)


def main() -> None:
    mode, cfg = sys.argv[1], json.loads(sys.argv[2])
    os.makedirs(os.path.join(cfg["workdir"], "tmp"), exist_ok=True)
    {"stream": run_stream, "catchup": run_catchup}[mode](cfg)


if __name__ == "__main__":
    main()
