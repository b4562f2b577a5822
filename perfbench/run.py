"""Benchmark entry point.

    python3 perfbench/run.py --workload <broadcast|catchup> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. This process is the load generator: it
makes the seeded inputs, starts the system under test
(``perfbench/sut.py``, one Spark driver) as a child process, feeds it,
checks its outputs, and prints two JSON lines on stdout: the seed with
run details (warm-up exclusions, sample counts, failures), then, last,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import client  # noqa: E402
import inputs  # noqa: E402
from stats import median, self_times, tail  # noqa: E402

PKG = "cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark"

BROADCAST_RATE = 500  # events/s offered, open loop
BROADCAST_WARMUP_S = 30.0  # dropped: trigger time falls for ~30 s (JIT)
REFLECT_TIMEOUT_S = 15.0
CATCHUP_EVENTS = 200_000
CATCHUP_WARMUP_DRAINS = 6  # drain time falls for the first ~6 drains (JIT)
# A run holds 6-11 timed drains, too few to put ten above any percentile;
# the slowest one swings with single hiccups, so the tail is fixed at p75.
CATCHUP_TAIL_PCT = 75
API_PATHS = ["/api/stats", "/api/emoji-data", "/api/total-data"]
API_ROUNDS = 3

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}
PHASE_METRIC = {
    "triggerExecution": "streaming.core.trigger_ms_p50",
    "latestOffset": "streaming.core.latestOffset_ms_p50",
    "getBatch": "streaming.core.getBatch_ms_p50",
    "queryPlanning": "streaming.core.queryPlanning_ms_p50",
    "addBatch": "streaming.core.addBatch_ms_p50",
    "walCommit": "streaming.core.walCommit_ms_p50",
    "commitOffsets": "streaming.core.commitOffsets_ms_p50",
}
API_METRIC = {
    "/api/stats": "streaming.serving.api_stats_ms_p50",
    "/api/emoji-data": "streaming.serving.api_emoji_data_ms_p50",
    "/api/total-data": "streaming.serving.api_total_data_ms_p50",
}
HOPS = ("gen", "ingest", "core", "sinks", "serving")
PER_LAYER = {
    "streaming.ingest.flush_wait_ms_p50": "ms",
    "streaming.ingest.ack_ms_p50": "ms",
    "streaming.ingest.ack_ms_tail": "ms",
    "streaming.ingest.events_per_file": "count",
    "streaming.ingest.rejected": "count",
    "streaming.core.batches": "count",
    **{m: "ms" for m in PHASE_METRIC.values()},
    "streaming.core.file_to_publish_ms_p50": "ms",
    "streaming.core.decodes_per_event": "ratio",
    "streaming.core.state_rows": "count",
    "streaming.core.state_bytes": "bytes",
    "streaming.sinks.deliver_ms_p50": "ms",
    "streaming.sinks.rows_per_batch": "count",
    "streaming.serving.publish_us_p50": "us",
    "streaming.serving.ws_lag_ms_p50": "ms",
    "streaming.serving.sse_lag_ms_p50": "ms",
    "streaming.serving.dropped_subscribers": "count",
    **{m: "ms" for m in API_METRIC.values()},
    "streaming.serving.sink_table_rows": "count",
    "session.build_s": "s",
    "gen.late_ms_tail": "ms",
    **{f"selftime.{h}_ms_p50": "ms" for h in HOPS},
    "selftime.core.microbatch_ms_p50": "ms",
    "selftime.sinks.deliver_ms_p50": "ms",
    "trace.latency_p50_ms": "ms",
    "trace.hook_ms": "ms",
}


class Sut:
    """The system-under-test child process and its JSON-lines channel."""

    def __init__(self, mode: str, cfg: dict) -> None:
        work = cfg["workdir"]
        env = dict(os.environ)
        env.update({
            "TZ": "UTC",
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "PYTHONUNBUFFERED": "1",
            # every JVM the child starts keeps its files in the work dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp "
                                 f"-Dderby.system.home={work}/derby",
        })
        self.err = open(os.path.join(work, "sut.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sut.py"), mode, json.dumps(cfg)],
            cwd=work, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self.err,
        )

    def read(self, key: str) -> dict:
        for line in self.proc.stdout:
            if line.startswith(b"{"):
                msg = json.loads(line)
                if key in msg:
                    return msg[key]
        raise RuntimeError(f"system under test exited before sending {key!r}")

    def send(self, line: str) -> None:
        self.proc.stdin.write((line + "\n").encode())
        self.proc.stdin.flush()

    def close(self) -> None:
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.err.close()


def _mismatch(expected: dict, seen: dict) -> int:
    """Events the observer is missing or over-counting, summed over keys."""
    keys = set(expected) | set(seen)
    return sum(abs(expected.get(k, 0) - seen.get(k, 0)) for k in keys)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso + "+00:00").timestamp()


def _api_failures(expected: dict, responses: list[tuple]) -> dict[str, int]:
    """Per path, the responses from ``(path, status, body)`` that are not
    200 or whose payload disagrees with the tallies: per-(type, minute)
    counts, per-minute totals, and the ``/api/stats`` total over windows
    ending in the last 3 minutes."""
    by_minute: dict[str, int] = {}
    for (_, w), n in expected.items():
        by_minute[w] = by_minute.get(w, 0) + n
    last_end = _epoch(max(by_minute)) + 60 if by_minute else 0.0
    recent = sum(n for w, n in by_minute.items() if _epoch(w) + 60 > last_end - 180)
    bad: dict[str, int] = {}
    for path, status, body in responses:
        wrong = status != 200
        if not wrong:
            data = json.loads(body)
            if path == "/api/emoji-data":
                got = {(et, p["timestamp"][:19]): p["count"]
                       for et, pts in data.items() for p in pts}
                wrong = _mismatch(expected, got) > 0
            elif path == "/api/total-data":
                got = {p["timestamp"][:19]: p["count"] for p in data}
                wrong = _mismatch(by_minute, got) > 0
            else:
                wrong = data["total_emojis"] != recent
        if wrong:
            bad[path] = bad.get(path, 0) + 1
    return bad


def _span(sid: str, name: str, parent, start: float, end: float) -> dict:
    return {"id": sid, "name": name, "parent": parent, "start": start, "end": max(start, end)}


def _progress_start(p: dict) -> float:
    return datetime.fromisoformat(p["start"].replace("Z", "+00:00")).timestamp()


def _core_layers(L: dict, batches: list[dict]) -> None:
    L["streaming.core.batches"] = len(batches)
    for phase, metric in PHASE_METRIC.items():
        L[metric] = median([p["ms"][phase] for p in batches])
    if batches:
        L["streaming.core.state_rows"] = batches[-1]["state_rows"]
        L["streaming.core.state_bytes"] = batches[-1]["state_bytes"]


def run_broadcast(seed: int, seconds: float, trace: bool, work: str) -> dict:
    warm = BROADCAST_WARMUP_S
    events = inputs.make_events(seed, BROADCAST_RATE, warm + seconds)
    expected = inputs.tally(events)
    sut = Sut("stream", {"workdir": work, "trace": trace})
    try:
        ready = sut.read("ready")
        ws = client.WsSubscriber(ready["server"])
        sse = client.SseSubscriber(ready["server"])
        for sub in (ws, sse):
            sub.start()
            sub.ready.wait(30)
        t0 = time.time() + 0.2
        t_measure = t0 + warm
        poster = client.PostLoop(ready["gateway"], events, t0)
        poster.start()
        poster.join()
        # Let the stream reflect everything on its own schedule.
        deadline = time.time() + REFLECT_TIMEOUT_S
        while time.time() < deadline and (
            _mismatch(expected, ws.counts()) or _mismatch(expected, sse.counts())
        ):
            time.sleep(0.05)
        sut.send("finish")
        report = sut.read("report")
        api = [(p, *client.get(ready["server"], p)) for p in API_PATHS]
        ws.close()
        sse.close()
        sut.send("stop")
    finally:
        sut.close()

    sent = poster.sent
    sink_counts = {(a, b): c for a, b, c in report["final_counts"]}
    bad_gets = _api_failures(expected, api)
    bad_keys = {k for seen in (ws.counts(), sse.counts(), sink_counts)
                for k in expected if seen.get(k, 0) != expected[k]}

    # Each event's ordinal within its key, in send order (one connection,
    # so also spool order); the first /ws update whose cnt reaches it
    # is when a subscriber saw the event.
    updates: dict[tuple, list] = {}
    for t, batch, et, w, cnt in ws.msgs:
        updates.setdefault((et, w), []).append((cnt, t, batch))
    for lst in updates.values():
        lst.sort()
    ordinal: dict[tuple, int] = {}
    pos: dict[tuple, int] = {}
    lat, covers, unreflected = [], [], 0
    failed_events = 0
    for i, e in enumerate(events):
        key = (e.emoji, e.window)
        k = ordinal[key] = ordinal.get(key, 0) + 1
        lst, j = updates.get(key, []), pos.get(key, 0)
        while j < len(lst) and lst[j][0] < k:
            j += 1
        pos[key] = j
        reflected = j < len(lst)
        unreflected += not reflected
        failed_events += (not reflected or key in bad_keys
                          or i >= len(sent) or sent[i][2] != 200)
        if not reflected:
            continue
        _, recv, batch = lst[j]
        due = t0 + e.due_s
        if due >= t_measure:
            lat.append(((recv - due) * 1e3, batch))
            covers.append((i, recv, batch))
    failures = {
        "post_non_200": sum(1 for s in sent if s[2] != 200),
        "unsent": len(events) - len(sent),
        "accepted_mismatch": abs(report["accepted"] - len(events)),
        "unreflected_ws": unreflected,
        "ws_count_mismatch": _mismatch(expected, ws.counts()),
        "sse_count_mismatch": _mismatch(expected, sse.counts()),
        "memory_sink_mismatch": _mismatch(expected, sink_counts),
        **{f"bad_get{p}": n for p, n in bad_gets.items()},
    }

    tail_v, tail_p, beyond = tail(lat)
    m = {
        "setup_s": t_measure - T_PROCESS,
        "latency_p50_ms": median([v for v, _ in lat]),
        "latency_tail_ms": tail_v,
    }
    fan = [p for p in report["progress"] if p["name"] == "sse_fanout"]
    info = {
        "seed": seed, "workload": "broadcast", "sut_exit": sut.proc.returncode,
        "offered_rate_per_s": BROADCAST_RATE,
        "warmup_s": warm, "measured_s": seconds,
        "excluded_warmup_events": len(events) - len(covers) - unreflected,
        "excluded_warmup_batches": sum(1 for p in fan if p["seen"] < t_measure),
        "measured_events": len(covers),
        "latency_unit": "event; independent unit: micro-batch",
        "independent_samples": len({b for _, b in lat}),
        "tail_percentile": round(tail_p, 2),
        "tail_independent_samples_beyond": beyond,
        "failures": failures,
    }
    failed = failed_events + sum(bad_gets.values())
    out = {"correct": failed == 0 and not any(failures.values()),
           "attempted": len(events) + len(api), "failed": failed}
    if trace:
        m = broadcast_layers(events, t0, t_measure, sent, covers, ws, sse, report, lat, seed)
    return {**out, "metrics": m, "info": info}


def broadcast_layers(events, t0, t_measure, sent, covers, ws, sse, report, lat, seed) -> dict:
    """Per-layer metrics and spans for a traced broadcast run."""
    L: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    file_mtime: list[float] = []  # spool files in write order, one entry per line
    for _, mtime, n in report["spool"]:
        file_mtime.extend([mtime] * n)
    measured = [i for i, e in enumerate(events) if t0 + e.due_s >= t_measure]
    L["streaming.ingest.flush_wait_ms_p50"] = median(
        [(file_mtime[i] - (t0 + events[i].due_s)) * 1e3 for i in measured if i < len(file_mtime)]
    )
    acks = [((sent[i][1] - sent[i][0]) * 1e3, i) for i in measured]
    L["streaming.ingest.ack_ms_p50"] = median([a for a, _ in acks])
    L["streaming.ingest.ack_ms_tail"] = tail(acks)[0]
    L["streaming.ingest.events_per_file"] = median([n for _, _, n in report["spool"]])
    L["streaming.ingest.rejected"] = sum(1 for s in sent if s[2] != 200)
    L["gen.late_ms_tail"] = tail(
        [((sent[i][0] - (t0 + events[i].due_s)) * 1e3, i) for i in measured])[0]

    prog = [p for p in report["progress"] if p["seen"] >= t_measure]
    fan = [p for p in prog if p["name"] == "sse_fanout" and p["rows"] > 0]
    _core_layers(L, fan)
    # over the whole run, so batches straddling the window edges count once
    L["streaming.core.decodes_per_event"] = (
        sum(p["rows"] for p in report["progress"]) / max(1, report["accepted"]))

    pub = {(b, et, w): (t, dt) for t, dt, b, et, w, _ in report["publish"]}
    deliver = {b: (t, dt) for b, t, dt, _ in report["deliver"]}
    meas_deliver = [d for d in report["deliver"] if d[1] >= t_measure]
    L["streaming.sinks.deliver_ms_p50"] = median([d[2] * 1e3 for d in meas_deliver])
    L["streaming.sinks.rows_per_batch"] = median([d[3] for d in meas_deliver])
    L["streaming.serving.publish_us_p50"] = median(
        [dt * 1e6 for t, dt, *_ in report["publish"] if t >= t_measure])
    for sub, metric in ((ws, "streaming.serving.ws_lag_ms_p50"),
                        (sse, "streaming.serving.sse_lag_ms_p50")):
        L[metric] = median([(t - pub[(b, et, w)][0]) * 1e3
                            for t, b, et, w, _ in sub.msgs
                            if t >= t_measure and (b, et, w) in pub])
    L["streaming.serving.dropped_subscribers"] = 2 - report["subscribers_at_finish"]
    L["streaming.serving.sink_table_rows"] = report["sink_table_rows"]
    L["session.build_s"] = report["session_s"]

    # Each measured event's path as hops that tile its latency, plus
    # micro-batch ⊃ sink deliver ⊃ hub publish from the system side.
    spans: list[dict] = []
    file_to_publish = []
    for i, recv, batch in covers:
        e = events[i]
        key = (batch, e.emoji, e.window)
        if key not in pub or batch not in deliver or i >= len(file_mtime):
            continue
        due, send, mtime = t0 + e.due_s, sent[i][0], file_mtime[i]
        t_del, t_pub = deliver[batch][0], pub[key][0]
        file_to_publish.append((t_pub - mtime) * 1e3)
        root = f"e{i}"
        spans.append(_span(root, "event", None, due, recv))
        for hop, a, b in zip(HOPS, (due, send, mtime, t_del, t_pub),
                             (send, mtime, t_del, t_pub, recv)):
            spans.append(_span(f"{root}.{hop}", hop, root, a, b))
    L["streaming.core.file_to_publish_ms_p50"] = median(file_to_publish)
    by_batch: dict[int, list] = {}
    for (b, et, w), (tp, dtp) in pub.items():
        by_batch.setdefault(b, []).append((f"{et}.{w}", tp, dtp))
    for p in fan:
        start, bid = _progress_start(p), f"b{p['batch']}"
        spans.append(_span(bid, "core.microbatch", None, start,
                           start + p["ms"]["triggerExecution"] / 1e3))
        if p["batch"] in deliver:
            t, dt = deliver[p["batch"]]
            spans.append(_span(f"{bid}.d", "sinks.deliver", bid, t, t + dt))
            for key, tp, dtp in by_batch.get(p["batch"], []):
                spans.append(_span(f"{bid}.p.{key}", "serving.publish", f"{bid}.d", tp, tp + dtp))
    st = self_times(spans)
    for name in (*HOPS, "core.microbatch", "sinks.deliver"):
        L[f"selftime.{name}_ms_p50"] = median([x * 1e3 for x in st.get(name, [])])
    L["trace.latency_p50_ms"] = median([v for v, _ in lat])
    L["trace.hook_ms"] = report["hook_s"] * 1e3
    write_spans(spans, "broadcast", seed)
    return L


def run_catchup(seed: int, seconds: float, trace: bool, work: str) -> dict:
    backlog = os.path.join(work, "backlog")
    expected = inputs.write_backlog(seed, CATCHUP_EVENTS, backlog)
    cfg = {"workdir": work, "backlog": backlog,
           "backlog_events": CATCHUP_EVENTS, "warmup_drains": CATCHUP_WARMUP_DRAINS,
           "seconds": seconds}
    sut = Sut("catchup", cfg)
    try:
        sut.read("ready")
        t_measure = time.time()
        report = sut.read("report")
        # The read path over the last drain's sink table, off the clock.
        api = []
        for _ in range(API_ROUNDS):
            for path in API_PATHS:
                start = time.time()
                status, body = client.get(report["server"], path)
                api.append((path, status, body, start, time.time()))
        sut.send("stop")
    finally:
        sut.close()
    warm = report["drains"][:CATCHUP_WARMUP_DRAINS]
    drains = report["drains"][CATCHUP_WARMUP_DRAINS:]
    failures = {}
    for j, d in enumerate(report["drains"]):
        got = {(a, b): c for a, b, c in d["final_counts"]}
        wrong = _mismatch(expected, got) + abs(d["rows"] - CATCHUP_EVENTS)
        if wrong:
            failures[f"drain{j}_mismatch"] = wrong
    bad_gets = _api_failures(expected, [a[:3] for a in api])
    failures.update({f"bad_get{p}": n for p, n in bad_gets.items()})
    times = [d["drain_s"] for d in drains]
    ranked = sorted(times)
    rank = math.ceil(CATCHUP_TAIL_PCT / 100 * len(ranked))  # nearest rank
    m = {
        "setup_s": t_measure - T_PROCESS,
        "latency_p50_ms": median(times) * 1e3,
        "latency_tail_ms": ranked[rank - 1] * 1e3,
    }
    info = {
        "seed": seed, "workload": "catchup", "sut_exit": sut.proc.returncode,
        "backlog_events": CATCHUP_EVENTS,
        "measured_s": seconds, "drain_s": times, "excluded_warmup_drains": len(warm),
        "warmup_drain_s": [d["drain_s"] for d in warm], "latency_unit": "drain",
        "events_per_s": CATCHUP_EVENTS / median(times),
        "independent_samples": len(drains), "tail_percentile": CATCHUP_TAIL_PCT,
        "tail_independent_samples_beyond": len(ranked) - rank, "failures": failures,
    }
    failed = sum(1 for k in failures if k.startswith("drain")) + sum(bad_gets.values())
    out = {"correct": failed == 0, "attempted": len(report["drains"]) + len(api),
           "failed": failed}
    if not trace:
        return {**out, "metrics": m, "info": info}

    L: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    run_ids = {d["run_id"] for d in drains}
    prog = [p for p in report["progress"] if p["run_id"] in run_ids and p["rows"] > 0]
    _core_layers(L, prog)
    L["streaming.core.decodes_per_event"] = sum(p["rows"] for p in prog) / (
        CATCHUP_EVENTS * len(drains))
    for path, metric in API_METRIC.items():
        L[metric] = median([(a[4] - a[3]) * 1e3 for a in api if a[0] == path and a[1] == 200])
    L["streaming.serving.sink_table_rows"] = report["sink_table_rows"]
    L["session.build_s"] = report["session_s"]
    spans = []
    for j, d in enumerate(drains):
        spans.append(_span(f"d{j}", "catchup.drain", None, d["start"], d["start"] + d["drain_s"]))
        for p in prog:
            if p["run_id"] == d["run_id"]:
                start = _progress_start(p)
                spans.append(_span(f"d{j}.b{p['batch']}", "core.microbatch", f"d{j}", start,
                                   start + p["ms"]["triggerExecution"] / 1e3))
    spans += [_span(f"g{j}", "serving.get", None, a[3], a[4]) for j, a in enumerate(api)]
    st = self_times(spans)
    L["selftime.core.microbatch_ms_p50"] = median([x * 1e3 for x in st.get("core.microbatch", [])])
    L["selftime.core_ms_p50"] = median([x * 1e3 for x in st.get("catchup.drain", [])])
    L["trace.latency_p50_ms"] = m["latency_p50_ms"]
    write_spans(spans, "catchup", seed)
    return {**out, "metrics": L, "info": info}


def write_spans(spans: list[dict], name: str, seed: int) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"trace-{name}-seed{seed}.json"), "w") as fh:
        json.dump(spans, fh)


WORKLOADS = {"broadcast": run_broadcast, "catchup": run_catchup}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "streaming", "ingest.py")):
        print(f"engine package {PKG} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"seed": args.seed, "info": res.pop("info")}, sort_keys=True))
    res["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
