"""The benchmark's inputs are a pure function of the seed.

Run: python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_events_repeat_for_a_seed_and_differ_across_seeds():
    a = inputs.make_events(7, rate=500, seconds=4)
    b = inputs.make_events(7, rate=500, seconds=4)
    c = inputs.make_events(8, rate=500, seconds=4)
    assert [(e.due_s, e.body) for e in a] == [(e.due_s, e.body) for e in b]
    assert [e.body for e in a] != [e.body for e in c]
    assert len(a) == 2000
    # due times follow the offered rate, not the seed
    assert [e.due_s for e in a] == [e.due_s for e in c]


def test_events_are_stamped_at_their_due_time_over_the_reference_emoji():
    events = inputs.make_events(3, rate=500, seconds=10)
    for e in events:
        msg = json.loads(e.body)
        ts = datetime.datetime.fromisoformat(msg["timestamp"] + "+00:00").timestamp()
        assert abs(inputs.EPOCH_US / 1e6 + e.due_s - ts) < 1e-6
        assert msg["emoji_type"] == e.emoji
        assert str(uuid.UUID(msg["user_id"], version=4)) == msg["user_id"]
    assert {e.emoji for e in events} == set(inputs.EMOJI)
    assert sum(inputs.tally(events).values()) == len(events)


def test_backlog_files_repeat_for_a_seed_and_differ_across_seeds(tmp_path):
    dirs = [str(tmp_path / name) for name in ("a", "b", "c")]
    ta = inputs.write_backlog(5, 2500, dirs[0])
    tb = inputs.write_backlog(5, 2500, dirs[1])
    inputs.write_backlog(6, 2500, dirs[2])
    fa, fb, fc = (_files(d) for d in dirs)
    assert fa == fb
    assert fa != fc
    assert ta == tb and sum(ta.values()) == 2500
    # the gateway's format: 1,000 JSON lines per part file
    assert sorted(fa) == [f"part-backlog-{i:08d}.json" for i in range(3)]
    first = fa["part-backlog-00000000.json"].decode().splitlines()
    assert len(first) == inputs.LINES_PER_FILE
    # byte-for-byte what the gateway's flusher writes for each message
    assert all(line == json.dumps(json.loads(line), ensure_ascii=False) for line in first)
