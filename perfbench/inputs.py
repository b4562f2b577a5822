"""Seeded input generation for the benchmark workloads.

Everything the system under test receives is made here from the seed:
the POST schedule (payload bytes and due offsets) for the live
workloads, and the spool backlog for ``catchup``. The same seed gives
byte-identical inputs; no wall-clock value enters a payload, because
event timestamps count from a fixed epoch at the offered rate.
"""

from __future__ import annotations

import datetime
import functools
import os
import random
import uuid
from collections import Counter
from dataclasses import dataclass

# Traffic as the reference client makes it (SURVEY.md, R1): a uniform pick
# from its 10-emoji list, a uuid4 user id, and the send time as timestamp.
EMOJI = ["👍", "❤️", "😂", "🎉", "😢", "🔥", "👏", "🏆", "😮", "💔"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
LINES_PER_FILE = 1000  # the gateway's batch_max
# The backlog is traffic as one reference client sends it at its design
# rate, MAX_EMOJIS_PER_SECOND_PER_CLIENT (SURVEY.md, section 6).
BACKLOG_RATE = 1000


@dataclass(frozen=True)
class Event:
    due_s: float  # offset from the schedule start
    body: bytes  # the POST body, JSON as the reference client sends it
    emoji: str
    window: str  # ISO start of the event's 1-minute tumbling window


@functools.lru_cache(maxsize=4096)
def _iso_second(sec: int) -> str:
    d = datetime.datetime.fromtimestamp(sec, tz=datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S")


def _iso(ts_us: int) -> str:
    sec, micro = divmod(ts_us, 1_000_000)
    return f"{_iso_second(sec)}.{micro:06d}"


def _window_start(ts_us: int) -> str:
    return _iso_second((ts_us - ts_us % 60_000_000) // 1_000_000)


def _payload(rng: random.Random, emoji: str, ts_us: int) -> str:
    # Same bytes json.dumps(msg, ensure_ascii=False) writes for this dict.
    user = uuid.UUID(int=rng.getrandbits(128), version=4)
    return (
        f'{{"user_id": "{user}", "emoji_type": "{emoji}", '
        f'"timestamp": "{_iso(ts_us)}"}}'
    )


def make_events(seed: int, rate: int, seconds: float) -> list[Event]:
    """Open-loop schedule: event ``i`` is due at ``i / rate`` s and is
    stamped at that instant of event time."""
    rng = random.Random(seed)
    out = []
    for i in range(int(rate * seconds)):
        due_us = i * 1_000_000 // rate
        ts_us = EPOCH_US + due_us
        emoji = rng.choice(EMOJI)
        body = _payload(rng, emoji, ts_us).encode()
        out.append(Event(due_us / 1e6, body, emoji, _window_start(ts_us)))
    return out


def tally(events: list[Event]) -> Counter:
    """Expected final count per ``(emoji_type, window start)``."""
    return Counter((e.emoji, e.window) for e in events)


def write_backlog(seed: int, n_events: int, spool_dir: str) -> Counter:
    """Spool files in the gateway's own format (``part-*.json``,
    ``LINES_PER_FILE`` JSON lines each); returns the expected tallies."""
    rng = random.Random(seed)
    os.makedirs(spool_dir, exist_ok=True)
    counts: Counter = Counter()
    step_us = 1_000_000 // BACKLOG_RATE
    for f, lo in enumerate(range(0, n_events, LINES_PER_FILE)):
        lines = []
        for i in range(lo, min(lo + LINES_PER_FILE, n_events)):
            ts_us = EPOCH_US + i * step_us
            emoji = rng.choice(EMOJI)
            lines.append(_payload(rng, emoji, ts_us))
            counts[(emoji, _window_start(ts_us))] += 1
        name = f"part-backlog-{f:08d}.json"
        with open(os.path.join(spool_dir, name), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    return counts
