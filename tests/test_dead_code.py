"""Guard against package code that only tests use.

Every top-level ``def``/``class`` in the package must be referenced
outside its own body from code that runs the system: the package
itself, ``scripts/``, ``examples/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``. Queries registered with ``@register(...)`` are
served through the registry and count as used. The check is static
(``ast`` plus a word-boundary search) and starts no Spark session.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = (
    ROOT
    / "cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark"
)

# Test-only definitions kept on purpose, each with its reason.
ALLOWED_TEST_ONLY = {
    "_universal_hash": "reference for the minhash fold's bit-equality test",
    "_pq_dist_cols_spark": "reference for the PQ distance tests (ROADMAP E)",
    "_pqt_dist_cols_spark": "reference for the PQ distance tests (ROADMAP E)",
    "ann_ivf_topk": "reference for the multiprobe and recall-curve tests",
    "persisted_rdd_count": "test harness of the RDD-leak gate",
    "kafka_connector_status": "skip gate of the Kafka round-trip test",
    "with_wire_metrics": "decode-failure feed for observability (ROADMAP C)",
    "split_quarantine": "decode-failure feed for observability (ROADMAP C)",
    "dq_monitor_stream": "decode-failure feed for observability (ROADMAP C)",
}


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "register"
        for d in node.decorator_list
    )


def _unreferenced_definitions() -> set[str]:
    sources = [
        *PKG.rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        *(ROOT / "examples").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    texts = {p: p.read_text() for p in sources}
    found = set()
    for path in PKG.rglob("*.py"):
        own = texts[path].splitlines()
        for node in ast.parse(texts[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _is_registered(node):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            rest = "\n".join(own[: first - 1] + own[node.end_lineno :])
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not word.search(rest) and not any(
                word.search(t) for p, t in texts.items() if p != path
            ):
                found.add(node.name)
    return found


def test_no_package_definition_is_used_only_by_tests():
    found = _unreferenced_definitions()
    unexpected = sorted(found - ALLOWED_TEST_ONLY.keys())
    assert not unexpected, (
        f"package definitions referenced only by tests: {unexpected}; "
        "wire them into a served path or delete them with their tests"
    )
    stale = sorted(ALLOWED_TEST_ONLY.keys() - found)
    assert not stale, f"allowlisted names now used or gone: {stale}"
