"""Guard against package code that only tests use.

Every top-level ``def``/``class`` and module-level constant in the
package must be referenced outside its own statement from code that
runs the system: the package itself, ``scripts/``, ``examples/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. Queries
registered with ``@register(...)`` are served through the registry and
count as used; dunder names are exempt. A reference is a ``Name`` that
is read, an ``Attribute`` or an import alias, found with ``ast``: text
in comments, docstrings and string literals is not a use. The check is
static and starts no Spark session.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = (
    ROOT
    / "cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark"
)

# Test-only definitions kept on purpose, each with its reason.
ALLOWED_TEST_ONLY = {
    "_universal_hash": "reference for the minhash fold's bit-equality test",
    "persisted_rdd_count": "test harness of the RDD-leak gate",
    "kafka_connector_status": "skip gate of the Kafka round-trip test",
    "kafka_events_stream": "the reference's own transport (SURVEY S1/S4)",
    "start_kafka_sink": "the reference's own transport (SURVEY S1/S4)",
    "file_replay_stream": "replay harness of the stream-equals-batch tests",
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


def _defined_names(stmt: ast.stmt) -> list[str]:
    """The names a top-level statement defines and the guard checks: an
    unregistered ``def``/``class``, or the non-dunder plain names an
    assignment binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [] if _is_registered(stmt) else [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name)
        and isinstance(n.ctx, ast.Store)
        and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def _references(stmt: ast.stmt) -> set[str]:
    """Every name a statement reads: ``Name`` loads, ``Attribute``
    names and each dotted part of an imported name."""
    refs = set()
    for n in ast.walk(stmt):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.alias):
            refs.update(n.name.split("."))
    return refs


def unreferenced_definitions(
    sources: dict[str, str], package: set[str]
) -> set[str]:
    """Names defined at the top level of the ``package`` files that no
    top-level statement of ``sources`` (path → text) reads, other than
    the defining statement itself."""
    statements = {
        path: [(s, _references(s)) for s in ast.parse(text).body]
        for path, text in sources.items()
    }
    uses = Counter(
        name for stmts in statements.values() for _, refs in stmts for name in refs
    )
    return {
        name
        for path in package
        for stmt, refs in statements[path]
        for name in _defined_names(stmt)
        if uses[name] == (name in refs)
    }


def _unreferenced_in_repo() -> set[str]:
    package = [*PKG.rglob("*.py")]
    sources = [
        *package,
        *(ROOT / "scripts").glob("*.py"),
        *(ROOT / "examples").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    return unreferenced_definitions(
        {str(p): p.read_text() for p in sources}, {str(p) for p in package}
    )


def test_scanner_counts_code_not_text():
    pkg = '''
import json as js

RATE = 2
LIMIT = 3
__all__ = ["LIMIT"]


def spoken_of():
    """Calls ``spoken_of`` and ``quoted`` only in prose."""


def quoted():
    return "quoted"


def recursive(n):
    return recursive(n - 1) if n else RATE


def aliased():
    return js.dumps({})


def dotted():
    pass


class Model:
    pass
'''
    user = '''
# spoken_of() is mentioned here and nowhere else
from pkg import aliased as a, Model
import pkg as p

p.dotted()
a()
print("recursive")
'''
    found = unreferenced_definitions(
        {"pkg.py": pkg, "user.py": user}, {"pkg.py"}
    )
    assert found == {"LIMIT", "spoken_of", "quoted", "recursive"}


def test_no_package_definition_is_used_only_by_tests():
    found = _unreferenced_in_repo()
    unexpected = sorted(found - ALLOWED_TEST_ONLY.keys())
    assert not unexpected, (
        f"package definitions referenced only by tests: {unexpected}; "
        "wire them into a served path or delete them with their tests"
    )
    stale = sorted(ALLOWED_TEST_ONLY.keys() - found)
    assert not stale, f"allowlisted names now used or gone: {stale}"
