"""The session-memo primitive (``caches.session_memo`` / ``release_family``)
and the rule that no other module keeps a memo container of its own."""

from __future__ import annotations

import ast
import pathlib
import re

import pytest

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark import (
    caches,
)


@pytest.fixture
def memo_families():
    """Release and unregister the throwaway families afterwards, so the
    derived SESSION_CACHE_CLEARERS is unchanged once the test ends."""
    yield
    for fam in ("memo_test_a", "memo_test_b"):
        caches.release_family(fam)
        caches._FAMILIES.pop(fam, None)


def _persisted(spark, rid: int) -> bool:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().contains(rid)  # noqa: SLF001


def _entry(spark, n: int):
    """One persisted frame plus one eager localCheckpoint, both built
    and materialized; returns (entry, checkpoint rdd id)."""
    persisted = spark.range(n).persist()
    persisted.count()
    ck = spark.range(n + 1).localCheckpoint(eager=True)
    rid = ck._jdf.queryExecution().analyzed().rdd().id()  # noqa: SLF001
    return (persisted, ck), rid


def test_session_memo_hit_release_and_staleness(spark, memo_families):
    builds = []
    rids = {}

    @caches.session_memo("memo_test_a")
    def build_a(spark, n):
        builds.append(n)
        entry, rids["a"] = _entry(spark, n)
        return entry

    @caches.session_memo("memo_test_b")
    def build_b(spark, n):
        entry, rids["b"] = _entry(spark, n)
        return entry

    # a hit returns the stored entry without rebuilding
    a = build_a(spark, 7)
    assert build_a(spark, 7) is a
    assert builds == [7]
    b = build_b(spark, 11)
    assert _persisted(spark, rids["a"]) and _persisted(spark, rids["b"])

    # releasing one family frees its persisted and checkpoint blocks only
    caches.release_family("memo_test_a")
    assert not _persisted(spark, rids["a"])
    assert not a[0].storageLevel.useMemory
    assert _persisted(spark, rids["b"])
    assert b[0].storageLevel.useMemory
    assert build_b(spark, 11) is b
    assert "memo_test_a" in caches.SESSION_CACHE_CLEARERS()

    # the next miss drops entries keyed under another applicationId
    foreign = ("memo_test_a", "app-gone", "build_a", 7)
    caches._MEMO[foreign] = "stale"
    build_a(spark, 7)
    assert foreign not in caches._MEMO
    assert builds == [7, 7]


_MEMO_NAME = re.compile(r"^_\w*_(CACHE|MEMO)$")


def _module_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            if isinstance(t, ast.Name):
                yield t.id, node.lineno


def test_no_module_keeps_its_own_memo_container():
    """Session memos live in caches.py only: a module-level ``_*_CACHE``
    or ``_*_MEMO`` elsewhere bypasses the shared keying and release."""
    pkg = pathlib.Path(caches.__file__).parent
    offenders = [
        f"{path.relative_to(pkg)}:{line} {name}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "caches.py" or path.parent != pkg
        for name, line in _module_level_names(ast.parse(path.read_text()))
        if _MEMO_NAME.match(name)
    ]
    assert not offenders, offenders
