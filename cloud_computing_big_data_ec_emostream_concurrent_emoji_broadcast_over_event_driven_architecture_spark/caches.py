"""Central registry of every session-lifetime cache the engine creates.

The engine memoizes a handful of expensive intermediates per
(session, fixture) plus short-lived per-query persists inside iterative
operators. At 100 TB a leaked persist is executor memory permanently
gone, so every cache MUST have an observable release path; this module
owns the keying, lifetime and release of all of them.

Inventory:

- **session memos** — one store, filled through :func:`session_memo`.
  A builder decorated with ``@session_memo(family)`` runs once per
  (family, applicationId, builder, *args); later calls return the
  stored entry. An entry may be a DataFrame or a tuple/list/dict of
  them (plus plain values); every DataFrame a build persisted or
  ``localCheckpoint``-ed must be reachable from its entry, because
  :func:`release_family` frees exactly what it can reach. On a miss,
  entries of any other applicationId are dropped (they belong to a
  stopped session). Families and their builders:

  - ``table_reader_plans`` — ``catalog``: reader plans per table (no
    persisted blocks; dropped so no stale JVM refs outlive a clear);
  - ``audience_bitmap_words`` — ``analytics``: per-type user bitmaps;
  - ``dedup_shingle_hashsets`` — ``dedup``: shingle hash sets and
    simhash fingerprints;
  - ``dedup_tier_pair_lists`` — ``dedup``: checkpointed tier pair lists
    and band candidates;
  - ``bpe_trainings`` — ``text``: the merge loop's per-iteration frames;
  - ``growth_activity_cells`` — ``growth``: distinct (user, day) cells;
  - ``ivf_assignments`` — ``similarity``: IVF, two-level, append-chain
    and PQ index parts;
  - ``rhp_sketches`` — ``similarity``: RHP bit frames and band codes.

- **per-query transients** (an iterative operator persists an edge
  list for its own loop): registered via :func:`track_transient` /
  :func:`track_checkpoint` and released by :func:`release_transients`
  — or by the operator itself when lineage allows
  (``q_hierarchy_data_edges`` unpersists inline after its eager
  checkpoints).
- **disk-layout artifacts** (NOT RDD storage): the bucketed catalog
  tables (`operators/joins.py` ``_bucketed_pair``) live in the
  warehouse directory, cost no executor memory, and are dropped via
  ``DROP TABLE`` — out of scope for the RDD-leak gate.

``bench.py`` pre-builds exactly ONE memo before timing: the dedup
shingle hash sets (reported as the ``cache_build`` line item). All
other memos build lazily inside the first query that needs them, so
their build cost is visible in that query's timing.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession

# (family, applicationId, builder name, *args) -> entry
_MEMO: dict[tuple, object] = {}
_FAMILIES: dict[str, None] = {}

_TRANSIENTS: list[DataFrame] = []
_CHECKPOINT_RDDS: list[tuple] = []


def session_memo(family: str):
    """Decorator: memoize ``build(spark, *args)`` for the session.

    The entry is keyed on (family, applicationId, builder, *args), so a
    memoized plan never outlives its SparkSession, and is released with
    the rest of ``family`` by :func:`release_family`."""
    _FAMILIES[family] = None

    def deco(build):
        @functools.wraps(build)
        def get(spark: SparkSession, *args):
            app_id = spark.sparkContext.applicationId
            key = (family, app_id, build.__name__, *args)
            try:
                return _MEMO[key]
            except KeyError:
                pass
            for k in list(_MEMO):
                if k[1] != app_id:
                    _MEMO.pop(k, None)
            entry = _MEMO[key] = build(spark, *args)
            return entry

        return get

    return deco


def _checkpoint_rdd(df: DataFrame) -> tuple | None:
    """(SparkContext, rdd id) behind a ``localCheckpoint``-ed frame (its
    analyzed plan is a LogicalRDD), or None for any other frame."""
    try:
        rid = df._jdf.queryExecution().analyzed().rdd().id()  # noqa: SLF001
    except Exception:
        return None
    return df.sparkSession.sparkContext, rid


def _unpersist_rdd(ref: tuple) -> None:
    sc, rid = ref
    try:
        sc._jsc.sc().unpersistRDD(rid, False)  # noqa: SLF001
    except Exception:
        pass


def _release(entry) -> None:
    """Unpersist every DataFrame reachable from ``entry`` and free the
    checkpoint RDD of any ``localCheckpoint``-ed one."""
    if isinstance(entry, DataFrame):
        # only frames this entry persisted: unpersist matches cached
        # data by plan, so unpersisting an uncached reader plan would
        # drop another family's persist of the same plan
        if entry.is_cached:
            try:
                entry.unpersist()
            except Exception:
                pass
        ref = _checkpoint_rdd(entry)
        if ref is not None:
            _unpersist_rdd(ref)
    elif isinstance(entry, dict):
        for v in entry.values():
            _release(v)
    elif isinstance(entry, (tuple, list)):
        for v in entry:
            _release(v)


def release_family(family: str) -> None:
    """Drop every memo entry of ``family`` and free its blocks; the
    family rebuilds lazily on next use."""
    for key in list(_MEMO):
        if key[0] == family:
            _release(_MEMO.pop(key, None))


def track_transient(df: DataFrame) -> DataFrame:
    """Record a per-query persisted frame so the session can release it
    later (iterative operators persist loop state that must outlive the
    function but not the session)."""
    _TRANSIENTS.append(df)
    return df


def track_checkpoint(df: DataFrame) -> DataFrame:
    """Record a ``localCheckpoint``-ed frame's underlying RDD id.

    Checkpoint RDDs are persisted storage the ContextCleaner releases
    only after JVM GC of the RDD handle — in practice they linger for
    the session. Iterative loops create one per round; tracking the id
    (via the LogicalRDD plan node) lets :func:`release_transients` drop
    the blocks deterministically. NOTE: after release the checkpointed
    frame is unreadable (checkpoints cannot recompute), so release is a
    session-level operation, never mid-query."""
    ref = _checkpoint_rdd(df)
    if ref is not None:
        _CHECKPOINT_RDDS.append(ref)
    return df


def release_transients() -> None:
    while _TRANSIENTS:
        try:
            _TRANSIENTS.pop().unpersist()
        except Exception:
            pass
    while _CHECKPOINT_RDDS:
        _unpersist_rdd(_CHECKPOINT_RDDS.pop())


def SESSION_CACHE_CLEARERS() -> dict:
    """name -> zero-arg release function, one per session cache family:
    every registered memo family plus the iterative transients."""
    from .plans.registry import _load_all

    _load_all()  # importing the operator modules registers their families
    clearers = {f: functools.partial(release_family, f) for f in _FAMILIES}
    clearers["iterative_transients"] = release_transients
    return clearers


def clear_all_session_caches() -> None:
    """Release every session-lifetime persist the engine holds. After
    this, a session that has run ANY subset of the registry must hold
    zero engine-owned persisted RDDs (pinned by
    tests/test_cache_hygiene.py)."""
    for fn in SESSION_CACHE_CLEARERS().values():
        fn()


def persisted_rdd_count(spark: SparkSession) -> int:
    """Number of persisted RDDs the JVM currently tracks (JVM-global in
    local mode — callers should diff against a baseline, not expect 0
    in a shared session)."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()  # noqa: SLF001
