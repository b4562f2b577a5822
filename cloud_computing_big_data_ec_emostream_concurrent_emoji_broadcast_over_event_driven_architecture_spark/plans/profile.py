"""Read a query's live physical plan, and profile it per operator.

``plan_nodes(df)`` walks the physical plan Spark runs for ``df`` over
py4j, in pre-order:

- ``AdaptiveSparkPlanExec`` is replaced by its current plan: the initial
  plan before the query runs, the final plan after;
- a ``*QueryStageExec`` is replaced by the plan it wraps;
- ``WholeStageCodegenExec`` and ``InputAdapter`` are replaced by their
  child; a codegen stage's ``pipelineTime`` is reported on the operator
  at the top of the stage;
- every other node is kept, and the walk follows its ``children()`` and
  then its ``subqueries()``.

Each node keeps its JVM operator and reads its SQL metrics only when
``metrics`` is asked for, so a walk that checks a plan's shape makes no
metric calls.

``InMemoryTableScanExec`` has no children, so the build plan stored in a
cached ``InMemoryRelation`` (which ``explain`` prints under the relation)
is not part of that walk. A relation whose buffers are already built
never runs it again; one that is not built yet (a fresh ``persist()``,
a session memo on first use) runs it inside the query's first action.
``plan_nodes(df, builds=True)`` appends those stored build plans, each
walked the same way from depth 0 and each relation once, so a check on
them sees everything ``explain`` shows.

``profile(spark, name, sf_dir)`` builds a registered query, runs the
query's own planned RDD, and returns the wall time and every live node
with its SQL metrics (rows, times in ms, bytes, spill) as a JSON-ready
dict, plus the nodes of each cached relation the run built (the wall
time includes those builds). The CLI prints it:
``python -m <package> profile <query>``.
"""

from __future__ import annotations

import time
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .registry import all_specs


class PlanNode(NamedTuple):
    name: str  # the operator's class, e.g. "BroadcastHashJoinExec"
    depth: int  # 0 for the root; a child is one deeper than its parent
    string: str  # the operator's one-line simpleString
    jvm: tuple  # the codegen stage it tops (if any), then the operator

    @property
    def metrics(self) -> dict:
        """SQL metric name -> value, timings in ms; read from the JVM on
        each access (after a run, the run's values)."""
        out: dict = {}
        for node in self.jvm:
            out.update(_metrics(node))
        return out

    def as_dict(self) -> dict:
        return {
            "name": self.name, "depth": self.depth,
            "string": self.string, "metrics": self.metrics,
        }


def plan_nodes(df: DataFrame, builds: bool = False) -> list[PlanNode]:
    """The live physical-plan nodes of ``df``, in pre-order; with
    ``builds``, followed by the stored build plan of every cached
    relation reached, the relations that those plans read included."""
    out: list[PlanNode] = []
    builders = _walk_plan(_executed_plan(df), out)
    if builds:
        _builds(df, builders, lambda b: True, out)
    return out


def _executed_plan(df: DataFrame):
    return df._jdf.queryExecution().executedPlan()  # noqa: SLF001


def _walk_plan(plan, out: list[PlanNode]) -> list:
    """Walk ``plan`` into ``out``; return the cache builders of the
    relations it scans."""
    builders: list = []
    _walk(plan, 0, plan.conf().maxToStringFields(), out, builders)
    return builders


def _builds(df: DataFrame, builders: list, keep, out: list[PlanNode]) -> list:
    """``builders`` and the builders their build plans scan, each once,
    outermost first, with each build plan walked into ``out``; a builder
    that ``keep`` rejects is not followed."""
    identity = df.sparkSession._jvm.java.lang.System.identityHashCode  # noqa: SLF001
    seen, kept = set(), []
    while builders:
        builder = builders.pop(0)
        key = identity(builder)
        if key in seen or not keep(builder):
            continue
        seen.add(key)
        kept.append(builder)
        builders.extend(_walk_plan(builder.cachedPlan(), out))
    return kept


def _walk(node, depth: int, max_fields: int, out, builders: list) -> None:
    stage: tuple = ()
    while True:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif name.endswith("QueryStageExec"):
            node = node.plan()
        elif name == "InputAdapter":
            node = node.child()
        elif name == "WholeStageCodegenExec":
            stage = (node,)
            node = node.child()
        else:
            break
    if name == "InMemoryTableScanExec":
        builders.append(node.relation().cacheBuilder())
    out.append(PlanNode(name, depth, node.simpleString(max_fields), (*stage, node)))
    for seq in (node.children(), node.subqueries()):
        for i in range(seq.size()):
            _walk(seq.apply(i), depth + 1, max_fields, out, builders)


def _metrics(node) -> dict:
    """A node's SQL metrics that hold a value (size and timing metrics
    read -1 until a task updates them); nanosecond timings become ms."""
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        entry = it.next()
        metric = entry._2()
        value = metric.value()
        if value >= 0:
            if metric.metricType() == "nsTiming":
                value = round(value / 1e6, 3)
            out[entry._1()] = value
    return out


def profile(spark: SparkSession, name: str, sf_dir: str) -> dict:
    """Run registered query ``name`` through its own planned RDD and
    return the wall times, the executed plan's live nodes and, under
    ``builds``, one node list per cached relation that the run built."""
    t0 = time.perf_counter()
    df = all_specs()[name].fn(spark, sf_dir)
    plan = _executed_plan(df)
    # a relation built before the run does not run its build plan again
    pending = _builds(
        df, _walk_plan(plan, []),
        lambda b: not b.isCachedColumnBuffersLoaded(), [],
    )
    t1 = time.perf_counter()
    plan.execute().count()
    t2 = time.perf_counter()
    builds = []
    for builder in pending:
        nodes: list[PlanNode] = []
        _walk_plan(builder.cachedPlan(), nodes)
        builds.append([n.as_dict() for n in nodes])
    return {
        "query": name,
        "sf_dir": sf_dir,
        "construct_s": round(t1 - t0, 3),
        "wall_s": round(t2 - t1, 3),
        "nodes": [n.as_dict() for n in plan_nodes(df)],
        "builds": builds,
    }
