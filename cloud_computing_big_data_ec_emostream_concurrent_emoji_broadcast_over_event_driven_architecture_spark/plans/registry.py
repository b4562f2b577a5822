"""Central query registry.

Every implemented operator from SURVEY.md §2 registers itself here as a
named query: a callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) a DuckDB oracle SQL string computing the same result on the
same parquet tables. ``__spark_entry__.py`` exposes the registry to the
driver's correctness harness.

Conventions (driver contract):
- every computed column is aliased identically in the Spark plan and the SQL
  (the harness sorts columns by name, then hashes values);
- row order never matters (order-insensitive hash);
- double aggregates are rounded to a fixed number of decimals in BOTH forms
  so cross-engine float summation order can't flip the hash.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None -> driver's weaker rows-only check
    headline: bool = False  # included in bench.py's headline set
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as query ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        desc = description or next(
            iter((fn.__doc__ or "").strip().splitlines()), ""
        )
        _REGISTRY[name] = QuerySpec(
            name=name,
            fn=fn,
            oracle=oracle,
            headline=headline,
            description=desc,
            tags=tags,
        )
        return fn

    return deco


def _load_all() -> None:
    """Import every operator module so its @register decorators run."""
    from ..operators import (  # noqa: F401
        analytics,
        audit,
        cdc,
        corpus,
        dedup,
        frontier,
        graph,
        growth,
        joins,
        layout,
        multimodal,
        rollups,
        sampling,
        setops,
        similarity,
        subqueries,
        text,
        timeseries,
        tpch,
        tpch_partsupp,
    )


def all_specs() -> dict[str, QuerySpec]:
    _load_all()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }


def headline_specs() -> dict[str, QuerySpec]:
    return {n: s for n, s in all_specs().items() if s.headline}


def norm_cell(v):
    """One result cell as the oracle comparison sees it: NaN becomes the
    string "NaN" (two NaN floats never compare equal), a float is rounded
    to 9 decimals, a date or datetime becomes naive ISO text, and a
    nested list or tuple becomes a tuple of normalized cells."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):  # date/datetime: ignore tzinfo presence
        try:
            return v.replace(tzinfo=None).isoformat()
        except (TypeError, AttributeError):
            return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows) -> tuple[list[str], list[tuple]]:
    """A result in comparable form: the lower-cased column names sorted,
    and every row's normalized cells in that column order, rows sorted.
    Two results match when both parts are equal."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)
