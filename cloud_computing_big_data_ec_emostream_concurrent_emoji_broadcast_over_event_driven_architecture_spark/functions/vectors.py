"""Vector math over ``array<float>`` embedding columns — pure built-ins
(``transform`` / ``zip_with`` / ``aggregate``), no UDFs, so the whole
similarity pipeline stays inside whole-stage codegen.

Everything is computed in float64 after an explicit element cast; the
DuckDB oracles do the same (``list_transform(v, x -> CAST(x AS DOUBLE))``)
so the sequential fold produces bit-comparable sums (outputs are still
rounded in both engines before hashing).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns via zip_with + aggregate."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns."""
    return dot(a, b) / (norm(a) * norm(b))


# --- DuckDB twins ---------------------------------------------------------

def as_double_sql(expr: str) -> str:
    return f"list_transform({expr}, x -> CAST(x AS DOUBLE))"


def cosine_sql(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))))"
    )
