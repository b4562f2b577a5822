"""Table access for a scale-factor directory of parquet tables.

All batch queries take ``(spark, sf_dir)`` and load via :func:`table` so the
parquet scan gets Catalyst's predicate pushdown + column pruning for free.

The reader *DataFrame* (the unresolved scan plan) is a session memo
per (sf_dir, table) — round-10 optimization. ``spark.read.parquet``
re-lists the directory and re-reads footers for schema inference on
EVERY call (~90 ms of driver-side work, measured at sf0.1), and the
contract tables are immutable fixtures, so repeated inference is pure
waste — this is exactly the file-listing/metadata caching a catalog
table provides (optimization guide §6). Only the plan handle is reused:
no rows are persisted, every action still scans parquet, so bench/oracle
runs always compute from the inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (used in expr strings)
from pyspark.sql import types as T

from .caches import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns written as parquet TIMESTAMP(NANOS) — Spark's reader rejects the
# physical type, so we read them as raw nano longs (legacy conf) and rebuild
# a TIMESTAMP_NTZ arithmetically. NTZ keeps the value a pure UTC wall time:
# no session-timezone dependence, and micros truncation matches how DuckDB
# reads the same files (its timestamps are micros).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return _reader(spark, sf_dir, name)


@session_memo("table_reader_plans")
def _reader(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name in _NANO_TS_COLS:
        # Scoped: the conf is consulted at schema-resolution (read) time
        # and captured into the relation, so restoring it immediately
        # afterwards keeps the session conf clean — an unrelated later
        # read of a TIMESTAMP(NANOS) file still fails loudly instead of
        # silently yielding raw nano longs (verified in round 1).
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set(
                    "spark.sql.legacy.parquet.nanosAsLong", prior
                )
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANO_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(
                col,
                F.expr(
                    f"timestampadd(MICROSECOND, {col} div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 8,
    sort_cols: tuple[str, ...] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a DataFrame as a bucketed (and sorted-within-bucket) table.

    Bucketing is the pre-partitioning lever for REPEATED joins and
    aggregations on the same key at 100 TB: both sides laid out with the
    same bucket count and key join with NO exchange (and no sort, when
    sorted), so the shuffle is paid once at write time instead of on
    every query. Spark buckets only via the table catalog
    (``saveAsTable``) — plain ``parquet(path)`` writes ignore bucket
    specs (tests/test_bucketing.py pins the no-Exchange plan)."""
    writer = (
        df.write.bucketBy(num_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .mode(mode)
    )
    writer.saveAsTable(table_name)
