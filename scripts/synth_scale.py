"""Materialize a COMPLETE key-consistent N× clone of an sf fixture.

Produces a full 10-table fixture directory that the ENTIRE registry —
and therefore ``scripts/driver_sim.py`` — can run against, so oracle
parity can be re-proven at volume (default: 10× sf0.1 ≈ a TPC-H
sf1-equivalent: 6 M lineitem, 1.5 M orders, 1 M events).

Key discipline (what makes the clone *consistent*, not just bigger):

- fact surrogate keys shift by ``copy × 10^9`` (event_id, o_orderkey /
  l_orderkey, doc_id, vec_id) — copies can never collide;
- the customer FOREIGN key shifts by ``copy × 10^6`` on BOTH sides
  (orders.o_custkey AND customer.c_custkey), so every order still finds
  exactly one customer and per-customer aggregates scale by count-of-
  copies with identical per-copy content; user_id shifts the same way;
- part/supplier keys are NOT shifted: lineitem copies fan IN to the
  same dims (the realistic shape — dims grow slower than facts);
- region/nation/part/supplier parquet files are byte-copied verbatim;
- document text is re-tokenized per copy (every word gets an ``x<copy>``
  suffix) so copies share NO shingles — near-dup pair counts scale
  exactly N×, not quadratically;
- embedding vectors are ROTATED per copy (element ``i`` of copy ``c``
  reads ``x[(i + 7c) mod d]``): a rotation is an orthogonal transform,
  so every intra-copy cosine is bit-preserved (each copy reproduces the
  original pair structure exactly) while cross-copy cosines become
  lag-``7Δc`` circular cross-correlations — noise-level for these
  near-random vectors — so semantic-dedup/ANN answers scale ~N×.
  The first cut cloned vectors verbatim; that re-created round 1's
  density caveat on the embedding side: every vector became a 10-deep
  exact-duplicate clique (45 sim-1.0 pairs per vector, 100× growth on
  every original near-pair) and the *oracle replay* of the band join,
  not the Spark plan, became the soak's bottleneck (>40 GB, unbounded).
  Lesson re-encoded: near-dup benchmark cost tracks planted pair
  density, in every modality.

Timestamps: events is read through ``catalog.table`` (nanos-long parquet
rebuilt as TIMESTAMP_NTZ) and written back as plain TIMESTAMP_NTZ —
DuckDB reads both encodings as micros timestamps, and ``catalog.table``
auto-detects which encoding a fixture carries.

Usage: python scripts/synth_scale.py [out_dir] [copies] [only_tables]
       (default: /tmp/sf1x 10; only_tables is a comma list of fact
       tables to clone at ``copies`` while every other table is
       byte-copied verbatim — the cheap way to push ONE modality a
       decade further, e.g. ``/tmp/sfE100 100 embeddings,documents``)
"""

from __future__ import annotations

import os
import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, ".")

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (  # noqa: E402
    table,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.session import (  # noqa: E402
    build_session,
)

SRC = "/root/testdata/sf0.1"

FACT_SHIFT = 10**9
DIM_SHIFT = 10**6

# table -> {column: per-copy shift}
_SHIFTS: dict[str, dict[str, int]] = {
    "events": {"event_id": FACT_SHIFT, "user_id": DIM_SHIFT},
    "orders": {"o_orderkey": FACT_SHIFT, "o_custkey": DIM_SHIFT},
    "lineitem": {"l_orderkey": FACT_SHIFT},
    "customer": {"c_custkey": DIM_SHIFT},
    "embeddings": {"vec_id": FACT_SHIFT},
    "documents": {"doc_id": FACT_SHIFT},
}
_VERBATIM = ("region", "nation", "part", "supplier")


def _clone(spark, src: str, out: str, name: str, copies: int) -> None:
    df = table(spark, src, name)
    c = F.explode(
        F.array(*[F.lit(i).cast("long") for i in range(copies)])
    ).alias("copy")
    df = df.select("*", c)
    shifts = _SHIFTS[name]
    cols = []
    for col in df.columns:
        if col == "copy":
            continue
        if col in shifts:
            cols.append(
                (F.col(col) + F.col("copy") * F.lit(shifts[col])).alias(col)
            )
        elif name == "embeddings" and col == "embedding":
            # per-copy rotation + deterministic sign flips (both
            # orthogonal/diagonal, so intra-copy cosines stay exact
            # while cross-copy cosines decorrelate — answers scale
            # ~N x). The rotation alone has PERIOD d/gcd(7,d): at
            # d=64, copies c and c+64 got IDENTICAL vectors, so any
            # clone count >= 64 planted exact-duplicate cliques and
            # re-created the round-1 density caveat at the 100x/300x
            # points. The sign mask (an LCG of the copy index; copy 0
            # maps to mask 0, keeping originals verbatim) breaks the
            # period: same-rotation copies now differ by a random
            # diagonal, so their cross sims are noise like every other
            # pair.
            # SQL form because shiftright's numBits must be a column
            # here (the DataFrame API only takes a literal int).
            cols.append(
                F.expr(
                    "transform("
                    "  concat("
                    "    slice(embedding,"
                    "          pmod(copy * 7, size(embedding)) + 1,"
                    "          size(embedding)"
                    "            - pmod(copy * 7, size(embedding))),"
                    "    slice(embedding, 1,"
                    "          pmod(copy * 7, size(embedding)))),"
                    "  (x, i) -> if("
                    "    (shiftright(pmod(copy * 2654435761,"
                    "                     2147483648),"
                    "                pmod(i, 31)) & 1) = 1,"
                    "    -x, x)"
                    ")"
                ).alias("embedding")
            )
        elif name == "documents" and col == "text":
            # per-copy token suffix: no shingle is shared across copies
            cols.append(
                F.array_join(
                    F.transform(
                        F.split("text", " "),
                        lambda w: F.concat(
                            w, F.lit("x"), F.col("copy").cast("string")
                        ),
                    ),
                    " ",
                ).alias("text")
            )
        else:
            cols.append(F.col(col))
    out_df = df.select(*cols)
    if name == "documents":
        out_df = out_df.withColumn("n_chars", F.length("text"))
    # single flat file named {name}.parquet — byte-compatible with the
    # driver fixtures' layout (DuckDB's read_parquet takes the same
    # path on both); parquet row groups keep the Spark scan splittable
    import glob

    tmp = f"{out}/_tmp_{name}"
    out_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    (part,) = glob.glob(f"{tmp}/part-*.parquet")
    os.replace(part, f"{out}/{name}.parquet")
    shutil.rmtree(tmp, ignore_errors=True)
    _regroup(f"{out}/{name}.parquet")


# target on-disk bytes per row group. Spark's coalesce(1) writer puts the
# whole clone in ONE row group (its 128m block never fills at these sizes),
# and parquet scans can only split at row-group boundaries — so a 10x
# fixture would still scan as a single task and every map-side pipeline
# would serialize, a layout artifact a real lake doesn't have (at fixed
# production block size, 10x data = 10x row groups = 10x scan splits).
# Rewriting with ~1 MiB groups keeps split count proportional to data;
# pair with SPARK_GRAFT_SIM_MAX_PART_BYTES=1m at read time (same value at
# both scale points of a ratio pair). DuckDB parallelizes over the same
# row groups, so the oracle side scales identically.
_GROUP_BYTES = 1024 * 1024


def _regroup(path: str) -> None:
    """Rewrite ``path`` with ~1 MiB row groups, streaming batch-by-batch.

    Incremental (ParquetWriter over iter_batches) so arbitrarily large
    clone counts never require the whole table in driver memory, and
    schema-preserving: the writer reuses the file's arrow schema —
    including the key-value metadata Spark wrote
    (``org.apache.spark.sql.parquet.row.metadata``) — so downstream
    type auto-detection (e.g. the events ``ts`` timestamp) sees the
    same schema before and after the rewrite."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    n_bytes = os.path.getsize(path)
    groups = max(1, round(n_bytes / _GROUP_BYTES))
    rows_per_group = max(512, (pf.metadata.num_rows + groups - 1) // groups)
    tmp = path + ".regroup.tmp"
    with pq.ParquetWriter(tmp, pf.schema_arrow) as writer:
        for batch in pf.iter_batches(batch_size=rows_per_group):
            writer.write_batch(batch, row_group_size=rows_per_group)
    pf.close()
    os.replace(tmp, path)


def synthesize_full(
    spark,
    out: str,
    copies: int = 10,
    src: str = SRC,
    only: set[str] | None = None,
) -> str:
    """``only`` (round-8 stretch): clone just those fact tables at
    ``copies`` and byte-copy every other table verbatim — e.g. a 100×
    embeddings+documents fixture engages shard bits ≥ 7 and the
    dynamic-K cap without paying a 600 M-row lineitem on disk."""
    os.makedirs(out, exist_ok=True)
    for name in _VERBATIM:
        dst = f"{out}/{name}.parquet"
        if not os.path.exists(dst):
            shutil.copy(f"{src}/{name}.parquet", dst)
    for name in _SHIFTS:
        if os.path.exists(f"{out}/{name}.parquet"):
            continue
        if only is not None and name not in only:
            shutil.copy(f"{src}/{name}.parquet", f"{out}/{name}.parquet")
            print(f"# copied {name} verbatim", file=sys.stderr)
            continue
        _clone(spark, src, out, name, copies)
        print(f"# cloned {name} x{copies}", file=sys.stderr)
    return out


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1x"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    spark = build_session(app_name="synth_scale")
    spark.sparkContext.setLogLevel("ERROR")
    synthesize_full(spark, out, copies, only=only)
    import duckdb

    for name in sorted(_SHIFTS) + list(_VERBATIM):
        n = duckdb.sql(
            f"select count(*) from read_parquet('{out}/{name}.parquet')"
        ).fetchone()[0]
        print(f"{name}: {n}")
    spark.stop()


if __name__ == "__main__":
    main()
