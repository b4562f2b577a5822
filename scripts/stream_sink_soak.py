"""Per-batch wall soak for the streaming dedup-at-ingest sink
(round-10 verdict item 1's done bar): run ``semantic_dedup_stream``'s
foreachBatch body over ≥100 micro-batches and measure whether its
per-batch wall on the delta-append sink stays FLAT as history grows.

Method: every batch is the SAME number of fresh vectors (base-slice
vectors re-keyed per batch so each is guaranteed to near-dup a standing
corpus member — constant result rows per batch, so any wall trend is
the sink's, not the workload's). Reports the mean per-batch wall of an
early window vs a late window and their ratio; flat ⇒ ratio ≈ 1.

Usage: python scripts/stream_sink_soak.py [n_batches]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SOAK_SF_DIR", "/root/testdata/sf0.01")
BATCH_ROWS = 500


def run(n_batches: int) -> dict:
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (  # noqa: E501
        table,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (  # noqa: E501
        semantic_dedup_batch_fn,
    )

    cores = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("stream_sink_soak")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="sink_soak_")
    spool = os.path.join(work, "spool")
    sink = os.path.join(work, "sink")
    ckpt = os.path.join(work, "ckpt")

    # base-slice vectors, re-keyed per batch: every batch's vectors are
    # exact duplicates of standing-corpus members, so each produces a
    # constant ~BATCH_ROWS result rows — constant workload per batch
    base = (
        table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .limit(BATCH_ROWS)
        .collect()
    )
    schema = table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    ).schema
    for b in range(n_batches):
        rows = [
            (int(r.vec_id) + 10_000_000 * (b + 1), r.embedding)
            for r in base
        ]
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(spool)

    inner = semantic_dedup_batch_fn(spark, SF_DIR, sink)
    walls: list[float] = []

    def timed(batch, batch_id):
        t0 = time.perf_counter()
        inner(batch, batch_id)
        walls.append(time.perf_counter() - t0)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(spool)
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(timed)
        .option("checkpointLocation", ckpt)
        .start()
    )
    t0 = time.perf_counter()
    q.processAllAvailable()
    q.stop()
    total = time.perf_counter() - t0

    early = walls[5:25]
    late = walls[-20:]
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    out = {
        "sf_dir": SF_DIR,
        "batches": len(walls),
        "rows_per_batch": BATCH_ROWS,
        "total_sec": round(total, 1),
        "early_mean_sec": round(mean(early), 3),
        "late_mean_sec": round(mean(late), 3),
        "late_over_early": round(mean(late) / mean(early), 2),
        "per_batch": [round(w, 3) for w in walls],
    }
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 110
    print(json.dumps(run(n)), flush=True)


if __name__ == "__main__":
    main()
