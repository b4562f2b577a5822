"""Similarity search over the ``embeddings`` table (SURVEY.md §7 Phase 5).

- brute-force cosine top-k: the exactness baseline — one pass over all
  vectors, pure built-ins (zip_with/aggregate), TakeOrderedAndProject for
  the top-k (no global sort).
- random-hyperplane LSH (sign-bit sketches, banded like the MinHash text
  tier): the scale-safe candidate generator for near-dup pairs — a
  bucketed equi-join on (band, code), never an all-pairs or
  label-blocked join.
- IVF-style ANN: assign every vector to its nearest of K k-means-trained
  centroids (deterministic first-K init + unrolled Lloyd iterations, so
  fully oracle-checkable), probe only the query's centroid bucket — the
  index-shaped scale path. Two indexes: the fixed-K=8 flat one and the
  dynamic-K two-level one. The two-level index has ONE build
  (:func:`_ivf2_index`) over a base slice: the whole corpus for the
  session's index, the first 3/4 for the frozen append index. Every
  query reads either index through the same bucket-join helpers —
  probe + top-k, batch rank, within-bucket pairs — keyed on
  ``["cent_id"]`` (fixed-K) or ``["cent_id", "shard"]`` (two-level).

All cosine math is float64 after explicit casts in BOTH engines; outputs
round to 6 dp before hashing. The LSH hyperplanes are derived from an
integer LCG evaluated identically in both engines, and the sign decision
sums exact decimal(18,10) contributions — order-independent, so every
sketch bit is bit-identical between Spark and DuckDB (pinned by
q_embedding_lsh_sketch).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caches import session_memo
from ..catalog import table
from ..functions.vectors import (
    as_double,
    as_double_sql,
    cosine,
    cosine_sql,
    dot,
    norm,
)
from ..plans.registry import register

QUERY_VEC_ID = 0
TOP_K = 10
NEAR_DUP_COS = 0.35
IVF_K = 8  # pseudo-centroids: vec_id < 8
SEMDEDUP_TARGET_CLUSTER = 64  # production dial: K = max(8, N/64)
IVF2_SAMPLE = 8192  # two-level training sample: vec_id < min(N, 8192)
IVF2_K_CAP = 2048  # K = max(8, min(N // 64, 2048)) — keeps K ≤ sample/4

# --- random-hyperplane LSH parameters --------------------------------------
# Band-collision probability for a pair at cosine s is 1-(1-p^b)^8 with
# p = 1 - arccos(s)/π and b the band width in bits — ≈0.54 at the loose
# 0.35 threshold (b=6) and →1 for true near-dups (s ≥ 0.9). More bands
# raise recall; wider bands shrink candidate buckets.
#
# The band width is OCCUPANCY-ADAPTIVE: at fixed width, expected bucket
# occupancy is n/2^b, so in-bucket candidate pairs grow quadratically in
# n — the round-6 10× soak measured exactly that (q_dedup_embedding
# 16 s → 500 s at 10× rows under the old fixed 6-bit bands). The width
# rule below keeps expected occupancy ≤ RHP_TARGET_OCC, bounding total
# candidate work at ~n·RHP_TARGET_OCC·RHP_BANDS/2 — linear in n, the
# 100 TB shape — at a measured, documented recall cost (wider bands lose
# marginal pairs; the verify step is exact either way, so banding can
# only lose candidates, never invent them). Both engines derive the same
# width from COUNT(*), so the oracle replays the adaptation bit-for-bit.
RHP_BITS = 48  # sketch width — FIXED (q_embedding_lsh_sketch contract)
RHP_BANDS = 8
RHP_BAND_BITS = 6  # band-width FLOOR: ≤4096 vectors keeps legacy 8×6 banding
RHP_BAND_BITS_MAX = 16  # 64×2^16 ≈ 4.2M vectors; beyond that re-shard
# first — the re-shard dial is IMPLEMENTED: q_dedup_embedding_sharded
RHP_TARGET_OCC = 64  # target expected bucket occupancy


def rhp_band_bits(n: int, shard_bits: int = 0) -> int:
    """Smallest band width b in [RHP_BAND_BITS, RHP_BAND_BITS_MAX] with
    2^b · RHP_TARGET_OCC · 2^shard_bits ≥ n — i.e. expected bucket
    occupancy ≤ target WITHIN each of the 2^shard_bits shards (exactly
    ``(1<<b)·occ ≥ ceil(n / 2^s)`` in integers, cross-multiplied so no
    division rounds). Pure integer arithmetic so DuckDB's twin
    (``_RHP_PARAMS_CTE``) can never diverge on a float-log boundary."""
    for b in range(RHP_BAND_BITS, RHP_BAND_BITS_MAX + 1):
        if ((1 << b) * RHP_TARGET_OCC) << shard_bits >= n:
            return b
    return RHP_BAND_BITS_MAX


# --- re-shard dial (the path PAST the band-width ceiling) -------------------
# rhp_band_bits() saturates at RHP_BAND_BITS_MAX ≈ 4.2M vectors; beyond
# that, occupancy grows linearly again unless the corpus is SHARDED
# first. The shard key is CONTENT-derived — extra hyperplane sign bits
# drawn from dedicated planes (indices ≥ RHP_SHARD_PLANE_BASE, disjoint
# from every band plane at any adaptive width) — NOT a hash of vec_id: a
# row-id hash would scatter every duplicate pair across shards with
# probability (S-1)/S, while sign-bit sharding sends exact duplicates to
# the SAME shard always, and near-dups with the familiar per-bit
# agreement probability p = 1 - arccos(s)/π (the shard bits act as band
# bits shared by all 8 bands). Recall cost per shard bit is therefore
# the same curve the band-width dial already pays, the verify step stays
# exact, and candidate work drops 2× per bit.
#
# RHP_SHARD_CAP is the per-shard size at which the dial engages. The
# production value is the band ceiling's capacity
# (RHP_TARGET_OCC << RHP_BAND_BITS_MAX ≈ 4.2M); the checked-in value is
# a test-scale stand-in so the dial is demonstrably ACTIVE on the
# shipped fixtures (inert at n=500 → floor parity with
# q_dedup_embedding; 1 shard bit at sf0.1's n=2000; 5 bits at the 10×
# soak's n=20000) — the rule, not the constant, is the contract.
RHP_SHARD_CAP = 1024
# Sanity ceiling only, NOT a capacity dial (round-10 item 4: the old
# checked-in 8 was a real ceiling — SURVEY §7.1's 100 TB sizing needs
# ~13 shard bits at 32G vectors, and raising it meant a manual code
# edit plus an implicit frame re-fold). 40 bits ≈ 10^15 vectors at the
# test-scale cap (far more at the production cap): the shard-plane
# count is now derived from the corpus count by rhp_shard_bits() alone,
# and the on-disk bit frame grows its stored planes incrementally
# (rhp_frame_update appends missing planes, one fold per vector per new
# plane — never a re-fold of standing planes).
RHP_SHARD_BITS_MAX = 40
RHP_SHARD_PLANE_BASE = RHP_BANDS * RHP_BAND_BITS_MAX  # 128


def rhp_shard_bits(n: int) -> int:
    """Smallest s ≥ 0 with 2^s · RHP_SHARD_CAP ≥ n (expected shard size
    ≤ cap); integer-exact, oracle-replayable, and unbounded in any
    practical regime (RHP_SHARD_BITS_MAX is a sanity ceiling ~10^15
    vectors, not a dial — round-10 item 4). NOTE the packed shard code
    is an int32 in both engines, so s > 31 would need a BIGINT shard
    column — that is ≈2.2T vectors at the test-scale cap (petabytes of
    fp32×768), far past where the production cap re-derives s anyway."""
    for s in range(0, RHP_SHARD_BITS_MAX + 1):
        if (1 << s) * RHP_SHARD_CAP >= n:
            return s
    return RHP_SHARD_BITS_MAX
# two-round LCG (exact in int64) — the deterministic pseudo-random plane
# component generator both engines replay bit-identically
_RHP_A = 1103515245
_RHP_C = 12345
_RHP_M = 1 << 31
_RHP_STRIDE = 4096  # max supported embedding dimensionality


@register(
    "q_similarity_topk",
    headline=True,
    tags=("similarity", "vector"),
    oracle=f"""
        WITH q AS (
            SELECT {as_double_sql('embedding')} AS qv FROM embeddings
            WHERE vec_id = {QUERY_VEC_ID}
        ),
        scored AS (
            SELECT e.vec_id,
                   {cosine_sql(as_double_sql('e.embedding'), 'q.qv')} AS sim
            FROM embeddings e, q
            WHERE e.vec_id <> {QUERY_VEC_ID}
        )
        SELECT vec_id, ROUND(sim, 6) AS sim
        FROM scored ORDER BY sim DESC, vec_id LIMIT {TOP_K}
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the query vector (vec_id 0).
    The query vector joins in as a broadcast single row; scoring is one
    codegen'd pass; top-k plans as TakeOrderedAndProject — at 100 TB each
    partition keeps k rows and only k×partitions reach the driver."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        as_double(F.col("embedding")).alias("qv")
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            cosine(as_double(F.col("embedding")), F.col("qv")).alias("sim"),
        )
    )
    return (
        scored.orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", F.round("sim", 6).alias("sim"))
    )


def _rhp_plane(j: int, d: Column) -> Column:
    """Component d of hyperplane j in [-0.5, 0.5): two LCG rounds with an
    xor-shift mix between and after, over the flat index j*stride+d,
    divided by 2^31 (exact in float64).

    The xor-shift steps matter: a bare LCG chain evaluated at SEQUENTIAL
    INPUTS is affine in the index (h(idx+1) − h(idx) ≡ A mod M), so every
    'plane' was a shifted copy of one arithmetic progression — the sign
    bits carried heavy cross-plane correlation (measured band-collision
    rate 2.3× the iid expectation, and the marginal band bit split
    buckets so poorly that widening bands barely cut candidate mass).
    xor of a right-shift is non-linear mod M and breaks the lattice;
    every intermediate stays < 2^31 so all products fit int64 exactly in
    both engines."""
    idx = d.cast("long") + F.lit(j * _RHP_STRIDE).cast("long")
    h1 = (F.lit(_RHP_A).cast("long") * idx + F.lit(_RHP_C)) % F.lit(_RHP_M)
    m1 = h1.bitwiseXOR(F.shiftright(h1, 13))
    h2 = (F.lit(_RHP_A).cast("long") * m1 + F.lit(_RHP_C)) % F.lit(_RHP_M)
    m2 = h2.bitwiseXOR(F.shiftright(h2, 17))
    return m2.cast("double") / F.lit(float(_RHP_M)) - F.lit(0.5)


def _rhp_bit_exprs(
    v: Column, nbits: int = RHP_BITS, start: int = 0
) -> list[Column]:
    """``nbits`` sign-bit columns (0/1) for an array<double> vector,
    for planes ``start .. start+nbits-1`` (``start > 0`` selects the
    dedicated shard planes at RHP_SHARD_PLANE_BASE).

    Each bit is sign(v · plane_j). The dot product folds exact
    decimal(18,10) per-element contributions (the accumulator re-cast
    keeps the Spark decimal type fixed, losslessly — every step stays at
    scale 10), so the sum is order-independent and bit-identical to the
    oracle's SUM(DECIMAL) — a float fold could flip a sign near zero
    between engines."""
    idxs = F.sequence(F.lit(0), F.size(v) - 1)

    def contrib_fn(j: int):
        return lambda x, d: (x * _rhp_plane(j, d)).cast("decimal(18,10)")

    bits = []
    for j in range(start, start + nbits):
        s = F.aggregate(
            F.zip_with(v, idxs, contrib_fn(j)),
            F.lit(0).cast("decimal(28,10)"),
            lambda acc, y: (acc + y).cast("decimal(28,10)"),
        )
        bits.append(F.when(s >= 0, F.lit(1)).otherwise(F.lit(0)))
    return bits


@session_memo("rhp_sketches")
def _rhp_bits_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bits array<int>, sbits array<int>) — ONE persisted
    decimal-fold pass over the corpus covering every hyperplane ANY
    sketch family needs: ``bits`` holds planes [0, max(RHP_BITS,
    RHP_BANDS·rhp_band_bits(n))) — a per-shard band width is never
    wider than the unsharded width, so both the unsharded and sharded
    band codes pack from a PREFIX of this array — and ``sbits`` the
    dedicated shard planes [RHP_SHARD_PLANE_BASE, +rhp_shard_bits(n)).

    The fold is bands·width sign bits × d dims of interpreted decimal
    arithmetic per vector — by far the heaviest per-row expression in
    the engine — and before round 8 the sharded family re-paid it in
    full for its own cache entry (98 s vs the unsharded 22 s at the 10×
    soak) even though its planes are the same LCG family. Packing a
    code from materialized 0/1 ints is exact, so every downstream
    sketch/code is bit-identical to the inline-fold form the oracles
    replay. Round-robined first (_spread): a small single-file fixture
    otherwise arrives as 1-3 scan splits and the fold serializes on as
    many cores; persisted, so the exchange is paid once."""
    import os

    store_root = os.environ.get("SPARK_GRAFT_RHP_FRAME_DIR")
    if store_root:
        # round-9 incremental path: maintain the per-fixture on-disk
        # store (folds run only on vectors it doesn't hold yet) and
        # serve the session from its dial-sliced prefix — bit-equal
        # to the from-scratch fold below (pinned).
        store = os.path.join(
            store_root,
            sf_dir.strip("/").replace("/", "__") + "_rhp_frame",
        )
        rhp_frame_update(spark, sf_dir, store)
        return rhp_frame_load(spark, sf_dir, store).persist()
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    bb = rhp_band_bits(n)
    ss = rhp_shard_bits(n)
    emb = _spread(emb.select("vec_id", "embedding"))
    v = as_double(F.col("embedding"))
    nbits = max(RHP_BITS, RHP_BANDS * bb)
    bits = F.array(*_rhp_bit_exprs(v, nbits))
    sbits = (
        F.array(*_rhp_bit_exprs(v, ss, start=RHP_SHARD_PLANE_BASE))
        if ss
        else F.array().cast("array<int>")
    )
    return emb.select(
        "vec_id", bits.alias("bits"), sbits.alias("sbits")
    ).persist()


# --- incremental bit-frame maintenance (round 9, planes round 10) -----------
# The in-session frame above rebuilds from scratch per (session, fixture)
# — ∝ N × plane count, ~150 s at the 100× soak point and growing linearly
# with the corpus. But the planes are FIXED by hash (the LCG is a pure
# function of (j, d)), so a vector's sign bits never change once
# computed: the frame is append-only by construction, exactly like the
# frozen-router index append. These helpers give it the same treatment —
# an on-disk store holding every band plane up to RHP_BAND_BITS_MAX
# (the band dial saturates there by design; the shard dial takes over)
# plus the shard planes THE CORPUS HAS DEMANDED SO FAR, so the expensive
# decimal folds are paid once per (vector, plane) EVER. The frame grows
# on BOTH axes incrementally (round-10 item 4):
#   - new VECTORS fold all current planes (left-anti on vec_id);
#   - new PLANES (the corpus outgrew the stored shard width) fold once
#     per standing vector — cost ∝ N × new_planes, never a re-fold of
#     stored planes, because plane j's bits are hash-fixed forever.
# Within the stored width, growth only moves the PREFIX the dials read.

RHP_FRAME_BITS = RHP_BANDS * RHP_BAND_BITS_MAX  # 128 — band-plane store width


def rhp_frame_update(spark: SparkSession, sf_dir: str, store: str) -> dict:
    """Create or incrementally extend the on-disk sign-bit frame at
    ``store`` (a parquet directory) for the corpus at ``sf_dir``.

    Cost model (the point of the exercise): the decimal sign folds — the
    heaviest per-row expression in the engine — run ONLY on (vector,
    plane) cells the store lacks: a delta batch of b rows costs
    ∝ b × planes + scan(N) (left-anti on vec_id), and a corpus that has
    outgrown the stored shard-plane width w_old folds ONLY the missing
    planes [w_old, w_req) for standing vectors — ∝ N × new_planes,
    joined back to ``embeddings`` for the raw vectors (the store keeps
    bits, not vectors). A frame built when the dial said 8 therefore
    serves a corpus demanding 10 after ONE delta update, no manual
    constant bump, no re-fold (round-10 item 4). The rewrite is atomic
    (write-new-then-rename), so a crashed update never corrupts the
    standing store. Returns ``{"appended": b, "total": N,
    "new_planes": w_req - w_old, "shard_planes": w_new}``."""
    import os
    import shutil

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_total = emb.count()
    s_req = rhp_shard_bits(n_total)
    old = spark.read.parquet(store) if os.path.exists(store) else None
    if old is not None:
        old_w = old.agg(F.max(F.size("sbits"))).first()[0] or 0
    else:
        old_w = 0
    w_new = max(old_w, s_req) if old is not None else s_req
    new_planes = w_new - old_w if old is not None else 0
    if old is not None and new_planes > 0:
        # plane append: fold ONLY the missing shard planes for standing
        # vectors (hash-fixed planes ⇒ appending columns is exact);
        # the join to embeddings re-supplies the raw vectors
        ov = old.join(
            emb.select(
                "vec_id", as_double(F.col("embedding")).alias("v")
            ),
            "vec_id",
        )
        old = _spread(ov).select(
            "vec_id",
            "bits",
            F.concat(
                "sbits",
                F.array(
                    *_rhp_bit_exprs(
                        F.col("v"),
                        new_planes,
                        start=RHP_SHARD_PLANE_BASE + old_w,
                    )
                ),
            ).alias("sbits"),
        )
    delta = (
        emb.join(old.select("vec_id"), "vec_id", "left_anti")
        if old is not None
        else emb
    )
    v = as_double(F.col("embedding"))
    sb = (
        F.array(
            *_rhp_bit_exprs(v, w_new, start=RHP_SHARD_PLANE_BASE)
        )
        if w_new
        else F.array().cast("array<int>")
    )
    new_rows = _spread(delta).select(
        "vec_id",
        F.array(*_rhp_bit_exprs(v, RHP_FRAME_BITS)).alias("bits"),
        sb.alias("sbits"),
    )
    out = old.unionByName(new_rows) if old is not None else new_rows
    tmp = store.rstrip("/") + ".tmp"
    out.write.mode("overwrite").parquet(tmp)
    appended = delta.count()
    total = spark.read.parquet(tmp).count()
    if os.path.exists(store):
        shutil.rmtree(store)
    os.replace(tmp, store)
    return {
        "appended": appended,
        "total": total,
        "new_planes": new_planes,
        "shard_planes": w_new,
    }


def rhp_frame_load(
    spark: SparkSession, sf_dir: str, store: str
) -> DataFrame:
    """The stored frame sliced to the CURRENT dials of the corpus at
    ``sf_dir`` — drop-in equal (bit-identical, pinned in
    tests/test_round9_ops.py) to what :func:`_rhp_bits_frame` computes
    from scratch, because both read sign bits of the same fixed planes
    and a dial change only moves the prefix boundary. Callers must
    :func:`rhp_frame_update` first when the corpus may have grown —
    the guard below turns a stale-width store into a loud error
    instead of a silently-short slice."""
    n = table(spark, sf_dir, "embeddings").count()
    bb = rhp_band_bits(n)
    ss = rhp_shard_bits(n)
    nbits = max(RHP_BITS, RHP_BANDS * bb)
    df = spark.read.parquet(store)
    if ss:
        stored_w = df.agg(F.max(F.size("sbits"))).first()[0] or 0
        if stored_w < ss:
            raise ValueError(
                f"RHP frame at {store} holds {stored_w} shard planes "
                f"but the corpus dial demands {ss} — run "
                "rhp_frame_update first (it appends missing planes "
                "incrementally)"
            )
    sbits = (
        F.slice("sbits", 1, ss)
        if ss
        else F.array().cast("array<int>")
    )
    return df.select(
        "vec_id",
        F.slice("bits", 1, nbits).alias("bits"),
        sbits.alias("sbits"),
    )


def _pack_codes(bb: int) -> Column:
    """RHP_BANDS band codes packed from the bit-frame's ``bits`` array
    at band width ``bb`` (bit j of band b is plane b·bb+j — the same
    layout the inline fold used)."""
    return F.array(
        *[
            sum(
                (
                    F.element_at("bits", b * bb + r + 1) * F.lit(1 << r)
                    for r in range(1, bb)
                ),
                start=F.element_at("bits", b * bb + 1),
            ).cast("int")
            for b in range(RHP_BANDS)
        ]
    )


@session_memo("rhp_sketches")
def _rhp_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sketch long, codes array<int>[RHP_BANDS]) — persisted:
    packed from the shared bit frame (:func:`_rhp_bits_frame`), so the
    expensive decimal folds are paid once per (session, fixture) across
    BOTH the unsharded and sharded families; the banded self-join below
    reads this from both sides.

    The band width comes from :func:`rhp_band_bits` over the corpus row
    count — an index-build-time statistic, exactly like choosing nlist
    for an IVF index. The 48-bit ``sketch`` column is NOT adaptive — it
    is a stable per-vector fingerprint (q_embedding_lsh_sketch pins
    it), so band codes draw on planes [0, bands·width) while the sketch
    always packs planes [0, 48)."""
    emb = table(spark, sf_dir, "embeddings")
    bb = rhp_band_bits(emb.count())
    frame = _rhp_bits_frame(spark, sf_dir)
    sketch = F.element_at("bits", 1).cast("long")
    for j in range(1, RHP_BITS):
        sketch = sketch + F.element_at("bits", j + 1).cast(
            "long"
        ) * F.lit(1 << j)
    return frame.select(
        "vec_id", sketch.alias("sketch"), _pack_codes(bb).alias("codes")
    ).persist()


def rhp_band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, code) LSH bucket rows — the blocking key for the
    banded candidate join."""
    return _rhp_sketches(spark, sf_dir).select(
        "vec_id", F.posexplode("codes").alias("band", "code")
    )


def _rhp_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (vec_id_a < vec_id_b) pairs sharing ≥1 LSH band bucket —
    an equi-join on (band, code), the 100 TB-safe candidate generator."""
    x = rhp_band_rows(spark, sf_dir).alias("x")
    y = rhp_band_rows(spark, sf_dir).alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.code") == F.col("y.code"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_id_a"),
            F.col("y.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )


# one plane component as SQL (j and d are column references in scope) —
# replays _rhp_plane exactly: LCG → xor(h, h>>13) → LCG → xor(h, h>>17)
_RHP_H1_SQL = (
    f"((CAST({_RHP_A} AS BIGINT) * (CAST(j AS BIGINT) * {_RHP_STRIDE} + d) "
    f"+ {_RHP_C}) % {_RHP_M})"
)
_RHP_M1_SQL = f"xor({_RHP_H1_SQL}, {_RHP_H1_SQL} >> 13)"
_RHP_H2_SQL = (
    f"((CAST({_RHP_A} AS BIGINT) * {_RHP_M1_SQL} + {_RHP_C}) % {_RHP_M})"
)
_RHP_PLANE_SQL = (
    f"(CAST(xor({_RHP_H2_SQL}, {_RHP_H2_SQL} >> 17) AS DOUBLE) "
    f"/ {_RHP_M}.0 - 0.5)"
)

# shared oracle pipeline: vectors → per-(vec, plane) exact decimal dot
# signs → per-band packed codes. Replays the Spark sketch bit-for-bit,
# including the occupancy-adaptive band width (params.bb replays
# rhp_band_bits() in pure integer arithmetic — no float-log boundary).
_RHP_CTE = f"""
        params AS (
            SELECT COALESCE(
                (SELECT MIN(b)
                 FROM range({RHP_BAND_BITS}, {RHP_BAND_BITS_MAX} + 1) t(b)
                 WHERE (CAST(1 AS BIGINT) << b) * {RHP_TARGET_OCC}
                       >= (SELECT COUNT(*) FROM embeddings)),
                {RHP_BAND_BITS_MAX}) AS bb
        ),
        ev AS (SELECT vec_id, {as_double_sql('embedding')} AS v
               FROM embeddings),
        ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d,
                      unnest(v) AS x
               FROM ev),
        contrib AS (
            SELECT vec_id, j,
                   CAST(x * {_RHP_PLANE_SQL} AS DECIMAL(18,10)) AS c
            FROM ex
            CROSS JOIN range(0, {RHP_BANDS} * {RHP_BAND_BITS_MAX}) t(j)
            CROSS JOIN params
            WHERE j < GREATEST({RHP_BITS}, {RHP_BANDS} * params.bb)
        ),
        bits AS (
            SELECT vec_id, j, CASE WHEN SUM(c) >= 0 THEN 1 ELSE 0 END AS bit
            FROM contrib GROUP BY vec_id, j
        ),
        codes AS (
            SELECT vec_id, CAST(j // params.bb AS INT) AS band,
                   CAST(SUM(bit << (j % params.bb)) AS INT) AS code
            FROM bits CROSS JOIN params
            WHERE j < {RHP_BANDS} * params.bb
            GROUP BY vec_id, CAST(j // params.bb AS INT)
        )
"""

_RHP_CAND_CTE = """
        cand AS (
            SELECT DISTINCT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b
            FROM codes x JOIN codes y
              ON x.band = y.band AND x.code = y.code
             AND x.vec_id < y.vec_id
        )
"""


@register(
    "q_embedding_lsh_sketch",
    tags=("similarity", "lsh", "vector", "scale"),
    oracle=f"""
        WITH {_RHP_CTE}
        SELECT vec_id, CAST(SUM(bit << j) AS BIGINT) AS sketch
        FROM bits WHERE j < {RHP_BITS} GROUP BY vec_id
    """,
)
def q_embedding_lsh_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector 48-bit random-hyperplane sketch — the embedding-side
    twin of q_dedup_simhash. Pure per-row projection (broadcast-free,
    shuffle-free): at 100 TB sketching is embarrassingly parallel and the
    sketch (8 bytes) replaces the vector (256+ bytes) in every downstream
    join. The oracle recomputes every sign bit from the same LCG planes
    and exact decimal sums, so all 48 bits must agree across engines."""
    return _rhp_sketches(spark, sf_dir).select("vec_id", "sketch")


@register(
    "q_similarity_pairs",
    tags=("similarity", "dedup", "vector", "lsh", "scale"),
    oracle=f"""
        WITH {_RHP_CTE},
        {_RHP_CAND_CTE}
        SELECT c.vec_id_a, c.vec_id_b,
               ROUND({cosine_sql('a.v', 'b.v')}, 6) AS sim
        FROM cand c
        JOIN ev a ON a.vec_id = c.vec_id_a
        JOIN ev b ON b.vec_id = c.vec_id_b
        WHERE {cosine_sql('a.v', 'b.v')} >= {NEAR_DUP_COS}
    """,
)
def q_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.35) with RANDOM-HYPERPLANE
    LSH candidate generation: pairs must share ≥1 of 8 sign-bands (an
    equi-join on (band, code), mirroring the MinHash text tier), then
    the exact cosine runs on candidates only. Band width is
    occupancy-adaptive (:func:`rhp_band_bits`): expected bucket occupancy
    stays ≤ {RHP_TARGET_OCC} as the corpus grows, so candidate work is
    ~n·occ·bands/2 — linear in n, the shape that survives 100 TB — at a
    documented recall cost per extra bit (the round-6 10× soak measured
    the fixed-width form at 31× wall). Nothing in the plan is all-pairs
    or blocked on a low-cardinality attribute. The oracle replays the
    identical sketch + banding + width rule, so candidates — not just
    survivors — agree across engines."""
    cand = _rhp_candidate_pairs(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    # norms hoisted to the JOIN INPUTS (once per vector, not per
    # candidate pair — the _argmin_cent lesson: higher-order lambdas run
    # interpreted, so per-pair cost is the wall at volume; the join
    # boundary stops Catalyst from re-inlining them). sqrt(dot(v,v)) and
    # the na*nb denominator keep the exact op order of cosine(), so sims
    # stay bit-identical to the oracle's dot/(norm*norm).
    ea = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        as_double(F.col("embedding")).alias("va"),
    ).withColumn("na", norm(F.col("va")))
    eb = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        as_double(F.col("embedding")).alias("vb"),
    ).withColumn("nb", norm(F.col("vb")))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # plain doc-id equi-joins for verification — AQE picks broadcast at
    # small scale and shuffle-hash beyond the broadcast ceiling
    return (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .filter(sim >= NEAR_DUP_COS)
        .select("vec_id_a", "vec_id_b", F.round(sim, 6).alias("sim"))
    )


KMEANS_ITERS = 2


def _argmin_cent(v: Column, nv: Column, cs: Column) -> Column:
    """Nearest-centroid id for vector ``v`` against the cent_id-ASCENDING
    centroid-struct array ``cs`` (each element carrying its precomputed
    norm ``nc``): a per-row fold keeping (best sim, its cent_id), with
    strict ``>`` so the FIRST (smallest cent_id) wins ties — exactly
    ROW_NUMBER() OVER (ORDER BY sim DESC, cent_id ASC).

    This replaces the earlier crossJoin + window argmin, which
    materialized N×K rows EACH CARRYING BOTH 64-double arrays through a
    vec_id-partitioned shuffle — at the round-6 10× soak
    (N=20k, K=312, three assignment rounds) that was ~6 GB of shuffled
    array payload per round and the whole cost of
    q_dedup_semdedup_scaled (296 s). The fold form computes the SAME
    sim values in one projection: no row blowup, no shuffle, no sort.
    Spark evaluates higher-order lambdas interpreted (CodegenFallback,
    ~µs per element — the jstack of the first cut showed ZipWith.eval
    dominating a single core), so the per-pair cost matters: both norms
    are hoisted — ``sqrt(dot(v,v))`` once per ROW and per CENTROID
    instead of per pair — which cuts per-pair work to one dot + one
    divide while leaving every float op and its order IDENTICAL to the
    oracle's dot/(norm·norm), so assignments stay bit-identical."""
    sims = F.transform(
        cs,
        lambda c: F.struct(
            (dot(v, c["cv"]) / (nv * c["nc"])).alias("sim"),
            c["cent_id"].alias("cent_id"),
        ),
    )
    best = F.aggregate(
        sims,
        F.struct(
            F.lit(float("-inf")).cast("double").alias("sim"),
            F.lit(-1).cast("long").alias("cent_id"),
        ),
        lambda acc, s: F.when(s["sim"] > acc["sim"], s).otherwise(acc),
    )
    return best["cent_id"]


def _cent_array(cents_df: DataFrame) -> DataFrame:
    """Collapse a (cent_id, cv) frame to ONE row holding the cent_id-
    sorted struct array, each element carrying its precomputed norm —
    the broadcast payload for fold-assignment."""
    return cents_df.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "cent_id", "cv", norm(F.col("cv")).alias("nc")
                )
            )
        ).alias("cs")
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin the frame across the cluster's cores AND pin a
    materialization barrier. Two jobs in one exchange: the embeddings
    fixtures arrive as one parquet file → one partition, which would
    serialize the interpreted assignment fold on a single core; and
    Catalyst's CollapseProject would otherwise inline a hoisted
    once-per-row norm back INTO the per-centroid lambda (re-evaluating
    it K times per row) — an Exchange between the projections is the
    barrier that keeps 'once per row' physically true. The payload is
    just N slim rows — trivial next to the fold it parallelizes."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _kmeans_assign(emb: DataFrame, cents_df: DataFrame) -> DataFrame:
    """One Lloyd assignment: every (vec_id, v) row to its nearest
    (cosine; cent_id tie-break) centroid — a single projection over the
    broadcast centroid array (see :func:`_argmin_cent`)."""
    return (
        _spread(emb.select("vec_id", "v", norm(F.col("v")).alias("nv")))
        .crossJoin(F.broadcast(_cent_array(cents_df)))
        .select(
            "vec_id",
            "v",
            _argmin_cent(
                F.col("v"), F.col("nv"), F.col("cs")
            ).alias("cent_id"),
        )
    )


def _kmeans_recenter(assigned_df: DataFrame) -> DataFrame:
    """Re-estimate centroids from an assignment: decimal-exact mean per
    (cluster, dimension), rebuilt into an ordered array — so both engines
    produce bit-identical centroid vectors regardless of row order."""
    cx = (
        assigned_df.select("cent_id", F.posexplode("v").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
                / F.count("*")
            ).alias("cx")
        )
    )
    return cx.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))),
            lambda s: s["cx"],
        ).alias("cv")
    )


def _lloyd(emb: DataFrame, k: int, train: DataFrame) -> DataFrame:
    """(cent_id, cv) after {KMEANS_ITERS} Lloyd rounds over ``train``
    (vec_id, v) from the deterministic first-``k`` init (vec_id < k of
    ``emb``) — the one k-means training loop: the fixed-K index trains
    on the whole corpus, the two-level build on its bounded sample. The
    oracles unroll the same rounds (``_kmeans_assign_sql`` /
    ``_kmeans_recenter_sql``)."""
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    for _ in range(KMEANS_ITERS):
        cents = _kmeans_recenter(_kmeans_assign(train, cents))
    return cents


def trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cent_id, cv) — K-MEANS-TRAINED centroids: {KMEANS_ITERS} Lloyd
    iterations from the deterministic first-K init (the same unrolled
    iterations ``q_kmeans`` registers, so the DuckDB oracle replays the
    training bit-for-bit).  Replaces the round-3 ``vec_id < K``
    pseudo-centroids: trained centroids spread over the data's actual
    modes, so IVF buckets are balanced and recall-at-nprobe improves
    (tests/test_ann_recall.py pins trained ≥ pseudo at equal nprobe)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    return _lloyd(emb, IVF_K, emb)


@session_memo("ivf_assignments")
def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained centroids, PERSISTED per (session, sf_dir): K rows, but
    their lineage is {KMEANS_ITERS} passes over the corpus — training
    runs once per session (the index-build job), never per query."""
    return trained_centroids(spark, sf_dir).persist()


@session_memo("ivf_assignments")
def _ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cent_id) — every vector assigned to its nearest
    centroid bucket, PERSISTED per (session, sf_dir): the IVF index is
    built once and shared by every ANN query in the session
    (single-probe, multi-probe, the recall-curve helper). At cluster
    scale this is the index-build job whose output would live as a
    bucketed table; rebuilding it per query — the previous shape — is
    what the 10× scaling run flagged."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    return _kmeans_assign(emb, _ivf_centroids(spark, sf_dir)).persist()


# --- the bucket-join layer ---------------------------------------------------
# Every IVF query reads an index frame (vec_id, v, *keys) through these
# helpers; ``keys`` is the bucket key: ["cent_id"] on the fixed-K index,
# ["cent_id", "shard"] on the two-level one. Cosines keep the oracle's
# dot/(norm·norm) op order with the index row first, so hoisting a norm
# out of the pair loop never moves a bit.


def _probe_rank(cents: DataFrame, qrow: DataFrame, nprobe: int) -> DataFrame:
    """(cent_id, cv, *qrow columns) of the ``nprobe`` centroids nearest
    the query vector ``qv`` of the one-row ``qrow`` (cosine, cent_id
    tie-break) — the multi-probe list, a K-row rank."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("q_sim"), F.asc("cent_id"))
    return (
        cents.crossJoin(F.broadcast(qrow))
        .withColumn("q_sim", cosine(F.col("cv"), F.col("qv")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .drop("q_sim", "rn")
    )


def _probe(index: DataFrame, probes: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``index`` in the buckets ``probes`` lists (one row per
    probed bucket: its ``keys`` plus the query's columns, ``qv`` at
    least), the query vector itself excluded — one broadcast equi-join
    on the bucket key, so the probe scans only the listed buckets."""
    return index.join(F.broadcast(probes), keys).filter(
        F.col("vec_id") != QUERY_VEC_ID
    )


def _cosine_topk(cand: DataFrame, *cols: str) -> DataFrame:
    """(vec_id, *cols, sim): the top-{TOP_K} probed candidates by cosine
    to ``qv`` (vec_id tie-break) as TakeOrderedAndProject — each
    partition keeps k rows, no global sort."""
    return (
        cand.select(
            "vec_id", *cols, cosine(F.col("v"), F.col("qv")).alias("sim")
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOP_K)
        .select("vec_id", *cols, F.round("sim", 6).alias("sim"))
    )


def _batch_topk(index: DataFrame, queries: DataFrame, keys: list[str]) -> DataFrame:
    """(q_id, rnk, vec_id, sim): each query's top-{ANN_BATCH_K} rows of
    ``index`` within its own bucket (every row when ``keys`` is empty —
    the exact side of a recall audit), one per-query window with the
    vec_id tie-break. ``queries`` is index-shaped (vec_id, v, *keys);
    the caller decides whether it broadcasts. Both sides' norms are
    computed once per row, not once per pair."""
    from pyspark.sql import Window

    q = queries.select(
        *keys,
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        norm(F.col("v")).alias("nq"),
    )
    scored = (
        index.select(*keys, "vec_id", "v", norm(F.col("v")).alias("nv"))
        .join(q, keys or None)
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (
                dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= ANN_BATCH_K)
        .select(
            "q_id",
            F.col("rnk").cast("int").alias("rnk"),
            "vec_id",
            F.round("sim", 6).alias("sim"),
        )
    )


def _recall_rows(index: DataFrame, keys: list[str]) -> DataFrame:
    """(q_id, k, n_hit, recall): recall@{ANN_BATCH_K} of single-probe
    search over ``index`` against the exact top-{ANN_BATCH_K}, for the
    {ANN_BATCH_Q}-query batch (vec_id < {ANN_BATCH_Q}). Both rank lists
    are |q|×k rows, so the intersection and the rollup broadcast."""
    queries = F.broadcast(index.filter(F.col("vec_id") < ANN_BATCH_Q))
    exact = _batch_topk(index, queries, [])
    approx = _batch_topk(index, queries, keys)
    hits = (
        exact.join(F.broadcast(approx), ["q_id", "vec_id"])
        .groupBy("q_id")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0).cast("bigint"))
    return (
        queries.select(F.col("vec_id").alias("q_id"))
        .join(F.broadcast(hits), "q_id", "left")
        .select(
            "q_id",
            F.lit(ANN_BATCH_K).alias("k"),
            n_hit.alias("n_hit"),
            F.round(n_hit * F.lit(1.0) / ANN_BATCH_K, 4).alias("recall"),
        )
    )


def _bucket_pairs(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, id_a, id_b, sim) for every pair of an ``a`` row and a
    ``b`` row in the same bucket — the within-bucket pair scan, an
    equi-join on ``keys`` (SortMergeJoin: measured faster than a
    shuffled hash join on rows that carry whole vectors). Each row's
    norm is computed once on the join input, not once per pair."""

    def side(df: DataFrame, s: str) -> DataFrame:
        return df.select(
            *keys,
            F.col("vec_id").alias(f"id_{s}"),
            F.col("v").alias(f"v{s}"),
            norm(F.col("v")).alias(f"n{s}"),
        )

    return side(a, "a").join(side(b, "b"), keys).select(
        *keys,
        "id_a",
        "id_b",
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias(
            "sim"
        ),
    )


def _kmeans_assign_sql(cents_cte: str, src: str = "ev") -> str:
    """One Lloyd assignment in DuckDB SQL against a (cent_id, cv) CTE.
    ``src`` defaults to the full-corpus ``ev`` CTE (the default keeps
    every existing oracle text byte-identical — the soak harness's memo
    needles depend on that); the two-level build passes its sample."""
    return f"""(
            SELECT vec_id, v, cent_id FROM (
                SELECT e.vec_id, e.v, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cosine_sql('e.v', 'c.cv')} DESC, c.cent_id
                       ) AS rn
                FROM {src} e, {cents_cte} c
            ) WHERE rn = 1
        )"""


def _kmeans_recenter_sql(assign_cte: str) -> str:
    """Re-estimate centroids from an assignment CTE (decimal-exact mean
    per dimension, rebuilt into an ordered list)."""
    return f"""(
            SELECT cent_id, list(cx ORDER BY pos) AS cv FROM (
                SELECT cent_id, pos,
                       CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(*) AS cx
                FROM (
                    SELECT cent_id,
                           generate_subscripts(v, 1) AS pos,
                           unnest(v) AS x
                    FROM {assign_cte}
                ) GROUP BY cent_id, pos
            ) GROUP BY cent_id
        )"""


# the (vec_id, v) base CTE both training chains start from — exposed so
# the soak harness (scripts/driver_sim.py) can rebuild it verbatim when
# it swaps a training chain for its once-materialized twin
_EV_CTE = (
    f"ev AS (SELECT vec_id, {as_double_sql('embedding')} AS v"
    " FROM embeddings)"
)


def _trained_cents_ctes() -> str:
    """The CTE chain replaying :func:`trained_centroids`: ev, c0 (first-K
    init), then {KMEANS_ITERS} unrolled assign/recenter rounds, ending in
    a ``cents`` CTE — the oracle's twin of the Spark-side IVF index
    training."""
    ctes = [
        _EV_CTE,
        f"c0 AS (SELECT vec_id AS cent_id, {as_double_sql('embedding')}"
        f" AS cv FROM embeddings WHERE vec_id < {IVF_K})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(f"kma{i} AS {_kmeans_assign_sql(f'c{i}')}")
        ctes.append(f"c{i + 1} AS {_kmeans_recenter_sql(f'kma{i}')}")
    ctes.append(
        f"cents AS (SELECT cent_id, cv FROM c{KMEANS_ITERS})"
    )
    return ",\n        ".join(ctes)


_ASSIGN_SQL = f"""
        {_trained_cents_ctes()},
        assigned AS (
            SELECT vec_id, embedding, cent_id FROM (
                SELECT e.vec_id, e.embedding, c.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cosine_sql(as_double_sql('e.embedding'), 'c.cv')} DESC,
                                    c.cent_id
                       ) AS rn
                FROM embeddings e, cents c
            ) WHERE rn = 1
        )
"""


@register(
    "q_ann_ivf",
    tags=("similarity", "ann", "scale"),
    oracle=f"""
        WITH {_ASSIGN_SQL},
        qbucket AS (
            SELECT cent_id FROM assigned WHERE vec_id = {QUERY_VEC_ID}
        ),
        q AS (
            SELECT {as_double_sql('embedding')} AS qv FROM embeddings
            WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT a.vec_id, ROUND({cosine_sql(as_double_sql('a.embedding'), 'q.qv')}, 6) AS sim
        FROM assigned a, qbucket, q
        WHERE a.cent_id = qbucket.cent_id AND a.vec_id <> {QUERY_VEC_ID}
        ORDER BY {cosine_sql(as_double_sql('a.embedding'), 'q.qv')} DESC, a.vec_id
        LIMIT {TOP_K}
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: vectors are partitioned into K
    centroid buckets (centroids = k-means-trained from the deterministic
    first-K init — the oracle replays the identical Lloyd iterations, so
    the whole index is hash-checkable); the query probes only its own
    bucket. At 100 TB: centroids broadcast, assignment is one codegen'd
    pass PERSISTED per session (`_ivf_assignment`) — the index is built
    once and every subsequent ANN query reads it, exactly how a serving
    pipeline amortizes index construction — and the probe scans ~N/K
    vectors instead of N (nprobe=1 here; recall/latency trades by
    raising it)."""
    assigned = _ivf_assignment(spark, sf_dir)
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "cent_id", F.col("v").alias("qv")
    )
    return _cosine_topk(_probe(assigned, qrow, ["cent_id"]))


@register(
    "q_embedding_centroids",
    tags=("similarity", "vector", "agg"),
    oracle=f"""
        WITH ex AS (
            SELECT label,
                   generate_subscripts(embedding, 1) AS pos,
                   unnest({as_double_sql('embedding')}) AS val
            FROM embeddings
        ),
        cent AS (
            SELECT label, pos,
                   CAST(SUM(CAST(val AS DECIMAL(28,10))) AS DOUBLE)
                       / COUNT(*) AS cx
            FROM ex GROUP BY label, pos
        )
        SELECT label,
               COUNT(*) AS dim,
               ROUND(SQRT(SUM(cx * cx)), 6) AS centroid_norm,
               ROUND(SUM(cx), 6) AS centroid_sum
        FROM cent GROUP BY label
    """,
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics via element-wise array aggregation:
    posexplode → mean per (label, dimension) → norm/sum of the centroid.
    The shuffle key is (label, dim) — N×D rows of 8-byte doubles with
    map-side partial averages, the scalable form of 'average the
    vectors' (no collect, no UDF). The K-means-style assignment in
    q_ann_ivf composes with this to re-estimate centroids."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "x"),
    )
    cent = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
            / F.count("*")
        ).alias("cx")
    )
    return cent.groupBy("label").agg(
        F.count("*").alias("dim"),
        F.round(F.sqrt(F.sum(F.col("cx") * F.col("cx"))), 6).alias(
            "centroid_norm"
        ),
        F.round(F.sum("cx"), 6).alias("centroid_sum"),
    )


def _kmeans_oracle() -> str:
    ctes = [
        f"ev AS (SELECT vec_id, {as_double_sql('embedding')} AS v FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cent_id, {as_double_sql('embedding')} AS cv"
        f" FROM embeddings WHERE vec_id < {IVF_K})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(f"a{i} AS {_kmeans_assign_sql(f'c{i}')}")
        ctes.append(f"c{i + 1} AS {_kmeans_recenter_sql(f'a{i}')}")
    final_assign = f"a_final AS {_kmeans_assign_sql(f'c{KMEANS_ITERS}')}"
    ctes.append(final_assign)
    cte_block = ",\n        ".join(ctes)
    return f"""
        WITH {cte_block}
        SELECT a.cent_id, COUNT(*) AS n_members,
               ROUND(SQRT({cosine_sql('c.cv', 'c.cv')} * 0 +
                     list_dot_product(c.cv, c.cv)), 6) AS centroid_norm
        FROM a_final a JOIN c{KMEANS_ITERS} c ON a.cent_id = c.cent_id
        GROUP BY a.cent_id, c.cv
    """


@register(
    "q_kmeans",
    tags=("similarity", "iterative", "scale"),
    oracle=_kmeans_oracle(),
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-means (2 Lloyd iterations, K=8, cosine assignment,
    deterministic first-K init) — the iterative-algorithm class done
    Spark-first: each iteration is assignment (broadcast centroids, one
    codegen'd pass, rank-1 per vector) + re-estimation (posexplode +
    (cluster, dim)-keyed exact-decimal means), all composed lazily into
    one DAG. The oracle unrolls the SAME iterations in SQL, so every
    intermediate assignment must agree across engines. At 100 TB each
    iteration would be checkpointed to cut lineage; 2 unrolled
    iterations keep the driver-contract query self-contained.  The
    trained centroids double as the session's IVF index centroids
    (:func:`trained_centroids` — the shared training loop)."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = trained_centroids(spark, sf_dir)
    final = _kmeans_assign(emb, cents)
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("cv"), F.col("cv"), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        final.groupBy("cent_id")
        .agg(F.count("*").alias("n_members"))
        .join(cents, "cent_id")
        .select(
            "cent_id", "n_members", F.round(norm, 6).alias("centroid_norm")
        )
    )


def _ivf_probes(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """(cent_id, cv, qv): the ``nprobe`` fixed-K buckets nearest the
    query vector — the probe list of the fixed-K multi-probe queries."""
    qrow = _ivf_assignment(spark, sf_dir).filter(
        F.col("vec_id") == QUERY_VEC_ID
    ).select(F.col("v").alias("qv"))
    return _probe_rank(_ivf_centroids(spark, sf_dir), qrow, nprobe)


def ann_ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF top-k with multi-probe: scan the ``nprobe`` centroid buckets
    nearest to the query instead of just its own. Recall rises toward
    brute-force as nprobe → K while probe cost stays ~nprobe·N/K —
    the standard IVF recall/latency dial (tests measure the recall curve
    against the exact q_similarity_topk baseline)."""
    return _cosine_topk(
        _probe(
            _ivf_assignment(spark, sf_dir),
            _ivf_probes(spark, sf_dir, nprobe),
            ["cent_id"],
        )
    )


@register(
    "q_dedup_embedding",
    tags=("dedup", "similarity", "vector", "lsh", "scale"),
    oracle=f"""
        WITH {_RHP_CTE},
        {_RHP_CAND_CTE},
        pairs AS (
            SELECT c.vec_id_a AS keep_cand, c.vec_id_b AS drop_id,
                   {cosine_sql('a.v', 'b.v')} AS sim
            FROM cand c
            JOIN ev a ON a.vec_id = c.vec_id_a
            JOIN ev b ON b.vec_id = c.vec_id_b
            WHERE {cosine_sql('a.v', 'b.v')} >= {NEAR_DUP_COS}
        ),
        dropped AS (
            SELECT drop_id AS doc_id,
                   MIN(keep_cand) AS kept_doc_id,
                   ROUND(MAX(sim), 6) AS max_sim
            FROM pairs GROUP BY drop_id
        )
        SELECT d.doc_id, d.lang, dr.kept_doc_id, dr.max_sim
        FROM dropped dr JOIN documents d ON d.doc_id = dr.doc_id
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup over DOCUMENTS (the semantic dedup tier:
    embeddings stand in for meaning, so paraphrases collide where shingle
    tiers can't see them): a document is dropped when a smaller-id
    document shares an LSH band with it and is cosine-similar
    ≥ {NEAR_DUP_COS}; the keeper is the smallest such id. Candidate
    generation is the random-hyperplane band join (q_similarity_pairs) —
    bucketed, never label-blocked or all-pairs — and the verdict joins
    back to ``documents`` on doc_id (embeddings and text co-keyed 1:1).
    Output is the removal list a corpus-cleaning pipeline feeds its
    anti-join."""
    docs = table(spark, sf_dir, "documents")
    dropped = (
        q_similarity_pairs(spark, sf_dir)
        .select(
            F.col("vec_id_b").alias("doc_id"),
            F.col("vec_id_a").alias("keep_cand"),
            "sim",
        )
        .groupBy("doc_id")
        .agg(
            F.min("keep_cand").alias("kept_doc_id"),
            F.round(F.max("sim"), 6).alias("max_sim"),
        )
    )
    return dropped.join(docs, "doc_id").select(
        "doc_id", "lang", "kept_doc_id", "max_sim"
    )


@session_memo("rhp_sketches")
def _rhp_sharded_band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, shard, band, code) LSH bucket rows with the re-shard
    dial applied: shard = packed sign bits of the dedicated shard planes
    (rhp_shard_bits(n) of them), band width re-derived for the PER-SHARD
    expected count. Packed from the SAME persisted bit frame as the
    unsharded family (:func:`_rhp_bits_frame` — round-8 constant-factor
    item: this used to rebuild its own full sign fold, 98 s vs 22 s at
    the 10× soak), and persisted in the same cache family / release
    path."""
    n = table(spark, sf_dir, "embeddings").count()
    ss = rhp_shard_bits(n)
    bb = rhp_band_bits(n, shard_bits=ss)
    frame = _rhp_bits_frame(spark, sf_dir)
    if ss == 0:
        shard = F.lit(0)
    else:
        shard = sum(
            (
                F.element_at("sbits", r + 1) * F.lit(1 << r)
                for r in range(1, ss)
            ),
            start=F.element_at("sbits", 1),
        )
    return (
        frame.select(
            "vec_id",
            shard.cast("int").alias("shard"),
            _pack_codes(bb).alias("codes"),
        )
        .select(
            "vec_id", "shard", F.posexplode("codes").alias("band", "code")
        )
        .persist()
    )


# sharded-oracle pipeline: same planes/decimal folds as _RHP_CTE, but
# params add the shard-bit rule and band width derives from the
# PER-SHARD count ((1<<b)·occ·2^ss ≥ n — the cross-multiplied integer
# form of occ·2^b ≥ ceil(n/2^ss)); shard planes live at
# j ≥ RHP_SHARD_PLANE_BASE so they never overlap a band plane.
_RHP_SHARDED_CTE = f"""
        sparams AS (
            SELECT COALESCE(
                (SELECT MIN(s)
                 FROM range(0, {RHP_SHARD_BITS_MAX} + 1) t(s)
                 WHERE (CAST(1 AS BIGINT) << s) * {RHP_SHARD_CAP}
                       >= (SELECT COUNT(*) FROM embeddings)),
                {RHP_SHARD_BITS_MAX}) AS ss
        ),
        bparams AS (
            SELECT ss, COALESCE(
                (SELECT MIN(b)
                 FROM range({RHP_BAND_BITS}, {RHP_BAND_BITS_MAX} + 1) t(b)
                 WHERE ((CAST(1 AS BIGINT) << b) * {RHP_TARGET_OCC}) << ss
                       >= (SELECT COUNT(*) FROM embeddings)),
                {RHP_BAND_BITS_MAX}) AS bb
            FROM sparams
        ),
        ev AS (SELECT vec_id, {as_double_sql('embedding')} AS v
               FROM embeddings),
        ex AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d,
                      unnest(v) AS x
               FROM ev),
        contrib AS (
            SELECT vec_id, j,
                   CAST(x * {_RHP_PLANE_SQL} AS DECIMAL(18,10)) AS c
            FROM ex
            CROSS JOIN range(0, {RHP_SHARD_PLANE_BASE}
                                + {RHP_SHARD_BITS_MAX}) t(j)
            CROSS JOIN bparams
            WHERE j < {RHP_BANDS} * bb
               OR (j >= {RHP_SHARD_PLANE_BASE}
                   AND j < {RHP_SHARD_PLANE_BASE} + ss)
        ),
        bits AS (
            SELECT vec_id, j, CASE WHEN SUM(c) >= 0 THEN 1 ELSE 0 END AS bit
            FROM contrib GROUP BY vec_id, j
        ),
        shards AS (
            SELECT e.vec_id, COALESCE(s.sh, 0) AS shard
            FROM ev e LEFT JOIN (
                SELECT vec_id,
                       CAST(SUM(bit << (j - {RHP_SHARD_PLANE_BASE}))
                            AS INT) AS sh
                FROM bits WHERE j >= {RHP_SHARD_PLANE_BASE}
                GROUP BY vec_id
            ) s ON e.vec_id = s.vec_id
        ),
        scodes AS (
            SELECT b.vec_id, sh.shard, CAST(j // bb AS INT) AS band,
                   CAST(SUM(bit << (j % bb)) AS INT) AS code
            FROM bits b CROSS JOIN bparams
            JOIN shards sh ON b.vec_id = sh.vec_id
            WHERE j < {RHP_BANDS} * bb
            GROUP BY b.vec_id, sh.shard, CAST(j // bb AS INT)
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS vec_id_a, y.vec_id AS vec_id_b
            FROM scodes x JOIN scodes y
              ON x.shard = y.shard AND x.band = y.band
             AND x.code = y.code AND x.vec_id < y.vec_id
        )
"""


@register(
    "q_dedup_embedding_sharded",
    tags=("dedup", "similarity", "vector", "lsh", "scale"),
    oracle=f"""
        WITH {_RHP_SHARDED_CTE},
        pairs AS (
            SELECT c.vec_id_a AS keep_cand, c.vec_id_b AS drop_id,
                   {cosine_sql('a.v', 'b.v')} AS sim
            FROM cand c
            JOIN ev a ON a.vec_id = c.vec_id_a
            JOIN ev b ON b.vec_id = c.vec_id_b
            WHERE {cosine_sql('a.v', 'b.v')} >= {NEAR_DUP_COS}
        ),
        dropped AS (
            SELECT drop_id AS doc_id,
                   MIN(keep_cand) AS kept_doc_id,
                   ROUND(MAX(sim), 6) AS max_sim
            FROM pairs GROUP BY drop_id
        )
        SELECT d.doc_id, d.lang, dr.kept_doc_id, dr.max_sim
        FROM dropped dr JOIN documents d ON d.doc_id = dr.doc_id
    """,
)
def q_dedup_embedding_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup removal list with the RE-SHARD dial — the path
    PAST the band-width ceiling (``rhp_band_bits`` saturates at
    {RHP_BAND_BITS_MAX} bits ≈ 4.2M vectors at production occupancy; the
    module header used to say "re-shard first" without an operator —
    this is that operator). The corpus is split into 2^s content-derived
    shards (s = :func:`rhp_shard_bits`; shard bits are hyperplane signs
    from dedicated planes, so exact duplicates ALWAYS co-shard and
    near-dups co-shard with the same per-bit probability the band dial
    pays), the candidate join gains shard equality as one extra
    equi-join key, and band width re-derives from the per-shard count —
    occupancy, and therefore per-bucket pair work, stays at target for
    ANY n: bucket count scales as 2^(s+b) while each stays ~{RHP_TARGET_OCC}
    rows.

    Below the cap (s=0) this is q_dedup_embedding exactly — same planes,
    same width, shard key constant 0 (floor parity pinned in
    tests/test_round7_ops.py); the shipped fixtures activate s=1 at
    sf0.1 and s≥5 at the 10×/30× soaks. Output shape and keep/drop
    convention match the dedup tier family."""
    docs = table(spark, sf_dir, "documents")
    rows = _rhp_sharded_band_rows(spark, sf_dir)
    x, y = rows.alias("x"), rows.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.shard") == F.col("y.shard"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.code") == F.col("y.code"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_id_a"),
            F.col("y.vec_id").alias("vec_id_b"),
        )
        .distinct()
    )
    emb = table(spark, sf_dir, "embeddings")
    ea = emb.select(
        F.col("vec_id").alias("vec_id_a"),
        as_double(F.col("embedding")).alias("va"),
    ).withColumn("na", norm(F.col("va")))
    eb = emb.select(
        F.col("vec_id").alias("vec_id_b"),
        as_double(F.col("embedding")).alias("vb"),
    ).withColumn("nb", norm(F.col("vb")))
    sim = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    dropped = (
        cand.join(ea, "vec_id_a")
        .join(eb, "vec_id_b")
        .filter(sim >= NEAR_DUP_COS)
        .select(
            F.col("vec_id_b").alias("doc_id"),
            F.col("vec_id_a").alias("keep_cand"),
            sim.alias("sim"),
        )
        .groupBy("doc_id")
        .agg(
            F.min("keep_cand").alias("kept_doc_id"),
            F.round(F.max("sim"), 6).alias("max_sim"),
        )
    )
    return dropped.join(docs, "doc_id").select(
        "doc_id", "lang", "kept_doc_id", "max_sim"
    )


@register(
    "q_dedup_embedding_auto",
    tags=("dedup", "similarity", "vector", "lsh", "scale"),
    oracle=f"""
        WITH {_RHP_SHARDED_CTE},
        pairs AS (
            SELECT c.vec_id_a AS keep_cand, c.vec_id_b AS drop_id,
                   {cosine_sql('a.v', 'b.v')} AS sim
            FROM cand c
            JOIN ev a ON a.vec_id = c.vec_id_a
            JOIN ev b ON b.vec_id = c.vec_id_b
            WHERE {cosine_sql('a.v', 'b.v')} >= {NEAR_DUP_COS}
        ),
        dropped AS (
            SELECT drop_id AS doc_id,
                   MIN(keep_cand) AS kept_doc_id,
                   ROUND(MAX(sim), 6) AS max_sim
            FROM pairs GROUP BY drop_id
        )
        SELECT d.doc_id, d.lang, dr.kept_doc_id, dr.max_sim
        FROM dropped dr JOIN documents d ON d.doc_id = dr.doc_id
    """,
)
def q_dedup_embedding_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup removal list with ENGINE-SELECTED shape — the
    round-8 verdict's 'a production engine should pick the form itself'
    item. The unsharded band form (:func:`q_dedup_embedding`) is the
    low-constant plan while expected bucket occupancy holds at target,
    but past the occupancy knee its pair mass grows ∝ n·occupancy (the
    30× soak measured 2.3× wall per 3× data); the re-shard dial
    (:func:`q_dedup_embedding_sharded`) keeps occupancy flat for any n
    at the cost of one extra join key and the shard-plane folds. This
    entry derives shard bits from the corpus count with the SAME rule
    the sharded path uses (:func:`rhp_shard_bits`: smallest s with
    2^s·{RHP_SHARD_CAP} ≥ n) and dispatches: s = 0 → the unsharded
    plan verbatim (no shard column anywhere — the two extremes stay
    pinned as explicit keys), s ≥ 1 → the sharded plan verbatim. Both
    branches share the session bit-frame/band-row caches with their
    explicit twins, so the auto entry never re-folds. The oracle is the
    sharded pipeline, which replays the same dial in integer SQL and
    degenerates to the unsharded pipeline at ss = 0 (same planes, same
    width, shard key constant 0) — so ONE oracle covers both regimes."""
    n = table(spark, sf_dir, "embeddings").count()
    if rhp_shard_bits(n) == 0:
        return q_dedup_embedding(spark, sf_dir)
    return q_dedup_embedding_sharded(spark, sf_dir)


QUANT_LEVELS = 255  # int8 code range 0..255


@register(
    "q_embedding_quantize",
    tags=("similarity", "vector", "quantization", "scale"),
    oracle=f"""
        WITH e AS (
            SELECT vec_id, {as_double_sql('embedding')} AS v FROM embeddings
        ),
        ex AS (
            SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
            FROM e
        ),
        stats AS (
            SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos
        ),
        sarr AS (
            SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
            FROM stats
        ),
        q AS (
            SELECT vec_id, v, mns, mxs,
                   list_transform(range(1, len(v) + 1), i ->
                       CASE WHEN mxs[i] = mns[i] THEN 0
                            ELSE CAST(round((v[i] - mns[i])
                                 / (mxs[i] - mns[i]) * {QUANT_LEVELS}, 0)
                                 AS BIGINT)
                       END) AS codes
            FROM e, sarr
        )
        SELECT vec_id,
               len(codes) AS n_dims,
               md5(array_to_string(list_transform(codes,
                   c -> CAST(c AS VARCHAR)), ',')) AS code_key,
               ROUND(list_sum(list_transform(range(1, len(v) + 1), i ->
                   pow(v[i] - (mns[i] + codes[i] / {QUANT_LEVELS}.0
                       * (mxs[i] - mns[i])), 2))) / len(v), 6) AS mse
        FROM q
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 scalar quantization of the embedding column — the 4× storage /
    bandwidth cut a 100 TB vector corpus takes before indexing (codes ship
    to the ANN tiers; full floats stay in cold storage). Per-dimension
    global min/max come from one posexplode aggregation collapsed to a
    single broadcast row — no driver collect, and the quantize/dequantize
    transforms are per-row built-ins (transform with index), so the whole
    plan is one small shuffle plus a map stage at any scale. Emits the
    per-vector reconstruction MSE — the quality dial (more levels / PQ
    subspaces) a pipeline monitors. All math in float64; identical
    expression order in the oracle keeps codes and MSE bit-stable."""
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    stats_row = (
        e.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "mn", "mx"))
            ).alias("s")
        )
    )

    def mn(i: Column) -> Column:
        return F.element_at(F.col("s"), i + 1)["mn"]

    def mx(i: Column) -> Column:
        return F.element_at(F.col("s"), i + 1)["mx"]

    codes = F.transform(
        "v",
        lambda x, i: F.when(mx(i) == mn(i), F.lit(0).cast("long")).otherwise(
            F.round(
                (x - mn(i)) / (mx(i) - mn(i)) * F.lit(QUANT_LEVELS), 0
            ).cast("long")
        ),
    )
    q = e.crossJoin(F.broadcast(stats_row)).withColumn("codes", codes)
    err = F.transform(
        "codes",
        lambda c, i: F.pow(
            F.element_at(F.col("v"), i + F.lit(1))
            - (mn(i) + c / F.lit(float(QUANT_LEVELS)) * (mx(i) - mn(i))),
            F.lit(2),
        ),
    )
    mse = F.round(
        F.aggregate(err, F.lit(0.0), lambda a, x: a + x) / F.size("v"), 6
    )
    return q.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        F.md5(
            F.concat_ws(",", F.transform("codes", lambda c: c.cast("string")))
        ).alias("code_key"),
        mse.alias("mse"),
    )


IVF_PROBES = 2


@register(
    "q_ann_ivf_multiprobe",
    tags=("similarity", "ann", "scale"),
    oracle=f"""
        WITH {_ASSIGN_SQL},
        q AS (
            SELECT {as_double_sql('embedding')} AS qv FROM embeddings
            WHERE vec_id = {QUERY_VEC_ID}
        ),
        probes AS (
            SELECT cent_id FROM (
                SELECT c.cent_id,
                       ROW_NUMBER() OVER (
                           ORDER BY {cosine_sql('c.cv', 'q.qv')} DESC,
                                    c.cent_id
                       ) AS rn
                FROM cents c, q
            ) WHERE rn <= {IVF_PROBES}
        )
        SELECT a.vec_id,
               ROUND({cosine_sql(as_double_sql('a.embedding'), 'q.qv')}, 6)
                   AS sim
        FROM assigned a JOIN probes p ON a.cent_id = p.cent_id, q
        WHERE a.vec_id <> {QUERY_VEC_ID}
        ORDER BY {cosine_sql(as_double_sql('a.embedding'), 'q.qv')} DESC,
                 a.vec_id
        LIMIT {TOP_K}
    """,
)
def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF: the query searches its {IVF_PROBES} nearest
    centroid buckets instead of one — the standard recall dial (probing 2
    of K=8 buckets here roughly doubles candidate coverage for ~2× probe
    cost, still ~N·P/K ≪ N vectors scanned). The probe list is a
    broadcast K-row rank, the bucket restriction is a broadcast semi-join
    on cent_id, and the final top-k is TakeOrderedAndProject — no global
    sort, no all-pairs anywhere. Recall-vs-nprobe is curve-tested in
    tests/test_ann_recall.py."""
    return ann_ivf_topk(spark, sf_dir, IVF_PROBES)


PCA_DIM = 64  # fixture embedding width (FIXTURES.md)


@register(
    "q_embedding_pca_power",
    tags=("similarity", "vector", "iterative", "scale"),
    oracle=f"""
        WITH m AS (
            SELECT vec_id, i, embedding[i] AS v
            FROM embeddings
            CROSS JOIN UNNEST(range(1, {PCA_DIM} + 1)) AS u(i)
        ), means AS (
            SELECT i,
                   CAST(SUM(CAST(FLOOR(v * 1e10) AS BIGINT)) AS DOUBLE)
                       / COUNT(*) / 1e10 AS mu
            FROM m GROUP BY 1
        ), mc AS (
            SELECT m.vec_id, m.i, m.v - means.mu AS v
            FROM m JOIN means USING (i)
        ), s1 AS (
            SELECT vec_id,
                   CAST(SUM(CAST(FLOOR(v * 1.0 * 1e10) AS BIGINT))
                        AS DOUBLE) / 1e10 AS s
            FROM mc GROUP BY 1
        ), v1r AS (
            SELECT mc.i AS dim,
                   SUM(CAST(FLOOR(mc.v * s1.s * 1e6) AS BIGINT)) AS vi
            FROM mc JOIN s1 USING (vec_id) GROUP BY 1
        ), n1 AS (
            SELECT SQRT(CAST(SUM(vi * vi) AS DOUBLE)) AS nrm FROM v1r
        ), v1 AS (
            SELECT dim, CAST(vi AS DOUBLE) / n1.nrm AS val
            FROM v1r CROSS JOIN n1
        ), s2 AS (
            SELECT mc.vec_id,
                   CAST(SUM(CAST(FLOOR(mc.v * v1.val * 1e10) AS BIGINT))
                        AS DOUBLE) / 1e10 AS s
            FROM mc JOIN v1 ON mc.i = v1.dim GROUP BY 1
        ), v2r AS (
            SELECT mc.i AS dim,
                   SUM(CAST(FLOOR(mc.v * s2.s * 1e6) AS BIGINT)) AS vi
            FROM mc JOIN s2 USING (vec_id) GROUP BY 1
        ), n2 AS (
            SELECT SQRT(CAST(SUM(vi * vi) AS DOUBLE)) AS nrm FROM v2r
        )
        SELECT CAST(dim AS BIGINT) AS dim,
               ROUND(CAST(vi AS DOUBLE) / n2.nrm, 6) AS component
        FROM v2r CROSS JOIN n2
    """,
)
def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRINCIPAL-COMPONENT power method on the (mean-centered) embedding
    matrix — two fixed iterations from the all-ones start, the
    dimensionality-reduction primitive (whitening, drift monitoring,
    coarse IVF axes) done without MLlib: v ← normalize(AᵀA v), where
    each iteration is one narrow pass computing per-row scalars
    s = ⟨centered_row, v⟩ (zip_with against the BROADCAST 64-float
    direction — no join, no explode) plus one posexplode rollup
    accumulating Σ s·row into the next direction (a {PCA_DIM}-group
    aggregate).

    At 100 TB: per iteration the data-sized work is one scan; everything
    that crosses the wire is {PCA_DIM} partial sums per task (map-side
    combined), and the direction vector re-enters as a broadcast row —
    the classic distributed power iteration.  The mean vector rides the
    same pattern.  The ORACLE unrolls the identical two iterations over
    an explode-join formulation; the hash match pins every partial sum.
    Deterministic sign: both engines start from all-ones.

    Cross-engine determinism (round-9 finding): every cross-row sum is
    FLOOR-QUANTIZED — contribution = floor(x · 10^q) summed as exact
    integers — instead of cast to DECIMAL.  The 30× full-registry soak
    caught Spark and DuckDB disagreeing by one 1e-10 grid step on a
    handful of ``CAST(double AS DECIMAL(28,10))`` conversions out of
    millions (Spark rounds the exact decimal expansion HALF_UP; DuckDB
    scales-then-rounds in binary — values that straddle a grid midpoint
    after the binary multiply go opposite ways), and two chained
    power-method iterations amplified one such step into the 6th
    decimal of one component.  floor(x · 10^q) is two IEEE-defined
    deterministic ops (one multiply, one floor — no ties, no decimal
    conversion at all), integer sums are order-independent, and the
    normalizations divide quantized integers cast exactly to double —
    so every intermediate is bit-identical across engines by
    construction.  Sums carry decimal(38,0)/HUGEINT accumulators; the
    norm squares stay < 10^30 at the 1e6 row-sum scale (600k-vector
    soak headroom ~10^8×).

    Convergence is geometric in the eigengap — the synthetic fixture's
    spectrum is near-isotropic (λ1/λ2 ≈ 1.07), so two iterations yield
    a dominant-SUBSPACE direction, not the isolated top component; a
    production run loops the same two-stage body to tolerance (each
    round is one scan + a {PCA_DIM}-row exchange, so iteration count,
    not data volume, is the only thing that grows).  The Rayleigh
    quotient is guaranteed non-decreasing per iteration
    (tests/test_vectors.py pins it)."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def to_arr(df, dim_col, val_col):
        # (dim, val) rows -> one broadcastable row holding the dense
        # vector, ordered by dim (array_sort on struct sorts by field 1)
        return df.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(dim_col, val_col))),
                lambda x: x[val_col],
            ).alias("vec")
        )

    def qsum(col, q):
        # exact integer sum of floor(col * 10^q); decimal(38,0)
        # accumulator = DuckDB's HUGEINT headroom
        return F.sum(F.floor(col * F.lit(float(q))).cast("decimal(38,0)"))

    def qfold(arr, q):
        # per-row array fold of floor(x * 10^q) — integer adds, exact
        return F.aggregate(
            arr,
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc
            + F.floor(x * F.lit(float(q))).cast("decimal(38,0)"),
            lambda acc: acc.cast("double"),
        )

    m = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    )
    means = m.groupBy("i").agg(
        (
            qsum(F.col("v"), 1e10).cast("double")
            / F.count("*")
            / F.lit(1e10)
        ).alias("mu")
    )
    mean_arr = to_arr(means, "i", "mu")

    centered = (
        emb.crossJoin(F.broadcast(mean_arr))
        .select(
            "vec_id",
            F.zip_with(
                "embedding", "vec", lambda x, mu: x.cast("double") - mu
            ).alias("c"),
        )
    )

    def iterate(cent, v_arr_df):
        s = cent.crossJoin(F.broadcast(v_arr_df)).select(
            "vec_id",
            "c",
            (
                qfold(F.zip_with("c", "vec", lambda x, y: x * y), 1e10)
                / F.lit(1e10)
            ).alias("s"),
        )
        vr = (
            s.select(F.posexplode("c").alias("i", "v"), "s")
            .groupBy("i")
            .agg(qsum(F.col("v") * F.col("s"), 1e6).alias("vi"))
        )
        nrm = vr.agg(
            F.sqrt(F.sum(F.col("vi") * F.col("vi")).cast("double")).alias(
                "n"
            )
        )
        return vr.crossJoin(F.broadcast(nrm)).select(
            "i", (F.col("vi").cast("double") / F.col("n")).alias("val")
        )

    ones = spark.range(1).select(
        F.array(*[F.lit(1.0)] * PCA_DIM).alias("vec")
    )
    v1 = iterate(centered, ones)
    v2_unnorm = (
        centered.crossJoin(F.broadcast(to_arr(v1, "i", "val")))
        .select(
            "c",
            (
                qfold(F.zip_with("c", "vec", lambda x, y: x * y), 1e10)
                / F.lit(1e10)
            ).alias("s"),
        )
        .select(F.posexplode("c").alias("i", "v"), "s")
        .groupBy("i")
        .agg(qsum(F.col("v") * F.col("s"), 1e6).alias("vi"))
    )
    nrm2 = v2_unnorm.agg(
        F.sqrt(F.sum(F.col("vi") * F.col("vi")).cast("double")).alias("n")
    )
    return v2_unnorm.crossJoin(F.broadcast(nrm2)).select(
        (F.col("i") + 1).cast("long").alias("dim"),
        F.round(F.col("vi").cast("double") / F.col("n"), 6).alias(
            "component"
        ),
    )


# --------------------------------------------------------------------------
# Product quantization (ADC)

PQ_M = 8  # subspaces
PQ_SUB = PCA_DIM // PQ_M  # dims per subspace
PQ_K = 4  # codebook entries per subspace (anchor vectors vec_id 0..3)
PQ_TOP = 10


def _pq_elem(vec: str, i: int) -> str:
    return f"CAST({vec}[{i}] AS DOUBLE)"


def _pq_sq(va: str, vb: str, lo: int, hi: int) -> str:
    """Squared L2 over dims [lo, hi] as unrolled DuckDB SQL — the
    left-associated term order the Spark fold (:func:`_sq_fold_sql`)
    adds in, so the double arithmetic is bit-equal across engines."""
    terms = [
        f"({_pq_elem(va, i)} - {_pq_elem(vb, i)})"
        f" * ({_pq_elem(va, i)} - {_pq_elem(vb, i)})"
        for i in range(lo, hi + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _pq_dist_cols() -> list[str]:
    """d{s}_{k}: vector-to-centroid subspace distances; g{s}_{k}: the
    query's distances to the same centroids (the ADC lookup table)."""
    cols = []
    for s in range(PQ_M):
        lo, hi = s * PQ_SUB + 1, (s + 1) * PQ_SUB
        for k in range(PQ_K):
            cols.append(
                f"{_pq_sq('embedding', f'a{k}', lo, hi)} AS d{s}_{k}"
            )
            cols.append(
                f"{_pq_sq('qe', f'a{k}', lo, hi)} AS g{s}_{k}"
            )
    cols.append(
        f"{_pq_sq('embedding', 'qe', 1, PCA_DIM)} AS ex"
    )
    return cols


def _pq_adc_expr() -> str:
    """Per-subspace: pick the ADC table entry of the argmin centroid
    (<= comparisons -> smallest-k tie-break), sum across subspaces.
    References only the named d/g columns, so it is dialect-neutral."""
    parts = []
    for s in range(PQ_M):
        d = [f"d{s}_{k}" for k in range(PQ_K)]
        g = [f"g{s}_{k}" for k in range(PQ_K)]
        parts.append(
            f"(CASE WHEN {d[0]} <= {d[1]} AND {d[0]} <= {d[2]}"
            f" AND {d[0]} <= {d[3]} THEN {g[0]}"
            f" WHEN {d[1]} <= {d[2]} AND {d[1]} <= {d[3]} THEN {g[1]}"
            f" WHEN {d[2]} <= {d[3]} THEN {g[2]}"
            f" ELSE {g[3]} END)"
        )
    return " + ".join(parts)


# --- trained PQ codebooks (round 9) -----------------------------------------
# The PQ family's codewords used to be the subvectors of the first PQ_K
# corpus vectors — deterministic ANCHORS, correct by construction but
# untrained, so reconstruction error (and therefore ADC ranking quality)
# was whatever the first 4 rows happened to give. The production rule
# (Jégou et al.; FAISS ProductQuantizer.train) is per-subspace k-means:
# each of the PQ_M subspaces trains its own PQ_K-entry codebook on a
# bounded sample. Here that is the SAME sampled-Lloyd machinery the
# two-level IVF uses — first-K init from the sample, unrolled
# iterations, decimal-exact recentering — run on (vec_id, subspace,
# subvector) rows so all PQ_M trainings ride ONE chain, and replayed
# end to end by the oracle. q_pq_train_audit measures what training
# buys (recall@k and reconstruction MSE, trained vs anchor).


def _pq_subvector_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, s, sv): each sample vector exploded into its PQ_M
    subvectors — one relation so every subspace trains in one pass."""
    return emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("s"),
                        F.slice("v", s * PQ_SUB + 1, PQ_SUB).alias("sv"),
                    )
                    for s in range(PQ_M)
                ]
            )
        ).alias("e"),
    ).select("vec_id", F.col("e.s").alias("s"), F.col("e.sv").alias("sv"))


def _pq_sub_argmin(sv: Column, cs: Column) -> Column:
    """Nearest-codeword id for subvector ``sv`` against the k-ASCENDING
    codeword-struct array ``cs``: fold keeping (best squared-L2, its k),
    strict ``<`` so the first (smallest k) wins ties — exactly
    ROW_NUMBER() OVER (ORDER BY dist ASC, k ASC). The per-codeword
    distance is the same left-to-right fold of squared terms the scoring
    columns use, so assignment is bit-identical across engines."""
    dists = F.transform(
        cs,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(sv, c["cw"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ).alias("d"),
            c["k"].alias("k"),
        ),
    )
    best = F.aggregate(
        dists,
        F.struct(
            F.lit(float("inf")).cast("double").alias("d"),
            F.lit(-1).cast("int").alias("k"),
        ),
        lambda acc, s: F.when(s["d"] < acc["d"], s).otherwise(acc),
    )
    return best["k"]


def _pq_cb_assign(sv_rows: DataFrame, cb: DataFrame) -> DataFrame:
    """One Lloyd assignment over every subspace at once: codebooks
    broadcast per-s as sorted struct arrays, argmin fold per row."""
    cba = cb.groupBy("s").agg(
        F.array_sort(F.collect_list(F.struct("k", "cw"))).alias("cs")
    )
    return sv_rows.join(F.broadcast(cba), "s").select(
        "vec_id",
        "s",
        "sv",
        _pq_sub_argmin(F.col("sv"), F.col("cs")).alias("k"),
    )


def _pq_cb_recenter(assigned: DataFrame) -> DataFrame:
    """Re-estimate codewords: decimal-exact per-(s, k, dim) means,
    rebuilt into ordered arrays (the ``_kmeans_recenter`` rule)."""
    cx = (
        assigned.select("s", "k", F.posexplode("sv").alias("pos", "x"))
        .groupBy("s", "k", "pos")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(28,10)")).cast("double")
                / F.count("*")
            ).alias("cx")
        )
    )
    return cx.groupBy("s", "k").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cx"))),
            lambda st: st["cx"],
        ).alias("cw")
    )


@session_memo("ivf_assignments")
def _pq_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained codebook (see :func:`_pq_codebook`) over the same
    bounded sample as the two-level IVF (vec_id < min(N, IVF2_SAMPLE)),
    session-persisted."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    n = emb.count()
    return _pq_codebook(emb.filter(F.col("vec_id") < min(n, IVF2_SAMPLE)))


def _pq_codebook(samp: DataFrame) -> DataFrame:
    """ONE-row frame of the codebook trained per subspace on ``samp``
    (vec_id, v), pivoted to columns ``c{s}_{k}`` (each a PQ_SUB-dim
    array<double>) — the broadcast payload the scoring queries
    cross-join, exactly like the old anchor row. First-{PQ_K} init,
    {KMEANS_ITERS} Lloyd iterations, persisted; the raw and the
    residual codebooks both train here."""
    sv_rows = _spread(_pq_subvector_rows(samp))
    cb = sv_rows.filter(F.col("vec_id") < PQ_K).select(
        "s", F.col("vec_id").cast("int").alias("k"), F.col("sv").alias("cw")
    )
    for _ in range(KMEANS_ITERS):
        cb = _pq_cb_recenter(_pq_cb_assign(sv_rows, cb))
    piv = cb.groupBy().agg(
        *[
            F.max(
                F.when(
                    (F.col("s") == s) & (F.col("k") == k), F.col("cw")
                )
            ).alias(f"c{s}_{k}")
            for s in range(PQ_M)
            for k in range(PQ_K)
        ]
    )
    return piv.persist()


def _pq_sub_dist_sql(a_sv: str, b_cw: str) -> str:
    """Unrolled squared-L2 between two PQ_SUB-dim lists — the oracle
    twin of the assignment fold (same left-associated term order)."""
    terms = [
        f"({a_sv}[{i}] - {b_cw}[{i}]) * ({a_sv}[{i}] - {b_cw}[{i}])"
        for i in range(1, PQ_SUB + 1)
    ]
    return "(" + " + ".join(terms) + ")"


def _pqt_ctes(prefix: str = "pq", src: str | None = None) -> str:
    """Oracle replay of the per-subspace codebook training, ending in
    ``{prefix}cbp`` — the one-row pivoted codebook (c{s}_{k} list
    columns). CTE names are prefix-scoped, disjoint from the two-level
    chain so the IVFPQ oracle embeds both side by side. ``src`` is the
    (vec_id, v) training-source subquery — default the double-cast
    corpus (byte-identical to the round-9 text); the residual family
    passes its residual relation instead."""
    p = prefix
    sn_sql = f"(SELECT LEAST(COUNT(*), {IVF2_SAMPLE}) FROM embeddings)"
    if src is None:
        src = (
            f"SELECT vec_id, {as_double_sql('embedding')} AS v\n"
            f"                  FROM embeddings WHERE vec_id < {sn_sql}"
        )
    ctes = [
        f"""{p}sv AS (
            SELECT vec_id, t.s,
                   v[t.s * {PQ_SUB} + 1 : t.s * {PQ_SUB} + {PQ_SUB}] AS sv
            FROM ({src})
            CROSS JOIN range(0, {PQ_M}) t(s)
        )""",
        f"{p}c0 AS (SELECT s, CAST(vec_id AS INT) AS k, sv AS cw"
        f" FROM {p}sv WHERE vec_id < {PQ_K})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(
            f"""{p}a{i} AS (
            SELECT vec_id, s, sv, k FROM (
                SELECT a.vec_id, a.s, a.sv, c.k,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id, a.s
                           ORDER BY {_pq_sub_dist_sql('a.sv', 'c.cw')} ASC,
                                    c.k
                       ) AS rn
                FROM {p}sv a JOIN {p}c{i} c ON c.s = a.s
            ) WHERE rn = 1
        )"""
        )
        ctes.append(
            f"""{p}c{i + 1} AS (
            SELECT s, k, list(cx ORDER BY pos) AS cw FROM (
                SELECT s, k, pos,
                       CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                           / COUNT(*) AS cx
                FROM (SELECT s, k, generate_subscripts(sv, 1) AS pos,
                             unnest(sv) AS x
                      FROM {p}a{i})
                GROUP BY s, k, pos
            ) GROUP BY s, k
        )"""
        )
    piv = ", ".join(
        f"MAX(CASE WHEN s = {s} AND k = {k} THEN cw END) AS c{s}_{k}"
        for s in range(PQ_M)
        for k in range(PQ_K)
    )
    ctes.append(
        f"{p}cbp AS (SELECT {piv} FROM {p}c{KMEANS_ITERS})"
    )
    return ",\n        ".join(ctes)


def _pqt_sq(vec: str, cw: str, lo: int) -> str:
    """Squared L2 between ``vec`` dims [lo, lo+PQ_SUB-1] and the
    PQ_SUB-dim codeword list ``cw`` — the trained twin of
    :func:`_pq_sq`, same term order."""
    terms = [
        f"({_pq_elem(vec, lo + i)} - {cw}[{i + 1}])"
        f" * ({_pq_elem(vec, lo + i)} - {cw}[{i + 1}])"
        for i in range(PQ_SUB)
    ]
    return "(" + " + ".join(terms) + ")"


def _pqt_dist_cols() -> list[str]:
    """Trained-codebook scoring columns: same d/g/ex names as the anchor
    family, so ``_pq_adc_expr`` applies unchanged."""
    cols = []
    for s in range(PQ_M):
        lo = s * PQ_SUB + 1
        for k in range(PQ_K):
            cols.append(
                f"{_pqt_sq('embedding', f'c{s}_{k}', lo)} AS d{s}_{k}"
            )
            cols.append(
                f"{_pqt_sq('qe', f'c{s}_{k}', lo)} AS g{s}_{k}"
            )
    cols.append(f"{_pq_sq('embedding', 'qe', 1, PCA_DIM)} AS ex")
    return cols


# --- packed PQ scoring (round-11 optimization) -------------------------------
# The unrolled d{s}_{k}/g{s}_{k} column fan-out (2×PQ_M×PQ_K = 64 fold
# columns per scoring relation, plus the <=-chain ADC CASE and the
# LEAST reconstruction tree over the named columns) made the PQ family
# the worst driver-side constructs in the registry (~5-7 s each for the
# audits at sf0.01 — round-10 verdict item 1, proven to be the
# expression trees themselves, not lineage). The packed form keeps the
# ARITHMETIC identical — same slices, same left-to-right squared-term
# folds, strict-< first-min tie-break ≡ the <=-chain of
# ``_pq_adc_expr`` and the ASC-k ROW_NUMBER rule — but carries the
# codebook as ONE array<array<array<double>>> column and computes each
# subspace's (min distance, selected ADC entry) in a single
# transform+fold, so a scoring relation is PQ_M struct expressions
# instead of 64 named columns. Bit-equality with the unrolled oracle
# SQL, evaluated by DuckDB over the same fixture, is pinned by
# tests/test_round11_opt.py. The unrolled builders above are the
# oracle-side (DuckDB) template only.


def _sq_fold_sql(a: str, b: str) -> str:
    """Squared-L2 fold between two equal-length array expressions — the
    shared inner loop of every PQ distance, as Spark SQL text. Same
    left-to-right term order as the unrolled oracle SQL; the 0.0D seed
    is exact because a square is never -0.0; the double casts are exact
    (float widening) or no-ops, matching the oracle's ``CAST(x AS DOUBLE)``.
    Text instead of Column calls because each python-lambda Column costs
    dozens of py4j round trips — building the 16 per-subspace folds as
    Columns measured ~1.0 s of pure driver time per scoring relation,
    vs one parse of a generated string."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "0.0D, (acc, t) -> acc + t)"
    )


def _pq_packed_cb(cb: DataFrame, alias: str = "cb") -> DataFrame:
    """Pack a one-row pivoted codebook (c{s}_{k} array columns) into a
    single ``alias`` column: PQ_M × PQ_K × PQ_SUB nested arrays — one
    broadcast column the scoring folds index, instead of 32 codeword
    columns fanned into 64 distance expressions."""
    return cb.select(
        F.array(
            *[
                F.array(*[F.col(f"c{s}_{k}") for k in range(PQ_K)])
                for s in range(PQ_M)
            ]
        ).alias(alias)
    )


def _pq_packed_anchor_cb(emb: DataFrame, alias: str = "cb") -> DataFrame:
    """Packed form of the ANCHOR codebook over ``emb`` (vec_id, v):
    codeword (s, k) is the subspace-s slice of anchor vector vec_id k —
    exactly the dims the unrolled ``_pq_dist_cols`` terms touch."""
    anchors = emb.filter(F.col("vec_id") < PQ_K).groupBy().agg(
        *[
            F.max(F.when(F.col("vec_id") == k, F.col("v"))).alias(f"a{k}")
            for k in range(PQ_K)
        ]
    )
    return anchors.select(
        F.array(
            *[
                F.array(
                    *[
                        F.slice(F.col(f"a{k}"), s * PQ_SUB + 1, PQ_SUB)
                        for k in range(PQ_K)
                    ]
                )
                for s in range(PQ_M)
            ]
        ).alias(alias)
    )


def _pq_packed_adc_sql(vec: str, qvec: str, cb: str = "cb") -> str:
    """The full ADC distance as ONE index-aware fold over the packed
    codebook: for each subspace s (``transform(cb, (cws, s) -> ...)``),
    the argmin struct-fold keeps (min d, its g) with strict ``<`` — the
    FIRST minimum, exactly the <=-chain of ``_pq_adc_expr``
    (smallest-k tie-break, the ``_pq_sub_argmin`` rule) — and the outer
    fold sums the selected g's s-ascending, left-associated with an
    exact 0.0 seed (g ≥ 0, so 0.0 + g == g bit-for-bit). ~50 expression
    nodes total vs ~600 for the per-subspace unrolling — every
    downstream DataFrame op re-analyzes this tree, so node count IS
    driver wall."""
    esub = f"slice({vec}, s * {PQ_SUB} + 1, {PQ_SUB})"
    qsub = f"slice({qvec}, s * {PQ_SUB} + 1, {PQ_SUB})"
    dg = (
        f"transform(cws, cw -> named_struct("
        f"'d', {_sq_fold_sql(esub, 'cw')}, "
        f"'g', {_sq_fold_sql(qsub, 'cw')}))"
    )
    best = (
        f"aggregate({dg}, "
        "named_struct('d', CAST('Infinity' AS DOUBLE), 'g', 0.0D), "
        "(bacc, t) -> IF(t.d < bacc.d, t, bacc))"
    )
    return (
        f"aggregate(transform({cb}, (cws, s) -> ({best}).g), "
        "0.0D, (aacc, g) -> aacc + g)"
    )


def _pq_packed_rec_sql(vec: str, cb: str = "cb") -> str:
    """The reconstruction term ``SUM over s of LEAST(d{s}_*)`` as one
    d-only fold (no ADC g work), so the MSE aggregation — which never
    reads g — evaluates exactly the 32 d folds the unrolled form's
    column pruning gave it. least(least(inf, d0), d1, ...) ≡
    LEAST(d0..d3), and the outer 0.0-seeded sum is s-ascending
    left-associated — both exact over non-negative doubles."""
    esub = f"slice({vec}, s * {PQ_SUB} + 1, {PQ_SUB})"
    dmin = (
        f"aggregate(transform(cws, cw -> {_sq_fold_sql(esub, 'cw')}), "
        "CAST('Infinity' AS DOUBLE), (macc, d) -> least(macc, d))"
    )
    return (
        f"aggregate(transform({cb}, (cws, s) -> {dmin}), "
        "0.0D, (racc, d) -> racc + d)"
    )


def _pq_packed_ex_sql(vec: str, qvec: str) -> str:
    """Full-vector exact squared L2 (the ``ex`` audit column) — the
    oracle's ``ex`` term as one fold."""
    return _sq_fold_sql(
        f"slice({vec}, 1, {PCA_DIM})", f"slice({qvec}, 1, {PCA_DIM})"
    )


def _pq_topk(
    cand: DataFrame, cb: DataFrame, vec: str = "v", qvec: str = "qv"
) -> DataFrame:
    """(vec_id, adc_dist, exact_dist): the ADC top-{PQ_TOP} of ``cand``
    against the one-row packed codebook ``cb`` — ``vec``'s codes scored
    with ``qvec``'s lookup table (the residual queries pass their
    residual columns), the exact squared L2 of ``v`` to ``qv``
    alongside as the quantization-error audit; TakeOrderedAndProject."""
    return (
        cand.crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            F.expr(_pq_packed_adc_sql(vec, qvec)).alias("adc"),
            F.expr(_pq_packed_ex_sql("v", "qv")).alias("ex"),
        )
        .orderBy("adc", "vec_id")
        .limit(PQ_TOP)
        .select(
            "vec_id",
            F.round("adc", 6).alias("adc_dist"),
            F.round("ex", 6).alias("exact_dist"),
        )
    )


def _pq_audit_pair(
    base: DataFrame,
    va: tuple[str, str, str],
    vb: tuple[str, str, str],
) -> DataFrame:
    """BOTH audit variants from ONE scoring relation. ``base`` carries
    the candidate rows (``v``, ``qv`` and each variant's vector
    columns) plus two packed codebooks (``cba``, ``cbb``); each variant
    is (name, vec, qvec). One projection computes
    (adc, rec) per variant plus the shared ``ex``; the readout is ONE
    combined MSE aggregation (one relation pass for both variants,
    where the per-variant form paid two), one ADC top list per variant,
    and ONE shared exact top list (``ex`` is variant-independent — the
    per-variant form computed it twice). Column pruning keeps the
    per-subtree row cost disjoint exactly as in the unrolled form: the
    MSE pass evaluates only the two d-min folds, each ADC list only its
    argmin fold, the exact list only ex."""
    na, veca, qveca = va
    nb, vecb, qvecb = vb
    rel = base.select(
        "vec_id",
        F.expr(_pq_packed_adc_sql(veca, qveca, "cba")).alias("adc_a"),
        F.expr(_pq_packed_rec_sql(veca, "cba")).alias("rec_a"),
        F.expr(_pq_packed_adc_sql(vecb, qvecb, "cbb")).alias("adc_b"),
        F.expr(_pq_packed_rec_sql(vecb, "cbb")).alias("rec_b"),
        F.expr(_pq_packed_ex_sql("v", "qv")).alias("ex"),
    )

    def _mse(c: str) -> Column:
        return F.round(
            F.sum(F.col(c).cast("decimal(28,10)")).cast("double")
            / F.count(F.lit(1))
            / F.lit(PCA_DIM),
            6,
        )

    mse = rel.agg(_mse("rec_a").alias("mse_a"), _mse("rec_b").alias("mse_b"))
    sel = rel.where(F.col("vec_id") != QUERY_VEC_ID)
    ta = sel.orderBy("adc_a", "vec_id").limit(PQ_TOP).select("vec_id")
    tb = sel.orderBy("adc_b", "vec_id").limit(PQ_TOP).select("vec_id")
    te = sel.orderBy("ex", "vec_id").limit(PQ_TOP).select("vec_id")
    nha = ta.join(te, "vec_id").agg(F.count(F.lit(1)).alias("nh_a"))
    nhb = tb.join(te, "vec_id").agg(F.count(F.lit(1)).alias("nh_b"))

    def _row(name: str, nh: str, mse_c: str) -> Column:
        return F.struct(
            F.lit(name).alias("variant"),
            F.round(F.col(nh) * F.lit(1.0) / PQ_TOP, 4).alias(
                "recall_at_k"
            ),
            F.col(mse_c).alias("mse"),
        )

    return (
        nha.crossJoin(nhb)
        .crossJoin(mse)
        .select(
            F.explode(
                F.array(_row(na, "nh_a", "mse_a"), _row(nb, "nh_b", "mse_b"))
            ).alias("e")
        )
        .select("e.variant", "e.recall_at_k", "e.mse")
    )


def _pq_oracle() -> str:
    dist_cols = ",\n                   ".join(_pqt_dist_cols())
    return f"""
        WITH {_pqt_ctes()},
        q AS (
            SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
        ), dists AS (
            SELECT vec_id,
                   {dist_cols}
            FROM embeddings CROSS JOIN pqcbp CROSS JOIN q
        )
        SELECT vec_id,
               ROUND({_pq_adc_expr()}, 6) AS adc_dist,
               ROUND(ex, 6) AS exact_dist
        FROM dists
        ORDER BY {_pq_adc_expr()}, vec_id
        LIMIT {PQ_TOP}
    """


@register(
    "q_ann_pq_adc",
    tags=("similarity", "ann", "quantization", "scale"),
    oracle=_pq_oracle(),
)
def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION top-k (Jégou et al., asymmetric distance
    computation): vectors are encoded per {PQ_M}-subspace against a
    {PQ_K}-entry TRAINED codebook — since round 9 each subspace runs its
    own sampled Lloyd (first-{PQ_K} init, {KMEANS_ITERS} iterations,
    decimal-exact recentering, the FAISS ProductQuantizer.train rule;
    the oracle replays the training end to end, and
    ``q_pq_train_audit`` measures the recall/MSE gain over the old
    deterministic-anchor codewords); the query is NOT quantized — its
    distance to every codebook entry forms the {PQ_M}×{PQ_K} ADC lookup
    table, and a vector's estimated distance is the sum of the table
    entries its code selects.  Output: ADC top-{PQ_TOP} with exact
    distances alongside — the quantization-error audit.

    Plan/scale story: encoding is pure per-row arithmetic against the
    BROADCAST codebook (at 100 TB codes are precomputed once into a
    {PQ_M}-byte column — a 32× compression of the 64-float vector — and
    candidate scoring reads ONLY codes + the per-query 32-entry table,
    which is why PQ is the standard billion-vector ANN memory layout;
    IVF (q_ann_ivf) supplies the candidate pruning in front).  The
    ADC/exact expressions are generated from ONE template into both
    engines with identical double-arithmetic term order, so the oracle
    hash-checks the full scoring pipeline including argmin code
    assignment."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    q_row = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return _pq_topk(
        emb.crossJoin(F.broadcast(q_row)),
        _pq_packed_cb(_pq_trained_codebook(spark, sf_dir)),
    )


def _pq_rec_sql() -> str:
    """Per-vector PQ reconstruction error: sum over subspaces of the
    min codeword distance — ||x - q(x)||² for the code the encoder
    would pick (dialect-neutral: references the named d columns)."""
    return " + ".join(
        "LEAST(" + ", ".join(f"d{s}_{k}" for k in range(PQ_K)) + ")"
        for s in range(PQ_M)
    )


def _pq_variant_sql(name: str, dists: str) -> str:
    """One audit row for codebook variant ``name`` scored in relation
    ``dists``: recall@{PQ_TOP} of ADC-ranked vs exact-ranked top lists
    (query vector {QUERY_VEC_ID}) and per-dimension reconstruction
    MSE."""
    top = (
        f"(SELECT vec_id FROM {dists} WHERE vec_id <> {QUERY_VEC_ID}"
        f" ORDER BY {{rank}}, vec_id LIMIT {PQ_TOP})"
    )
    return f"""
        SELECT '{name}' AS variant,
               (SELECT ROUND(COUNT(*) * 1.0 / {PQ_TOP}, 4)
                FROM {top.format(rank=_pq_adc_expr())} x
                JOIN {top.format(rank='ex')} y USING (vec_id))
                   AS recall_at_k,
               (SELECT ROUND(CAST(SUM(CAST({_pq_rec_sql()}
                          AS DECIMAL(28,10))) AS DOUBLE)
                      / COUNT(*) / {PCA_DIM}, 6)
                FROM {dists}) AS mse
    """


@register(
    "q_pq_train_audit",
    tags=("similarity", "ann", "quantization", "diagnostics", "scale"),
    oracle=f"""
        WITH {{PQT}},
        aanch AS (
            SELECT {{ANCH}} FROM embeddings WHERE vec_id < {PQ_K}
        ),
        aq AS (
            SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
        ),
        adists AS (
            SELECT vec_id, {{ACOLS}}
            FROM embeddings CROSS JOIN aanch CROSS JOIN aq
        ),
        tdists AS (
            SELECT vec_id, {{TCOLS}}
            FROM embeddings CROSS JOIN pqcbp CROSS JOIN aq
        )
        {{AROW}}
        UNION ALL
        {{TROW}}
    """.replace("{PQT}", _pqt_ctes())
    .replace("{ANCH}", ", ".join(
        f"MAX(CASE WHEN vec_id = {k} THEN embedding END) AS a{k}"
        for k in range(PQ_K)
    ))
    .replace("{ACOLS}", ",\n                   ".join(_pq_dist_cols()))
    .replace("{TCOLS}", ",\n                   ".join(_pqt_dist_cols()))
    .replace("{AROW}", _pq_variant_sql("anchor", "adists"))
    .replace("{TROW}", _pq_variant_sql("trained", "tdists")),
)
def q_pq_train_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ CODEBOOK TRAINING AUDIT — does the trained codebook actually
    dominate the old anchor codewords? For BOTH codebooks it scores the
    full corpus and reports (a) recall@{PQ_TOP}: how much of the exact
    top-{PQ_TOP} survives ADC ranking, and (b) per-dimension
    reconstruction MSE: mean ||x − q(x)||²/{PCA_DIM} over the corpus
    for the code the encoder picks — the two numbers that decide
    whether an IVFPQ deployment's codebook is good enough to serve
    (round-8 verdict: "quantization error vs a trained codebook is
    unmeasured"; now it is a standing oracle-checked output, like the
    recall and drift audits).

    Plan: each variant is one corpus scan against its one-row broadcast
    codebook (the exact shape the serving queries use), a rank-window
    pair over the scored relation, and decimal-exact MSE folds so the
    corpus mean is summation-order-independent. The oracle replays
    codebook training AND both scoring pipelines end to end."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    cbp = _pq_trained_codebook(spark, sf_dir)
    aq = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    base = (
        emb.crossJoin(F.broadcast(_pq_packed_anchor_cb(emb, "cba")))
        .crossJoin(F.broadcast(_pq_packed_cb(cbp, "cbb")))
        .crossJoin(F.broadcast(aq))
    )
    return _pq_audit_pair(
        base, ("anchor", "v", "qv"), ("trained", "v", "qv")
    )


OUTLIER_Z = 2.0


@register(
    "q_embedding_outliers",
    tags=("similarity", "vector", "stats", "cleaning"),
    oracle=f"""
        WITH m AS (
            SELECT vec_id, label, i, CAST(embedding[i] AS DOUBLE) AS v
            FROM embeddings
            CROSS JOIN UNNEST(range(1, {PCA_DIM} + 1)) AS u(i)
        ), cent AS (
            SELECT label, i, AVG(v) AS mu FROM m GROUP BY 1, 2
        ), d AS (
            SELECT m.vec_id, m.label,
                   SQRT(SUM((m.v - c.mu) * (m.v - c.mu))) AS dist
            FROM m JOIN cent c ON m.label = c.label AND m.i = c.i
            GROUP BY 1, 2
        ), stats AS (
            SELECT label, AVG(dist) AS md, STDDEV_SAMP(dist) AS sd
            FROM d GROUP BY 1
        )
        SELECT d.vec_id, CAST(d.label AS BIGINT) AS label,
               ROUND(d.dist, 6) AS dist,
               ROUND((d.dist - s.md) / s.sd, 6) AS z,
               (ROUND((d.dist - s.md) / s.sd, 6) > {OUTLIER_Z}) AS is_outlier
        FROM d JOIN stats s USING (label)
    """,
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING OUTLIER detection: each vector's L2 distance to its
    label centroid, z-scored within the label; z > {OUTLIER_Z} flags the
    corrupt/mislabeled/degenerate vectors an embedding pipeline should
    quarantine before they poison ANN indexes or centroid-based
    training.  (The outlier flag compares the ROUNDED z so the boundary
    can't flip on last-bit float differences between engines.)

    Plan: centroids come from one posexplode aggregation
    ({PCA_DIM}×|labels| partial sums), re-packed as per-label dense
    arrays and BROADCAST back; each vector's distance is then a single
    narrow zip_with — no explode, no join of data-sized relations; the
    per-label moments are a |labels|-row broadcast.  Three scans of a
    columnar table, everything on the wire aggregate-sized."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    m = emb.select("label", F.posexplode("embedding").alias("i", "v"))
    cent = m.groupBy("label", "i").agg(
        F.avg(F.col("v").cast("double")).alias("mu")
    )
    cent_arr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "mu"))),
            lambda x: x["mu"],
        ).alias("cvec")
    )
    d = (
        emb.join(F.broadcast(cent_arr), "label")
        .select(
            "vec_id",
            "label",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "embedding",
                        "cvec",
                        lambda x, mu: (x.cast("double") - mu)
                        * (x.cast("double") - mu),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("dist"),
        )
    )
    stats = d.groupBy("label").agg(
        F.avg("dist").alias("md"), F.stddev_samp("dist").alias("sd")
    )
    z = F.round((F.col("dist") - F.col("md")) / F.col("sd"), 6)
    return (
        d.join(F.broadcast(stats), "label")
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round("dist", 6).alias("dist"),
            z.alias("z"),
            (z > OUTLIER_Z).alias("is_outlier"),
        )
    )


def _ivf_pq_oracle() -> str:
    anchor_cols = ", ".join(
        f"MAX(CASE WHEN vec_id = {k} THEN embedding END) AS a{k}"
        for k in range(PQ_K)
    )
    dist_cols = ",\n                   ".join(_pq_dist_cols())
    return f"""
        WITH {_ASSIGN_SQL},
        qv AS (
            SELECT {as_double_sql('embedding')} AS qvv FROM embeddings
            WHERE vec_id = {QUERY_VEC_ID}
        ),
        probes AS (
            SELECT cent_id FROM (
                SELECT c.cent_id,
                       ROW_NUMBER() OVER (
                           ORDER BY {cosine_sql('c.cv', 'qv.qvv')} DESC,
                                    c.cent_id
                       ) AS rn
                FROM cents c, qv
            ) WHERE rn <= {IVF_PROBES}
        ),
        anch AS (
            SELECT {anchor_cols} FROM embeddings WHERE vec_id < {PQ_K}
        ),
        qe_row AS (
            SELECT embedding AS qe FROM embeddings
            WHERE vec_id = {QUERY_VEC_ID}
        ),
        dists AS (
            SELECT s.vec_id,
                   {dist_cols}
            FROM assigned s
            JOIN probes p ON s.cent_id = p.cent_id
            CROSS JOIN anch CROSS JOIN qe_row
            WHERE s.vec_id <> {QUERY_VEC_ID}
        )
        SELECT vec_id,
               ROUND({_pq_adc_expr()}, 6) AS adc_dist,
               ROUND(ex, 6) AS exact_dist
        FROM dists
        ORDER BY {_pq_adc_expr()}, vec_id
        LIMIT {PQ_TOP}
    """


@register(
    "q_ann_ivf_pq",
    tags=("similarity", "ann", "quantization", "scale"),
    oracle=_ivf_pq_oracle(),
)
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the composed billion-vector ANN layout (FAISS's IVFPQ):
    the k-means-trained coarse quantizer restricts the search to the
    query's {IVF_PROBES} nearest centroid buckets (the session-persisted
    assignment from ``q_ann_ivf``), and candidates inside those buckets
    are scored by PQ asymmetric distance (the broadcast codebook + the
    per-query {PQ_M}×{PQ_K} lookup table from ``q_ann_pq_adc``) with the
    exact distance alongside as the quantization-error audit.

    Scale story: this is the arrangement that makes 1e9+ vectors
    searchable — the coarse index prunes to ~N·P/K candidates, and each
    candidate costs a {PQ_M}-entry table lookup over its {PQ_M}-byte
    code instead of a {PCA_DIM}-float scan. Both stages are already
    individually oracle-checked; this pins their composition (bucket
    restriction must not change any surviving ADC score)."""
    assigned = _ivf_assignment(spark, sf_dir)
    probes = _ivf_probes(spark, sf_dir, IVF_PROBES)
    return _pq_topk(
        _probe(assigned, probes, ["cent_id"]), _pq_packed_anchor_cb(assigned)
    )


SEMDEDUP_EPS = 0.35  # within-cluster cosine threshold (family convention)


@register(
    "q_dedup_semdedup",
    tags=("dedup", "similarity", "vector", "llm-pipeline"),
    oracle=f"""
        WITH {_trained_cents_ctes()},
        a_final AS {_kmeans_assign_sql('cents')},
        pairs AS (
            SELECT a.cent_id, a.vec_id AS keep_cand, b.vec_id AS drop_id,
                   {cosine_sql('a.v', 'b.v')} AS sim
            FROM a_final a JOIN a_final b
              ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
            WHERE {cosine_sql('a.v', 'b.v')} >= {SEMDEDUP_EPS}
        )
        SELECT drop_id AS doc_id,
               MIN(cent_id) AS cent_id,
               MIN(keep_cand) AS kept_doc_id,
               ROUND(MAX(sim), 6) AS max_sim
        FROM pairs GROUP BY drop_id
    """,
)
def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP (Abbas et al. 2023): semantic dedup with K-MEANS CLUSTER
    BUCKETING — embeddings are clustered, cosine comparisons happen ONLY
    within a cluster, and of any ε-similar pair the larger id drops.
    The published recipe for semantic dedup at web scale: clustering
    bounds the candidate space the way LSH bands do for
    ``q_dedup_embedding``, but with data-adaptive regions (a paraphrase
    cluster is one bucket even when its members straddle LSH bands).

    PEDAGOGICAL FORM (fixed K={IVF_K} ⇒ within-cluster pair work is
    N²/K — soak ratio 10.4 at 10×): kept registered as the
    shared-IVF-index variant and the audit twin, but the HEADLINE slot
    belongs to ``q_dedup_semdedup_scaled`` (dynamic K = N/64, constant
    cluster size, linear pair work — the form you'd run at 100×).

    Scale contract: with K ∝ √N clusters, expected within-cluster pair
    work is ~N^1.5/K ≈ N — the fixture's K={IVF_K} stands in for that
    dial. The cluster self-join is an equi-join on cent_id (shuffle
    co-locates one cluster per task; a skewed mega-cluster is handled
    the same way the salted-join variant handles hot keys). Index reuse:
    rides the SESSION-PERSISTED IVF assignment — training runs once,
    SemDeDup and every ANN query share it.

    Reference: the engine's dedup-tier convention (drop larger id, keep
    smallest) matches q_dedup_exact/q_dedup_embedding so removal lists
    compose across tiers."""
    assigned = _ivf_assignment(spark, sf_dir)
    pairs = _bucket_pairs(assigned, assigned, ["cent_id"]).filter(
        (F.col("id_a") < F.col("id_b")) & (F.col("sim") >= SEMDEDUP_EPS)
    )
    return pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("cent_id").alias("cent_id"),
        F.min("id_a").alias("kept_doc_id"),
        F.round(F.max("sim"), 6).alias("max_sim"),
    )


ANN_BATCH_Q = 16  # query batch: vec_id < 16
ANN_BATCH_K = 5  # top-k per query


@register(
    "q_ann_batch_queries",
    tags=("similarity", "vector", "ann", "scale"),
    oracle=f"""
        WITH {_trained_cents_ctes()},
        a_final AS {_kmeans_assign_sql('cents')},
        queries AS (
            SELECT vec_id AS q_id, cent_id AS q_cent, v AS qv
            FROM a_final WHERE vec_id < {ANN_BATCH_Q}
        ),
        scored AS (
            SELECT q.q_id, a.vec_id,
                   {cosine_sql('a.v', 'q.qv')} AS sim
            FROM a_final a JOIN queries q
              ON a.cent_id = q.q_cent AND a.vec_id <> q.q_id
        ),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id
                   ) AS rnk
            FROM scored
        )
        SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
               ROUND(sim, 6) AS sim
        FROM ranked WHERE rnk <= {ANN_BATCH_K}
    """,
)
def q_ann_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED ANN serving: {ANN_BATCH_Q} query vectors answered in ONE
    join — each query probes its own IVF bucket (single-probe) and
    takes its top-{ANN_BATCH_K} by cosine. This is how ANN runs in a
    pipeline (dedupe-against-index, retrieval eval, embedding joins):
    per-query loops die at scale; a query batch is a broadcast-sized
    relation joined against the bucketed index, so N queries cost one
    pass over the probed buckets regardless of N.

    Plan: the session-persisted IVF assignment supplies both sides; the
    query batch (rows, not plans) broadcasts onto the index's bucket
    join; ranking is one (q_id)-partitioned window whose input is
    bucket-sized. Rank ordering ties break on vec_id so cross-engine
    ulp-identical cosines rank identically (both engines fold the
    dot/norm sums in index order over identical doubles)."""
    assigned = _ivf_assignment(spark, sf_dir)
    queries = F.broadcast(assigned.filter(F.col("vec_id") < ANN_BATCH_Q))
    return _batch_topk(assigned, queries, ["cent_id"])


# (SEMDEDUP_TARGET_CLUSTER is defined with the module constants at the top.)


# --- two-level IVF: the sub-quadratic index BUILD ---------------------------
# The dynamic-K regime (K = N/64) keeps PROBES constant-cost but a flat
# build makes TRAINING quadratic: assigning all N vectors against all K
# centroids is N·K = N²/64 cosines per Lloyd round — the round-7 30×
# soak measured that flat build at 4.9× wall for 3× data. The production
# build — and since round 8 the ONLY dynamic-K build in the engine — is
# two-fold, both standard (FAISS train-on-sample guidance; IMI/two-level
# routing): (a) TRAIN on a bounded deterministic sample, so training
# work is sample·K ∝ N, and (b) ASSIGN through a coarse level — nearest
# of ~√K coarse routers first, then nearest fine centroid WITHIN that
# router's group — so assignment work is N·(√K + K/√K) ≈ 2N√K instead
# of N·K (measured: 0.9× wall for 3× data at the 30× soak, vs the flat
# build's 4.9×). Assignment through a router is approximate in the
# standard way (a vector's true nearest fine centroid may live under a
# different router); both engines replay the identical rule, so bucket
# membership still hash-matches. Every dynamic-K rider —
# q_dedup_semdedup_scaled (the headline), q_ann_ivf_scaled,
# q_semdedup_threshold_sweep, q_ann_ivf_twolevel — shares ONE
# session-persisted build. The build has one implementation,
# :func:`_ivf2_index`, whose only argument is the base slice: the whole
# corpus here, the first 3/4 for the frozen append index below. The
# flat assign survives only at FIXED K=8 (the pedagogical
# q_dedup_semdedup / q_ann_ivf family), where N·K is linear by
# construction.
# Dial sizing: K grows with the corpus up to the cap; the cap keeps
# K ≤ sample/4 (first-K init must draw from the sample) and bounds the
# Lloyd training cost at sample·K — the sample-bounded training is a
# FEATURE (FAISS trains on 30-256 vectors per centroid and never lets
# train() cost track the full corpus). Past the cap the index does NOT
# go superlinear anymore: the round-9 re-shard tier below extends the
# bucket key to (cent_id, shard) with content-derived hash-plane sign
# bits, so EFFECTIVE bucket count keeps scaling as N/target while the
# trained centroid count — and training cost — stays bounded. (The
# round-8 100×-embeddings soak measured the pre-shard ceiling: at the
# old 1024 cap cluster size reached 195 and the headline SemDeDup pair
# stage went 5.0× for 3.3× data; the cap bump bought one decade, the
# shard tier removes the ceiling entirely.)
# (IVF2_SAMPLE / IVF2_K_CAP are defined with the module constants at
# the top — the PQ training chain shares the sample dial at import
# time.)

# --- intra-cluster re-shard tier (the path PAST the K cap) ------------------
# Constant occupancy via trained centroids ends at K_CAP·target ≈ 131k
# vectors. Beyond that, HOT fine clusters are split into content-derived
# shards: shard bits are hyperplane sign bits from DEDICATED planes
# (disjoint from every RHP band/shard plane — base 256 vs the
# text-tier's 0..128 band and 128..136 shard ranges), the
# q_dedup_embedding_sharded rule lifted onto the IVF index. Exact
# duplicates always co-shard; near-dups co-shard with the standard
# per-bit sign-agreement probability (the recall dial the nprobe family
# already prices). The split is PER CELL (round-9 second cut — see
# _ivf2_pc_col): cell c splits into 2^pc_c shards where pc_c is the
# smallest width putting its own occupancy at target, so the maximum —
# not just the average — is bounded under any skew, and cells already
# at target never split. ivf2_shard_bits(COUNT(*)) below remains as the
# ENGAGEMENT GATE: it stays 0 on every fixture below the cap, forcing
# every pc to 0 — the tier is provably inert until it is needed.
IVF2_SHARD_PLANE_BASE = 256
IVF2_SHARD_BITS_MAX = 20  # 131k·2^20 ≈ 137 G vectors before saturation


def ivf2_shard_bits(n: int) -> int:
    """Smallest p in [0, IVF2_SHARD_BITS_MAX] with
    (IVF2_K_CAP · SEMDEDUP_TARGET_CLUSTER) · 2^p ≥ n — i.e. expected
    (cent, shard)-bucket occupancy ≤ target once K has saturated at the
    cap; 0 while K itself can still grow. Integer-exact,
    oracle-replayable (:data:`_IVF2_SB_SQL`)."""
    cap = IVF2_K_CAP * SEMDEDUP_TARGET_CLUSTER
    for p in range(IVF2_SHARD_BITS_MAX + 1):
        if cap << p >= n:
            return p
    return IVF2_SHARD_BITS_MAX


def _ivf2_sb_sql(count_src: str = "(SELECT COUNT(*) FROM embeddings)") -> str:
    """Oracle twin of :func:`ivf2_shard_bits` over ``count_src`` (a
    scalar-subquery SQL string — the append path derives its frozen
    shard width from the BASE count)."""
    cap = IVF2_K_CAP * SEMDEDUP_TARGET_CLUSTER
    return (
        f"(SELECT COALESCE((SELECT MIN(pp)"
        f" FROM range(0, {IVF2_SHARD_BITS_MAX} + 1) t(pp)"
        f" WHERE (CAST({cap} AS BIGINT) << pp) >= {count_src}),"
        f" {IVF2_SHARD_BITS_MAX}))"
    )


# --- occupancy-adaptive split width (round 9, second cut) -------------------
# The first cut split EVERY cell by the same global width 2^sb — which
# bounds AVERAGE occupancy but not the maximum: k-means cells are never
# uniform (training is sample-bounded, data has hot regions), and the
# 300× soak's index audit measured max_occ = 1021 vs target 64 while
# min_occ cratered to 1 (cold cells over-split 8×, the hot cell still
# 16× over). The production rule — FAISS's hot-inverted-list splitting —
# is PER-CELL: cell c with occupancy occ_c splits into 2^pc_c shards
# where pc_c is the smallest p with target·2^p ≥ occ_c. Cold cells keep
# pc = 0 (no split, occupancy already at target), hot cells split until
# bounded, and the bound holds for ANY skew. The shard code is a PREFIX
# MASK of one full-width sign code (bit r ← plane base+r), so a cell's
# width change never re-keys other cells. The global dial
# (:func:`ivf2_shard_bits`) remains as the ENGAGEMENT GATE ONLY: below
# the K cap every pc is forced 0, keeping all shipped fixtures
# bit-identical.


def _ivf2_pc_col(occ: Column) -> Column:
    """Smallest p in [0, IVF2_SHARD_BITS_MAX] with
    (SEMDEDUP_TARGET_CLUSTER << p) ≥ occ — the per-cell split width, as
    a Column over an occupancy count. Chained integer comparisons, no
    float log."""
    out = F.lit(IVF2_SHARD_BITS_MAX)
    for p in range(IVF2_SHARD_BITS_MAX, -1, -1):
        out = F.when(
            F.lit(SEMDEDUP_TARGET_CLUSTER << p) >= occ, F.lit(p)
        ).otherwise(out)
    return out.cast("int")


def _ivf2_masked_shard_col(v: Column, pc: Column, wmax: int) -> Column:
    """The occupancy-adaptive shard code as ONE conditional fold: bit r
    of the cell-width prefix, each wrapped in WHEN r < pc — CaseWhen
    branches evaluate lazily per row, so vectors in cells that never
    split (pc = 0, the overwhelmingly common case) skip the decimal
    sign folds entirely and only hot-cell members pay ∝ their own
    width. Value-equal to sfull % 2^pc (the oracle's mask form): both
    are the low-pc bits of the same plane codes."""
    if wmax == 0:
        return F.lit(0).cast("int")
    bits = _rhp_bit_exprs(v, wmax, start=IVF2_SHARD_PLANE_BASE)
    code: Column = F.lit(0)
    for r in range(wmax):
        code = code + F.when(
            F.lit(r) < pc, bits[r] * F.lit(1 << r)
        ).otherwise(F.lit(0))
    return code.cast("int")


def _ivf2_pc_ctes(p: str, pre_cte: str, gate_sql: str) -> str:
    """CTE fragment deriving the per-cell split widths from a
    preliminary assignment ``pre_cte`` (vec_id, cent_id, ...):
    ``{p}pocc`` occupancies → ``{p}ppc`` (cent_id, pc) with the
    :func:`_ivf2_pc_col` integer rule, forced 0 while the engagement
    gate ``gate_sql`` (the global dial) is 0 → ``{p}swidth`` the fold
    width (max pc)."""
    t = SEMDEDUP_TARGET_CLUSTER
    mx = IVF2_SHARD_BITS_MAX
    return f"""{p}pocc AS MATERIALIZED (
            SELECT cent_id, COUNT(*) AS occ FROM {pre_cte} GROUP BY cent_id
        ),
        {p}ppc AS MATERIALIZED (
            SELECT o.cent_id,
                   CASE WHEN {gate_sql} = 0 THEN 0
                        ELSE COALESCE(m.mp, {mx}) END AS pc
            FROM {p}pocc o LEFT JOIN (
                SELECT cent_id, MIN(pp) AS mp
                FROM {p}pocc, range(0, {mx} + 1) t(pp)
                WHERE (CAST({t} AS BIGINT) << pp) >= occ
                GROUP BY cent_id
            ) m ON m.cent_id = o.cent_id
        ),
        {p}swidth AS (SELECT COALESCE(MAX(pc), 0) AS wmax FROM {p}ppc)"""


def _ivf2_shard_ctes(p: str, width_sql: str, src: str | None = None) -> str:
    """CTE fragment computing ``{p}sfull`` (vec_id, sfull) from ``src``
    (default ``{p}ev``) — the DuckDB replay of the plane codes that
    :func:`_ivf2_masked_shard_col` folds, at fold width ``width_sql``:
    same dedicated planes, same
    exact-decimal sign sums, same packing. Width 0 leaves the contrib
    relation empty and every vector COALESCEs to code 0. The final
    per-cell shard is a prefix mask of this full code (``sfull %
    (1 << pc)``), applied at the assignment join."""
    base = IVF2_SHARD_PLANE_BASE
    src = src or f"{p}ev"
    return f"""{p}sx AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d,
                         unnest(v) AS x
                  FROM {src}),
        {p}sc AS (
            SELECT vec_id, j,
                   CAST(x * {_RHP_PLANE_SQL} AS DECIMAL(18,10)) AS c
            FROM {p}sx
            CROSS JOIN range({base}, {base} + {IVF2_SHARD_BITS_MAX}) t(j)
            WHERE j < {base} + {width_sql}
        ),
        {p}sbit AS (
            SELECT vec_id, j, CASE WHEN SUM(c) >= 0 THEN 1 ELSE 0 END AS bit
            FROM {p}sc GROUP BY vec_id, j
        ),
        {p}sfull AS MATERIALIZED (
            SELECT e.vec_id, CAST(COALESCE(s.sh, 0) AS BIGINT) AS sfull
            FROM {src} e LEFT JOIN (
                SELECT vec_id,
                       SUM(bit << (j - {base})) AS sh
                FROM {p}sbit GROUP BY vec_id
            ) s ON s.vec_id = e.vec_id
        )"""


def _isqrt4_sql(k_sql: str) -> str:
    """GREATEST(4, isqrt(k)) as exact SQL, derived from the dial: float
    sqrt lands within ±1 of the true integer sqrt for any k < 2^52 and
    two integer comparisons pick the exact floor — so the router count
    can never diverge from Python's ``math.isqrt`` at ANY cap (the old
    form scanned ``range(1, 80)``, a bound hand-tied to the 2048 cap)."""
    return (
        f"(SELECT GREATEST(4, CASE"
        f" WHEN (f + 1) * (f + 1) <= kk THEN f + 1"
        f" WHEN f * f <= kk THEN f ELSE f - 1 END)"
        f" FROM (SELECT CAST(FLOOR(SQRT(CAST({k_sql} AS DOUBLE)))"
        f" AS BIGINT) AS f, {k_sql} AS kk))"
    )


class _IVF2Index(NamedTuple):
    """One two-level build over a base slice (see :func:`_ivf2_index`)."""

    emb: DataFrame  # (vec_id, v): the whole double-cast corpus
    t: int  # the base slice is vec_id < t
    wmax: int  # fold width of the shard code: max per-cell width
    cents: DataFrame  # (cent_id, cv): the trained fine centroids
    coarse_arr: DataFrame  # one row: the coarse routers' struct array
    groups: DataFrame  # (coarse_id, fs): fine centroids per router
    pcm: DataFrame | None  # (cent_id, pc) widths; None below the gate
    pre: DataFrame  # (vec_id, v, cent_id) of the base slice
    assigned: DataFrame  # (vec_id, v, cent_id, shard) of the base slice


@session_memo("ivf_assignments")
def _ivf2_index(
    spark: SparkSession, sf_dir: str, base: tuple[int, int]
) -> _IVF2Index:
    """THE two-level sample-trained build, session-persisted, over the
    base slice ``base = (num, den)``: the first ``num·n // den`` vectors
    by vec_id. Two slices exist — ``(1, 1)``, the whole corpus, is the
    dynamic-K index every scaled rider shares; ``(IVF_APPEND_NUM,
    IVF_APPEND_DEN)`` is the frozen append index the delta routes
    through (:func:`_append_assignment`). Every dial — K, the router
    count, the sample, the shard gate — derives from the slice's count.
    ``shard`` is the re-shard tier's OCCUPANCY-ADAPTIVE hash-plane
    split: each cell's own width (:func:`_ivf2_pc_col` over its
    pre-split occupancy, gated inert below the K cap by
    :func:`ivf2_shard_bits`), prefix-masked from one full-width sign
    code; riders whose cost is bucket-bound join on BOTH
    (cent_id, shard)."""
    import math

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    n = emb.count()
    num, den = base
    t = (num * n) // den
    k = max(8, min(t // SEMDEDUP_TARGET_CLUSTER, IVF2_K_CAP))
    k2 = max(4, math.isqrt(k))
    samp = emb.filter(F.col("vec_id") < min(t, IVF2_SAMPLE))
    cents = _lloyd(emb, k, samp).persist()
    coarse_arr = _cent_array(cents.filter(F.col("cent_id") < k2)).persist()
    # route each fine centroid to its nearest coarse router, then one
    # cent_id-ascending struct array per router (the _argmin_cent
    # tie-break order)
    routed = (
        cents.withColumn("ncv", norm(F.col("cv")))
        .crossJoin(F.broadcast(coarse_arr))
        .select(
            "cent_id",
            "cv",
            _argmin_cent(
                F.col("cv"), F.col("ncv"), F.col("cs")
            ).alias("coarse_id"),
        )
    )
    groups = routed.groupBy("coarse_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct("cent_id", "cv", norm(F.col("cv")).alias("nc"))
            )
        ).alias("fs")
    ).persist()
    pre = _route_pre(
        emb.filter(F.col("vec_id") < t) if num < den else emb,
        coarse_arr,
        groups,
    )
    pcm, wmax = None, 0
    if ivf2_shard_bits(t) > 0:
        # occupancy-adaptive per-cell split: the slice's own routed
        # occupancies pick each cell's width — stored with the index
        # like FAISS's inverted-list layout, and NEVER re-derived on
        # append (the delta reuses these widths; drift/stats audits say
        # when to rebuild). pcm is K rows (broadcast); the wmax action
        # is a K-row aggregate. Below the gate no cell splits and the
        # shard is constant 0 — bit-identical to every pre-round-9
        # fixture result.
        pre = pre.persist()
        pcm = (
            pre.groupBy("cent_id")
            .agg(F.count("*").alias("occ"))
            .select("cent_id", _ivf2_pc_col(F.col("occ")).alias("pc"))
            .persist()
        )
        wmax = pcm.agg(F.max("pc")).first()[0]
    assigned = _mask_shard(pre, pcm, wmax).persist()
    return _IVF2Index(
        emb, t, wmax, cents, coarse_arr, groups, pcm, pre, assigned
    )


def _route_pre(
    df: DataFrame, coarse_arr: DataFrame, groups: DataFrame
) -> DataFrame:
    """(vec_id, v, cent_id) of rows assigned through a frozen two-level
    router: coarse broadcast fold, then the fine fold within the routed
    group — the exact rule both the oracle's window replay and the full
    build use."""
    va = (
        _spread(df.select("vec_id", "v", norm(F.col("v")).alias("nv")))
        .crossJoin(F.broadcast(coarse_arr))
        .select(
            "vec_id",
            "v",
            "nv",
            _argmin_cent(
                F.col("v"), F.col("nv"), F.col("cs")
            ).alias("coarse_id"),
        )
    )
    return va.join(F.broadcast(groups), "coarse_id").select(
        "vec_id",
        "v",
        _argmin_cent(F.col("v"), F.col("nv"), F.col("fs")).alias(
            "cent_id"
        ),
    )


def _mask_shard(pre: DataFrame, pcm: DataFrame | None, wmax: int) -> DataFrame:
    """Attach the occupancy-adaptive shard to a (vec_id, v, cent_id)
    pre-assignment: one ``wmax``-bit sign code per vector, prefix-masked
    to its cell's frozen width (``pcm``: cent_id → pc; a cell absent
    from the map — empty at freeze time — takes width 0). wmax = 0 (the
    below-gate regime) short-circuits to the constant-0 shard."""
    if wmax == 0 or pcm is None:
        return pre.withColumn("shard", F.lit(0).cast("int"))
    return pre.join(F.broadcast(pcm), "cent_id", "left").select(
        "vec_id",
        "v",
        "cent_id",
        _ivf2_masked_shard_col(
            F.col("v"), F.coalesce(F.col("pc"), F.lit(0)), wmax
        ).alias("shard"),
    )


def _twolevel_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cent_id, shard) of the session's two-level index."""
    return _ivf2_index(spark, sf_dir, (1, 1)).assigned


def _twolevel_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cent_id, cv) of the session's two-level index."""
    return _ivf2_index(spark, sf_dir, (1, 1)).cents


def _twolevel_train_ctes(prefix: str = "") -> list[str]:
    """The TRAINING prefix of the two-level chain — integer-exact
    dials, Lloyd on the sample — as a CTE list ending in ``{p}tcents``
    (cent_id, cv). Split out so oracles that need ONLY the trained
    centroids next to the (memoizable) full assignment can replay
    training under their own prefix without paying a second N-sized
    assignment (the residual-PQ family: centroid values are identical
    by construction — same SQL text, same engine)."""
    p = prefix
    k_sql = (
        f"(SELECT GREATEST(8, LEAST(COUNT(*) // {SEMDEDUP_TARGET_CLUSTER},"
        f" {IVF2_K_CAP})) FROM embeddings)"
    )
    sn_sql = f"(SELECT LEAST(COUNT(*), {IVF2_SAMPLE}) FROM embeddings)"
    ctes = [
        _EV_CTE if not p else (
            f"{p}ev AS (SELECT vec_id, {as_double_sql('embedding')} AS v"
            " FROM embeddings)"
        ),
        f"{p}sev AS (SELECT vec_id, v FROM {p}ev WHERE vec_id < {sn_sql})",
        f"{p}t0 AS (SELECT vec_id AS cent_id, v AS cv FROM {p}ev"
        f" WHERE vec_id < {k_sql})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(
            f"{p}tka{i} AS {_kmeans_assign_sql(f'{p}t{i}', src=f'{p}sev')}"
        )
        ctes.append(f"{p}t{i + 1} AS {_kmeans_recenter_sql(f'{p}tka{i}')}")
    ctes.append(f"{p}tcents AS (SELECT cent_id, cv FROM {p}t{KMEANS_ITERS})")
    return ctes


def _twolevel_assign_ctes(prefix: str = "") -> str:
    """Oracle replay of the two-level build: integer-exact dials, Lloyd
    on the sample, coarse routing, routed fine assignment — ends in an
    ``fa`` CTE of (vec_id, v, cent_id). Shared verbatim by every
    dynamic-K rider's oracle, so the soak harness can materialize the
    final assignment once (scripts/driver_sim.py).

    ``prefix`` renames every CTE (``fa`` → ``{prefix}fa`` etc.) for
    oracles that must embed this chain ALONGSIDE another chain or
    deliberately dodge the soak memo (the drift audit live-replays the
    full retrain next to the append chain). The default "" output stays
    byte-identical — the memo needle depends on that."""
    p = prefix
    k_sql = (
        f"(SELECT GREATEST(8, LEAST(COUNT(*) // {SEMDEDUP_TARGET_CLUSTER},"
        f" {IVF2_K_CAP})) FROM embeddings)"
    )
    k2_sql = _isqrt4_sql(k_sql)
    ctes = _twolevel_train_ctes(prefix)
    ctes += [
        f"{p}coarse AS (SELECT cent_id AS coarse_id, cv AS ccv FROM {p}tcents"
        f" WHERE cent_id < {k2_sql})",
        f"""{p}route AS (
            SELECT cent_id, cv, coarse_id FROM (
                SELECT f.cent_id, f.cv, c.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY f.cent_id
                           ORDER BY {cosine_sql('f.cv', 'c.ccv')} DESC,
                                    c.coarse_id
                       ) AS rn
                FROM {p}tcents f, {p}coarse c
            ) WHERE rn = 1
        )""",
        f"""{p}vca AS (
            SELECT vec_id, v, coarse_id FROM (
                SELECT e.vec_id, e.v, c.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cosine_sql('e.v', 'c.ccv')} DESC,
                                    c.coarse_id
                       ) AS rn
                FROM {p}ev e, {p}coarse c
            ) WHERE rn = 1
        )""",
        f"""{p}pfa AS MATERIALIZED (
            SELECT vec_id, v, cent_id FROM (
                SELECT a.vec_id, a.v, r.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {cosine_sql('a.v', 'r.cv')} DESC,
                                    r.cent_id
                       ) AS rn
                FROM {p}vca a JOIN {p}route r ON r.coarse_id = a.coarse_id
            ) WHERE rn = 1
        )""",
        f"{p}sdial AS (SELECT {_ivf2_sb_sql()} AS sb)",
        _ivf2_pc_ctes(p, f"{p}pfa", f"(SELECT sb FROM {p}sdial)"),
        _ivf2_shard_ctes(p, f"(SELECT wmax FROM {p}swidth)"),
        f"""{p}fa AS (
            SELECT a.vec_id, a.v, a.cent_id,
                   CAST(s.sfull % (CAST(1 AS BIGINT) << c.pc) AS INT)
                       AS shard
            FROM {p}pfa a
            JOIN {p}sfull s ON s.vec_id = a.vec_id
            JOIN {p}ppc c ON c.cent_id = a.cent_id
        )""",
    ]
    return ",\n        ".join(ctes)


@register(
    "q_dedup_semdedup_scaled",
    headline=True,
    tags=("dedup", "similarity", "vector", "scale", "llm-pipeline"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        dpairs AS (
            SELECT a.cent_id, a.vec_id AS keep_cand, b.vec_id AS drop_id,
                   {cosine_sql('a.v', 'b.v')} AS sim
            FROM fa a JOIN fa b
              ON a.cent_id = b.cent_id AND a.shard = b.shard
             AND a.vec_id < b.vec_id
            WHERE {cosine_sql('a.v', 'b.v')} >= {NEAR_DUP_COS}
        )
        SELECT drop_id AS doc_id,
               MIN(cent_id) AS cent_id,
               MIN(keep_cand) AS kept_doc_id,
               ROUND(MAX(sim), 6) AS max_sim
        FROM dpairs GROUP BY drop_id
    """,
)
def q_dedup_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the PRODUCTION cluster dial: K = max(8,
    N/{SEMDEDUP_TARGET_CLUSTER}) — the SemDeDup paper's actual regime
    (50k clusters for 134M docs ⇒ ~constant cluster size), where total
    within-cluster pair work is ~N·target, LINEAR in the corpus, vs the
    fixture-constant-K form (``q_dedup_semdedup``) whose pair work is
    quadratic. At the small fixtures K resolves to 8 and both forms
    agree on the dial; the 10× scaling run is where they part
    (SCALING.md round 4).

    Since round 8 the index is the TWO-LEVEL sample-trained build
    (:func:`_twolevel_assignment` — training on ≤{IVF2_SAMPLE} rows,
    assignment through √K coarse routers, ~2N√K total), replacing the
    flat dynamic-K build whose full-corpus Lloyd was N²/64 per round
    (the round-7 30× soak measured that flat build at 4.9× wall for 3×
    data; the two-level build at 0.9×). The oracle replays the whole
    two-level rule, so cluster membership must agree bit-for-bit.
    Everything downstream matches ``q_dedup_semdedup``: equi-join on
    cent_id, drop-larger-id convention."""
    assigned = _twolevel_assignment(spark, sf_dir)
    # ROUND-10 NOTE (guide §3.1 — strategy picked by measurement, kept
    # deliberate): the bucket self-join runs as SortMergeJoin. A
    # SHUFFLE_HASH hint was tried (bucket occupancy is capped, so the
    # build side is bounded and SHJ is safe) and measured SLOWER at
    # sf0.1 — noop min 0.57 s (SMJ) vs 1.24 s (SHJ) under identical
    # load: building per-partition hash relations over rows that carry
    # the full embedding arrays costs more than sorting them, and the
    # sort feeds the join's (cent_id, shard) clustering for free. Keep
    # SMJ; it also spills gracefully if a future corpus breaks the
    # occupancy cap.
    pairs = _bucket_pairs(assigned, assigned, ["cent_id", "shard"]).filter(
        (F.col("id_a") < F.col("id_b")) & (F.col("sim") >= NEAR_DUP_COS)
    )
    return pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("cent_id").alias("cent_id"),
        F.min("id_a").alias("kept_doc_id"),
        F.round(F.max("sim"), 6).alias("max_sim"),
    )


@register(
    "q_ann_ivf_scaled",
    tags=("similarity", "ann", "vector", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        qb AS (
            SELECT cent_id, shard, v AS qv FROM fa
            WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT a.vec_id, ROUND({cosine_sql('a.v', 'qb.qv')}, 6) AS sim
        FROM fa a, qb
        WHERE a.cent_id = qb.cent_id AND a.shard = qb.shard
          AND a.vec_id <> {QUERY_VEC_ID}
        ORDER BY {cosine_sql('a.v', 'qb.qv')} DESC, a.vec_id
        LIMIT {TOP_K}
    """,
)
def q_ann_ivf_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k under the production OCCUPANCY dial: nlist = max(8,
    N/{SEMDEDUP_TARGET_CLUSTER}). ``q_ann_ivf``'s fixed K={IVF_K} makes
    the nprobe=1 probe scan N/8 vectors — linear in the corpus, the 10×
    soak's finding — while sizing nlist with the corpus holds expected
    bucket occupancy (and so probe cost) CONSTANT at
    ~{SEMDEDUP_TARGET_CLUSTER} vectors, the regime a 100 TB serving
    index actually runs (FAISS guidance: nlist ∝ corpus).

    Since round 8 the index behind the dial is the TWO-LEVEL
    sample-trained build (:func:`_twolevel_assignment`), shared
    session-wide with the headline SemDeDup — the flat dynamic-K build
    this query used to ride trained full-corpus Lloyd at N²/64 per
    round (measured 4.9× wall for 3× data at the 30× soak; two-level:
    0.9×). The probe is therefore identical to ``q_ann_ivf_twolevel``
    by construction — that query keeps the fully-inlined oracle replay
    as the live training proof, while this oracle is eligible for the
    soak harness's once-materialized assignment memo
    (scripts/driver_sim.py). Bucket membership — not just the top-k —
    must agree across engines."""
    assigned = _twolevel_assignment(spark, sf_dir)
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "cent_id", "shard", F.col("v").alias("qv")
    )
    return _cosine_topk(_probe(assigned, qrow, ["cent_id", "shard"]))


@register(
    "q_ann_ivf_twolevel",
    tags=("similarity", "ann", "vector", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        qb AS (
            SELECT cent_id, shard, v AS qv FROM fa
            WHERE vec_id = {QUERY_VEC_ID}
        )
        SELECT a.vec_id, ROUND({cosine_sql('a.v', 'qb.qv')}, 6) AS sim
        FROM fa a, qb
        WHERE a.cent_id = qb.cent_id AND a.shard = qb.shard
          AND a.vec_id <> {QUERY_VEC_ID}
        ORDER BY {cosine_sql('a.v', 'qb.qv')} DESC, a.vec_id
        LIMIT {TOP_K}
    """,
)
def q_ann_ivf_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k under the SUB-QUADRATIC index build: dynamic K
    (constant bucket occupancy) trained on a bounded sample and
    assigned through a two-level coarse-router fold — build work ~N·2√K
    instead of N·K, the shape that makes the constant-occupancy index
    affordable at 100 TB (the 30× soak measured the flat build at 4.9×
    wall for 3× data; this one's assignment is √K-bounded per row).
    Probe shape identical to the other IVF forms: the query's bucket
    only, top-{TOP_K} by cosine. Since round 8 this build IS the
    engine's only dynamic-K index — ``q_ann_ivf_scaled`` rides the same
    session-persisted assignment and returns the same rows; THIS
    query's oracle is the one the soak harness never memo-rewrites, so
    sample training, routing, and routed assignment stay live-replayed
    end to end every run (the q_kmeans / q_dedup_minhash precedent).

    Plan: both assignment levels are broadcast-array folds (no N×K
    rows, no shuffle); the router groups are a K-row broadcast join.
    The oracle replays sample training, routing, and routed assignment
    end to end, so bucket membership must agree bit-for-bit."""
    assigned = _twolevel_assignment(spark, sf_dir)
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "cent_id", "shard", F.col("v").alias("qv")
    )
    return _cosine_topk(_probe(assigned, qrow, ["cent_id", "shard"]))


@register(
    "q_ann_recall_audit",
    tags=("similarity", "vector", "ann", "diagnostics", "scale"),
    oracle=f"""
        WITH {_trained_cents_ctes()},
        a_final AS {_kmeans_assign_sql('cents')},
        queries AS (
            SELECT vec_id AS q_id, cent_id AS q_cent, v AS qv
            FROM a_final WHERE vec_id < {ANN_BATCH_Q}
        ),
        exact AS (
            SELECT q_id, vec_id FROM (
                SELECT q.q_id, a.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {cosine_sql('a.v', 'q.qv')} DESC,
                                    a.vec_id
                       ) AS rnk
                FROM a_final a JOIN queries q ON a.vec_id <> q.q_id
            ) WHERE rnk <= {ANN_BATCH_K}
        ),
        approx AS (
            SELECT q_id, vec_id FROM (
                SELECT q.q_id, a.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {cosine_sql('a.v', 'q.qv')} DESC,
                                    a.vec_id
                       ) AS rnk
                FROM a_final a JOIN queries q
                  ON a.cent_id = q.q_cent AND a.vec_id <> q.q_id
            ) WHERE rnk <= {ANN_BATCH_K}
        ),
        hits AS (
            SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM exact e JOIN approx x
              ON e.q_id = x.q_id AND e.vec_id = x.vec_id
            GROUP BY 1
        )
        SELECT q.q_id, {ANN_BATCH_K} AS k,
               COALESCE(h.n_hit, 0) AS n_hit,
               ROUND(COALESCE(h.n_hit, 0) * 1.0 / {ANN_BATCH_K}, 4)
                   AS recall
        FROM queries q LEFT JOIN hits h ON h.q_id = q.q_id
    """,
)
def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RECALL SELF-AUDIT: for the {ANN_BATCH_Q}-query batch, compute
    exact brute-force top-{ANN_BATCH_K} AND single-probe IVF
    top-{ANN_BATCH_K}, intersect, and report recall@k per query — the
    'measure, don't guess' query a retrieval pipeline schedules after
    every index rebuild (the recall-vs-nprobe dial is only honest if
    something recomputes recall).

    Plan: the broadcast query batch scores once against the full index
    (the exact side — the deliberate audit cost; production runs it on
    a hash-sample of queries, and the per-query work is a bucket-free
    variant of ``q_ann_batch_queries``'s one-join shape) and once
    against the probed buckets; both rank with per-query windows over
    broadcast-joined relations, and the intersection + rollup is
    |q|x k rows. Ordering ties break on vec_id everywhere, so the two
    engines rank ulp-identical cosines identically."""
    return _recall_rows(_ivf_assignment(spark, sf_dir), ["cent_id"])


@register(
    "q_kmeans_silhouette",
    tags=("similarity", "vector", "diagnostics", "scale"),
    oracle=f"""
        WITH {_trained_cents_ctes()},
        ranked AS (
            SELECT e.vec_id, c.cent_id,
                   {cosine_sql('e.v', 'c.cv')} AS sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cosine_sql('e.v', 'c.cv')} DESC,
                                c.cent_id
                   ) AS rn
            FROM ev e CROSS JOIN cents c
        ),
        sil AS (
            SELECT vec_id,
                   MAX(CASE WHEN rn = 1 THEN cent_id END) AS cent_id,
                   MAX(CASE WHEN rn = 1 THEN sim END) AS sim1,
                   MAX(CASE WHEN rn = 2 THEN sim END) AS sim2
            FROM ranked WHERE rn <= 2
            GROUP BY 1
        )
        SELECT cent_id,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               ROUND(CAST(SUM(CAST(
                   CASE WHEN 1.0 - sim2 > 0
                        THEN (sim1 - sim2) / (1.0 - sim2)
                        ELSE 0.0 END
                   AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6)
                   AS avg_silhouette
        FROM sil
        GROUP BY 1
    """,
)
def q_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-QUALITY AUDIT: simplified (centroid-based) silhouette per
    k-means cluster under cosine distance. With a = 1 - sim(own
    centroid) and b = 1 - sim(runner-up centroid), b >= a always, so
    s = (b - a) / b = (sim1 - sim2) / (1 - sim2) — near 1 means tight,
    well-separated clusters (SemDeDup thresholds are trustworthy; IVF
    buckets won't leak recall), near 0 means the centroid pair is
    ambiguous and nprobe must rise. The audit to run after
    ``trained_centroids`` rebuilds, next to ``q_ann_recall_audit``.

    Plan: one pass of the corpus against the K-row broadcast centroid
    set (identical shape to the IVF assignment build), a rank-2 window
    per vector, and a K-row rollup. Per-vector silhouettes fold through
    decimal(28,10) before the rounded mean, so partition order can't
    drift the cluster averages."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cents = _ivf_centroids(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("sim"), F.asc("cent_id")
    )
    ranked = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "cent_id",
            cosine(F.col("v"), F.col("cv")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    sil = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cent_id"))).alias("cent_id"),
        F.max(F.when(F.col("rn") == 1, F.col("sim"))).alias("sim1"),
        F.max(F.when(F.col("rn") == 2, F.col("sim"))).alias("sim2"),
    )
    s = F.when(
        F.lit(1.0) - F.col("sim2") > 0,
        (F.col("sim1") - F.col("sim2")) / (F.lit(1.0) - F.col("sim2")),
    ).otherwise(F.lit(0.0))
    return sil.groupBy("cent_id").agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.round(
            F.sum(s.cast("decimal(28,10)")).cast("double") / F.count("*"),
            6,
        ).alias("avg_silhouette"),
    )


SEMDEDUP_SWEEP_THRESHOLDS = (0.20, 0.25, 0.30, 0.35, 0.40, 0.50)


@register(
    "q_semdedup_threshold_sweep",
    tags=("dedup", "similarity", "vector", "diagnostics", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        n_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
        cpairs AS (
            SELECT a.vec_id AS keep_cand, b.vec_id AS drop_id,
                   ROUND({cosine_sql('a.v', 'b.v')}, 6) AS sim
            FROM fa a JOIN fa b
              ON a.cent_id = b.cent_id AND a.shard = b.shard
             AND a.vec_id < b.vec_id
        ),
        th AS (
            SELECT CAST(UNNEST(
                [{', '.join(str(t) for t in SEMDEDUP_SWEEP_THRESHOLDS)}]
            ) AS DOUBLE) AS threshold
        )
        SELECT t.threshold,
               CAST(COUNT(p.drop_id) AS BIGINT) AS n_pairs,
               CAST(COUNT(DISTINCT p.drop_id) AS BIGINT) AS n_dropped,
               ROUND(CAST(COUNT(DISTINCT p.drop_id) AS DOUBLE)
                     / ANY_VALUE(n_tot.n), 6) AS drop_rate
        FROM th t
        CROSS JOIN n_tot
        LEFT JOIN cpairs p ON p.sim >= t.threshold
        GROUP BY 1
    """,
)
def q_semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP THRESHOLD SWEEP: the corpus-shrinkage dial — for each
    cosine cutoff, how many within-cluster candidate pairs survive and
    what fraction of the corpus would be dropped. This is the curve a
    curation team reads BEFORE committing to a dedup threshold (the
    SemDeDup paper tunes exactly this dial against downstream loss);
    here it is a query, not a week of notebook sweeps.

    Cost shape: the candidate pairs are computed ONCE from the
    session-persisted two-level dynamic-K assignment (the same
    sub-quadratic index the headline ``q_dedup_semdedup_scaled``
    rides); the sweep then multiplies PAIRS by |thresholds| via a tiny
    broadcast join — re-running the clustering or the corpus scan per
    threshold would be |thresholds|× the cost for identical output.
    Similarities are rounded to 6 dp BEFORE the cutoff comparison so a
    boundary-straddling last-ulp difference cannot move a pair across
    a threshold on one engine only."""
    assigned = _twolevel_assignment(spark, sf_dir)
    n_tot = assigned.agg(F.count("*").alias("n"))
    pairs = (
        _bucket_pairs(assigned, assigned, ["cent_id", "shard"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_b").alias("drop_id"), F.round("sim", 6).alias("sim")
        )
    )
    th = spark.createDataFrame(
        [(t,) for t in SEMDEDUP_SWEEP_THRESHOLDS], "threshold double"
    )
    return (
        F.broadcast(th)
        .crossJoin(F.broadcast(n_tot))
        .join(pairs, pairs.sim >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.count("drop_id").alias("n_pairs"),
            F.count_distinct("drop_id").alias("n_dropped"),
            F.round(
                F.count_distinct("drop_id").cast("double")
                / F.any_value("n"),
                6,
            ).alias("drop_rate"),
        )
    )


MATRYOSHKA_DIMS = 16  # prefix dimensionality under audit


@register(
    "q_embedding_matryoshka",
    tags=("similarity", "vector", "ann", "diagnostics", "scale"),
    oracle=f"""
        WITH ev AS (
            SELECT vec_id, {as_double_sql('embedding')} AS v
            FROM embeddings
        ),
        queries AS (
            SELECT vec_id AS q_id, v AS qv FROM ev
            WHERE vec_id < {ANN_BATCH_Q}
        ),
        scored AS (
            SELECT q.q_id, e.vec_id,
                   {cosine_sql('e.v', 'q.qv')} AS sim_full,
                   {cosine_sql('list_slice(e.v, 1, MDIMS)',
                               'list_slice(q.qv, 1, MDIMS)')} AS sim_pre
            FROM ev e JOIN queries q ON e.vec_id <> q.q_id
        ),
        full_k AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY sim_full DESC, vec_id
                ) AS rnk FROM scored
            ) WHERE rnk <= {ANN_BATCH_K}
        ),
        pre_k AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id, ROW_NUMBER() OVER (
                    PARTITION BY q_id ORDER BY sim_pre DESC, vec_id
                ) AS rnk FROM scored
            ) WHERE rnk <= {ANN_BATCH_K}
        )
        SELECT f.q_id,
               CAST(COUNT(p.vec_id) AS BIGINT) AS n_overlap,
               ROUND(CAST(COUNT(p.vec_id) AS DOUBLE)
                     / {ANN_BATCH_K}, 6) AS prefix_recall
        FROM full_k f
        LEFT JOIN pre_k p
          ON p.q_id = f.q_id AND p.vec_id = f.vec_id
        GROUP BY 1
    """.replace("MDIMS", str(MATRYOSHKA_DIMS)),
)
def q_embedding_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA PREFIX-DIMENSION AUDIT: for a query batch, how much
    of the exact full-dimension top-{ANN_BATCH_K} survives when
    similarity uses only the first {MATRYOSHKA_DIMS} of 64 dims — the
    measurement behind MRL-style dimension truncation (serve retrieval
    from a 4× cheaper prefix, re-rank the shortlist at full precision)
    and the memory/recall dial a vector-store operator tunes before
    committing to a truncated index.

    Plan: ONE scan scores both similarity columns per (vector, query)
    pair — the prefix is a `slice`, not a second table — against the
    broadcast query batch; two rank windows partition by query (16
    partitions) and the overlap join is k-per-query sized. Rankings
    order raw doubles (identical IEEE arithmetic both engines — the
    ``q_ann_recall_audit`` precedent) with vec_id tie-break. At 100 TB
    the brute-force pair scan is the audit cost by design (it IS the
    exact baseline); the measured dial transfers to the IVF serving
    path, which never materializes full-dim distances for the
    shortlist it prunes."""
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    queries = emb.filter(F.col("vec_id") < ANN_BATCH_Q).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    pre = lambda c: F.slice(c, 1, MATRYOSHKA_DIMS)  # noqa: E731
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            cosine(F.col("v"), F.col("qv")).alias("sim_full"),
            cosine(pre(F.col("v")), pre(F.col("qv"))).alias("sim_pre"),
        )
    )
    w_full = Window.partitionBy("q_id").orderBy(
        F.desc("sim_full"), F.asc("vec_id")
    )
    w_pre = Window.partitionBy("q_id").orderBy(
        F.desc("sim_pre"), F.asc("vec_id")
    )
    full_k = (
        scored.withColumn("rnk", F.row_number().over(w_full))
        .filter(F.col("rnk") <= ANN_BATCH_K)
        .select("q_id", "vec_id")
    )
    pre_k = (
        scored.withColumn("rnk", F.row_number().over(w_pre))
        .filter(F.col("rnk") <= ANN_BATCH_K)
        .select(
            F.col("q_id").alias("p_qid"), F.col("vec_id").alias("p_vid")
        )
    )
    return (
        full_k.join(
            pre_k,
            (F.col("q_id") == F.col("p_qid"))
            & (F.col("vec_id") == F.col("p_vid")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("p_vid").alias("n_overlap"),
            F.round(
                F.count("p_vid").cast("double") / F.lit(ANN_BATCH_K), 6
            ).alias("prefix_recall"),
        )
    )


def _ivf_pq_twolevel_oracle() -> str:
    dist_cols = ",\n                   ".join(_pqt_dist_cols())
    return f"""
        WITH {_twolevel_assign_ctes()},
        {_pqt_ctes()},
        qb AS (
            SELECT cent_id AS q_cent, shard AS q_sh, v AS qe FROM fa
            WHERE vec_id = {QUERY_VEC_ID}
        ),
        cand AS (
            SELECT f.vec_id, f.v AS embedding, qb.qe
            FROM fa f JOIN qb ON f.cent_id = qb.q_cent
                              AND f.shard = qb.q_sh
            WHERE f.vec_id <> {QUERY_VEC_ID}
        ),
        dists AS (
            SELECT vec_id,
                   {dist_cols}
            FROM cand CROSS JOIN pqcbp
        )
        SELECT vec_id,
               ROUND({_pq_adc_expr()}, 6) AS adc_dist,
               ROUND(ex, 6) AS exact_dist
        FROM dists
        ORDER BY {_pq_adc_expr()}, vec_id
        LIMIT {PQ_TOP}
    """


@register(
    "q_ann_ivf_pq_twolevel",
    tags=("similarity", "ann", "quantization", "scale"),
    oracle=_ivf_pq_twolevel_oracle(),
)
def q_ann_ivf_pq_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FULL PRODUCTION ANN STACK in one query: the two-level
    sample-trained constant-occupancy coarse quantizer
    (:func:`_twolevel_assignment` — K = N/{SEMDEDUP_TARGET_CLUSTER},
    build ~N·2√K) prunes to the query's bucket, and the survivors are
    scored by PQ asymmetric distance against the broadcast codebook
    (the {PQ_M}×{PQ_K} per-query lookup table of ``q_ann_pq_adc``),
    exact distance alongside as the quantization-error audit.

    ``q_ann_ivf_pq`` pins the same composition over the PEDAGOGICAL
    fixed-K index whose flat build is linear only because K is
    constant; THIS is the arrangement a 100 TB corpus actually ships —
    sub-quadratic index build, constant bucket occupancy (probe cost
    ~{SEMDEDUP_TARGET_CLUSTER} candidates regardless of N), and
    {PQ_M}-byte codes instead of {PCA_DIM}-float vectors on the scan
    (the FAISS IVFPQ layout; codes precompute once at ingest). Every
    stage is shared session state: the assignment persists across the
    dynamic-K family, the codebook and query row are one-row
    broadcasts, so the incremental cost over ``q_ann_ivf_scaled`` is
    the ADC expression itself. The oracle replays sample training,
    two-level routing, bucket restriction, and ADC scoring end to end
    — bucket membership AND code assignment must agree bit-for-bit."""
    assigned = _twolevel_assignment(spark, sf_dir)
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "cent_id", "shard", F.col("v").alias("qv")
    )
    return _pq_topk(
        _probe(assigned, qrow, ["cent_id", "shard"]),
        _pq_packed_cb(_pq_trained_codebook(spark, sf_dir)),
    )


@register(
    "q_ivf_index_stats",
    tags=("similarity", "ann", "diagnostics", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        occ AS (
            SELECT cent_id, shard, CAST(COUNT(*) AS BIGINT) AS n
            FROM fa GROUP BY cent_id, shard
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(n) AS BIGINT) AS n_vectors,
               CAST(MIN(n) AS BIGINT) AS min_occ,
               CAST(MAX(n) AS BIGINT) AS max_occ,
               ROUND(AVG(n), 4) AS avg_occ,
               ROUND(MAX(n) * COUNT(*) * 1.0 / SUM(n), 4) AS imbalance
        FROM occ
    """,
)
def q_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX HEALTH AUDIT over the engine's dynamic-K index:
    cluster count, occupancy extrema/mean, and the FAISS-style
    imbalance factor (max occupancy / mean occupancy — 1.0 is a
    perfectly balanced index; probe latency degrades linearly in it
    because a query landing in the fattest bucket scans imbalance×
    the expected candidates).

    This measurement is operationally load-bearing: the round-8 100×
    soak caught the old K cap ({IVF2_K_CAP // 2}) via exactly these
    numbers — occupancy had grown to ~195 (3× the
    {SEMDEDUP_TARGET_CLUSTER}-target) and the headline SemDeDup's pair
    stage went superlinear; raising the cap restored ~2×-target
    occupancy (SCALING.md round 8). Registering the audit makes the
    index's health a standing oracle-checked output instead of a
    soak-time forensic: at 100 TB you run THIS query after every index
    build, and alert on max_occ/imbalance before letting queries ride
    the index.

    Plan: one groupBy over the session-persisted assignment (K rows
    out), then a single-row re-aggregation — strictly cheaper than any
    rider query. The oracle replays the full two-level build, so the
    audited occupancies are the real index's, bit-for-bit."""
    assigned = _twolevel_assignment(spark, sf_dir)
    occ = assigned.groupBy("cent_id", "shard").agg(
        F.count(F.lit(1)).alias("n")
    )
    return occ.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("n").alias("n_vectors"),
        F.min("n").alias("min_occ"),
        F.max("n").alias("max_occ"),
        F.round(F.avg("n"), 4).alias("avg_occ"),
        F.round(
            F.max("n") * F.count(F.lit(1)) * F.lit(1.0) / F.sum("n"), 4
        ).alias("imbalance"),
    )


# --- incremental index maintenance ------------------------------------------
# base = the first IVF_APPEND_NUM/IVF_APPEND_DEN of the corpus (by the
# fixture's dense vec_id — the "yesterday's corpus" stand-in); delta =
# the rest, assigned through the FROZEN base-trained index. The frozen
# index is the same two-level build as the session's full index
# (:func:`_ivf2_index`), only over this base slice; the delta routes
# through its router and reuses its per-cell split widths
# (:func:`_append_assignment`).
IVF_APPEND_NUM = 3
IVF_APPEND_DEN = 4


def _append_assign_ctes() -> str:
    """Oracle replay of the APPEND path: two-level training on the BASE
    slice only (dials derived from the base count), then the delta
    routed and fine-assigned through the frozen router — a ``dfa`` CTE
    of (vec_id, v, cent_id, sim), plus ``bfa``: the base slice assigned
    through the SAME frozen router (how its posting lists were stored
    at ingest time; the dedup-at-ingest rider joins the two). CTE names
    are disjoint from ``_twolevel_assign_ctes`` so the soak memo never
    mistakes one chain for the other. Since round 9 the chain IS
    memoizable — ``driver_sim`` rewrites it to one ``mat_append`` temp
    table for the riders (drift audit, dedup-at-ingest, serve) during
    soaks — with ``q_ivf_index_append`` held out via ``_LIVE_PROOFS``
    as the chain's standing fully-inlined live proof; memo == raw is
    pinned in tests/test_oracle_memo.py."""
    t_sql = (
        f"(SELECT ({IVF_APPEND_NUM} * COUNT(*)) // {IVF_APPEND_DEN}"
        f" FROM embeddings)"
    )
    k_sql = (
        f"(SELECT GREATEST(8, LEAST((({IVF_APPEND_NUM} * COUNT(*))"
        f" // {IVF_APPEND_DEN}) // {SEMDEDUP_TARGET_CLUSTER},"
        f" {IVF2_K_CAP})) FROM embeddings)"
    )
    sn_sql = (
        f"(SELECT LEAST(({IVF_APPEND_NUM} * COUNT(*))"
        f" // {IVF_APPEND_DEN}, {IVF2_SAMPLE}) FROM embeddings)"
    )
    k2_sql = _isqrt4_sql(k_sql)
    # frozen shard width: derived from the BASE count (like every other
    # base dial), applied to base and delta alike — the planes are
    # data-independent, so append-time shard codes never drift
    sb_sql = _ivf2_sb_sql(t_sql)
    ctes = [
        _EV_CTE,
        f"bsev AS (SELECT vec_id, v FROM ev WHERE vec_id < {sn_sql})",
        f"b0 AS (SELECT vec_id AS cent_id, v AS cv FROM ev"
        f" WHERE vec_id < {k_sql})",
    ]
    for i in range(KMEANS_ITERS):
        ctes.append(
            f"bka{i} AS {_kmeans_assign_sql(f'b{i}', src='bsev')}"
        )
        ctes.append(f"b{i + 1} AS {_kmeans_recenter_sql(f'bka{i}')}")
    ctes += [
        f"btc AS (SELECT cent_id, cv FROM b{KMEANS_ITERS})",
        f"bcoarse AS (SELECT cent_id AS coarse_id, cv AS ccv FROM btc"
        f" WHERE cent_id < {k2_sql})",
        f"""broute AS (
            SELECT cent_id, cv, coarse_id FROM (
                SELECT f.cent_id, f.cv, c.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY f.cent_id
                           ORDER BY {cosine_sql('f.cv', 'c.ccv')} DESC,
                                    c.coarse_id
                       ) AS rn
                FROM btc f, bcoarse c
            ) WHERE rn = 1
        )""",
        # base slice assigned through the SAME frozen router (posting
        # lists as stored at ingest time) — ALSO the occupancy source
        # for the FROZEN per-cell split widths: the index's cells were
        # split when their posting lists were stored, so the delta
        # reuses yesterday's widths (train-then-add, never re-split on
        # append — the drift/stats audits say when to rebuild).
        f"baev AS (SELECT vec_id, v FROM ev WHERE vec_id < {t_sql})",
        f"""bca AS (
            SELECT vec_id, v, coarse_id FROM (
                SELECT e.vec_id, e.v, c.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cosine_sql('e.v', 'c.ccv')} DESC,
                                    c.coarse_id
                       ) AS rn
                FROM baev e, bcoarse c
            ) WHERE rn = 1
        )""",
        f"""bpb AS MATERIALIZED (
            SELECT vec_id, v, cent_id FROM (
                SELECT a.vec_id, a.v, r.cent_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {cosine_sql('a.v', 'r.cv')} DESC,
                                    r.cent_id
                       ) AS rn
                FROM bca a JOIN broute r ON r.coarse_id = a.coarse_id
            ) WHERE rn = 1
        )""",
        f"bsdial AS (SELECT {sb_sql} AS sb)",
        _ivf2_pc_ctes("b", "bpb", "(SELECT sb FROM bsdial)"),
        _ivf2_shard_ctes("b", "(SELECT wmax FROM bswidth)", src="ev"),
        f"dev AS (SELECT vec_id, v FROM ev WHERE vec_id >= {t_sql})",
        f"""dca AS (
            SELECT vec_id, v, coarse_id FROM (
                SELECT e.vec_id, e.v, c.coarse_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY {cosine_sql('e.v', 'c.ccv')} DESC,
                                    c.coarse_id
                       ) AS rn
                FROM dev e, bcoarse c
            ) WHERE rn = 1
        )""",
        # a delta vector routed to a cell with an EMPTY base posting
        # list takes width 0 (nothing there to split) — the LEFT JOIN
        # COALESCE below
        f"""dfa AS (
            SELECT a.vec_id, a.v, a.cent_id,
                   CAST(s.sfull % (CAST(1 AS BIGINT)
                        << COALESCE(c.pc, 0)) AS INT) AS shard,
                   a.sim
            FROM (
                SELECT vec_id, v, cent_id, sim FROM (
                    SELECT a.vec_id, a.v, r.cent_id,
                           {cosine_sql('a.v', 'r.cv')} AS sim,
                           ROW_NUMBER() OVER (
                               PARTITION BY a.vec_id
                               ORDER BY {cosine_sql('a.v', 'r.cv')} DESC,
                                        r.cent_id
                           ) AS rn
                    FROM dca a JOIN broute r ON r.coarse_id = a.coarse_id
                ) WHERE rn = 1
            ) a
            JOIN bsfull s ON s.vec_id = a.vec_id
            LEFT JOIN bppc c ON c.cent_id = a.cent_id
        )""",
        f"""bfa AS (
            SELECT a.vec_id, a.v, a.cent_id,
                   CAST(s.sfull % (CAST(1 AS BIGINT) << c.pc) AS INT)
                       AS shard
            FROM bpb a
            JOIN bsfull s ON s.vec_id = a.vec_id
            JOIN bppc c ON c.cent_id = a.cent_id
        )""",
    ]
    return ",\n        ".join(ctes)


@register(
    "q_ivf_index_append",
    tags=("similarity", "ann", "scale", "llm-pipeline"),
    oracle=f"""
        WITH {_append_assign_ctes()}
        SELECT vec_id, cent_id, shard, ROUND(sim, 6) AS sim
        FROM dfa
    """,
)
def q_ivf_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL INDEX MAINTENANCE — the production ANN ingest path:
    train the two-level index on the BASE slice (the first
    {IVF_APPEND_NUM}/{IVF_APPEND_DEN} of the corpus — "yesterday's
    index"), then assign today's DELTA through the FROZEN router
    without retraining. Output: every delta vector's (cent_id, cosine
    to its centroid) — the rows an ingest job appends to the posting
    lists.

    Why this exists as its own operator: at 100 TB you never retrain
    the coarse quantizer per ingest batch — FAISS's add() after
    train(), the standard IVF lifecycle. Training cost is fixed
    (bounded sample × K on the base), and the append itself is the
    same two broadcast folds the full build uses — N_delta·(√K + K/√K)
    work, embarrassingly parallel, no shuffle. Drift is the documented
    price: a delta vector's best centroid is chosen from yesterday's
    regions (the audit queries — ``q_ivf_index_stats`` occupancy,
    ``q_ann_recall_audit`` recall — tell you when accumulated drift
    says rebuild).

    The oracle replays base-dial derivation, sample training, routing,
    and the frozen-router delta assignment end to end (CTE names are
    disjoint from the shared-index chain, so the soak memo never
    rewrites it — a second live proof alongside ``q_ann_ivf_twolevel``).
    Assignment AND the per-vector cosine must agree bit-for-bit."""
    return _append_assignment(spark, sf_dir).select(
        "vec_id",
        "cent_id",
        "shard",
        F.round("sim", 6).alias("sim"),
    )


@session_memo("ivf_assignments")
def _append_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cent_id, shard, sim) of the delta slice under the
    FROZEN base-trained two-level index (see :func:`q_ivf_index_append`)
    — ``sim`` is the RAW cosine to the chosen centroid (riders round).
    The delta routes through the frozen router and takes its cell's
    frozen split width (width 0 in a cell that was empty at freeze
    time). Persisted per (session, sf_dir): the append riders (index
    append, drift audit, dedup-at-ingest, serve) share one routing
    pass."""
    ix = _ivf2_index(spark, sf_dir, (IVF_APPEND_NUM, IVF_APPEND_DEN))
    delta = _route_pre(
        ix.emb.filter(F.col("vec_id") >= ix.t), ix.coarse_arr, ix.groups
    )
    # the chosen centroid's cosine, recomputed via the same dot/norm
    # expressions the fold ranked with (bit-identical by determinism)
    return (
        _mask_shard(delta, ix.pcm, ix.wmax)
        .join(F.broadcast(ix.cents), "cent_id")
        .select(
            "vec_id",
            "v",
            "cent_id",
            "shard",
            cosine(F.col("v"), F.col("cv")).alias("sim"),
        )
        .persist()
    )


def _append_base_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v, cent_id, shard) of the BASE slice through the frozen
    router — how its posting lists were stored at its own ingest time."""
    return _ivf2_index(spark, sf_dir, (IVF_APPEND_NUM, IVF_APPEND_DEN)).assigned


DRIFT_EPS = 0.01  # a delta vector "drifted" if retrain fits it this much better


@register(
    "q_ivf_drift_audit",
    tags=("similarity", "ann", "diagnostics", "scale", "llm-pipeline"),
    oracle=f"""
        WITH {_append_assign_ctes()},
        {_twolevel_assign_ctes(prefix='z')},
        fsim AS (
            SELECT f.vec_id, {cosine_sql('f.v', 'c.cv')} AS sim_full
            FROM zfa f JOIN ztcents c ON f.cent_id = c.cent_id
        ),
        g AS (
            SELECT d.sim AS sim_frozen, fs.sim_full
            FROM dfa d JOIN fsim fs ON d.vec_id = fs.vec_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_delta,
               ROUND(CAST(SUM(CAST(sim_frozen AS DECIMAL(28,10)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_sim_frozen,
               ROUND(CAST(SUM(CAST(sim_full AS DECIMAL(28,10)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_sim_full,
               ROUND(CAST(SUM(CAST(sim_full AS DECIMAL(28,10)))
                          - SUM(CAST(sim_frozen AS DECIMAL(28,10)))
                     AS DOUBLE) / COUNT(*), 6) AS avg_fit_gap,
               CAST(SUM(CASE WHEN sim_full - sim_frozen > {DRIFT_EPS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted
        FROM g
    """,
)
def q_ivf_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX DRIFT AUDIT — the "when to rebuild" measurement that
    closes the append lifecycle: for every delta vector, compare how
    well the FROZEN base-trained index fits it (cosine to the centroid
    ``q_ivf_index_append`` chose) against how well a FULL RETRAIN
    would (cosine to its centroid under the session's two-level index
    over the whole corpus). Reports the corpus-level fit averages, the
    mean fit gap, and how many vectors a retrain would materially
    re-home (gap > {DRIFT_EPS}) — the number an index operator alerts
    on to schedule rebuilds instead of guessing.

    Plan: both assignments are the engine's existing broadcast-fold
    paths (the retrained one is the session-shared index every scaled
    rider uses; the frozen one is the append fold), each sim is a
    K-row broadcast join, and the final aggregate uses decimal-exact
    sums so the averages are summation-order-independent across
    engines. The oracle composes BOTH training chains side by side:
    the z-prefixed copy of the two-level chain always replays live
    (its prefix dodges the soak memo by construction), while the
    append chain is memo-eligible — during soaks ``driver_sim``
    rewrites it to the shared ``mat_append`` table (bit-equal by
    construction, pinned in tests/test_oracle_memo.py) and
    ``q_ivf_index_append`` stands as that chain's live proof. Outside
    soaks (and under SPARK_GRAFT_SIM_NO_ORACLE_MEMO=1) both chains
    replay fully inlined: two trainings, two routings, two
    assignments, one hash."""
    frozen = _append_assignment(spark, sf_dir).select(
        "vec_id", F.col("sim").alias("sim_frozen")
    )
    full = _twolevel_assignment(spark, sf_dir)
    fcents = _twolevel_centroids(spark, sf_dir)
    full_sim = full.join(F.broadcast(fcents), "cent_id").select(
        "vec_id", cosine(F.col("v"), F.col("cv")).alias("sim_full")
    )
    g = frozen.join(full_sim, "vec_id")
    cnt = F.count(F.lit(1))
    dsum = lambda c: F.sum(F.col(c).cast("decimal(28,10)"))  # noqa: E731
    return g.agg(
        cnt.cast("bigint").alias("n_delta"),
        F.round(dsum("sim_frozen").cast("double") / cnt, 6).alias(
            "avg_sim_frozen"
        ),
        F.round(dsum("sim_full").cast("double") / cnt, 6).alias(
            "avg_sim_full"
        ),
        F.round(
            (dsum("sim_full") - dsum("sim_frozen")).cast("double") / cnt, 6
        ).alias("avg_fit_gap"),
        F.sum(
            F.when(
                F.col("sim_full") - F.col("sim_frozen") > DRIFT_EPS, 1
            ).otherwise(0)
        ).cast("bigint").alias("n_drifted"),
    )


IVF2_PROBES = 4  # recall dial at constant occupancy: ~4×64 candidates


@register(
    "q_ann_ivf_multiprobe_twolevel",
    tags=("similarity", "ann", "vector", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes(prefix='m')},
        mq AS (
            SELECT v AS qvv, shard AS qsh FROM mfa
            WHERE vec_id = {QUERY_VEC_ID}
        ),
        mprobes AS (
            SELECT cent_id FROM (
                SELECT c.cent_id,
                       ROW_NUMBER() OVER (
                           ORDER BY {cosine_sql('c.cv', 'mq.qvv')} DESC,
                                    c.cent_id
                       ) AS rn
                FROM mtcents c, mq
            ) WHERE rn <= {IVF2_PROBES}
        )
        SELECT a.vec_id,
               ROUND({cosine_sql('a.v', 'mq.qvv')}, 6) AS sim
        FROM mfa a JOIN mprobes p ON a.cent_id = p.cent_id, mq
        WHERE a.shard = mq.qsh AND a.vec_id <> {QUERY_VEC_ID}
        ORDER BY {cosine_sql('a.v', 'mq.qvv')} DESC, a.vec_id
        LIMIT {TOP_K}
    """,
)
def q_ann_ivf_multiprobe_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE over the PRODUCTION index: the query searches its
    {IVF2_PROBES} nearest fine-centroid buckets of the two-level
    dynamic-K index — the recall dial a 100 TB serving deployment
    actually turns.  ``q_ann_ivf_multiprobe`` demonstrates the dial on
    the fixed-K=8 pedagogical index where each probe is N/8 vectors;
    HERE occupancy is constant (~{SEMDEDUP_TARGET_CLUSTER}), so nprobe
    is a direct candidate budget: ~{IVF2_PROBES}·{SEMDEDUP_TARGET_CLUSTER}
    candidates regardless of corpus size, and recall-vs-latency is
    tuned without touching the index.

    Plan: the probe ranking is a K-row broadcast window, the bucket
    restriction a broadcast semi-join on cent_id over the
    session-shared assignment, top-k via TakeOrderedAndProject. The
    oracle live-replays the whole chain under an ``m`` CTE prefix —
    deliberately dodging the soak memo (the probe list needs the
    trained centroids, which the memoized form does not carry), making
    this the centroid-carrying twin of ``q_ann_ivf_twolevel``'s live
    proof."""
    assigned = _twolevel_assignment(spark, sf_dir)
    qrow = assigned.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "shard", F.col("v").alias("qv")
    )
    probes = _probe_rank(_twolevel_centroids(spark, sf_dir), qrow, IVF2_PROBES)
    return _cosine_topk(_probe(assigned, probes, ["cent_id", "shard"]))


@register(
    "q_ann_filtered",
    tags=("similarity", "ann", "vector", "scale", "llm-pipeline"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        lab AS (SELECT vec_id, label FROM embeddings),
        fqb AS (
            SELECT f.cent_id AS q_cent, f.shard AS q_sh, f.v AS qv,
                   l.label AS q_label
            FROM fa f JOIN lab l ON l.vec_id = f.vec_id
            WHERE f.vec_id = {QUERY_VEC_ID}
        )
        SELECT a.vec_id,
               CAST(la.label AS BIGINT) AS label,
               ROUND({cosine_sql('a.v', 'fqb.qv')}, 6) AS sim
        FROM fa a JOIN lab la ON la.vec_id = a.vec_id, fqb
        WHERE a.cent_id = fqb.q_cent
          AND a.shard = fqb.q_sh
          AND la.label = fqb.q_label
          AND a.vec_id <> {QUERY_VEC_ID}
        ORDER BY {cosine_sql('a.v', 'fqb.qv')} DESC, a.vec_id
        LIMIT {TOP_K}
    """,
)
def q_ann_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED VECTOR SEARCH — top-k restricted by a metadata
    predicate (same ``label`` as the query), the operation every
    production vector store actually serves ("nearest neighbors WHERE
    tenant/language/source = X"). Implemented as PRE-FILTERING inside
    the bucket scan: the label predicate lands next to the cent_id
    equi-join, so candidates are pruned before any distance math —
    never the post-filter-then-hope-k-survive shape, which silently
    returns fewer than k under selective predicates.

    Plan/scale story: at 100 TB the label column lives WITH the posting
    lists (both are per-vector metadata), so the filter is a scan-level
    predicate (parquet dictionary/zone-map prunable) and the probe cost
    is occupancy × selectivity — strictly cheaper than unfiltered. The
    join back to `embeddings` for the label here stands in for that
    co-located metadata; the session index carries only (vec_id, v,
    cent_id). Oracle rides the memoizable shared chain (fa only)."""
    lab = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    index = _twolevel_assignment(spark, sf_dir).join(lab, "vec_id")
    qrow = index.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "cent_id", "shard", "label", F.col("v").alias("qv")
    )
    return _cosine_topk(
        _probe(index, qrow, ["cent_id", "shard", "label"]), "label"
    )


@register(
    "q_ann_recall_twolevel",
    tags=("similarity", "vector", "ann", "diagnostics", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        rq AS (
            SELECT vec_id AS q_id, cent_id AS q_cent, shard AS q_sh,
                   v AS qv
            FROM fa WHERE vec_id < {ANN_BATCH_Q}
        ),
        rexact AS (
            SELECT q_id, vec_id FROM (
                SELECT q.q_id, a.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {cosine_sql('a.v', 'q.qv')} DESC,
                                    a.vec_id
                       ) AS rnk
                FROM fa a JOIN rq q ON a.vec_id <> q.q_id
            ) WHERE rnk <= {ANN_BATCH_K}
        ),
        rapprox AS (
            SELECT q_id, vec_id FROM (
                SELECT q.q_id, a.vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {cosine_sql('a.v', 'q.qv')} DESC,
                                    a.vec_id
                       ) AS rnk
                FROM fa a JOIN rq q
                  ON a.cent_id = q.q_cent AND a.shard = q.q_sh
                 AND a.vec_id <> q.q_id
            ) WHERE rnk <= {ANN_BATCH_K}
        ),
        rhits AS (
            SELECT e.q_id, CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM rexact e JOIN rapprox x
              ON e.q_id = x.q_id AND e.vec_id = x.vec_id
            GROUP BY 1
        )
        SELECT q.q_id, {ANN_BATCH_K} AS k,
               COALESCE(h.n_hit, 0) AS n_hit,
               ROUND(COALESCE(h.n_hit, 0) * 1.0 / {ANN_BATCH_K}, 4)
                   AS recall
        FROM rq q LEFT JOIN rhits h ON h.q_id = q.q_id
    """,
)
def q_ann_recall_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL@k of the PRODUCTION index: exact brute-force
    top-{ANN_BATCH_K} vs single-probe top-{ANN_BATCH_K} over the
    two-level dynamic-K assignment, per query in the
    {ANN_BATCH_Q}-vector batch. ``q_ann_recall_audit`` measures the
    pedagogical fixed-K=8 index (each bucket N/8 — fat buckets flatter
    recall); THIS is the number that governs the real serving index,
    where constant-occupancy buckets make single-probe recall the
    honest lower bound the nprobe dial
    (``q_ann_ivf_multiprobe_twolevel``) then buys back. Together with
    ``q_ivf_index_stats`` (occupancy) and ``q_ivf_drift_audit``
    (staleness) it completes the production index's standing audit
    set: health, drift, recall — each oracle-checked.

    Plan: identical shape to ``q_ann_recall_audit`` — the broadcast
    query batch scores once against the full assignment (the exact
    side, the deliberate audit cost) and once against the probed
    buckets; per-query rank windows, |q|×k intersection, broadcast
    rollup. The oracle rides the memoizable shared chain (it needs
    only ``fa``), so soaks pay the training once across every rider."""
    return _recall_rows(
        _twolevel_assignment(spark, sf_dir), ["cent_id", "shard"]
    )


@register(
    "q_ann_batch_twolevel",
    tags=("similarity", "vector", "ann", "scale"),
    oracle=f"""
        WITH {_twolevel_assign_ctes()},
        bq AS (
            SELECT vec_id AS q_id, cent_id AS q_cent, shard AS q_sh,
                   v AS qv
            FROM fa WHERE vec_id < {ANN_BATCH_Q}
        ),
        bscored AS (
            SELECT q.q_id, a.vec_id,
                   {cosine_sql('a.v', 'q.qv')} AS sim
            FROM fa a JOIN bq q
              ON a.cent_id = q.q_cent AND a.shard = q.q_sh
             AND a.vec_id <> q.q_id
        ),
        branked AS (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id
                   ) AS rnk
            FROM bscored
        )
        SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id,
               ROUND(sim, 6) AS sim
        FROM branked WHERE rnk <= {ANN_BATCH_K}
    """,
)
def q_ann_batch_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED ANN serving on the PRODUCTION index:
    ``q_ann_batch_queries``'s one-join query-batch shape moved onto the
    two-level dynamic-K assignment — the throughput regime that
    matters at 100 TB, because constant bucket occupancy makes the
    batch's total probe cost |q|×{SEMDEDUP_TARGET_CLUSTER} candidates
    regardless of corpus size (the fixed-K=8 form scans |q|×N/8 — fine
    on a fixture, linear-in-N in production). Completes the
    production-index serving family: single query
    (``q_ann_ivf_scaled``), nprobe dial
    (``q_ann_ivf_multiprobe_twolevel``), filter (``q_ann_filtered``),
    PQ codes (``q_ann_ivf_pq_twolevel``), batch (this).

    Plan: the session-shared assignment supplies both sides; the query
    batch broadcasts onto the bucket equi-join; per-query rank windows
    over bucket-sized input, vec_id tie-break. The oracle needs only
    ``fa``, so it rides the soak memo."""
    assigned = _twolevel_assignment(spark, sf_dir)
    queries = F.broadcast(assigned.filter(F.col("vec_id") < ANN_BATCH_Q))
    return _batch_topk(assigned, queries, ["cent_id", "shard"])


@register(
    "q_dedup_ingest_incremental",
    tags=("dedup", "similarity", "vector", "scale", "llm-pipeline"),
    oracle=f"""
        WITH {_append_assign_ctes()},
        ipairs AS (
            SELECT b.cent_id, b.vec_id AS keep_cand, d.vec_id AS new_id,
                   {cosine_sql('b.v', 'd.v')} AS sim
            FROM bfa b JOIN dfa d ON b.cent_id = d.cent_id
                                 AND b.shard = d.shard
            WHERE {cosine_sql('b.v', 'd.v')} >= {NEAR_DUP_COS}
        )
        SELECT new_id AS doc_id, cent_id, matched_doc_id,
               ROUND(sim, 6) AS max_sim
        FROM (
            SELECT new_id, cent_id, keep_cand AS matched_doc_id, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY new_id
                       ORDER BY sim DESC, keep_cand
                   ) AS rn
            FROM ipairs
        ) WHERE rn = 1
    """,
)
def q_dedup_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP AT INGEST — semantic near-dup detection of TODAY'S batch
    against the STANDING corpus, without retraining or re-pairing the
    corpus with itself: delta vectors route through the frozen
    base-trained index (``q_ivf_index_append``'s rule) and compare ONLY
    against base members of their own (cluster, shard) bucket
    (SemDeDup's bucketing plus the re-shard tier,
    ``q_dedup_semdedup_scaled``'s threshold {NEAR_DUP_COS} and
    keep/drop convention). Output: one row per incoming near-dup — the
    ARGMAX-similarity base doc (ties break to the smaller id; round-8
    ADVICE — the old MIN(keep_cand) next to MAX(sim) reported a doc
    that generally wasn't the best match) and that max similarity —
    the reject/merge list an ingest job acts on before admitting the
    batch.

    Why this shape at 100 TB: batch-vs-corpus dedup is the DAILY
    operation (corpus-vs-corpus is the rare rebuild), and its cost here
    is N_delta routing folds plus per-cluster (delta × base-occupancy)
    comparisons — linear in the batch, independent of corpus size at
    constant occupancy. The base side compares as STORED (assigned
    through the same frozen router, exactly how its posting lists were
    written at its own ingest), so the join is a cent_id equi-join of
    two already-materialized relations — no corpus-side recompute.

    The oracle replays training, both frozen-router assignments, and
    the thresholded in-cluster pair scan end to end. During soaks
    ``driver_sim`` memoizes the append chain into ``mat_append`` for
    this rider (``q_ivf_index_append`` stays the chain's live proof
    via ``_LIVE_PROOFS``; memo == raw pinned in
    tests/test_oracle_memo.py). Pair membership AND similarities must
    agree bit-for-bit."""
    from pyspark.sql import Window

    pairs = _bucket_pairs(
        _append_base_assignment(spark, sf_dir),
        _append_assignment(spark, sf_dir),
        ["cent_id", "shard"],
    ).filter(F.col("sim") >= NEAR_DUP_COS)
    w = Window.partitionBy("id_b").orderBy(F.desc("sim"), F.asc("id_a"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_b").alias("doc_id"),
            "cent_id",
            F.col("id_a").alias("matched_doc_id"),
            F.round("sim", 6).alias("max_sim"),
        )
    )


@register(
    "q_ann_serve_incremental",
    tags=("similarity", "vector", "ann", "scale", "llm-pipeline"),
    oracle=f"""
        WITH {_append_assign_ctes()},
        qpairs AS (
            SELECT d.vec_id AS q_id, b.vec_id,
                   {cosine_sql('b.v', 'd.v')} AS sim
            FROM bfa b JOIN dfa d ON b.cent_id = d.cent_id
                                 AND b.shard = d.shard
        )
        SELECT q_id, CAST(rnk AS INT) AS rnk, vec_id, ROUND(sim, 6) AS sim
        FROM (
            SELECT q_id, vec_id, sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id
                   ) AS rnk
            FROM qpairs
        ) WHERE rnk <= {ANN_BATCH_K}
    """,
)
def q_ann_serve_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEARCH AT INGEST — ANN top-{ANN_BATCH_K} answers for every
    ARRIVING vector against the STANDING corpus through the frozen
    index: the delta slice routes via the frozen base-trained router
    (``q_ivf_index_append``'s rule — never retrained, never re-sharded)
    and each arriving vector is answered from ONLY the standing members
    of its own (cluster, shard) posting list. The fourth append-path
    capability, completing ingest-time processing: route (index
    append), audit (drift), filter (dedup-at-ingest), and now ANSWER —
    the "find me what this new document resembles" query an ingest
    pipeline runs for near-dup triage, RAG backfill, or clustering of
    fresh data, asked at the only moment it's cheap (the vector is
    already routed).

    Why this shape at 100 TB: queries-vs-corpus is the SERVING
    operation, and its cost is |batch| routing folds plus per-bucket
    (batch × occupancy) scoring — linear in the arrival batch,
    corpus-size-independent at constant occupancy, identical to
    ``q_dedup_ingest_incremental``'s cost shape (same join, no
    threshold, rank instead of argmax). The base side is read from its
    persisted posting-list form, never recomputed.

    The oracle replays training, both frozen-router assignments, and
    the per-query rank end to end (a fourth append-path live proof).
    Rank order AND similarities must agree bit-for-bit."""
    return _batch_topk(
        _append_base_assignment(spark, sf_dir),
        _append_assignment(spark, sf_dir),
        ["cent_id", "shard"],
    )


# --- residual PQ (the FAISS IVFPQ encoding) ----------------------------------
# The trained-PQ family quantizes RAW vectors; production IVFPQ (Jégou
# et al. §III; FAISS IndexIVFPQ with by_residual=true, its default)
# quantizes each vector's RESIDUAL r = v − centroid(v) instead: after
# the coarse quantizer explains the vector's position, the residual is
# all that's left to encode, its energy is a fraction of the raw
# vector's, and the same PQ_M×PQ_K budget spends itself on a much
# smaller ball — reconstruction v̂ = centroid + q(r). The query is
# answered per probed cell with its own residual LUT (q − centroid of
# the cell). q_pq_residual_audit measures what the residual step buys
# over the raw trained codebook (same metrics as q_pq_train_audit).


def _residual_list_sql(v: str, c: str, cast_v: bool = False) -> str:
    """DuckDB list literal of the element-wise residual ``v − c`` over
    the {PCA_DIM} fixture dims — the oracle twin of the Spark
    ``zip_with`` subtraction (same per-element IEEE op)."""
    el = (
        (lambda i: f"CAST({v}[{i}] AS DOUBLE) - {c}[{i}]")
        if cast_v
        else (lambda i: f"{v}[{i}] - {c}[{i}]")
    )
    return "[" + ", ".join(el(i) for i in range(1, PCA_DIM + 1)) + "]"


@session_memo("ivf_assignments")
def _pq_residual_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cent_id, shard, v, cv, rv) — the corpus under the
    session's two-level index with each vector's residual to its OWN
    fine centroid; session-persisted (codebook training, serving, and
    the audit all read it)."""
    assigned = _twolevel_assignment(spark, sf_dir)
    cents = _twolevel_centroids(spark, sf_dir)
    return (
        assigned.join(F.broadcast(cents), "cent_id")
        .select(
            "vec_id",
            "cent_id",
            "shard",
            "v",
            "cv",
            F.zip_with(
                "v", "cv", lambda x, y: x - y
            ).alias("rv"),
        )
        .persist()
    )


@session_memo("ivf_assignments")
def _pq_residual_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-row pivoted codebook (c{s}_{k} columns) trained per subspace
    on the SAMPLE'S RESIDUALS — the same bounded-sample Lloyd as
    :func:`_pq_trained_codebook`, run on r = v − centroid(v) rows."""
    res = _pq_residual_frame(spark, sf_dir)
    n = table(spark, sf_dir, "embeddings").count()
    return _pq_codebook(
        res.filter(F.col("vec_id") < min(n, IVF2_SAMPLE)).select(
            "vec_id", F.col("rv").alias("v")
        )
    )


def _pqr_dist_cols() -> list[str]:
    """Residual-codebook scoring columns: d from the candidate's
    residual, g from the (per-cell) query residual, exact full-vector
    distance alongside — same d/g/ex names, so ``_pq_adc_expr`` and
    ``_pq_variant_sql`` apply unchanged."""
    cols = []
    for s in range(PQ_M):
        lo = s * PQ_SUB + 1
        for k in range(PQ_K):
            cols.append(
                f"{_pqt_sq('rv', f'c{s}_{k}', lo)} AS d{s}_{k}"
            )
            cols.append(
                f"{_pqt_sq('qrv', f'c{s}_{k}', lo)} AS g{s}_{k}"
            )
    cols.append(f"{_pq_sq('embedding', 'qe', 1, PCA_DIM)} AS ex")
    return cols


def _pqr_train_src_sql() -> str:
    """(vec_id, v) training source for the residual codebook chain: the
    sample slice's residuals (the Spark twin samples the same rows)."""
    return (
        "SELECT vec_id, rv AS v FROM rres WHERE vec_id <"
        f" (SELECT LEAST(COUNT(*), {IVF2_SAMPLE}) FROM embeddings)"
    )


def _rres_ctes(with_cv: bool = False) -> str:
    """``rtcents`` (training replayed under the ``r`` prefix — centroid
    values identical to the memoizable main chain's by construction:
    same SQL text, same engine) + ``rres``: the corpus residual frame.
    MATERIALIZED — it is read by the codebook training, the query row,
    and the candidate scan (DuckDB 1.0 re-inlines multi-referenced
    CTEs; SCALING.md round 9)."""
    cv_col = " f.v, c.cv," if with_cv else " f.v,"
    train = ",\n        ".join(_twolevel_train_ctes("r"))
    return f"""{train},
        rres AS MATERIALIZED (
            SELECT f.vec_id, f.cent_id, f.shard,{cv_col}
                   {_residual_list_sql('f.v', 'c.cv')} AS rv
            FROM fa f JOIN rtcents c ON c.cent_id = f.cent_id
        )"""


def _ivfpq_residual_oracle() -> str:
    dist_cols = ",\n                   ".join(_pqr_dist_cols())
    return f"""
        WITH {_twolevel_assign_ctes()},
        {_rres_ctes()},
        {_pqt_ctes('pr', _pqr_train_src_sql())},
        rqb AS (
            SELECT cent_id AS q_cent, shard AS q_sh, v AS qe, rv AS qrv
            FROM rres WHERE vec_id = {QUERY_VEC_ID}
        ),
        rcand AS (
            SELECT f.vec_id, f.v AS embedding, f.rv, rqb.qe, rqb.qrv
            FROM rres f JOIN rqb ON f.cent_id = rqb.q_cent
                                AND f.shard = rqb.q_sh
            WHERE f.vec_id <> {QUERY_VEC_ID}
        ),
        rdists AS (
            SELECT vec_id,
                   {dist_cols}
            FROM rcand CROSS JOIN prcbp
        )
        SELECT vec_id,
               ROUND({_pq_adc_expr()}, 6) AS adc_dist,
               ROUND(ex, 6) AS exact_dist
        FROM rdists
        ORDER BY {_pq_adc_expr()}, vec_id
        LIMIT {PQ_TOP}
    """


@register(
    "q_ann_ivfpq_residual",
    tags=("similarity", "ann", "quantization", "scale"),
    oracle=_ivfpq_residual_oracle(),
)
def q_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ with RESIDUAL encoding — the arrangement FAISS actually
    ships (IndexIVFPQ, by_residual=true): the two-level coarse
    quantizer prunes to the query's (cent, shard) bucket, and survivors
    are scored by ADC over codes of their RESIDUALS r = v − centroid(v)
    against a codebook trained on sample residuals; the query's LUT is
    built from ITS residual to the probed cell's centroid (single
    probe ⇒ the same centroid the candidates encoded against). Exact
    distance rides alongside as the quantization-error audit;
    ``q_pq_residual_audit`` quantifies the gain over raw-vector codes.

    Why residuals at 100 TB: after the coarse quantizer explains a
    vector's cell, the residual carries a fraction of the raw energy,
    so the same {PQ_M}×{PQ_K} code budget yields a strictly finer
    quantization of what remains — the difference between a usable and
    a decorative billion-vector index. Costs are unchanged from
    ``q_ann_ivf_pq_twolevel``: residuals are one broadcast-join
    zip_with at encode time (precomputed once at ingest in production),
    the codebook is a one-row broadcast, the probe stays
    occupancy-bounded. The oracle replays index training, residual
    construction, per-subspace codebook training on residuals, and ADC
    scoring end to end."""
    res = _pq_residual_frame(spark, sf_dir)
    qrow = res.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "cent_id", "shard", F.col("v").alias("qv"), F.col("rv").alias("qrv")
    )
    return _pq_topk(
        _probe(res.drop("cv"), qrow, ["cent_id", "shard"]),
        _pq_packed_cb(_pq_residual_codebook(spark, sf_dir)),
        "rv",
        "qrv",
    )


@register(
    "q_pq_residual_audit",
    tags=("similarity", "ann", "quantization", "diagnostics", "scale"),
    oracle=f"""
        WITH {{TL}},
        {{RRES}},
        {{PQT}},
        {{PQR}},
        aq AS (
            SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
        ),
        tdists AS (
            SELECT vec_id, {{TCOLS}}
            FROM embeddings CROSS JOIN pqcbp CROSS JOIN aq
        ),
        rcand AS (
            SELECT r.vec_id, r.v AS embedding, r.rv, aq.qe,
                   {{QRV}} AS qrv
            FROM rres r CROSS JOIN aq
        ),
        rdists AS (
            SELECT vec_id, {{RCOLS}}
            FROM rcand CROSS JOIN prcbp
        )
        {{TROW}}
        UNION ALL
        {{RROW}}
    """.replace("{TL}", _twolevel_assign_ctes())
    .replace("{RRES}", _rres_ctes(with_cv=True))
    .replace("{PQT}", _pqt_ctes())
    .replace("{PQR}", _pqt_ctes("pr", _pqr_train_src_sql()))
    .replace("{TCOLS}", ",\n                   ".join(_pqt_dist_cols()))
    .replace("{QRV}", _residual_list_sql("aq.qe", "r.cv", cast_v=True))
    .replace("{RCOLS}", ",\n                   ".join(_pqr_dist_cols()))
    .replace("{TROW}", _pq_variant_sql("trained_raw", "tdists"))
    .replace("{RROW}", _pq_variant_sql("residual", "rdists")),
)
def q_pq_residual_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-PQ AUDIT — what does residual encoding buy over
    raw-vector codes under the SAME codebook budget? Both variants
    score the full corpus and report recall@{PQ_TOP} (ADC-ranked vs
    exact-ranked top lists) and per-dimension reconstruction MSE — for
    the residual variant the reconstruction is v̂ = centroid + q(r), so
    its MSE term is ||r − q(r)||², the error that actually remains
    after the coarse quantizer's explanation (the FAISS by_residual
    argument). Measured honestly: on THIS fixture's near-uniform random
    embeddings the coarse quantizer explains little energy, so the
    residual step buys only ~5% MSE (0.01224 vs 0.01282 at sf0.1,
    recall tied) — the audit exists precisely because the gain is
    data-dependent; on clustered real corpora the centroid carries most
    of the energy and residual coding is what makes IVFPQ's 32×
    compression usable. The
    residual variant's ADC is the production multi-cell form: each
    candidate's LUT is built from the query's residual to THAT
    candidate's cell centroid (per-cell LUTs, the IndexIVFPQ scan
    rule), which the single-bucket serving query specializes.

    Plan (round 11): BOTH variants score the session-persisted residual
    frame in ONE pass — the raw variant reads its v/qe columns (equal to
    the embeddings-scan values the oracle's tdists uses: v is the
    double-cast embedding, and every fold casts to double anyway), so
    the trained rows remain ``q_pq_train_audit``'s trained arm as a
    standing cross-check while the separate corpus scan and the
    duplicated exact-top/MSE passes are gone (one combined MSE
    aggregation, one shared exact top list — guide §1.2/§2.4). The
    oracle replays BOTH codebook trainings, the index training, and
    both scoring pipelines end to end."""
    emb = table(spark, sf_dir, "embeddings")
    res = _pq_residual_frame(spark, sf_dir)
    cbp = _pq_trained_codebook(spark, sf_dir)
    rcbp = _pq_residual_codebook(spark, sf_dir)
    aq = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    base = (
        res.crossJoin(F.broadcast(aq))
        .withColumn(
            "qrv",
            F.zip_with(
                "qv", "cv", lambda x, y: x.cast("double") - y
            ),
        )
        .select("vec_id", "v", "rv", "qrv", "qv")
        .crossJoin(F.broadcast(_pq_packed_cb(cbp, "cba")))
        .crossJoin(F.broadcast(_pq_packed_cb(rcbp, "cbb")))
    )
    return _pq_audit_pair(
        base,
        ("trained_raw", "v", "qv"),
        ("residual", "rv", "qrv"),
    )


# --- residual-PQ multiprobe (round-10 item 7) --------------------------------
# The single-probe residual query scores only the query's own cell; the
# production FAISS IndexIVFPQ search composes by_residual ADC with
# nprobe > 1 — the query visits its nprobe nearest cells and builds ONE
# LUT PER PROBED CELL from its residual to THAT cell's centroid
# (q − c_probe), because candidates in cell c encoded r = v − c. Here
# that is: probe list = top-IVF2_PROBES fine centroids by cosine (the
# q_ann_ivf_multiprobe_twolevel rule), per-cell query residuals as a
# ≤nprobe-row broadcast, and every candidate row scored against ITS
# cell's LUT — the per-cell g-columns ride the same _pqr_dist_cols
# template, with qrv now varying by cent_id instead of being one row.


@session_memo("ivf_assignments")
def _residual_multiprobe_cand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(vec_id, embedding, rv, qrv, qe) — the multiprobe candidate
    relation shared by ``q_ann_ivfpq_residual_multiprobe`` and
    ``q_pq_multiprobe_audit``: candidates from the query's
    top-{IVF2_PROBES} cells (same shard, the multiprobe-twolevel
    convention), each carrying the PER-CELL query residual ``qrv`` its
    LUT is built from. Session-persisted (round 11): the relation is
    nprobe × occupancy rows — BOUNDED at any corpus scale by the
    constant-occupancy index — and the audit's five readout subtrees
    (plus the serve query) each re-derived the probe window and the
    posting-list join before; now they read the tiny cached rows
    (guide §5: cache when reuse outweighs the memory, which here is a
    few hundred rows). Released with the ``ivf_assignments`` family."""
    res = _pq_residual_frame(spark, sf_dir)
    qrow = res.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        "shard", F.col("v").alias("qv")
    )
    probes = _probe_rank(
        _twolevel_centroids(spark, sf_dir), qrow, IVF2_PROBES
    ).select(
        "cent_id",
        "shard",
        "qv",
        F.zip_with("qv", "cv", lambda x, y: x - y).alias("qrv"),
    )
    return (
        _probe(res.drop("cv"), probes, ["cent_id", "shard"])
        .select("vec_id", "v", "rv", "qrv", "qv")
        .persist()
    )


def _residual_multiprobe_ctes() -> str:
    """Oracle replay of the multiprobe candidate relation (``mcand``):
    index training + residual frame (shared ``_rres_ctes`` chain), the
    probe ranking over the r-prefixed trained centroids, and the
    per-cell query residuals."""
    return f"""{_twolevel_assign_ctes()},
        {_rres_ctes()},
        rqb2 AS (
            SELECT shard AS qsh, v AS qe
            FROM rres WHERE vec_id = {QUERY_VEC_ID}
        ),
        mprb AS (
            SELECT cent_id, cv FROM (
                SELECT c.cent_id, c.cv,
                       ROW_NUMBER() OVER (
                           ORDER BY {cosine_sql('c.cv', 'q.qe')} DESC,
                                    c.cent_id
                       ) AS rn
                FROM rtcents c, rqb2 q
            ) WHERE rn <= {IVF2_PROBES}
        ),
        mqr AS (
            SELECT p.cent_id, {_residual_list_sql('q.qe', 'p.cv')} AS qrv
            FROM mprb p, rqb2 q
        ),
        mcand AS (
            SELECT f.vec_id, f.v AS embedding, f.rv, m.qrv, q.qe
            FROM rres f JOIN mqr m ON f.cent_id = m.cent_id, rqb2 q
            WHERE f.shard = q.qsh AND f.vec_id <> {QUERY_VEC_ID}
        )"""


def _ivfpq_residual_multiprobe_oracle() -> str:
    dist_cols = ",\n                   ".join(_pqr_dist_cols())
    return f"""
        WITH {_residual_multiprobe_ctes()},
        {_pqt_ctes('pr', _pqr_train_src_sql())},
        mdists AS (
            SELECT vec_id,
                   {dist_cols}
            FROM mcand CROSS JOIN prcbp
        )
        SELECT vec_id,
               ROUND({_pq_adc_expr()}, 6) AS adc_dist,
               ROUND(ex, 6) AS exact_dist
        FROM mdists
        ORDER BY {_pq_adc_expr()}, vec_id
        LIMIT {PQ_TOP}
    """


@register(
    "q_ann_ivfpq_residual_multiprobe",
    tags=("similarity", "ann", "quantization", "scale"),
    oracle=_ivfpq_residual_multiprobe_oracle(),
)
def q_ann_ivfpq_residual_multiprobe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVFPQ residual search at nprobe = {IVF2_PROBES} — the FULL
    production FAISS composition (round-10 item 7): the query visits
    its {IVF2_PROBES} nearest fine-centroid cells (the recall dial
    ``q_ann_ivf_multiprobe_twolevel`` demonstrates on raw cosines) and
    scores each cell's candidates by residual ADC with a LUT built
    PER PROBED CELL from q − c_probe — the IndexIVFPQ by_residual scan
    rule, which the single-probe ``q_ann_ivfpq_residual`` specializes.
    Output: ADC top-{PQ_TOP} over the union of probed cells, exact
    distance alongside as the quantization-error audit.

    Why per-cell LUTs are not optional: a candidate in cell c encoded
    r = v − c, so its codes only mean anything relative to c — reusing
    the home cell's LUT for neighbors mis-scores every non-home
    candidate by the inter-centroid offset. Cost at 100 TB: the probe
    list is a K-row broadcast window, the per-cell LUT table is ≤nprobe
    rows of broadcast, candidates are nprobe × occupancy — the recall
    dial turns without touching the index, and
    ``q_pq_multiprobe_audit`` measures what the residual step buys at
    this nprobe. The oracle replays index training, residual frame,
    probe ranking, per-cell residuals, residual codebook training, and
    ADC end to end."""
    return _pq_topk(
        _residual_multiprobe_cand(spark, sf_dir),
        _pq_packed_cb(_pq_residual_codebook(spark, sf_dir)),
        "rv",
        "qrv",
    )


@register(
    "q_pq_multiprobe_audit",
    tags=("similarity", "ann", "quantization", "diagnostics", "scale"),
    oracle=f"""
        WITH {{MCAND}},
        {{PQT}},
        {{PQR}},
        mtdists AS (
            SELECT vec_id, {{TCOLS}}
            FROM mcand CROSS JOIN pqcbp
        ),
        mrdists AS (
            SELECT vec_id, {{RCOLS}}
            FROM mcand CROSS JOIN prcbp
        )
        {{TROW}}
        UNION ALL
        {{RROW}}
    """.replace("{MCAND}", _residual_multiprobe_ctes())
    .replace("{PQT}", _pqt_ctes())
    .replace("{PQR}", _pqt_ctes("pr", _pqr_train_src_sql()))
    .replace("{TCOLS}", ",\n                   ".join(_pqt_dist_cols()))
    .replace("{RCOLS}", ",\n                   ".join(_pqr_dist_cols()))
    .replace("{TROW}", _pq_variant_sql("trained_raw", "mtdists"))
    .replace("{RROW}", _pq_variant_sql("residual", "mrdists")),
)
def q_pq_multiprobe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPROBE-PQ AUDIT — does residual encoding still pay at
    nprobe = {IVF2_PROBES}? Both variants score the SAME multiprobe
    candidate set (the union of the query's {IVF2_PROBES} probed
    cells): ``trained_raw`` with raw-vector codes against the trained
    codebook (one global LUT — raw codes are cell-independent, the
    q_ann_ivf_pq_twolevel arrangement widened to nprobe cells) and
    ``residual`` with per-cell LUTs (the
    ``q_ann_ivfpq_residual_multiprobe`` rule). Reports recall@{PQ_TOP}
    (ADC-ranked vs exact-ranked top lists over the candidate set) and
    per-dimension reconstruction MSE per variant — the standing
    measurement behind the round-10 done bar that the residual form's
    recall is ≥ the raw-code multiprobe form's. As with
    ``q_pq_residual_audit``, the margin is data-dependent (this
    fixture's near-uniform embeddings leave the coarse quantizer
    little energy to explain); the audit exists to MEASURE it, and the
    oracle replays both codebook trainings, the index training, the
    probe ranking, and both scoring pipelines end to end."""
    cand = _residual_multiprobe_cand(spark, sf_dir)
    cbp = _pq_trained_codebook(spark, sf_dir)
    rcbp = _pq_residual_codebook(spark, sf_dir)
    base = cand.crossJoin(
        F.broadcast(_pq_packed_cb(cbp, "cba"))
    ).crossJoin(F.broadcast(_pq_packed_cb(rcbp, "cbb")))
    return _pq_audit_pair(
        base,
        ("trained_raw", "v", "qv"),
        ("residual", "rv", "qrv"),
    )
