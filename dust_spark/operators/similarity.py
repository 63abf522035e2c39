"""Similarity search over embedding columns (SURVEY.md §2.C C3).

- :func:`cosine_topk` — exact brute-force top-k (the correctness
  baseline; broadcast the query side).
- :func:`rp_lsh_topk` — random-hyperplane LSH bucketed ANN (the scale
  path: candidates come from equi-joins on signature prefixes instead
  of a crossJoin).
- :func:`embedding_near_dup` — all pairs above a cosine threshold via
  the same bucketing.

Exact scoring (cosine re-rank) is pure Catalyst (zip_with/aggregate in
DOUBLE). Hyperplanes/centroids are generated driver-side from a fixed
seed and shipped as SparkContext broadcasts, scored by Arrow-batched
pandas UDFs (one GEMM per batch) — plan size stays O(1) in the
plane/centroid count, so real dims (1024) and list counts (tens of
thousands) never blow up codegen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dust_spark.fixtures import memo, plan_key
from dust_spark.functions import cosine, vec_dot, vec_norm


def _normalize(df: DataFrame, vec_col: str) -> DataFrame:
    """Add unit-norm vector + original norm (cosine → dot product)."""
    n = vec_norm(F.col(vec_col))
    return df.withColumn("__norm", n).withColumn(
        "__unit",
        F.when(n == 0, F.col(vec_col).cast("array<double>")).otherwise(
            F.transform(F.col(vec_col), lambda x: x.cast("double") / F.col("__norm"))
        ),
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_limit: int = 100_000,
) -> DataFrame:
    """Exact top-k neighbors by cosine for every query vector.

    Output: qid, nid, cos (rounded 4dp), deterministic tie-break on nid.

    Scale shape: the query side is broadcast when it holds at most
    ``broadcast_limit`` rows (queries are typically ≪ corpus), so the
    corpus is scanned exactly once with no shuffle; per-query top-k then
    reduces through a partial window. Beyond the limit the hint is
    dropped and the planner falls back to a shuffled join rather than
    OOMing the driver on an oversized broadcast — but at that scale
    prefer :func:`rp_lsh_topk`. ``broadcast_limit=0`` disables the gate
    (always hint).
    """
    from pyspark.sql import Window as W

    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    if broadcast_limit:
        # capped count (no rows reach the driver); the limit stops the
        # scan as soon as the side is provably too big to broadcast
        small = q.limit(broadcast_limit + 1).count() <= broadcast_limit
        q = F.broadcast(q) if small else q
    else:
        q = F.broadcast(q)
    scored = (
        q.join(c, F.col("qid") != F.col("nid"))
        .select("qid", "nid", cosine(F.col("qv"), F.col("nv")).alias("__cos"))
    )
    w = W.partitionBy("qid").orderBy(F.col("__cos").desc(), F.col("nid"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "nid", F.round("__cos", 4).alias("cos"))
        .orderBy("qid", "nid")
    )


def rp_signature(vec_col, planes: np.ndarray):
    """Random-hyperplane sign bits packed into bigints (one per 64
    planes). ``planes`` is (n_planes, dim); emitted as literal arrays —
    Catalyst folds them into constants. Kept for small plane counts /
    UDF-free contexts; the LSH operators use :func:`_rp_tables_udf`
    (broadcast planes + one GEMM per Arrow batch) because the literal
    form costs O(n_planes × dim) codegen nodes."""
    n_planes = planes.shape[0]
    words = []
    for w0 in range(0, n_planes, 64):
        word = F.lit(0).cast("long")
        for j, p in enumerate(range(w0, min(w0 + 64, n_planes))):
            plane = F.array(*[F.lit(float(x)) for x in planes[p]])
            dot = vec_dot(vec_col, plane)
            word = word.bitwiseOR(F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(F.lit(0).cast("long")))
        words.append(word)
    return F.array(*words)


def _rp_tables_udf(df: DataFrame, planes: np.ndarray, n_tables: int, bits: int):
    """Per-table LSH signatures as one Arrow-batched scorer: sign bits
    of vec·planes (``>= 0``, matching :func:`rp_signature`), packed
    per-table into a long. Planes travel as a SparkContext broadcast;
    per batch this is a single (n, dim) × (dim, n_tables·bits) GEMM, so
    plan size and codegen time are O(1) in the plane count.

    r13 opt: the UDF (and its broadcast) memoizes per (session, plane
    bytes, layout), so persisted bucket indexes built over it
    plan-match Spark's cache manager across runs."""
    from pyspark.sql.functions import pandas_udf

    P0 = np.ascontiguousarray(planes, dtype=np.float64)

    def build():
        bc = df.sparkSession.sparkContext.broadcast(P0)

        @pandas_udf("array<long>")
        def sigs(v: pd.Series) -> pd.Series:
            P = bc.value
            M = _batch_matrix(v, P.shape[1])
            bits_m = (M @ P.T) >= 0  # (n, n_tables*bits)
            words = np.zeros((len(M), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for j in range(bits):
                    words[:, t] |= bits_m[:, t * bits + j].astype(np.int64) << j
            return pd.Series(list(words))

        return sigs

    return memo(df.sparkSession, ("rp_udf", P0.tobytes(), P0.shape, n_tables, bits), build)


def _planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def _cap_buckets(tagged: DataFrame, max_bucket: int, cols=("t", "bucket")) -> DataFrame:
    """Bucket-population skew guard (r9 — the dedup.py ``max_bucket``
    recipe, closing the last uncapped B² candidate generators): drop LSH
    buckets with more than ``max_bucket`` members BEFORE any bucket
    join. The count-over-window rides the same (t, bucket) hash
    partitioning the join shuffles on, so the guard costs no extra
    shuffle. Clustered real embeddings (the norm, unlike the uniform
    fixture) concentrate into hot buckets at scale; dropping them trades
    recall on the densest neighborhoods for bounded candidate volume —
    identical posture to the MinHash family's guard (dedup.py:223)."""
    from pyspark.sql import Window as W

    return (
        tagged.withColumn("__bc", F.count("*").over(W.partitionBy(*cols)))
        .filter(F.col("__bc") <= max_bucket)
        .drop("__bc")
    )


def rp_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    bits_per_table: int = 12,
    seed: int = 42,
    max_bucket: int = 10_000,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH.

    ``n_tables`` independent signatures of ``bits_per_table`` bits each;
    candidates = pairs sharing any full table signature (equi-join on a
    (table, bucket) key → shuffle on 16-byte keys, no crossJoin), then
    exact cosine re-rank within candidates.

    Tuning: P(same bucket) = (1 − θ/π)^bits per table; 8 tables × 12
    bits keeps recall ≈ 0.9 for cos ≥ 0.8 neighborhoods while cutting
    candidate volume by ~2^12 per table at uniform load. ``max_bucket``
    caps corpus-side bucket population (clustered corpora make hot
    buckets): per-bucket candidates bound to |q_bucket| × max_bucket.
    """
    from pyspark.sql import Window as W

    planes = _planes(dim, n_tables * bits_per_table, seed)

    def with_buckets(df: DataFrame, prefix: str) -> DataFrame:
        # ids + bucket keys only — the exploded table (n_tables rows per
        # input row) must not replicate the embedding arrays
        idc = F.col(id_col).alias(f"{prefix}id")
        sigs = _rp_tables_udf(df, planes, n_tables, bits_per_table)
        tagged = df.select(idc, F.posexplode(sigs(F.col(vec_col))).alias("t", "sig"))
        return tagged.select(
            f"{prefix}id", "t", F.xxhash64("t", "sig").alias("bucket")
        )

    qb = with_buckets(queries, "q")
    # r13 opt: persist the capped corpus bucket index (the build-once
    # LSH practice c2d/c2i already follow); with the memoized sigs UDF
    # the plan is stable across runs, so repeats re-hit the cache.
    cb = _cap_buckets(with_buckets(corpus, "n"), max_bucket).persist()
    # Candidate dedup on the id PAIR only — the bucket join and the
    # distinct shuffle never carry embedding arrays (at dim=1024 the
    # vectors would dominate shuffle bytes ~32×). Vectors are re-joined
    # by id afterwards: two narrow equi-joins on int keys, and the small
    # query side broadcasts under AQE.
    cand = (
        qb.join(cb, ["t", "bucket"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
    w = W.partitionBy("qid").orderBy(F.col("__cos").desc(), F.col("nid"))
    return (
        cand.join(q, "qid")
        .join(c, "nid")
        .withColumn("__cos", cosine(F.col("qv"), F.col("nv")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "nid", F.round("__cos", 4).alias("cos"))
        .orderBy("qid", "nid")
    )


#: modulus shared with dust_spark.functions.PORTABLE_HASH_MOD — planes
#: derive from exact int64 arithmetic so any SQL engine regenerates them
#: bit-for-bit (then one IEEE double divide, identical under RN rounding).
_PORTABLE_MOD = 2_147_483_647
_PORTABLE_MULT = 2_654_435_761  # Knuth multiplicative constant


def portable_planes(dim: int, nbits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for the portable ANN:
    ``d[j][t] = ((j·dim + t + 1)·2654435761 mod M) / M − 0.5`` with
    M = 2^31−1. Every step (int64 mul/mod, one double divide, one
    subtract) is exact or correctly-rounded IEEE — DuckDB's
    ``((x*2654435761) % 2147483647)::DOUBLE / 2147483647.0 - 0.5``
    reproduces the values bit-for-bit, which is what buys the family a
    hard driver oracle (np.random planes cannot be replayed in SQL)."""
    return [
        [
            ((j * dim + t + 1) * _PORTABLE_MULT % _PORTABLE_MOD) / _PORTABLE_MOD - 0.5
            for t in range(dim)
        ]
        for j in range(nbits)
    ]


def _portable_planes_df(spark, dim: int, nbits: int) -> DataFrame:
    """The one-row planes LocalRelation, memoized per (session, dim,
    nbits) so persisted frames built over it — the c2i bucket index,
    most importantly — re-hit their cache across runs."""
    return memo(
        spark,
        ("planes", dim, nbits),
        lambda: spark.createDataFrame(
            [([[float(x) for x in p] for p in portable_planes(dim, nbits)],)],
            "__planes: array<array<double>>",
        ),
    )


def rp_lsh_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 8,
) -> DataFrame:
    """:func:`rp_lsh_topk` on deterministic portable hyperplanes with
    hamming-1 multiprobe — the hard-oracled twin of the np.random LSH
    (c3c): bucket assignment, probing, candidate join and cosine re-rank
    all replay bit-exactly in DuckDB.

    One table of ``nbits`` sign bits; each query probes its own bucket
    plus the ``nbits`` hamming-1 neighbors (multiprobe LSH — the
    standard trick to recover recall lost to a single table without
    duplicating the corpus index). Candidates come from an equi-join on
    the 8-byte bucket key (query side broadcast); vectors never enter
    the probe shuffle. Pure Catalyst; the planes ride as broadcast DATA
    (r10, the c2i lesson: per-plane literal HOF chains cost Catalyst
    analysis per run, never data) — one transform computes all dots
    with the exact vec_dot fold, so buckets and the DuckDB oracle
    hashes are bit-identical.
    """
    from pyspark.sql import Window as W

    pl_df = _portable_planes_df(corpus.sparkSession, dim, nbits)
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(nbits)])

    def with_bucket(df_, idname, bname):
        dotted = df_.crossJoin(F.broadcast(pl_df)).select(
            F.col(id_col).alias(idname),
            F.transform(
                F.col("__planes"), lambda p: vec_dot(F.col(vec_col), p)
            ).alias("__dots"),
        )
        word = F.aggregate(
            F.zip_with(
                F.col("__dots"),
                masks,
                lambda d, m: F.when(d >= 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )
        return dotted.select(idname, word.alias(bname))

    cb = with_bucket(corpus, "nid", "bucket")
    qb = with_bucket(queries, "qid", "qbucket")
    probes = qb.select(
        "qid",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j).cast("long"))
                    for j in range(nbits)
                ],
            )
        ).alias("bucket"),
    )
    cand = (
        F.broadcast(probes)
        .join(cb, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        vec_norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("nid"),
        F.col(vec_col).alias("nv"),
        vec_norm(F.col(vec_col)).alias("__nn"),
    )
    w = W.partitionBy("qid").orderBy(F.col("__cos").desc(), F.col("nid"))
    return (
        cand.join(F.broadcast(q), "qid")
        .join(c, "nid")
        # dot/(qn·nn) — same arithmetic as cosine(), norms computed once
        # per vector instead of once per candidate pair (r10)
        .withColumn(
            "__cos", vec_dot(F.col("qv"), F.col("nv")) / (F.col("__qn") * F.col("__nn"))
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "nid", F.round("__cos", 4).alias("cos"))
        .orderBy("qid", "nid")
    )


def portable_bucket_index(
    base: DataFrame, dim: int, n_tables: int, bits_per_table: int
) -> DataFrame:
    """(id, v) → the (id, t, bucket) RP-LSH index on deterministic
    portable hyperplanes — shared by :func:`embedding_near_dup_portable`
    and the bucket-cap scale smoke (tools/cluster_cap_smoke.py), so the
    measured candidate histograms use EXACTLY the operator's buckets.

    r10: the planes ride in as broadcast DATA (one crossJoined row of
    array<array<double>>) instead of 2560 literal expression nodes —
    the old 40 per-plane HOF chains cost ~8 s of Catalyst analysis +
    interpretation PER RUN at sf0.1 (2000 rows; the work was never
    data-bound). One transform computes all 40 dots with the exact
    same left-fold accumulation (vec_dot), so bucket words — and the
    DuckDB oracle hashes — are bit-identical. The dots array is
    materialized as a real attribute column before the per-table
    zip_with/aggregate touch it (the CollapseProject rule)."""
    pl_df = _portable_planes_df(base.sparkSession, dim, n_tables * bits_per_table)
    dotted = (
        base.crossJoin(F.broadcast(pl_df))
        .select(
            "id",
            F.transform(
                F.col("__planes"), lambda p: vec_dot(F.col("v"), p)
            ).alias("__dots"),
        )
    )
    masks = F.array(
        *[F.lit(1 << b).cast("long") for b in range(bits_per_table)]
    )
    tables = []
    for t in range(n_tables):
        word = F.aggregate(
            F.zip_with(
                F.slice(F.col("__dots"), t * bits_per_table + 1, bits_per_table),
                masks,
                lambda d, m: F.when(d >= 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )
        tables.append(F.struct(F.lit(t).alias("t"), word.alias("bucket")))
    return dotted.select("id", F.explode(F.array(*tables)).alias("tb")).select(
        "id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")
    )


def embedding_near_dup_portable(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 4,
    bits_per_table: int = 10,
    max_bucket: int = 10_000,
) -> DataFrame:
    """:func:`embedding_near_dup` on deterministic portable hyperplanes —
    the hard-oracled twin of c2d (whose np.random planes cannot be
    regenerated in SQL). Same candidate structure (n_tables sign-bit
    bucket tables, same-bucket equi-join, exact cosine verify) with the
    :func:`portable_planes` generator, so bucket words, the candidate
    join and the re-rank all replay bit-exactly in DuckDB.

    Scale posture matches c2d: the bucket table carries (id, t, bucket)
    only — vectors never enter the candidate shuffle; pairs dedup on the
    id key and vectors re-join by id for verification. O(n·tables) index
    size, no crossJoin anywhere (24 bytes per index row — ~100 GB per 1B
    vectors, standard build-once LSH practice). r10 perf wave
    (interleaved A/B at sf0.1: warm 5.4 s → ~2 s, hash unchanged): the
    index persists AFTER the bucket cap so the count-over-window runs
    once instead of once per self-join side; per-vector norms are
    computed once in the vectors frame (cos = dot/(na·nb),
    bit-identical arithmetic) so verify runs ONE fold per candidate
    pair instead of three; planes ride as broadcast data (see
    portable_bucket_index).
    """
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    tagged = _cap_buckets(
        portable_bucket_index(base, dim, n_tables, bits_per_table), max_bucket
    ).persist()
    a, b = tagged.alias("a"), tagged.alias("b")
    pairs = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = base.select("id", "v", vec_norm(F.col("v")).alias("nrm"))
    return (
        pairs.join(
            vecs.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        .withColumn(
            "cos",
            F.round(
                vec_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", (F.col("cos") + F.lit(0.0)).alias("cos"))
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 8,
    bits_per_table: int = 12,
    seed: int = 42,
    max_bucket: int = 10_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine >= threshold, via RP-LSH
    candidate buckets + exact verification. Near-dup semantics of
    dedup.embedding flavor (SURVEY §2.C C1 embedding-cosine)."""
    planes = _planes(dim, n_tables * bits_per_table, seed)
    sigs = _rp_tables_udf(df, planes, n_tables, bits_per_table)
    # Bucket table carries ids only; candidate pairs are deduped on the
    # (id_a, id_b) key and vectors re-joined by id for verification —
    # the wide arrays never enter a shuffle hash key.
    # Persist the (id, t, bucket) index before the self-join — 24 bytes
    # × n × tables, the standard build-once LSH index. Without it BOTH
    # join sides re-run the n_tables × bits Arrow plane-dot kernel over
    # the corpus (the same fix c2i's portable twin got in r6; measured
    # ~2× on the cold run at sf0.1).
    tagged = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(sigs(F.col(vec_col))).alias("t", "sig"),
        )
        .select("id", "t", F.xxhash64("t", "sig").alias("bucket"))
    )
    # r13 opt: persist AFTER the bucket cap (the r10 c2i fix, ported):
    # persisting before it left the count-over-window to re-run per
    # self-join side; with the memoized sigs UDF the persisted plan is
    # also identical across runs, so repeats re-hit the cache.
    tagged = _cap_buckets(tagged, max_bucket).persist()
    a, b = tagged.alias("a"), tagged.alias("b")
    pairs = (
        a.join(b, ["t", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return (
        pairs.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to RP-LSH
# ---------------------------------------------------------------------------


def _batch_matrix(series, dim: int) -> np.ndarray:
    """Arrow batch of array<float> → (n, dim) float64 matrix."""
    if len(series) == 0:
        return np.zeros((0, dim), dtype=np.float64)
    return np.stack([np.asarray(x, dtype=np.float64) for x in series])


def _sq_dists(M: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, dim) × (k, dim) → (n, k) squared L2 distances (one GEMM)."""
    return (M * M).sum(1, keepdims=True) - 2.0 * (M @ C.T) + (C * C).sum(1)


def _nearest_udf(bc):
    """Arrow-batched nearest-centroid scorer. Centroids travel as a
    SparkContext broadcast (``bc``) — the plan stays O(1) in
    n_lists × dim, so real IVF list counts (tens of thousands of
    centroids) are a data-size concern, not an expression-tree one.
    Ties break to the lowest list id (np.argmin), matching a
    lexicographic (distance, id) struct-min."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        C = bc.value
        M = _batch_matrix(v, C.shape[1])
        return pd.Series(_sq_dists(M, C).argmin(1).astype("int32"))

    return nearest


def _probe_udf(bc, n_probe: int):
    """Arrow-batched top-``n_probe`` nearest-list scorer for the query
    side; stable argsort ties to the lowest list id."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<int>")
    def probes(v: pd.Series) -> pd.Series:
        C = bc.value
        M = _batch_matrix(v, C.shape[1])
        idx = np.argsort(_sq_dists(M, C), axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(idx.astype("int32")))

    return probes


def _lloyd_cents_key(cents) -> tuple:
    return tuple((cid, tuple(c)) for cid, c in cents)


def _lloyd_cents_df(spark, cents) -> DataFrame:
    """(cid, c) centroid table as a LocalRelation — zero lineage."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("c", T.ArrayType(T.DoubleType()), False),
        ]
    )
    return memo(
        spark,
        ("cents", _lloyd_cents_key(cents)),
        lambda: spark.createDataFrame(list(cents), schema),
    )


def _lloyd_carr_df(spark, cents) -> DataFrame:
    """The whole centroid table as ONE array-of-structs row — broadcast
    data, zero expression literals (the c2i analysis-cost lesson),
    zero lineage."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "__ca",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("i", T.IntegerType(), False),
                            T.StructField("c", T.ArrayType(T.DoubleType()), False),
                        ]
                    )
                ),
                False,
            )
        ]
    )
    return memo(
        spark,
        ("carr", _lloyd_cents_key(cents)),
        lambda: spark.createDataFrame([(list(cents),)], schema),
    )


def _lloyd_assign(base: DataFrame, cents, with_v: bool = False) -> DataFrame:
    """Nearest-centroid assignment as ONE narrow Arrow pass (r13 opt):
    the centroids close over the numpy kernel (they are driver-side
    values already) and the squared-L2 fold accumulates sequentially
    over dims — the exact IEEE op sequence of the former Catalyst
    ``aggregate`` fold, so distances are bit-identical; the
    first-occurrence ``argmin`` over cid-ordered columns replays the
    (d, cid) struct-min tie rule (equal distance → lowest cid). The
    former form (broadcast array row + array_min over interpreted HOF
    lambdas) burned per-element interpreter CPU on every training
    iteration and every final assignment; the kernel is a plain numpy
    loop over dims. Bit-identity pinned by
    ``test_lloyd_assign_kernel_matches_catalyst``; corpus vectors must
    be non-null fixed-dim (the _batch_matrix contract)."""
    from pyspark.sql.functions import pandas_udf

    fine = sorted(cents)
    dim = len(fine[0][1])
    C = np.array([c for _, c in fine], dtype=np.float64)
    CIDS = np.array([cid for cid, _ in fine], dtype=np.int64)

    @pandas_udf("int")
    def nearest_cid(v: pd.Series) -> pd.Series:
        V = _batch_matrix(v, dim)
        D = np.zeros((len(v), C.shape[0]), dtype=np.float64)
        for t in range(dim):
            diff = V[:, t, None] - C[None, :, t]
            D += diff * diff
        return pd.Series(CIDS[np.argmin(D, axis=1)].astype(np.int32))

    pick = nearest_cid(F.col("v").cast("array<double>")).alias("cid")
    return base.select("vid", pick, "v") if with_v else base.select("vid", pick)


def _portable_lloyd(
    base: DataFrame, k: int, iterations: int, checkpoint: bool = False
):
    """Hash-stable Lloyd loop over a (vid, v) frame — see
    :func:`_portable_lloyd_py`; this wrapper keeps the historical
    two-tuple return shape."""
    assign, cents, _ = _portable_lloyd_py(base, k, iterations, checkpoint)
    return assign, cents


def _portable_lloyd_py(
    base: DataFrame, k: int, iterations: int, checkpoint: bool = False
):
    """Hash-stable Lloyd loop over a (vid, v) frame. Returns
    ``(assign, cents, cents_py)`` where ``assign`` is the final
    (vid, cid) assignment, ``cents`` the (cid, c) centroids USED for
    that final assignment (i.e. after ``iterations - 1`` updates) —
    exactly the c1 frame a DuckDB replay probes queries against — and
    ``cents_py`` the same centroids as driver-side Python values
    (for the Arrow-kernel consumers, e.g. :func:`_gated_argmin`).

    r13 opt: the loop is driver-paced — each iteration's ROUND(6)'d
    per-(cid, dim) means (a k×dim table, bounded by construction)
    collect to the driver and feed the next assignment through
    :func:`_lloyd_assign` (one NARROW pass — no argmin groupBy, no
    k-way broadcast join) with the centroid update one hash-agg +
    bounded collect. The previous all-DataFrame loop re-planned and
    re-ran the whole centroid lineage per consumer (c3i: 30 stages for
    k=4; now ~6). Training results memoize per session keyed on the
    canonicalized plan of ``base`` + (k, iterations) — the
    _pq_ann_result warm discipline at operator level; fixtures are
    immutable within a session, so identical input plans yield
    identical training results: cold runs pay the training
    jobs, warm runs replay the memoized ROUND(6) centroids bit-exactly.
    Values are bit-identical to the r12 loop: collected doubles
    round-trip exactly through Py4J and the broadcast-row arrays fold
    in the same order the joined column did. ``checkpoint`` is kept
    for API compatibility (the returned cents frame is already a local
    relation, so there is no lineage left to truncate)."""
    spark = base.sparkSession

    def train() -> list[tuple[int, list[float]]]:
        init = (
            base.orderBy("vid")
            .limit(k)
            .select(F.col("v").cast("array<double>").alias("c"))
            .collect()
        )
        cents_py = [(i + 1, [float(x) for x in r["c"]]) for i, r in enumerate(init)]
        for _ in range(iterations - 1):
            upd = (
                _lloyd_assign(base, cents_py, with_v=True)
                .select("cid", F.posexplode(F.col("v").cast("array<double>")).alias("d", "x"))
                .groupBy("cid", "d")
                .agg(
                    F.round(
                        F.sum(F.col("x").cast("decimal(25,12)")).cast("double")
                        / F.count("*"),
                        6,
                    ).alias("m")
                )
                .collect()
            )
            byc: dict[int, dict[int, float]] = {}
            for r in upd:
                byc.setdefault(r["cid"], {})[r["d"]] = float(r["m"])
            cents_py = [
                (cid, [byc[cid][d] for d in sorted(byc[cid])]) for cid in sorted(byc)
            ]
        return cents_py

    cents_py = memo(spark, ("lloyd", plan_key(base), k, iterations), train)
    return _lloyd_assign(base, cents_py), _lloyd_cents_df(spark, cents_py), cents_py


def kmeans_assign_portable(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fully-distributed, HASH-STABLE Lloyd's k-means returning the
    final cluster assignment per vector (r6): init = the vectors with
    the ``k`` smallest ids; each iteration assigns by squared-L2
    argmin (ties to the lowest centroid id via the (dist, cid)
    struct-min) and recomputes centroids with ORDER-INDEPENDENT
    DECIMAL(25,12) sums rounded to 6 decimals — the two tricks that
    make an iterative float algorithm replay bit-exactly in DuckDB
    (float += is order-dependent under shuffles; exact decimal
    accumulation + an explicit ROUND are not).

    Scale shape: centroids are a k-row broadcast each iteration;
    assignment is one narrow pass (broadcast join, no shuffle of the
    corpus); the update is one explode to (cid, dim, val) + hash-agg.
    O(iterations) passes over the data — the standard distributed
    Lloyd's layout."""
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    assign, _ = _portable_lloyd(base, k, iterations)
    return assign.orderBy("vid")


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 16,
    iterations: int = 2,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-shaped semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding corpus with the
    hash-stable portable k-means (:func:`kmeans_assign_portable`), then
    verify exact cosine ONLY within each cluster — the candidate set is
    the cluster co-membership relation instead of an LSH bucket join.
    Returns (id_a < id_b, cos) pairs with cos >= threshold, the same
    output contract as :func:`embedding_near_dup_portable`.

    100 TB posture: the assignment is O(iterations) narrow passes with
    a k-row broadcast; the pair join shuffles on the cluster id and the
    per-cluster pair count is bounded by (n/k)^2 per cluster — k grows
    ~sqrt(n) in SemDeDup practice to hold cluster occupancy (and the
    quadratic verify) constant. Vectors never enter the candidate
    shuffle: the (vid, cid) assignment joins, and vectors re-join by id
    for the cosine verify."""
    assign = kmeans_assign_portable(
        df, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
    ).persist()
    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    a, b = assign.alias("a"), assign.alias("b")
    pairs = (
        a.join(b, "cid")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
    )
    return (
        pairs.join(base.select(F.col("vid").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(base.select(F.col("vid").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", (F.col("cos") + F.lit(0.0)).alias("cos"))
    )


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 5,
    sample: int = 2048,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic mini k-means (Lloyd's) for IVF coarse quantization.

    Trains entirely on a bounded driver-side sample (seeded init +
    numpy Lloyd iterations) — the standard IVF practice: the coarse
    quantizer is fit on ~10⁴-10⁵ sampled vectors regardless of corpus
    size (FAISS trains IVF the same way), so training costs zero Spark
    jobs and the only distributed passes are the one-shot list
    assignments in :func:`ivf_topk`. ``sample`` bounds driver memory:
    sample × dim × 8 bytes.
    """
    rng = np.random.RandomState(seed)
    pool = np.array(
        [list(r[0]) for r in df.select(vec_col).limit(sample).collect()], dtype=np.float64
    )
    cents = pool[rng.choice(len(pool), size=min(k, len(pool)), replace=False)]

    for _ in range(iterations):
        assign = _sq_dists(pool, cents).argmin(1)
        new = cents.copy()
        for c in range(len(cents)):
            members = pool[assign == c]
            if len(members):
                new[c] = members.mean(0)
        cents = new
    return cents


_CATALYST_CENTROID_CAP = 2048  # n_lists x dim literals before Arrow wins


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    iterations: int = 5,
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer → corpus bucketed
    by nearest centroid (the inverted lists) → each query probes its
    ``n_probe`` nearest lists → exact cosine re-rank within candidates.

    Scale shape: one narrow pass tags the corpus with its list id via
    the Arrow-batched broadcast-centroid scorer (one GEMM per batch,
    plan size O(1) in n_lists × dim — a literal-expression centroid
    table caps out around n_lists × dim ≈ a few thousand, this form
    carries tens of thousands of lists as a ~n_lists×dim×8-byte
    broadcast); the query→candidate join is an equi-join on the list
    id (shuffle keys are ints). Recall/cost tuned by n_lists × n_probe
    exactly as in FAISS-style IVF-Flat.
    """
    from pyspark.sql import Window as W

    # r13 opt: memoize the (deterministic: seeded init, bounded sample)
    # quantizer per session keyed on the canonicalized corpus plan —
    # the driver-side numpy training collected its sample on every run
    cents = memo(
        corpus.sparkSession,
        ("ivf", plan_key(corpus), vec_col, n_lists, iterations, seed),
        lambda: kmeans_centroids(corpus, vec_col, n_lists, iterations, seed=seed),
    )

    if cents.size <= _CATALYST_CENTROID_CAP:
        # small coarse quantizer: zero Python workers (the Arrow path
        # evaluated `nearest` on BOTH join branches: 3 Arrow stages for
        # what is one narrow projection per side). r13 opt: the
        # centroids ride as ONE value-memoized broadcast array row —
        # the former per-centroid literal arrays (n_lists × dim
        # expression nodes, on BOTH branches) cost Catalyst analysis
        # every run (the c2i lesson) and, being plan-unstable-by-bulk,
        # made the plans needlessly huge. Same (d, i) structs, same
        # fold order, same array_min/array_sort tie rule — values are
        # bit-identical to the literal form.
        spark = corpus.sparkSession
        cents_list = [
            (i, [float(x) for x in c]) for i, c in enumerate(cents)
        ]
        carr = _lloyd_carr_df(spark, cents_list)

        def darr(v):
            def dist(cc):
                return F.aggregate(
                    F.zip_with(
                        v, cc, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                    ),
                    F.lit(0.0),
                    lambda s, x: s + x,
                )

            return F.transform(
                F.col("__ca"),
                lambda g: F.struct(dist(g["c"]).alias("d"), g["i"].alias("i")),
            )

        c_tagged = (
            corpus.select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
            .crossJoin(F.broadcast(carr))
            .withColumn("__darr", darr(F.col("nv")))
            .withColumn("list_id", F.array_min("__darr")["i"])
            .drop("__darr", "__ca")
        )
        q_tagged = (
            queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
            .crossJoin(F.broadcast(carr))
            .withColumn("__darr", darr(F.col("qv")))
            .withColumn(
                "list_id",
                F.explode(
                    F.transform(
                        F.slice(F.array_sort("__darr"), 1, n_probe), lambda s: s["i"]
                    )
                ),
            )
            .drop("__darr", "__ca")
        )
    else:
        bc = corpus.sparkSession.sparkContext.broadcast(np.ascontiguousarray(cents))
        c_tagged = corpus.select(
            F.col(id_col).alias("nid"),
            F.col(vec_col).alias("nv"),
            _nearest_udf(bc)(F.col(vec_col)).alias("list_id"),
        )
        # each query probes its n_probe nearest lists
        q_tagged = queries.select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.explode(_probe_udf(bc, n_probe)(F.col(vec_col))).alias("list_id"),
        )

    w = W.partitionBy("qid").orderBy(F.col("__cos").desc(), F.col("nid"))
    return (
        q_tagged.join(c_tagged, "list_id")
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("__cos", cosine(F.col("qv"), F.col("nv")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "nid", F.round("__cos", 4).alias("cos"))
        .orderBy("qid", "nid")
    )


def quantize_vectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard storage
    shrink for embedding corpora (4× smaller than float32, 8× than
    float64): scale = 127 / max(|x|), q_i = round(x_i · scale).

    Pure Catalyst, fully narrow: one pass computes the scale and the
    quantized array via single-level higher-order lambdas (never nested
    — the scale lives in its own projection so the array_max expression
    isn't inlined per element). Zero vectors quantize to zeros with
    scale 0 by convention.
    """
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
    scaled = df.withColumn(
        "__scale", F.when(amax == 0, F.lit(0.0)).otherwise(127.0 / amax)
    )
    return scaled.withColumn(
        out_col,
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * F.col("__scale")).cast("int")
        ),
    ).withColumnsRenamed({"__scale": "scale"})


def pq_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 4,
    n_codes: int = 4,
    iterations: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011, the FAISS IVF-PQ
    codebook scheme) with a HARD DuckDB oracle — the 100 TB memory
    path: vectors compress to ``m`` code ids (m·log2(n_codes) bits),
    and query scoring reads an m-entry distance table instead of the
    vector.

    Pipeline (every float step hash-stable, the c3i recipe):
    1. Split ``dim`` into ``m`` subspaces of dim/m; train one codebook
       per subspace with portable Lloyd's — init = the n_codes smallest
       ids' subvectors, DECIMAL(25,12) centroid sums ROUNDed to 6,
       argmin ties to the lowest code id. ALL subspaces train in the
       same distributed passes (subspace id is just another grouping
       column — no per-subspace driver loop over the corpus).
    2. Encode: final per-(vector, subspace) nearest code — the corpus
       is now (vid, s, cid), never shipping vectors again.
    3. ADC: per (query, subspace, code) partial squared-L2 table (a
       queries×m×n_codes broadcast), summed per (query, vector) with an
       ORDERED fold over the m subspace entries (array_sort + aggregate
       — a plain SUM would be float-order-dependent under shuffles).
    4. Top-k by (ROUND(adist,4), vid) — the rounding absorbs cross-
       engine last-ulp fold noise, the id tiebreak keeps ranks stable.

    Scale shape: training = O(iterations) narrow passes with an
    (m·n_codes)-row broadcast; encode is one narrow pass; scoring
    shuffles only (vid, s, cid)×(qid, s, cid) — the corpus' float
    payload appears in NO shuffle after encoding. Mirrors the
    reference's ANN surface re-expressed for Spark (SURVEY.md §2.C C3).
    """
    codes, qtab = _pq_encode_and_tabs(
        queries, corpus, m, n_codes, iterations, dim, id_col, vec_col
    )
    # ADC scan: broadcast the q-row tables across the compressed corpus
    # (a narrow per-row fold — no per-candidate shuffle, the standard
    # PQ-flat O(n·q) scan with tiny constants), then one top-k window
    # over the (qid, vid, adist) triples
    ad = codes.join(F.broadcast(qtab)).select("qid", "vid", _adc_fold().alias("adist"))
    return _pq_rank(ad, k)


def _pq_subspaces(
    df: DataFrame, m: int, sub: int, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """(id, s, sv): each vector split into its m dim/m-wide subvectors."""
    return (
        df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).cast("array<double>").alias("v")
        )
        .select(out_id, F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"), "v")
        .select(out_id, "s", F.slice(F.col("v"), F.col("s") * sub + 1, sub).alias("sv"))
    )


def _pq_dist():
    """Exact squared-L2 between a subvector and a codeword (Columns are
    built lazily — module-level Column literals need a live JVM)."""
    return F.aggregate(
        F.zip_with("sv", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_cb_key(cb_py) -> tuple:
    return tuple((s, cid, tuple(c)) for s in sorted(cb_py) for cid, c in cb_py[s])


def _pq_cb_df(spark, cb_py) -> DataFrame:
    """(s, cid, c) codebook table as a value-memoized LocalRelation."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("s", T.IntegerType(), False),
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("c", T.ArrayType(T.DoubleType()), False),
        ]
    )
    rows = [(s, cid, c) for s in sorted(cb_py) for cid, c in cb_py[s]]
    return memo(
        spark,
        ("pqcb", _pq_cb_key(cb_py)),
        lambda: spark.createDataFrame(rows, schema),
    )


def _pq_cb_row_df(spark, cb_py) -> DataFrame:
    """All codebooks as ONE broadcast row: ``__cb[s + 1]`` is subspace
    ``s``'s array of (i, c) codewords (s is 0-based contiguous by
    construction in _pq_subspaces)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(
                "__cb",
                T.ArrayType(
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("i", T.IntegerType(), False),
                                T.StructField("c", T.ArrayType(T.DoubleType()), False),
                            ]
                        )
                    )
                ),
                False,
            )
        ]
    )
    data = [[(cid, c) for cid, c in cb_py[s]] for s in sorted(cb_py)]
    return memo(
        spark,
        ("pqrow", _pq_cb_key(cb_py)),
        lambda: spark.createDataFrame([(data,)], schema),
    )


def _pq_assign(sub_base: DataFrame, cb_py, with_sv: bool = False) -> DataFrame:
    """Per-(vid, s) nearest-codeword assignment as ONE narrow pass (the
    _lloyd_assign shape with the subspace id indexing into the
    broadcast row); array_min over (d, i) structs replays the
    struct-min tie rule."""

    def dist(carr):
        return F.aggregate(
            F.zip_with("sv", carr, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    codes_for_s = F.element_at(F.col("__cb"), F.col("s") + 1)
    pick = F.array_min(
        F.transform(
            codes_for_s, lambda g: F.struct(dist(g["c"]).alias("d"), g["i"].alias("i"))
        )
    )["i"].alias("cid")
    out = sub_base.crossJoin(
        F.broadcast(_pq_cb_row_df(sub_base.sparkSession, cb_py))
    )
    cols = ["vid", "s", pick] + (["sv"] if with_sv else [])
    return out.select(*cols)


def _pq_train_encode(sub_base: DataFrame, n_codes: int, iterations: int):
    """(codebooks, codes): per-subspace portable-Lloyd codebooks (the
    c3i decimal recipe with the subspace id as one more grouping
    column) and the compressed corpus — one row per vector, codes in
    subspace order, the ONLY shuffle the corpus pays after encoding
    (n×m → n rows of (vid, m small ints); the float payload is gone).

    r13 opt: driver-paced like :func:`_portable_lloyd` — the bounded
    m×n_codes codebook collects per iteration and rides back in as one
    broadcast row; training memoizes per session on the canonicalized
    sub_base plan. Values are bit-identical to the r12 all-DataFrame
    loop (same init window, same DECIMAL(25,12)/ROUND(6) update, same
    (d, cid) tie rule)."""
    from pyspark.sql import Window as W

    spark = sub_base.sparkSession

    def train() -> dict[int, list]:
        w0 = W.partitionBy("s").orderBy("vid")
        init = (
            sub_base.withColumn("cid", F.row_number().over(w0))
            .filter(F.col("cid") <= n_codes)
            .select("s", "cid", F.col("sv").alias("c"))
            .collect()
        )
        cb_py: dict[int, list] = {}
        for r in init:
            cb_py.setdefault(r["s"], []).append(
                (r["cid"], [float(x) for x in r["c"]])
            )
        for s in cb_py:
            cb_py[s].sort()
        for _ in range(iterations - 1):
            upd = (
                _pq_assign(sub_base, cb_py, with_sv=True)
                .select("s", "cid", F.posexplode("sv").alias("d", "x"))
                .groupBy("s", "cid", "d")
                .agg(
                    F.round(
                        F.sum(F.col("x").cast("decimal(25,12)")).cast("double")
                        / F.count("*"),
                        6,
                    ).alias("mv")
                )
                .collect()
            )
            nb: dict[int, dict[int, dict[int, float]]] = {}
            for r in upd:
                nb.setdefault(r["s"], {}).setdefault(r["cid"], {})[r["d"]] = float(
                    r["mv"]
                )
            cb_py = {
                s: [
                    (cid, [nb[s][cid][d] for d in sorted(nb[s][cid])])
                    for cid in sorted(nb[s])
                ]
                for s in sorted(nb)
            }
        return cb_py

    cb_py = memo(spark, ("pq_codebooks", plan_key(sub_base), n_codes, iterations), train)
    codebooks = _pq_cb_df(spark, cb_py)
    codes = (
        _pq_assign(sub_base, cb_py)
        .groupBy("vid")
        .agg(F.collect_list(F.struct("s", "cid")).alias("__sc"))
        .select(
            "vid", F.transform(F.array_sort("__sc"), lambda st: st["cid"]).alias("codes")
        )
    )
    return codebooks, codes


def _pq_encode_and_tabs(
    queries: DataFrame,
    corpus: DataFrame,
    m: int,
    n_codes: int,
    iterations: int,
    dim: int,
    id_col: str,
    vec_col: str,
):
    """(codes, qtab): the compressed corpus and the per-query ADC
    lookup tables tab[s][cid] (m × n_codes doubles per query)."""
    sub = dim // m
    sub_base = _pq_subspaces(corpus, m, sub, id_col, vec_col, "vid")
    codebooks, codes = _pq_train_encode(sub_base, n_codes, iterations)
    qsub = _pq_subspaces(queries, m, sub, id_col, vec_col, "qid")
    qtab = (
        qsub.join(F.broadcast(codebooks), "s")
        .select("qid", "s", "cid", _pq_dist().alias("pd"))
        .groupBy("qid", "s")
        .agg(F.collect_list(F.struct("cid", "pd")).alias("__cp"))
        .select(
            "qid", "s", F.transform(F.array_sort("__cp"), lambda st: st["pd"]).alias("row")
        )
        .groupBy("qid")
        .agg(F.collect_list(F.struct("s", "row")).alias("__sr"))
        .select(
            "qid", F.transform(F.array_sort("__sr"), lambda st: st["row"]).alias("tab")
        )
    )
    return codes, qtab


def _adc_fold():
    """Asymmetric-distance sum: look each code up in the query's table
    and fold in subspace order (zip_with keeps the array order — a
    shuffled SUM would be float-order-dependent); 4dp ROUND absorbs
    cross-engine last-ulp noise."""
    return F.round(
        F.aggregate(
            F.zip_with("codes", "tab", lambda cid, row: F.element_at(row, cid)),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
        4,
    )


def _pq_rank(ad: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window as W

    w2 = W.partitionBy("qid").orderBy("adist", "vid")
    return (
        ad.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", F.col("vid").alias("nid"), "rank", "adist")
        .orderBy("qid", "rank")
    )


def ivfpq_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    m: int = 4,
    n_codes: int = 4,
    iterations: int = 2,
    dim: int = 64,
    n_lists: int = 4,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ composition, Jégou et al. 2011) with
    a HARD DuckDB oracle — the 100× answer to flat PQ's linear ADC
    scan: a coarse quantizer (portable Lloyd's on the FULL vectors,
    :func:`_portable_lloyd`) buckets the corpus into ``n_lists``
    inverted lists; each query ADC-scores ONLY the vectors in its
    ``n_probe`` nearest lists. Work per query batch drops from O(n) to
    ~O(n · n_probe / n_lists), and with n_lists ∝ √n (FAISS practice)
    the per-query candidate set stays constant as the corpus grows.

    Every float step is hash-stable (the c3i decimal recipe): the
    coarse assignment/probing tie to the lowest centroid id on exact
    (dist, cid) order, the PQ codebooks/encode are the c3j chain
    verbatim, and the gated ADC fold is subspace-ordered with a 4dp
    ROUND. Output contract matches :func:`pq_topk_portable`
    (qid, nid, rank, adist).

    Scale shape: coarse train = O(iterations) narrow passes with an
    n_lists-row broadcast; the probe→list candidate join shuffles only
    (qid, list_id) × (vid, list_id) int pairs; vectors appear in no
    shuffle after encoding."""
    base = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    ca, ccents = _portable_lloyd(base, n_lists, iterations, checkpoint=True)
    ca = ca.select("vid", F.col("cid").alias("list_id"))
    # query probes: rank the final centroids by exact (d, cid) and keep
    # the n_probe nearest lists per query
    from pyspark.sql import Window as W

    qbase = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    pdist = F.aggregate(
        F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    wq = W.partitionBy("qid").orderBy("d", "cid")
    probes = (
        qbase.join(F.broadcast(ccents))
        .select("qid", "cid", pdist.alias("d"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("qid", F.col("cid").alias("list_id"))
    )
    codes, qtab = _pq_encode_and_tabs(
        queries, corpus, m, n_codes, iterations, dim, id_col, vec_col
    )
    # gate: candidates = corpus rows whose list is probed by the query —
    # an int-pair equi-join on list_id, then codes by vid and the
    # broadcast ADC tables by qid
    cand = probes.join(ca, "list_id").select("qid", "vid")
    ad = (
        cand.join(codes, "vid")
        .join(F.broadcast(qtab), "qid")
        .select("qid", "vid", _adc_fold().alias("adist"))
    )
    return _pq_rank(ad, k)


def mips_topk_portable(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    nbits: int = 8,
) -> DataFrame:
    """Maximum-inner-product search (MIPS) via the norm-augmentation
    reduction (Shrivastava & Li / Bachrach et al.): append
    sqrt(M² − |v|²) to every corpus vector (all augmented norms become
    M) and 0.0 to every query — cosine ORDER over the augmented space
    equals dot-product order over the originals, so the c3f portable
    multiprobe LSH machinery runs unchanged on dim+1. Scoring uses the
    augmented dot directly: the query's extra component is 0, so it IS
    the original inner product.

    Hash-stable across engines: M² is the max of squared norms folded
    in the same left-assoc order as DuckDB's list_sum; sqrt is
    IEEE-correctly-rounded in both; planes are the deterministic
    portable generator at dim+1. Scale shape matches c3f — corpus
    bucket index carries (id, bucket) only, query probes broadcast,
    vectors re-join by id for the exact-dot re-rank.
    """
    from pyspark.sql import Window as W

    def sq_norm(v):
        return F.aggregate(
            v, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double")
        )

    spark = corpus.sparkSession

    def augmented(df_, extra):
        return df_.select(
            F.col(id_col).alias("id"),
            F.concat(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                F.array(extra),
            ).alias("v"),
        )

    pl_df = _portable_planes_df(spark, dim + 1, nbits)
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(nbits)])

    def with_bucket(df_, idname, bname):
        dotted = df_.crossJoin(F.broadcast(pl_df)).select(
            F.col("id").alias(idname),
            F.transform(F.col("__planes"), lambda p: vec_dot(F.col("v"), p)).alias(
                "__dots"
            ),
        )
        word = F.aggregate(
            F.zip_with(
                F.col("__dots"),
                masks,
                lambda d, m: F.when(d >= 0, m).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        )
        return dotted.select(idname, word.alias(bname))

    def index():
        m2 = corpus.agg(F.max(sq_norm(F.col(vec_col)))).collect()[0][0]
        if m2 is None:
            m2 = 0.0  # empty corpus: keep the plan valid, result is empty anyway
        cb = with_bucket(
            augmented(corpus, F.sqrt(F.lit(float(m2)) - sq_norm(F.col(vec_col)))),
            "nid",
            "bucket",
        ).persist()
        return m2, cb

    # r13 opt: the max-norm probe (an eager corpus agg) and the corpus
    # bucket index (the expensive n × nbits·(dim+1) dot pass) re-ran on
    # every invocation — memoize both per (session, canonicalized
    # corpus plan), the build-once-LSH discipline of c2d/c3c. Cold
    # pays, warm replays bit-identical (m2 is a collected double, the
    # index a persisted deterministic plan).
    m2, cb = memo(spark, ("mips", plan_key(corpus), id_col, vec_col, dim, nbits), index)

    c_aug = augmented(corpus, F.sqrt(F.lit(float(m2)) - sq_norm(F.col(vec_col))))
    q_aug = augmented(queries, F.lit(0.0))
    qb = with_bucket(q_aug, "qid", "qbucket")
    probes = qb.select(
        "qid",
        F.explode(
            F.array(
                F.col("qbucket"),
                *[
                    F.col("qbucket").bitwiseXOR(F.lit(1 << j).cast("long"))
                    for j in range(nbits)
                ],
            )
        ).alias("bucket"),
    )
    cand = (
        F.broadcast(probes)
        .join(cb, "bucket")
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    w = W.partitionBy("qid").orderBy(F.col("__dot").desc(), F.col("nid"))
    return (
        cand.join(
            F.broadcast(q_aug.select(F.col("id").alias("qid"), F.col("v").alias("qv"))),
            "qid",
        )
        .join(c_aug.select(F.col("id").alias("nid"), F.col("v").alias("nv")), "nid")
        .withColumn("__dot", vec_dot(F.col("qv"), F.col("nv")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("qid", "nid", (F.round("__dot", 4) + F.lit(0.0)).alias("dot"))
        .orderBy("qid", "nid")
    )


def _gated_route(spark, cents_py, n_coarse: int):
    """Coarse routing tables for :func:`_gated_argmin`: Lloyd-cluster
    the k fine centroids into ``n_coarse`` groups (the existing
    decimal-stable Spark loop — k tiny rows, 2 iterations) and compute
    the FINAL coarse assignment of each fine centroid in pure Python
    IEEE doubles (the exact op sequence of :func:`_lloyd_assign`'s
    fold: ``s = s + (x-y)*(x-y)`` in array order, min by (d, gid) —
    Python floats are the same IEEE doubles, so the values are
    bit-identical; probed against the Catalyst path in
    ``test_gated_argmin_probe_all_equals_flat``). Memoized per session
    by value (the centroid tuple): the coarse base is a LocalRelation,
    which :func:`plan_key` refuses.

    Returns ``(gcents_py, cmap)``: the coarse centroids and the
    fine-cid → coarse-gid map."""

    def route():
        cbase = _lloyd_cents_df(spark, cents_py).select(
            F.col("cid").alias("vid"), F.col("c").cast("array<double>").alias("v")
        )
        _, _, gcents_py = _portable_lloyd_py(cbase, n_coarse, 2)
        cmap: dict[int, int] = {}
        for cid, c in cents_py:
            best = None
            for gid, gc in gcents_py:
                s = 0.0
                for x, y in zip(c, gc):
                    s = s + (x - y) * (x - y)
                if best is None or (s, gid) < best:
                    best = (s, gid)
            cmap[cid] = best[1]
        return gcents_py, cmap

    return memo(spark, ("gated_route", _lloyd_cents_key(cents_py), n_coarse), route)


def _flat_argmin(base: DataFrame, cents_py):
    """Exact nearest-centroid (cid, squared-L2 d) as ONE narrow Arrow
    pass — the flat twin of :func:`_gated_argmin` (same sequential
    fold, same first-occurrence-argmin == (d, cid) struct-min tie
    rule, so values are bit-identical to the former Catalyst
    broadcast-join + groupBy-min pipeline, whose per-vid re-group was
    also the only Exchange in the assignment)."""
    from pyspark.sql.functions import pandas_udf

    fine = sorted(cents_py)
    dim = len(fine[0][1])
    C = np.array([c for _, c in fine], dtype=np.float64)
    CIDS = np.array([cid for cid, _ in fine], dtype=np.int64)

    @pandas_udf("i int, d double")
    def pick(v: pd.Series) -> pd.DataFrame:
        n = len(v)
        V = _batch_matrix(v, dim)
        D = np.zeros((n, C.shape[0]), dtype=np.float64)
        for t in range(dim):
            diff = V[:, t, None] - C[None, :, t]
            D += diff * diff
        j = np.argmin(D, axis=1)
        return pd.DataFrame(
            {"i": CIDS[j].astype(np.int32), "d": D[np.arange(n), j]}
        )

    vbase = base.select("vid", F.col("v").cast("array<double>").alias("v"))
    return vbase.select("vid", pick(F.col("v")).alias("b")).select(
        "vid", F.col("b.i").alias("cid"), F.col("b.d").alias("d")
    )


def _gated_argmin(base: DataFrame, cents_py, n_coarse: int, n_probe: int = 2):
    """Hierarchical nearest-centroid assignment (r12, verdict #3 — the
    c9p scale gate): instead of comparing every vector against all k
    fine centroids (O(n·k) — quadratic when k ∝ n, the SemDeDup
    convention), cluster the k CENTROIDS themselves into ``n_coarse``
    coarse groups (portable Lloyd over k tiny rows), route each vector
    to its ``n_probe`` nearest coarse centroids, and argmin only over
    the fine centroids in the probed groups (O(n·n_probe·k/n_coarse)).
    At n_coarse = √k the per-row cost drops from k to ~√k·(1+n_probe)
    — the c3l IVF list-gating shape applied to assignment.

    r13 opt: the probe + in-list argmin run as ONE Arrow-batched numpy
    kernel over (vid, v) — fully narrow, ZERO shuffles (the previous
    Catalyst form cross-joined a coarse broadcast row, exploded the
    probes, broadcast-joined the fine lists and re-grouped by vid, all
    through interpreted higher-order-function lambdas — the dominant
    per-run cost under the bench's interpret-small-input policy). The
    numpy fold accumulates ``(x_t-y_t)²`` sequentially over t exactly
    like the Catalyst ``aggregate`` fold (each step one IEEE-double
    sub/mul/add in the same order — numpy never fuses), the probe pick
    is a stable argsort over gid-ordered columns (== ORDER BY d, gid)
    and the final pick is a first-min argmin over cid-ordered columns
    (== the (d, cid) struct-min tie rule), so every value is
    bit-identical to the Catalyst path — asserted exactly by
    ``test_gated_argmin_probe_all_equals_flat`` and hash-checked
    end-to-end by the c9r DuckDB oracle.

    Deterministic end-to-end (ties to the lowest id); probes are
    restricted to coarse groups that actually received fine centroids
    in the final coarse assignment, so no vector can lose all its
    probes. Returns (vid, cid, d) with d the RAW squared-L2 distance
    to the chosen fine centroid. ``cents_py`` is the driver-side
    centroid list from :func:`_portable_lloyd_py`; corpus vectors must
    be non-null fixed-dim (the _batch_matrix contract).
    """
    from pyspark.sql.functions import pandas_udf

    spark = base.sparkSession
    gcents_py, cmap = _gated_route(spark, cents_py, n_coarse)
    fine = sorted(cents_py)
    dim = len(fine[0][1])
    # non-empty coarse groups only, gid-ascending (== the garr order)
    negids = sorted(set(cmap.values()))
    gby = dict((gid, gc) for gid, gc in gcents_py)
    GC = np.array([gby[g] for g in negids], dtype=np.float64)  # (g, dim)
    GIDS = np.array(negids, dtype=np.int64)
    p = min(n_probe, len(negids))
    # fine centroids grouped by coarse gid, cid-ascending inside each
    # group — only PROBED groups are scored (the √k·(1+p) posture)
    groups = [
        (
            g,
            np.array([c for cid, c in fine if cmap[cid] == g], dtype=np.float64),
            np.array([cid for cid, _ in fine if cmap[cid] == g], dtype=np.int64),
        )
        for g in negids
    ]

    @pandas_udf("i int, d double")
    def gated_pick(v: pd.Series) -> pd.DataFrame:
        n = len(v)
        V = _batch_matrix(v, dim)
        # sequential over t, vectorized over rows: bit-identical to the
        # Catalyst fold (same IEEE op sequence per (row, centroid))
        DC = np.zeros((n, GC.shape[0]), dtype=np.float64)
        for t in range(dim):
            dc = V[:, t, None] - GC[None, :, t]
            DC += dc * dc
        # top-p probes by (d, gid): stable sort over gid-ordered columns
        order = np.argsort(DC, axis=1, kind="stable")[:, :p]
        pg = GIDS[order]  # (n, p) probed gids
        best_d = np.full(n, np.inf)
        best_c = np.zeros(n, dtype=np.int64)
        for g, FG, CG in groups:
            rows = np.nonzero((pg == g).any(axis=1))[0]
            if rows.size == 0:
                continue
            sub = V[rows]
            D = np.zeros((rows.size, FG.shape[0]), dtype=np.float64)
            for t in range(dim):
                df_ = sub[:, t, None] - FG[None, :, t]
                D += df_ * df_
            # first-occurrence argmin over cid-ordered columns, then an
            # explicit (d, cid) tie-break across groups == the global
            # (d, cid) struct-min over the probed union
            jl = np.argmin(D, axis=1)
            dg = D[np.arange(rows.size), jl]
            cg = CG[jl]
            cur_d, cur_c = best_d[rows], best_c[rows]
            take = (dg < cur_d) | ((dg == cur_d) & (cg < cur_c))
            best_d[rows] = np.where(take, dg, cur_d)
            best_c[rows] = np.where(take, cg, cur_c)
        return pd.DataFrame({"i": best_c.astype(np.int32), "d": best_d})

    vbase = base.select("vid", F.col("v").cast("array<double>").alias("v"))
    return vbase.select("vid", gated_pick(F.col("v")).alias("b")).select(
        "vid", F.col("b.i").alias("cid"), F.col("b.d").alias("d")
    )


def diversity_keep(
    df: DataFrame,
    k_clusters: int = 8,
    iterations: int = 2,
    keep_per_cluster: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_gate: int | None = 64,
    n_probe: int = 2,
    train_sample: int | None = None,
) -> DataFrame:
    """Diversity-preserving sampling: cluster the corpus with the
    hash-stable portable k-means and keep the ``keep_per_cluster``
    vectors FARTHEST from their centroid — the anti-redundancy
    complement of SemDeDup (which removes the closest pairs): what
    survives is the spread of each mode, not its dense core. The
    standard cheap stand-in for facility-location / k-center coreset
    selection in data-curation pipelines.

    Hash-stable: assignment and distance reuse the c3i decimal-centroid
    recipe; the exposed distance ROUNDs at 6 dp (in-order list folds
    are bit-identical cross-engine — the c3a/c2i precedent); the
    per-cluster rank orders by (rounded dist DESC, id).

    Scale posture: centroids broadcast (k rows); one narrow distance
    pass; the per-cluster window is NOT the b5f smell when k_clusters
    grows with the corpus (SemDeDup practice, k ∝ n keeps per-cluster
    occupancy constant — exactly how c2k is smoked in SCALE.md).

    Scale GATE (r12): k ∝ n makes the flat argmin O(n·k) = O(n²)
    assignment CPU — the one super-linear curve in SCALE.md r11. When
    ``k_clusters > coarse_gate`` the final assignment routes through
    :func:`_gated_argmin` (coarse-cluster the centroids into √k groups,
    probe ``n_probe``, argmin in-list only: per-row cost √k·(1+n_probe)
    instead of k), and training optionally runs on a deterministic
    bounded sample (``train_sample`` lowest-id vectors — the FAISS
    quantizer-training practice, similarity.py IVF precedent) so the
    Lloyd iterations stop scaling with n·k too. Both paths are
    hash-stable; c9p (k=8, under the gate) is byte-identical to r11,
    c9r oracles the gated path end-to-end.
    """
    from pyspark.sql import Window as W

    base = df.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    tbase = base.orderBy("vid").limit(train_sample) if train_sample else base
    _, _, cents_py = _portable_lloyd_py(tbase, k_clusters, iterations)
    if coarse_gate is not None and k_clusters > coarse_gate:
        from math import isqrt

        # the gated assignment takes the trained centroids as VALUES
        # (cents_py) — routing tables build driver-side and the whole
        # probe+argmin is one narrow Arrow kernel (r13 opt; the former
        # DataFrame pipeline localCheckpoint'd the k-row centroid frame
        # for its four consumers)
        a = _gated_argmin(base, cents_py, max(2, isqrt(k_clusters)), n_probe)
        a = a.select(
            "vid",
            F.col("cid").cast("long").alias("cid"),
            F.round(F.col("d"), 6).alias("dist"),
        )
    else:
        # flat exact argmin, same Arrow kernel family (r13 opt — the
        # former broadcast join + per-vid groupBy-min re-grouped the
        # corpus for nothing; values bit-identical, see _flat_argmin)
        m = _flat_argmin(base, cents_py)
        a = m.select(
            "vid",
            F.col("cid").cast("long").alias("cid"),
            F.round(F.col("d"), 6).alias("dist"),
        )
    w = W.partitionBy("cid").orderBy(F.col("dist").desc(), "vid")
    return (
        a.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= keep_per_cluster)
        .select(F.col("vid").alias(id_col), "cid", "dist", "rn")
        .orderBy("cid", "rn")
    )
