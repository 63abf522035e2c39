"""Tier C declared queries (SURVEY.md §2.C): dedup, similarity search,
text analysis, as-of correlation, multimodal, sessionization.

Each entry runs a real operator from ``dust_spark.operators`` and —
wherever the semantics are SQL-expressible — pairs it with an exact
DuckDB oracle. Sketch-based ops (MinHash/SimHash/RP-LSH) are
deterministic (fixed seeds, xxhash64) but not portable to DuckDB, so
they are registered without an oracle (driver records the weaker
rows-only check; engine tests in tests/ verify their semantics against
exact ground truth instead).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dust_spark import operators as ops
from dust_spark.fixtures import memo
from dust_spark.queries import register
from dust_spark.tables import register_views, spread


def _cached_input(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """documents/embeddings are dimension-sized (500–5k rows at test
    SFs); cache the spread scan once per session so the ~20 Tier C
    queries don't each re-scan + re-repartition. At real corpus scale
    this cache is simply not used (spread() keeps the native splits and
    persist of a 100 TB table would be disabled by storage level)."""

    def build() -> DataFrame:
        register_views(spark, sf_dir)
        return spread(spark.table(name)).persist()

    return memo(spark, (name, sf_dir), build)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_input(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached_input(spark, sf_dir, "embeddings")


def _ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs at threshold 0.2 — consumed by both c2c and
    c10b; computed once per (session, sf_dir). The operator already
    persists its (tiny) pair output, so memoizing the DataFrame handle
    is enough to share the materialization."""
    return memo(
        spark,
        ("ngram_pairs", sf_dir),
        lambda: ops.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.2),
    )


def _pq_ann_result(spark: SparkSession, sf_dir: str, ivf: bool) -> DataFrame:
    """Shared (qid, nid, rank, adist) ANN result over the standard
    query set — c3j/c3k consume the identical flat-PQ top-10 and
    c3l/c3m the identical IVF-PQ top-10, so each codebook-training
    chain runs once per session instead of once per query (the recall
    twin was re-training everything). Persisted, session-owned."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") <= 5)
        df = (
            ops.ivfpq_topk_portable(q, emb, k=10, n_lists=4, n_probe=2)
            if ivf
            else ops.pq_topk_portable(q, emb, k=10)
        )
        return df.persist()

    return memo(spark, ("ivfpq" if ivf else "pq", sf_dir), build)


def _xx_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared xxhash64 MinHash signature table (id, sig) over the
    document corpus — c2a and c2e both consume the identical k=64
    signatures, so the Arrow sig kernel runs once per session instead
    of once per query. Persisted here (caller-owned per the operator's
    ``sigs=`` contract)."""
    return memo(
        spark,
        ("xx", sf_dir),
        lambda: ops.minhash_signatures(_docs(spark, sf_dir), include_shingles=False).persist(),
    )


def _gram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared distinct (doc_id, 3-word-gram xxhash64) pair table over
    the document corpus — c4q (novelty), c2l and c9m (containment) all
    consume the identical table, so the tokenize + shingle-explode +
    distinct corpus pass runs once per session instead of once per
    side per query. Persisted, caller-owned."""
    return memo(
        spark,
        ("grampairs", sf_dir),
        lambda: ops._distinct_gram_pairs(_docs(spark, sf_dir), "text", 3, "doc_id").persist(),
    )


def _portable_sigs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Shared portable-hash (shingle sets, signatures) pair over the
    document corpus — consumed by c2g/c2j (whole corpus) and c2h
    (parity-filtered sides). Both halves persisted, caller-owned."""

    def build() -> tuple[DataFrame, DataFrame]:
        sh, sigs = ops.dedup._portable_shingle_sigs(_docs(spark, sf_dir), "text", "doc_id", 64, 3)
        return sh.persist(), sigs.persist()

    return memo(spark, ("portable", sf_dir), build)


def warm_shared_fixtures(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the fixtures shared across Tier C queries (the
    persisted doc/embedding scans and the c2c/c10b n-gram pair set) so
    per-query bench timings charge each query its OWN work: without
    this, whichever of c2c/c10b runs first in the sorted bench loop
    pays the ~15s shared pair generation (the r4/r5 'c10b regression'
    was exactly that accounting artifact)."""
    _docs(spark, sf_dir).count()
    _emb(spark, sf_dir).count()
    _ngram_pairs(spark, sf_dir).count()
    # shared MinHash signature tables (xxhash64: c2a/c2e; portable:
    # c2g/c2h/c2j) — materialize both so the first family member timed
    # doesn't pay the whole corpus signature pass
    _xx_sigs(spark, sf_dir).count()
    p_sh, p_sigs = _portable_sigs(spark, sf_dir)
    p_sh.count()
    p_sigs.count()
    # shared gram-hash pair table (c4q/c2l/c9m)
    _gram_pairs(spark, sf_dir).count()


# ---------------------------------------------------------------------------
# C1 — exact dedup
# ---------------------------------------------------------------------------


@register(
    "c1a_exact_dedup_count",
    oracle="SELECT count(*) AS n FROM (SELECT text, MIN(doc_id) AS keeper FROM documents GROUP BY text) t",
    tags=("tierc", "dedup"),
)
def exact_dedup_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.exact_dedup_count(_docs(spark, sf_dir))


@register(
    "c1b_exact_dedup_keepers",
    oracle="SELECT MIN(doc_id) AS keeper FROM documents GROUP BY text ORDER BY keeper",
    tags=("tierc", "dedup"),
)
def exact_dedup_keepers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ops.exact_dedup(_docs(spark, sf_dir))
        .select(F.col("doc_id").alias("keeper"))
        .orderBy("keeper")
    )


# ---------------------------------------------------------------------------
# C2 — near-dup detection (sketches: deterministic, engine-verified;
# exact n-gram Jaccard: DuckDB-oracled)
# ---------------------------------------------------------------------------


@register("c2a_minhash_lsh_pairs", tags=("tierc", "dedup", "no-oracle"))
def minhash_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ops.minhash_lsh_pairs(
            _docs(spark, sf_dir), threshold=0.2, sigs=_xx_sigs(spark, sf_dir)
        )
        .orderBy("id_a", "id_b")
    )


@register("c2b_simhash_table", tags=("tierc", "dedup", "no-oracle"))
def simhash_table_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 64-bit SimHash per document (pair detection at
    hamming<=3 is exercised in tests/test_operators.py on a corpus with
    constructed near-dups; this synthetic word-soup corpus has none)."""
    return ops.simhash_table(_docs(spark, sf_dir)).orderBy("id")


_NGRAM_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= 0.2
ORDER BY id_a, id_b
"""


@register("c2c_ngram_jaccard_pairs", oracle=_NGRAM_ORACLE, tags=("tierc", "dedup"))
def ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs(spark, sf_dir).orderBy("id_a", "id_b")


@register("c2d_embedding_near_dup", tags=("tierc", "dedup", "no-oracle"))
def embedding_near_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.embedding_near_dup(_emb(spark, sf_dir), threshold=0.3).orderBy("id_a", "id_b")


# Portable-plane embedding near-dup: same LSH structure as c2d but on
# the deterministic plane generator, so bucket words, the candidate
# equi-join and the cosine verify all replay bit-exactly in DuckDB
# (the c3f recipe applied to the near-dup shape — VERDICT r5 item 2).
_PORTABLE_NEAR_DUP_ORACLE = """
WITH planes AS (
  SELECT j, list_transform(range(0, 64), t ->
    (((j*64 + t + 1) * 2654435761) % 2147483647)::DOUBLE / 2147483647.0 - 0.5) AS d
  FROM (SELECT unnest(range(0, 40)) AS j)
), vb AS (
  SELECT e.vec_id, p.j // 10 AS tbl,
         SUM(CASE WHEN list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), p.d),
                      x -> x[1] * x[2])) >= 0
                  THEN (1::BIGINT << (p.j % 10)) ELSE 0 END)::BIGINT AS bucket
  FROM embeddings e, planes p
  GROUP BY e.vec_id, p.j // 10
), vbc AS (
  -- the engine applies the max_bucket=10000 skew cap (_cap_buckets)
  -- BEFORE the self-join; model it here or the oracle diverges the
  -- moment any LSH bucket exceeds 10k members (r10, ADVICE item)
  SELECT vec_id, tbl, bucket FROM vb
  QUALIFY COUNT(*) OVER (PARTITION BY tbl, bucket) <= 10000
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM vbc a JOIN vbc b ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), scored AS (
  SELECT c.id_a, c.id_b,
         ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4) AS cs
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cs + 0.0 AS cos FROM scored WHERE cs >= 0.3 ORDER BY id_a, id_b
"""


@register("c2i_embedding_near_dup_portable", oracle=_PORTABLE_NEAR_DUP_ORACLE, tags=("tierc", "dedup", "jit"))
def embedding_near_dup_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-oracled twin of c2d: portable planes + same-bucket candidate
    join + exact cosine verify, hash-compared against DuckDB."""
    return ops.embedding_near_dup_portable(_emb(spark, sf_dir), threshold=0.3).orderBy(
        "id_a", "id_b"
    )


@register("c2e_minhash_estimate", tags=("tierc", "dedup", "no-oracle"))
def minhash_estimate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB MinHash path: verification via the signature-component
    estimator (Ĵ = matches/k, stderr ≈ sqrt(J(1-J)/k)) instead of exact
    shingle Jaccard — candidate payloads are the fixed 8·k-byte
    signatures, never shingle sets. Estimate-vs-exact agreement is
    asserted in tests/test_operators.py::test_minhash_estimate_verify_bounds;
    xxhash64 signatures aren't DuckDB-expressible → rows-only."""
    return (
        ops.minhash_lsh_pairs(
            _docs(spark, sf_dir),
            threshold=0.2,
            verify="estimate",
            sigs=_xx_sigs(spark, sf_dir),
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# C3 — similarity search over embeddings
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
WITH pairs AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id <= 5
), ranked AS (
  SELECT qid, nid, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rn FROM pairs
)
SELECT qid, nid, ROUND(c, 4) AS cos FROM ranked WHERE rn <= 3 ORDER BY qid, nid
"""


@register("c3a_cosine_topk", oracle=_TOPK_ORACLE, tags=("tierc", "similarity"))
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ops.cosine_topk(emb.filter(F.col("vec_id") <= 5), emb, k=3)


@register(
    "c3b_dot_pairs",
    oracle=(
        # DOUBLE accumulation on both sides: Spark's aggregate() and
        # DuckDB's list_sum both fold the product array sequentially, so
        # the raw sums are bitwise identical (verified: 0/11979 pair
        # mismatches at sf0.1) — no need for per-element DECIMAL math.
        # '+ 0.0' in the final projection normalizes IEEE negative zero
        # (engines disagree on -0.0 vs 0.0 after ROUND).
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "ROUND(list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), "
        "x -> x[1] * x[2])), 4) + 0.0 AS dot "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE a.vec_id <= 5 ORDER BY id_a, id_b"
    ),
    tags=("tierc", "similarity"),
)
def dot_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va")).filter(F.col("id_a") <= 5)
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    return (
        F.broadcast(a)
        .join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (F.round(dot, 4) + F.lit(0.0)).alias("dot"))
        .orderBy("id_a", "id_b")
    )


@register("c3c_ann_rp_lsh", tags=("tierc", "similarity", "no-oracle"))
def ann_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ops.rp_lsh_topk(emb.filter(F.col("vec_id") <= 20), emb, k=5, bits_per_table=6)


# Portable-plane LSH ANN: the deterministic hyperplanes (int64 mul/mod →
# one IEEE divide) regenerate bit-for-bit in DuckDB, and c3b established
# that both engines fold the double dot products identically — so bucket
# bits, multiprobe, candidate join and cosine re-rank all replay.
_PORTABLE_ANN_CTES = """
WITH planes AS (
  SELECT j, list_transform(range(0, 64), t ->
    (((j*64 + t + 1) * 2654435761) % 2147483647)::DOUBLE / 2147483647.0 - 0.5) AS d
  FROM (SELECT unnest(range(0, 8)) AS j)
), vb AS (
  SELECT e.vec_id,
         SUM(CASE WHEN list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), p.d),
                      x -> x[1] * x[2])) >= 0
                  THEN (1::BIGINT << p.j) ELSE 0 END)::BIGINT AS bucket
  FROM embeddings e, planes p
  GROUP BY e.vec_id
), probes AS (
  SELECT vec_id AS qid,
         unnest(list_prepend(bucket,
           list_transform(range(0, 8), j -> xor(bucket, 1::BIGINT << j)))) AS bucket
  FROM vb WHERE vec_id <= 5
), cand AS (
  SELECT DISTINCT p.qid, d.vec_id AS nid
  FROM probes p JOIN vb d ON d.bucket = p.bucket
  WHERE d.vec_id <> p.qid
), scored AS (
  SELECT c.qid, c.nid,
    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ne.embedding AS DOUBLE[])) AS c
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.qid
  JOIN embeddings ne ON ne.vec_id = c.nid
), ranked AS (
  SELECT qid, nid, c, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rn
  FROM scored
)
"""

_PORTABLE_ANN_ORACLE = (
    _PORTABLE_ANN_CTES
    + "SELECT qid, nid, ROUND(c, 4) + 0.0 AS cos FROM ranked WHERE rn <= 10 ORDER BY qid, nid"
)


def _rp_ann_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (qid, nid, cos) portable RP-LSH top-10 over the standard
    query set — c3f returns it and c3g grades it against the exact
    top-10, so the probe/candidate/re-rank chain runs once per session
    instead of once per query (r13; the _pq_ann_result discipline)."""

    def build() -> DataFrame:
        emb = _emb(spark, sf_dir)
        return ops.rp_lsh_topk_portable(emb.filter(F.col("vec_id") <= 5), emb, k=10).persist()

    return memo(spark, ("rp", sf_dir), build)


@register("c3f_ann_portable", oracle=_PORTABLE_ANN_ORACLE, tags=("tierc", "similarity", "jit"))
def ann_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-1 multiprobe LSH ANN on deterministic portable planes —
    the hard-oracled twin of c3c (whose np.random planes cannot be
    regenerated in SQL)."""
    return _rp_ann_result(spark, sf_dir).select(
        "qid", "nid", (F.col("cos") + F.lit(0.0)).alias("cos")
    )


_ANN_RECALL_ORACLE = (
    _PORTABLE_ANN_CTES
    + """, exactp AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS c
  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
  WHERE a.vec_id <= 5
), exactr AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rn FROM exactp
), ann AS (SELECT qid, nid FROM ranked WHERE rn <= 10),
ex AS (SELECT qid, nid FROM exactr WHERE rn <= 10)
SELECT e.qid, ROUND(count(a.nid) / 10.0, 4) AS recall
FROM ex e LEFT JOIN ann a ON a.qid = e.qid AND a.nid = e.nid
GROUP BY e.qid ORDER BY e.qid"""
)


@register("c3g_ann_recall", oracle=_ANN_RECALL_ORACLE, tags=("tierc", "similarity", "jit"))
def ann_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the portable ANN against the exact top-10 — a hard
    CORRECTNESS signal for the ANN family (VERDICT r4 item 3): both
    engines re-derive the ANN result AND the exact baseline, so the
    per-query recall scalar hash-compares exactly."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") <= 5)
    # r13 opt: the ANN side rides the session-shared c3f result; the
    # exact side persists (a 50-row frame referenced twice — by the
    # semi-join and by the per-query spine)
    ann = _rp_ann_result(spark, sf_dir).select("qid", "nid")
    exact = ops.cosine_topk(q, emb, k=10).select("qid", "nid").persist()
    matched = exact.join(ann, ["qid", "nid"], "left_semi").groupBy("qid").agg(
        F.count("*").alias("__m")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(matched, "qid", "left")
        .select(
            "qid",
            F.round(F.coalesce(F.col("__m"), F.lit(0)) / F.lit(10.0), 4).alias("recall"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# C4 — text analysis
# ---------------------------------------------------------------------------


@register(
    "c4a_text_stats",
    oracle=(
        "SELECT lang, count(*) AS n, ROUND(AVG(n_chars),4) AS avg_chars "
        "FROM documents GROUP BY lang ORDER BY lang"
    ),
    tags=("tierc", "text"),
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.round(F.avg("n_chars"), 4).alias("avg_chars"))
        .orderBy("lang")
    )


@register(
    "c4b_token_count",
    oracle=(
        "SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens "
        "FROM documents ORDER BY doc_id"
    ),
    tags=("tierc", "text"),
)
def token_count_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens").orderBy("doc_id")


@register(
    "c4c_fingerprint",
    oracle=(
        "SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp "
        "FROM documents ORDER BY doc_id"
    ),
    tags=("tierc", "text"),
)
def fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp").orderBy("doc_id")


@register(
    "c4d_lang_id",
    oracle=None,  # set below — long SQL mirroring the stopword argmax
    tags=("tierc", "text"),
)
def lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ops.lang_id(_docs(spark, sf_dir))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _langid_oracle() -> str:
    from dust_spark.operators.text import STOPWORDS

    score = {
        lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(words)})\\b'))"
        for lang, words in STOPWORDS.items()
    }
    best = f"greatest({score['en']}, {score['de']}, {score['fr']}, {score['es']})"
    pred = (
        f"CASE WHEN {best} = 0 THEN 'und' "
        f"WHEN {score['en']} = {best} THEN 'en' "
        f"WHEN {score['de']} = {best} THEN 'de' "
        f"WHEN {score['fr']} = {best} THEN 'fr' "
        f"ELSE 'es' END"
    )
    return (
        f"SELECT lang, {pred} AS pred_lang, count(*) AS n FROM documents "
        f"GROUP BY lang, pred_lang ORDER BY lang, pred_lang"
    )


from dust_spark.queries import QUERIES as _Q  # noqa: E402

_Q["c4d_lang_id"].oracle = _langid_oracle()


@register(
    "c4e_quality_scores",
    oracle=(
        "WITH q AS (SELECT doc_id, CAST(length(text) AS DOUBLE) AS n_chars_d, "
        "CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE CAST(len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS DOUBLE) END AS n_tok, "
        "CAST(length(regexp_replace(text, '[^.,;:!?''\"]', '', 'g')) AS DOUBLE) AS punct, "
        "CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS upper_, "
        "CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|it)\\b')) AS DOUBLE) AS stop_hits "
        "FROM documents) "
        "SELECT doc_id, "
        "ROUND(punct / (CASE WHEN n_chars_d = 0 THEN 1 ELSE n_chars_d END), 4) AS punct_ratio, "
        "ROUND(upper_ / (CASE WHEN n_chars_d = 0 THEN 1 ELSE n_chars_d END), 4) AS upper_ratio, "
        "ROUND(stop_hits / (CASE WHEN n_tok = 0 THEN 1 ELSE n_tok END), 4) AS stopword_ratio "
        "FROM q ORDER BY doc_id"
    ),
    tags=("tierc", "text"),
)
def quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ops.quality_scores(_docs(spark, sf_dir))
        .select("doc_id", "punct_ratio", "upper_ratio", "stopword_ratio")
        .orderBy("doc_id")
    )


_ROLLING_FP_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), th AS (
  SELECT doc_id, list_transform(w, t ->
           list_reduce(list_prepend(0::BIGINT,
             list_transform(range(1, length(t)+1), i -> ascii(t[i])::BIGINT)),
             (a, c) -> (a*31 + c) % 2147483647)) AS h
  FROM tok
)
SELECT doc_id,
       CASE WHEN len(h) = 0 THEN NULL ELSE
         list_min(list_transform(range(1, greatest(len(h)-7, 1)+1), j ->
           list_reduce(list_prepend(0::BIGINT, h[j:j+7]),
             (a, b) -> (a*1000003 + b) % 2147483647)))
       END AS rfp
FROM th ORDER BY doc_id
"""


@register("c4f_rolling_fingerprint", oracle=_ROLLING_FP_ORACLE, tags=("tierc", "text"))
def rolling_fp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Rabin-Karp winnowing fingerprint — the DuckDB oracle
    recomputes every window hash directly (materialized lists, so the
    O(n·w) form is fine there); Spark does the single-pass slide."""
    return (
        ops.rolling_hash_fingerprint(_docs(spark, sf_dir))
        .select("doc_id", "rfp")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C5 — multimodal columns (synthetic payload = document text bytes; real
# decode stubbed, distributed plumbing exercised via fake featurizer)
# ---------------------------------------------------------------------------


@register(
    "c5a_media_stats",
    oracle=(
        "SELECT 'image' AS media_type, count(*) AS n, "
        "CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes, "
        "count(DISTINCT text) AS distinct_content FROM documents"
    ),
    tags=("tierc", "multimodal"),
)
def media_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = ops.attach_media(_docs(spark, sf_dir), "doc_id", "text", media_type="image")
    return ops.media_stats(media)


@register(
    "c5c_frame_sample_plan",
    oracle=(
        "WITH m AS (SELECT doc_id AS media_id, "
        "1000 + (strlen(text) % 120) * 1000 AS duration_ms FROM documents), "
        "t AS (SELECT media_id, "
        "greatest((duration_ms * 24) // 1000, 1) AS total_frames FROM m), "
        "f AS (SELECT media_id, total_frames, g.i AS frame_no "
        "FROM t, LATERAL (SELECT unnest(range(0, 4)) AS i) g) "
        "SELECT media_id, frame_no, "
        "CAST((frame_no * total_frames) // 4 AS BIGINT) AS frame_idx, "
        "CAST(total_frames AS BIGINT) AS total_frames "
        "FROM f ORDER BY media_id, frame_no"
    ),
    tags=("tierc", "multimodal"),
)
def frame_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling plan, k=4 @ 24fps (r8): the Spark-side
    plumbing half of video frame extraction — per-clip frame indices
    are integer-exact and hash-checked; the pixel half stays the
    env-gated ffmpeg stub (COVERAGE C5)."""
    media = ops.attach_media(_docs(spark, sf_dir), "doc_id", "text", media_type="video")
    return ops.frame_sample_plan(media, k=4, fps=24)


_MEDIA_FEATURES_ORACLE = """
WITH h AS (
  SELECT doc_id, sha256(text || '0') AS hx, strlen(text) AS nb FROM documents
), f AS (
  SELECT doc_id, nb,
    list_transform(range(0, 8), i ->
      CAST(CAST(list_reduce(list_prepend(0::BIGINT,
        list_transform(range(1, 9),
          j -> CAST(strpos('0123456789abcdef', hx[CAST(i*8+j AS INT)]) - 1 AS BIGINT))),
        (a, c) -> a*16 + c) / 4294967296.0 AS FLOAT) AS DOUBLE)) AS feats
  FROM h
)
SELECT doc_id AS media_id, 'image' AS media_type, CAST(nb AS BIGINT) AS n_bytes,
       ROUND(list_sum(feats), 4) AS feat_sum
FROM f ORDER BY media_id
"""


@register("c5b_media_features", oracle=_MEDIA_FEATURES_ORACLE, tags=("tierc", "multimodal"))
def media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode path with the deterministic stand-in
    featurizer — sha256-stream features are replayed bit-exactly by the
    DuckDB oracle (incl. the float32 quantization the Arrow transfer
    applies), so even the Python-side plumbing is hash-verified."""
    media = ops.attach_media(_docs(spark, sf_dir), "doc_id", "text", media_type="image")
    feats = ops.decode_media(media, dim=8, fake=True)
    return feats.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.round(F.aggregate("feature", F.lit(0.0), lambda s, x: s + x.cast("double")), 4).alias("feat_sum"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# C6 — as-of / event-time correlation
# ---------------------------------------------------------------------------


@register(
    "c6a_asof_max_order",
    oracle=(
        "SELECT e.event_id, (SELECT MAX(o_orderkey) FROM orders o "
        "WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS last_order "
        "FROM events e WHERE e.event_id <= 50 ORDER BY e.event_id"
    ),
    tags=("tierc", "asof"),
)
def asof_max_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    events = spark.table("events").filter(F.col("event_id") <= 50)
    orders = spark.table("orders")
    return (
        ops.asof_aggregate(
            events, orders, "ts", "o_orderdate", "user_id", "o_custkey",
            agg_col="o_orderkey", agg="max", out_col="last_order",
        )
        .select("event_id", "last_order")
        .orderBy("event_id")
    )


@register(
    "c6b_asof_latest_odate",
    oracle=(
        "SELECT e.event_id, (SELECT MAX(o_orderdate) FROM orders o "
        "WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS last_odate "
        "FROM events e WHERE e.event_id <= 50 ORDER BY e.event_id"
    ),
    tags=("tierc", "asof"),
)
def asof_latest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    events = spark.table("events").filter(F.col("event_id") <= 50)
    orders = spark.table("orders")
    return (
        ops.asof_join(
            events, orders, "ts", "o_orderdate", "user_id", "o_custkey",
            value_cols=["o_orderdate"], direction="backward",
        )
        .select("event_id", F.col("o_orderdate").alias("last_odate"))
        .orderBy("event_id")
    )


@register(
    "c6e_asof_tolerance",
    oracle=(
        "SELECT e.event_id, (SELECT MAX(o_orderdate) FROM orders o "
        "WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts "
        "AND o.o_orderdate >= CAST(e.ts AS DATE) - INTERVAL 30 DAY) AS last_odate_30d "
        "FROM events e WHERE e.event_id <= 50 ORDER BY e.event_id"
    ),
    tags=("tierc", "asof"),
)
def asof_tolerance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a 30-day tolerance (r8 — pandas merge_asof
    ``tolerance`` / kdb wj semantics): the nearest prior order only if
    within the gap, else NULL. The tolerance filters the matched row
    post-window, so the plan is the same one-union-shuffle as c6b."""
    register_views(spark, sf_dir)
    events = spark.table("events").filter(F.col("event_id") <= 50)
    orders = spark.table("orders")
    return (
        ops.asof_join(
            events, orders, "ts", "o_orderdate", "user_id", "o_custkey",
            value_cols=["o_orderdate"], direction="backward",
            max_gap=lambda lt, rt: F.datediff(lt.cast("date"), rt.cast("date")) <= 30,
        )
        .select("event_id", F.col("o_orderdate").alias("last_odate_30d"))
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# C7 — sessionization (batch form; streaming form in dust_spark.streaming)
# ---------------------------------------------------------------------------

_SESSION_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
), s AS (
  SELECT user_id, event_id,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g
)
SELECT user_id, CAST(sess AS BIGINT) AS sess, count(*) AS n_events
FROM s GROUP BY user_id, sess ORDER BY user_id, sess
"""


@register("c7a_sessionize", oracle=_SESSION_SQL, tags=("tierc", "streaming"))
def sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_SESSION_SQL)


# ---------------------------------------------------------------------------
# C4 (cont.) — TF-IDF
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0 AND doc_id < 50
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), n AS (
  SELECT count(*) AS n FROM documents WHERE doc_id < 50
)
SELECT doc_id, term, tf, df,
       ROUND(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 4) AS tfidf
FROM tf JOIN dfreq USING (term), n
ORDER BY doc_id, term
"""


@register("c4g_tf_idf", oracle=_TFIDF_ORACLE, tags=("tierc", "text", "agg", "jit"))
def tf_idf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return ops.tf_idf(docs).orderBy("doc_id", "term")


# ---------------------------------------------------------------------------
# C8 — skew-resistant salted aggregation (same result as plain groupBy,
# verified by the oracle; the point is the two-phase physical shape)
# ---------------------------------------------------------------------------


@register(
    "c8a_salted_agg",
    oracle=(
        "SELECT user_id, count(*) AS n, ROUND(SUM(value),4) AS sv "
        "FROM events GROUP BY user_id ORDER BY user_id"
    ),
    tags=("tierc", "skew"),
)
def salted_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    events = spark.table("events")
    out = ops.salted_agg(
        events, ["user_id"], {"n": ("count", "event_id"), "sv": ("sum", "value")}, salt_on="event_id"
    )
    return out.select("user_id", "n", F.round("sv", 4).alias("sv")).orderBy("user_id")


@register("c3d_ann_ivf", tags=("tierc", "similarity", "no-oracle"))
def ann_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ops.ivf_topk(emb.filter(F.col("vec_id") <= 20), emb, k=5, n_lists=8, n_probe=3, iterations=2)


# ---------------------------------------------------------------------------
# C9 — pipeline prep: cleaning, chunking, deterministic splits
# ---------------------------------------------------------------------------


@register(
    "c9a_clean_text",
    oracle=(
        "SELECT doc_id, md5(trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        "text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'), 'https?://\\S+', '<URL>', 'g'), "
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '\\s+', ' ', 'g'))) AS h "
        "FROM documents ORDER BY doc_id"
    ),
    tags=("tierc", "text"),
)
def clean_text_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ops.clean_text(_docs(spark, sf_dir))
        .select("doc_id", F.md5("clean").alias("h"))
        .orderBy("doc_id")
    )


_CHUNK_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok
  FROM documents
), c AS (
  SELECT doc_id, n_tok,
         greatest(CAST(ceil((n_tok - 128) / 96.0) AS BIGINT) + 1, 1) AS n_chunks
  FROM tok
)
SELECT doc_id, n_chunks,
       CAST(list_sum(list_transform(range(0, n_chunks), i -> least(128, n_tok - i * 96))) AS BIGINT) AS total_tokens
FROM c ORDER BY doc_id
"""


@register("c9b_chunk_documents", oracle=_CHUNK_ORACLE, tags=("tierc", "text"))
def chunk_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = ops.chunk_documents(_docs(spark, sf_dir), chunk_tokens=128, stride=96)
    return (
        chunks.groupBy("doc_id")
        .agg(F.count("*").alias("n_chunks"), F.sum("n_chunk_tokens").alias("total_tokens"))
        .orderBy("doc_id")
    )


_SPLIT_ORACLE = """
WITH b AS (
  SELECT doc_id,
         (list_reduce(list_prepend(42::BIGINT,
           list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
             i -> ascii(CAST(doc_id AS VARCHAR)[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) * 2654435761) % 2147483647 % 1000000 AS bk
  FROM documents
)
SELECT CASE WHEN bk < 800000 THEN 'train'
            WHEN bk < 900000 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n
FROM b GROUP BY 1 ORDER BY 1
"""


@register("c9c_train_val_test_split", oracle=_SPLIT_ORACLE, tags=("tierc", "sampling"))
def split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash split mode: the DuckDB oracle replays the
    char-Horner bucket exactly. The xxhash64 default mode keeps its
    invariant tests (disjoint, exhaustive, stable) in tests/."""
    return (
        ops.train_val_test_split(_docs(spark, sf_dir), hash_fn="portable")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .orderBy("split")
    )


#: the portable split bucket (char-Horner of the id text, seed 42,
#: Knuth multiplicative scramble, mod 1e6) — shared by c9c/c9f/c9g
_PORTABLE_BUCKET_CTE = """
WITH b AS (
  SELECT doc_id, lang,
         (list_reduce(list_prepend(42::BIGINT,
           list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
             i -> ascii(CAST(doc_id AS VARCHAR)[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) * 2654435761) % 2147483647 % 1000000 AS bk
  FROM documents
)
"""

_SHARD_ORACLE = (
    _PORTABLE_BUCKET_CTE
    + """SELECT doc_id, bk % 16 AS shard,
       row_number() OVER (PARTITION BY bk % 16 ORDER BY bk, doc_id) AS shard_pos
FROM b ORDER BY doc_id"""
)


@register("c9f_shard_assign", oracle=_SHARD_ORACLE, tags=("tierc", "sampling"))
def shard_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle, sharded: hash-bucket mod 16
    picks the shard, within-shard rank gives the read order — the only
    shuffle is the 16-way window partition (no global sort). Portable
    bucket → the whole assignment replays in DuckDB."""
    return (
        ops.shard_assign(_docs(spark, sf_dir), num_shards=16, hash_fn="portable")
        .select("doc_id", "shard", "shard_pos")
        .orderBy("doc_id")
    )


_STRAT_ORACLE = (
    _PORTABLE_BUCKET_CTE
    + """SELECT doc_id, lang FROM b
WHERE bk < CASE lang WHEN 'en' THEN 250000 WHEN 'zh' THEN 1000000
                     WHEN 'de' THEN 500000 ELSE 100000 END
ORDER BY doc_id"""
)


#: portable bucket over (doc_id, source, n_chars) — c9h/c9i
_PORTABLE_SRC_BUCKET_CTE = """
WITH b AS (
  SELECT doc_id, source, n_chars,
         (list_reduce(list_prepend(42::BIGINT,
           list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
             i -> ascii(CAST(doc_id AS VARCHAR)[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) * 2654435761) % 2147483647 % 1000000 AS bk
  FROM documents
)
"""

_CAP_ORACLE = (
    _PORTABLE_SRC_BUCKET_CTE
    + """, r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY bk, doc_id) AS rn
  FROM b
)
SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id"""
)


@register("c9h_cap_per_source", oracle=_CAP_ORACLE, tags=("tierc", "sampling"))
def cap_per_source_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source head cap (at most 10 docs per source, hash-priority
    selection) — the over-represented-host chop of a crawl pipeline,
    stable across runs; portable bucket → DuckDB replays the exact
    surviving set."""
    return (
        ops.cap_per_stratum(_docs(spark, sf_dir), 10, "source", hash_fn="portable")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_BUDGET_ORACLE = (
    _PORTABLE_SRC_BUCKET_CTE
    + """, r AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (PARTITION BY source ORDER BY bk, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM b
)
SELECT doc_id, source, n_chars FROM r
WHERE cum - n_chars < CASE source WHEN 'src0' THEN 3000
                                  WHEN 'src1' THEN 6000 ELSE 1000 END
ORDER BY doc_id"""
)


@register("c9i_token_budget_mix", oracle=_BUDGET_ORACLE, tags=("tierc", "sampling"))
def token_budget_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-recipe mixing: fill each source's char budget with the
    deterministic hash-ordered prefix (src0 3k, src1 6k, others 1k);
    the row that crosses the budget line is the last one kept. Window
    cumsum per source — one shuffle; DuckDB replays bit-exactly."""
    return (
        ops.token_budget_mix(
            _docs(spark, sf_dir),
            {"src0": 3000, "src1": 6000},
            default_budget=1000,
            hash_fn="portable",
        )
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@register("c9g_stratified_sample", oracle=_STRAT_ORACLE, tags=("tierc", "sampling"))
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced mixture sampling (dataset-mixing weights as
    per-stratum keep fractions: en 25%, zh 100%, de 50%, others 10%) on
    the deterministic portable bucket — stable under reprocessing, and
    hash-green against the DuckDB replay. Narrow filter, zero shuffle."""
    return (
        ops.stratified_hash_sample(
            _docs(spark, sf_dir),
            {"en": 0.25, "zh": 1.0, "de": 0.5},
            "lang",
            default_fraction=0.1,
            hash_fn="portable",
        )
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# C10 — benchmark decontamination + transitive-closure cluster dedup
# ---------------------------------------------------------------------------

_DECON_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 8
         THEN list_transform(range(1, len(w) - 6),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         ELSE [] END)) AS g
  FROM tok
), bench AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
), bad AS (
  SELECT DISTINCT doc_id FROM grams JOIN bench USING (g)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY doc_id
"""


@register("c10a_decontaminate", oracle=_DECON_ORACLE, tags=("tierc", "dedup"))
def decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 50th document plays the eval
    benchmark; training docs sharing any exact 8-gram with it are
    dropped. Detection semi-joins hashed (id, gram) pairs against the
    broadcast benchmark gram set; the final anti-join keys on doc_id."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    return (
        ops.decontaminate(docs, bench, ngram_words=8)
        .select("doc_id")
        .orderBy("doc_id")
    )


_CLUSTER_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= 0.2
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n, LEAST(n, MIN(m)) AS root FROM reach GROUP BY n
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT n FROM comp WHERE root < n)
ORDER BY doc_id
"""


@register("c10b_cluster_dedup", oracle=_CLUSTER_ORACLE, tags=("tierc", "dedup", "graph"))
def cluster_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure dedup: exact n-gram Jaccard pairs (>= 0.2)
    feed pointer-jumping connected components; one representative (the
    minimum doc_id) survives per cluster. The DuckDB oracle replays the
    closure with a recursive CTE."""
    docs = _docs(spark, sf_dir)
    pairs = _ngram_pairs(spark, sf_dir)
    return ops.cluster_dedup(docs, pairs).select("doc_id").orderBy("doc_id")


# PageRank-style domain authority with a HARD oracle — the second
# iterative algorithm on the decimal-stable recipe (see c3i): rank
# contributions sum in DECIMAL(28,15), every iteration rounds to 9
# decimals, so DuckDB replays the power iteration bit-exactly.
_DOMAIN_RANK_ORACLE = """
WITH seeded AS (
  SELECT source,
         text || ' https://d' || CAST(doc_id % 5 AS VARCHAR) || '.example/x'
              || ' https://d' || CAST((doc_id * 3 + 1) % 7 AS VARCHAR) || '.example/y' AS t
  FROM documents
),
edges AS (
  SELECT DISTINCT lower(source) AS src, lower(d) AS dst
  FROM (SELECT source, unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS d
        FROM seeded)
),
nodes AS (
  SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
),
nn AS (SELECT COUNT(*) AS n FROM nodes),
od AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
r0 AS (SELECT node, ROUND(CAST(1.0 AS DOUBLE) / (SELECT n FROM nn), 9) AS r FROM nodes),
s1 AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(r0.r / CAST(od.od AS DOUBLE) AS DECIMAL(28,15))) AS DOUBLE) AS s
  FROM edges e JOIN r0 ON r0.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst
),
r1 AS (
  SELECT n.node,
         ROUND(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE) * COALESCE(s1.s, 0.0), 9) AS r
  FROM nodes n LEFT JOIN s1 USING (node)
),
s2 AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(r1.r / CAST(od.od AS DOUBLE) AS DECIMAL(28,15))) AS DOUBLE) AS s
  FROM edges e JOIN r1 ON r1.node = e.src JOIN od ON od.src = e.src GROUP BY e.dst
),
r2 AS (
  SELECT n.node,
         ROUND(CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
               + CAST(0.85 AS DOUBLE) * COALESCE(s2.s, 0.0), 9) AS r
  FROM nodes n LEFT JOIN s2 USING (node)
)
SELECT node, r FROM r2 ORDER BY node
"""


@register("c10c_domain_rank", oracle=_DOMAIN_RANK_ORACLE, tags=("tierc", "graph", "jit"))
def domain_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank-ish domain authority over the source→linked-domain
    graph (2 damped power iterations) — crawl-quality weighting with a
    hash-stable decimal iteration (see c3i for the recipe). Links are
    deterministically seeded like c4k (the fixture corpus carries no
    URLs)."""
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" https://d"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example/x https://d"),
            ((F.col("doc_id") * 3 + 1) % 7).cast("string"),
            F.lit(".example/y"),
        ).alias("t"),
    )
    return ops.domain_rank_portable(seeded, iterations=2, text_col="t")


# Iterative Lloyd's k-means with a HARD oracle: order-independent
# DECIMAL(25,12) centroid sums + ROUND(...,6) make the float iteration
# replay bit-exactly; the assignment argmin ties to the lowest centroid
# id (row_number over (d, cid) — same rule as Spark's struct-min).
_KMEANS_ORACLE = """
WITH base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vid) AS cid, v AS c
  FROM (SELECT vid, v FROM base ORDER BY vid LIMIT 4)
),
d1 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, c0 c
),
a1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM d1) WHERE rn = 1
),
m1 AS (
  SELECT a1.cid, t.i AS dim,
         ROUND(CAST(SUM(CAST(b.v[t.i] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a1 JOIN base b USING (vid), (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY a1.cid, t.i
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
d2 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, c1 c
),
a2 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM d2) WHERE rn = 1
)
SELECT vid, cid FROM a2 ORDER BY vid
"""


@register("c3i_kmeans_portable", oracle=_KMEANS_ORACLE, tags=("tierc", "similarity", "jit"))
def kmeans_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=4, 2 iterations) with a hard
    DuckDB oracle — iterative float ML made hash-stable by exact
    decimal centroid accumulation (VERDICT-style portable-twin recipe
    applied to an ITERATIVE algorithm)."""
    return ops.kmeans_assign_portable(_emb(spark, sf_dir), k=4, iterations=2)


# Product-quantization ANN (r7): per-subspace portable k-means
# codebooks (the c3i decimal recipe with subspace id as one more
# grouping column), corpus encoded to (vid, s, code), ADC scoring via
# an ORDERED fold over the m per-subspace partial distances (list(pd
# ORDER BY s) / array_sort — a bare SUM would be float-order-dependent
# under shuffles), ranks tie-broken by id on the 4dp-rounded distance.
_PQ_CTES = """
WITH base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ss AS (SELECT unnest(range(0, 4)) AS s),
sub AS (
  SELECT vid, s, list_slice(v, s*16 + 1, s*16 + 16) AS sv FROM base, ss
),
c0 AS (
  SELECT s, cid, sv AS c FROM (
    SELECT s, sv, row_number() OVER (PARTITION BY s ORDER BY vid) AS cid FROM sub
  ) WHERE cid <= 4
),
d1 AS (
  SELECT b.vid, b.s, c.cid,
         list_sum(list_transform(list_zip(b.sv, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM sub b JOIN c0 c ON b.s = c.s
),
a1 AS (
  SELECT vid, s, cid FROM (
    SELECT vid, s, cid, row_number() OVER (PARTITION BY vid, s ORDER BY d, cid) AS rn
    FROM d1) WHERE rn = 1
),
m1 AS (
  SELECT a1.s, a1.cid, t.i AS dim,
         ROUND(CAST(SUM(CAST(b.sv[t.i] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS mv
  FROM a1 JOIN sub b USING (vid, s), (SELECT unnest(range(1, 17)) AS i) t
  GROUP BY a1.s, a1.cid, t.i
),
c1 AS (SELECT s, cid, list(mv ORDER BY dim) AS c FROM m1 GROUP BY s, cid),
d2 AS (
  SELECT b.vid, b.s, c.cid,
         list_sum(list_transform(list_zip(b.sv, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM sub b JOIN c1 c ON b.s = c.s
),
a2 AS (
  SELECT vid, s, cid FROM (
    SELECT vid, s, cid, row_number() OVER (PARTITION BY vid, s ORDER BY d, cid) AS rn
    FROM d2) WHERE rn = 1
),
dtab AS (
  SELECT q.vid AS qid, q.s, c.cid,
         list_sum(list_transform(list_zip(q.sv, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS pd
  FROM sub q JOIN c1 c ON q.s = c.s
  WHERE q.vid <= 5
),
ad AS (
  SELECT d.qid, e.vid,
         ROUND(list_sum(list(d.pd ORDER BY d.s)), 4) AS adist
  FROM a2 e JOIN dtab d ON e.s = d.s AND e.cid = d.cid
  GROUP BY d.qid, e.vid
),
ranked AS (
  SELECT qid, vid AS nid, adist,
         row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
  FROM ad
)
"""

_PQ_ANN_ORACLE = (
    _PQ_CTES
    + "SELECT qid, nid, rank, adist FROM ranked WHERE rank <= 10 ORDER BY qid, rank"
)


@register("c3j_pq_ann", oracle=_PQ_ANN_ORACLE, tags=("tierc", "similarity", "jit"))
def pq_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-10 (m=4 subspaces x 4 codes, 2
    Lloyd iterations) — the 100 TB ANN memory path (vectors compress to
    m code ids; scoring reads an m-entry distance table) with every
    float step hash-stable against the DuckDB replay."""
    return _pq_ann_result(spark, sf_dir, ivf=False)


# IVF-PQ ANN (r8): the 100× answer to flat PQ's linear ADC scan — a
# coarse portable-Lloyd quantizer (the c3i chain on FULL vectors, ka*)
# buckets the corpus into inverted lists; queries probe their n_probe=2
# nearest lists (same exact (d, cid) tie rule) and the c3j ADC chain
# scores ONLY the gated candidates. The PQ middle (ss..dtab) is spliced
# from _PQ_CTES verbatim so both PQ variants provably share codebooks.
_IVFPQ_COARSE = """WITH base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
kc0 AS (
  SELECT row_number() OVER (ORDER BY vid) AS cid, v AS c
  FROM (SELECT vid, v FROM base ORDER BY vid LIMIT 4)
),
kd1 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, kc0 c
),
ka1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM kd1) WHERE rn = 1
),
km1 AS (
  SELECT a.cid, t.i AS dim,
         ROUND(CAST(SUM(CAST(b.v[t.i] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM ka1 a JOIN base b USING (vid), (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY a.cid, t.i
),
kc1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM km1 GROUP BY cid),
kd2 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, kc1 c
),
ka2 AS (
  SELECT vid, cid AS list_id FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM kd2) WHERE rn = 1
),
probe AS (
  SELECT vid AS qid, cid AS list_id FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM kd2 WHERE vid <= 5) WHERE rn <= 2
),
ss AS"""

_IVFPQ_ORACLE = (
    _IVFPQ_COARSE
    + _PQ_CTES.split("ss AS", 1)[1].rsplit(",\nad AS", 1)[0]
    + """,
ad AS (
  SELECT d.qid, e.vid,
         ROUND(list_sum(list(d.pd ORDER BY d.s)), 4) AS adist
  FROM a2 e
  JOIN ka2 ca ON ca.vid = e.vid
  JOIN probe p ON p.list_id = ca.list_id
  JOIN dtab d ON e.s = d.s AND e.cid = d.cid AND d.qid = p.qid
  GROUP BY d.qid, e.vid
),
ranked AS (
  SELECT qid, vid AS nid, adist,
         row_number() OVER (PARTITION BY qid ORDER BY adist, vid) AS rank
  FROM ad
)
SELECT qid, nid, rank, adist FROM ranked WHERE rank <= 10 ORDER BY qid, rank"""
)


@register("c3l_ivfpq_ann", oracle=_IVFPQ_ORACLE, tags=("tierc", "similarity", "jit"))
def ivfpq_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-10 (4 inverted lists x 2 probes over the c3j PQ
    codebooks) — coarse-quantizer gating drops the ADC scan from O(n)
    per query batch to the probed lists only, with every float step
    hash-stable against the DuckDB replay (the r7 VERDICT's 100×-scale
    fix for flat PQ)."""
    return _pq_ann_result(spark, sf_dir, ivf=True)


# PQ recall@10 vs the exact squared-L2 top-10 (r7): both engines
# re-derive the PQ result AND the exact baseline (self-match included
# on both sides), so the per-query recall scalar hash-compares exactly
# — the quality signal for the compression, like c3g is for RP-LSH.
_PQ_RECALL_ORACLE = (
    _PQ_CTES.rstrip()
    + """, exactp AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         list_sum(list_transform(
            list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM embeddings a JOIN embeddings b ON TRUE
  WHERE a.vec_id <= 5
), exactr AS (
  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY d, nid) AS rn FROM exactp
), ann AS (SELECT qid, nid FROM ranked WHERE rank <= 10),
ex AS (SELECT qid, nid FROM exactr WHERE rn <= 10)
SELECT e.qid, ROUND(count(a.nid) / 10.0, 4) AS recall
FROM ex e LEFT JOIN ann a ON a.qid = e.qid AND a.nid = e.nid
GROUP BY e.qid ORDER BY e.qid"""
)


def _recall_vs_exact(emb: DataFrame, q: DataFrame, ann: DataFrame) -> DataFrame:
    """Per-query recall@10 of an ANN result against the exact
    squared-L2 top-10 (self-match included on both sides) — shared by
    c3k (flat PQ) and c3m (IVF-PQ)."""
    from pyspark.sql import Window as W

    base = emb.select(
        F.col("vec_id").alias("nid"), F.col("embedding").cast("array<double>").alias("nv")
    )
    qb = q.select(
        F.col("vec_id").alias("qid"), F.col("embedding").cast("array<double>").alias("qv")
    )
    d = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w = W.partitionBy("qid").orderBy("d", "nid")
    exact = (
        F.broadcast(qb)
        .join(base)
        .select("qid", "nid", d.alias("d"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "nid")
        # r13 opt: 50-row frame referenced twice (semi-join + spine)
        .persist()
    )
    matched = exact.join(ann, ["qid", "nid"], "left_semi").groupBy("qid").agg(
        F.count("*").alias("__m")
    )
    return (
        exact.select("qid")
        .distinct()
        .join(matched, "qid", "left")
        .select(
            "qid",
            F.round(F.coalesce(F.col("__m"), F.lit(0)) / F.lit(10.0), 4).alias("recall"),
        )
        .orderBy("qid")
    )


@register("c3k_pq_recall", oracle=_PQ_RECALL_ORACLE, tags=("tierc", "similarity", "jit"))
def pq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ ADC against the exact squared-L2 top-10 — the
    compression-quality scalar, hash-compared per query (the c3g
    pattern applied to product quantization)."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") <= 5)
    ann = _pq_ann_result(spark, sf_dir, ivf=False).select("qid", "nid")
    return _recall_vs_exact(emb, q, ann)


# IVF-PQ recall (r8): the same exact-vs-ANN tail spliced onto the c3l
# chain — quantifies what the coarse gate costs in recall on the SAME
# codebooks (c3k measures compression loss alone; c3m = compression +
# gating loss).
_IVFPQ_RECALL_ORACLE = (
    _IVFPQ_ORACLE.rsplit("\nSELECT qid, nid, rank, adist FROM ranked", 1)[0]
    + _PQ_RECALL_ORACLE[len(_PQ_CTES.rstrip()):]
)


@register("c3m_ivfpq_recall", oracle=_IVFPQ_RECALL_ORACLE, tags=("tierc", "similarity", "jit"))
def ivfpq_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF-PQ (2 of 4 lists probed) vs the exact
    squared-L2 top-10 — the price of the coarse gate on the same PQ
    codebooks, hash-compared per query against the DuckDB replay."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") <= 5)
    ann = _pq_ann_result(spark, sf_dir, ivf=True).select("qid", "nid")
    return _recall_vs_exact(emb, q, ann)


# SemDeDup (r7): the k-means CTE chain at k=16, then exact cosine over
# cluster-co-member pairs — clustering, tie rule and the verify all
# replay bit-exactly in DuckDB (the c3i recipe feeding the c2i verify).
_SEMDEDUP_ORACLE = (
    _KMEANS_ORACLE.replace("LIMIT 4", "LIMIT 16")
    .rsplit("SELECT vid, cid FROM a2 ORDER BY vid", 1)[0]
    .rstrip()
    .rstrip(")")
    + """),
scored AS (
  SELECT a.vid AS id_a, b.vid AS id_b,
         ROUND(list_cosine_similarity(ea.v, eb.v), 4) AS cs
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vid < b.vid
  JOIN base ea ON ea.vid = a.vid
  JOIN base eb ON eb.vid = b.vid
)
SELECT id_a, id_b, cs + 0.0 AS cos FROM scored WHERE cs >= 0.3 ORDER BY id_a, id_b
"""
)


@register("c2k_semantic_dedup", oracle=_SEMDEDUP_ORACLE, tags=("tierc", "dedup", "jit"))
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs (arXiv:2303.09540):
    portable k-means clusters (k=16, the hash-stable c3i recipe) as the
    candidate generator, exact cosine >= 0.3 verified within clusters
    only — the third candidate-generation family next to MinHash bands
    (c2g) and RP-LSH buckets (c2i), hash-compared against DuckDB."""
    return ops.semantic_dedup_pairs(
        _emb(spark, sf_dir), k=16, iterations=2, threshold=0.3
    ).orderBy("id_a", "id_b")


_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
  FROM embeddings
)
SELECT e.vec_id,
       ROUND(CASE WHEN s.amax = 0 THEN 0.0 ELSE 127.0 / s.amax END, 4) AS scale,
       CAST(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]),
            x -> round(x * CASE WHEN s.amax = 0 THEN 0.0 ELSE 127.0 / s.amax END))) AS BIGINT) AS qsum
FROM embeddings e JOIN s USING (vec_id)
ORDER BY e.vec_id
"""


@register("c3e_vector_quantize", oracle=_QUANT_ORACLE, tags=("tierc", "similarity"))
def quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization summary per vector (scale + quantized
    checksum) — storage-shrink pass of an embedding corpus; fully narrow."""
    q = ops.quantize_vectors(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        F.round("scale", 4).alias("scale"),
        F.aggregate("qvec", F.lit(0).cast("long"), lambda s, x: s + x).alias("qsum"),
    ).orderBy("vec_id")


@register(
    "c8b_salted_join",
    oracle=(
        "SELECT user_id AS k, event_id, c_mktsegment FROM events "
        "JOIN customer ON c_custkey = user_id AND c_custkey <= 200 "
        "ORDER BY k, event_id"
    ),
    tags=("tierc", "skew", "join"),
)
def salted_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (hot keys spread across 8 salt buckets) —
    must equal the plain join, which is exactly what the oracle checks."""
    register_views(spark, sf_dir)
    ev = spark.table("events").select(F.col("user_id").alias("k"), "event_id")
    dim = (
        spark.table("customer")
        .select(F.col("c_custkey").alias("k"), "c_mktsegment")
        .filter(F.col("k") <= 200)
    )
    out = ops.salted_join(ev, dim, ["k"], "inner", num_salts=8, salt_on="event_id")
    return out.select("k", "event_id", "c_mktsegment").orderBy("k", "event_id")


_PACK_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS token_offset
  FROM tok
)
SELECT doc_id, n_tokens, token_offset,
       CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS first_seq,
       CAST(CASE WHEN n_tokens = 0 THEN FLOOR(token_offset / 512.0)
                 ELSE FLOOR((token_offset + n_tokens - 1) / 512.0) END AS BIGINT) AS last_seq
FROM c ORDER BY doc_id
"""


@register("c9d_pack_sequences", oracle=_PACK_ORACLE, tags=("tierc", "text"))
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style fixed-block sequence packing over the concatenated
    token stream (512-token blocks): per-doc global token offset and
    first/last training-sequence ids, via the two-phase distributed
    cumulative sum."""
    return ops.pack_sequences(_docs(spark, sf_dir), block_tokens=512).orderBy("doc_id")


@register(
    "b12a_pandas_udaf",
    oracle=(
        "SELECT c_mktsegment, "
        "ROUND(SUM(c_acctbal * c_custkey) / SUM(c_custkey), 4) AS wmean "
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"
    ),
    tags=("udf",),
)
def pandas_udaf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (Arrow-batched, JVM<->numpy): the
    weighted mean the oracle states in plain SQL — puts the B12 UDF
    surface under the driver's hash gate."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean(bal: pd.Series, key: pd.Series) -> float:
        return float((bal * key).sum() / key.sum())

    register_views(spark, sf_dir)
    return (
        spark.table("customer")
        .groupBy("c_mktsegment")
        .agg(F.round(wmean("c_acctbal", "c_custkey"), 4).alias("wmean"))
        .orderBy("c_mktsegment")
    )


@register(
    "c4h_corpus_stats",
    oracle=(
        "WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n FROM documents) "
        "SELECT CAST(count(*) AS BIGINT) AS docs, CAST(SUM(n) AS BIGINT) AS total_tokens, "
        "ROUND(AVG(n), 4) AS mean_tokens, CAST(MIN(n) AS BIGINT) AS min_tokens, "
        "CAST(MAX(n) AS BIGINT) AS max_tokens, "
        "ROUND(quantile_cont(n, 0.5), 4) AS med_tokens FROM t"
    ),
    tags=("tierc", "text", "agg", "jit"),
)
def corpus_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token statistics — the one-glance health check of a
    training corpus; single map + one global aggregate."""
    from dust_spark.operators import token_count

    out = token_count(_docs(spark, sf_dir))
    return out.agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("mean_tokens"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.round(F.expr("percentile(n_tokens, 0.5)"), 4).alias("med_tokens"),
    )


@register(
    "c4i_repetition_score",
    oracle=(
        "WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w "
        "FROM documents WHERE length(trim(text)) > 0), "
        "g AS (SELECT doc_id, CASE WHEN len(w) >= 3 THEN "
        "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
        "ELSE [] END AS grams FROM tok) "
        "SELECT doc_id, CASE WHEN len(grams) = 0 THEN 0.0 "
        "ELSE ROUND(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 4) END AS dup_ngram_frac "
        "FROM g "
        "UNION ALL SELECT doc_id, 0.0 FROM documents WHERE length(trim(text)) = 0 "
        "ORDER BY doc_id"
    ),
    tags=("tierc", "text"),
)
def repetition_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        ops.repetition_score(_docs(spark, sf_dir))
        .select("doc_id", "dup_ngram_frac")
        .orderBy("doc_id")
    )


_LINE_DEDUP_ORACLE = """
WITH lines AS (
  SELECT doc_id, g.i AS line_no, split_part(text, chr(10), g.i) AS line
  FROM documents,
       LATERAL (SELECT unnest(range(1, len(string_split(text, chr(10))) + 1)) AS i) g
), ranked AS (
  SELECT doc_id, line_no, line,
         CASE WHEN length(trim(line)) < 1 THEN 1
              ELSE row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) END AS rn
  FROM lines
)
SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS clean_text
FROM ranked WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "c1e_boilerplate_lines",
    oracle=(
        "WITH tok AS (SELECT source, doc_id, "
        "regexp_split_to_array(trim(lower(text)), '\\s+') AS w "
        "FROM documents WHERE length(trim(text)) > 0), "
        "g AS (SELECT source, doc_id, array_to_string(w[i.i : i.i + 4], ' ') AS gram "
        "FROM tok, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) i "
        "WHERE len(w) >= 5) "
        "SELECT source, gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs "
        "FROM g GROUP BY source, gram HAVING count(DISTINCT doc_id) >= 2 "
        "ORDER BY source, gram"
    ),
    tags=("tierc", "dedup", "jit"),
)
def boilerplate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate shingles (r8 — the CCNet headers/footers
    pass): word 5-grams shared by >= 2 distinct documents of one
    source; explode + two-key hash-agg, no joins."""
    return ops.boilerplate_lines(_docs(spark, sf_dir), min_docs=2, ngram_words=5)


@register("c1c_line_dedup", oracle=_LINE_DEDUP_ORACLE, tags=("tierc", "dedup"))
def line_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-line removal (CCNet-style boilerplate
    filter); reassembled docs hash-checked against the DuckDB replay."""
    return ops.dedup_lines(_docs(spark, sf_dir)).orderBy("doc_id")


@register(
    "c4p_bpe_pair_counts",
    oracle=(
        "WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w "
        "FROM documents WHERE length(trim(text)) > 0), "
        "words AS (SELECT w, count(*) AS wc FROM tok GROUP BY w), "
        "pairs AS (SELECT substr(w, g.i, 2) AS pair, wc FROM words, "
        "LATERAL (SELECT unnest(range(1, length(w))) AS i) g WHERE length(w) >= 2) "
        "SELECT pair, CAST(SUM(wc) AS BIGINT) AS n FROM pairs GROUP BY pair "
        "ORDER BY n DESC, pair LIMIT 50"
    ),
    tags=("tierc", "text", "agg", "jit"),
)
def bpe_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration's merge candidates: top-50 adjacent
    character pairs weighted by word frequency (r8). The corpus
    collapses to its vocabulary before the pair explode — the key
    100 TB property of BPE training on a cluster."""
    return ops.bpe_pair_counts(_docs(spark, sf_dir), top_n=50)


@register(
    "c4j_top_terms",
    oracle=(
        "WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term "
        "FROM documents WHERE length(trim(text)) > 0) "
        "SELECT term, count(*) AS n FROM tok GROUP BY term "
        "ORDER BY n DESC, term LIMIT 50"
    ),
    tags=("tierc", "text", "agg", "jit"),
)
def top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (stopword discovery): exact top-50 terms by
    frequency — explode + hash-agg with map-side combine, capped by a
    TakeOrderedAndProject (never a full sort)."""
    from dust_spark.functions import tokens

    docs = _docs(spark, sf_dir)
    return (
        docs.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "term")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# round 4 additions: portable SimHash, PII redaction, domain stats,
# hypertable rollups
# ---------------------------------------------------------------------------

# The Horner token-hash fold shared with the c4f oracle — both replay
# dust_spark.functions.portable_char_hash exactly.
_PORTABLE_SIMHASH_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), th AS (
  SELECT doc_id, list_transform(w, t ->
           list_reduce(list_prepend(0::BIGINT,
             list_transform(range(1, length(t)+1), i -> ascii(t[i])::BIGINT)),
             (a, c) -> (a*31 + c) % 2147483647)) AS h
  FROM tok
)
SELECT doc_id AS id,
       CASE WHEN len(h) = 0 THEN 0 ELSE
         CAST(list_sum(list_transform(range(0, 31), j ->
           CASE WHEN list_sum(list_transform(h,
                  x -> CASE WHEN (x >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT)
       END AS simhash
FROM th ORDER BY id
"""


@register("c2f_simhash_portable", oracle=_PORTABLE_SIMHASH_ORACLE, tags=("tierc", "dedup"))
def simhash_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-bit SimHash on the portable polynomial hash family — the
    hard-oracled twin of c2b (whose xxhash64 base is rows-only): DuckDB
    replays token hashing and the per-bit majority vote bit-exactly.
    The operator output is already id-sorted (its internal sort must
    stay BELOW the Arrow kernel — see simhash_table_portable); adding
    an orderBy here would re-trigger the extraction failure."""
    return ops.simhash_table_portable(_docs(spark, sf_dir))


# Full MinHash+LSH pipeline on the portable hash family: DuckDB replays
# shingling, the affine-Horner seeded hashes (h_i = (i*31^len + h0) mod
# M), the 64-component signature minima, the 16 Horner band keys, the
# band-bucket candidate join AND the exact-Jaccard verification — so the
# c2a-style band-pair construction gets a hard hash row (c2a itself stays
# rows-only: xxhash64 isn't expressible outside the JVM).
_PORTABLE_MINHASH_CTES = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [] END AS shingles
  FROM tok
), hp AS (
  SELECT doc_id,
    list_transform(shingles, s ->
      list_reduce(list_prepend(0::BIGINT,
        list_transform(range(1, length(s)+1), i -> ascii(s[i])::BIGINT)),
        (a, c) -> (a*31 + c) % 2147483647)) AS h0,
    list_transform(shingles, s ->
      list_reduce(list_prepend(1::BIGINT,
        list_transform(range(1, length(s)+1), i -> 0::BIGINT)),
        (a, c) -> (a*31) % 2147483647)) AS p
  FROM sh
), sig AS (
  SELECT doc_id,
    CASE WHEN len(h0) = 0
         THEN list_transform(range(0, 64), i -> 2147483647::BIGINT + doc_id)
         ELSE list_transform(range(0, 64), i ->
                list_min(list_transform(range(1, len(h0)+1),
                  j -> (i*p[j] + h0[j]) % 2147483647)))
    END AS sig
  FROM hp
), bk AS (
  SELECT doc_id, b AS band,
    list_reduce(list_prepend((b+1)::BIGINT,
      list_transform(range(1, 5), r -> sig[b*4 + r])),
      (a, v) -> (a*31 + v) % 2147483647) AS bh
  FROM sig, (SELECT unnest(range(0, 16)) AS b)
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
)
"""

_PORTABLE_MINHASH_ORACLE = (
    _PORTABLE_MINHASH_CTES
    + """, ver AS (
  SELECT id_a, id_b,
    ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
          (len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles))), 4) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = id_a
  JOIN sh sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, jaccard FROM ver WHERE jaccard >= 0.2 ORDER BY id_a, id_b"""
)

# estimate-mode twin of c2e: verification via matching signature
# components (the fixed-payload 100 TB mode), portable → hard oracle
_PORTABLE_MINHASH_EST_ORACLE = (
    _PORTABLE_MINHASH_CTES
    + """, est AS (
  SELECT id_a, id_b,
    ROUND(list_sum(list_transform(list_zip(sa.sig, sb.sig),
        x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END))::DOUBLE / 64, 4) AS est_jaccard
  FROM cand
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b
)
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.2 ORDER BY id_a, id_b"""
)


# Incremental dedup against an existing corpus (even doc_ids = corpus,
# odd = incoming batch): exact sha-match plus the SAME portable MinHash
# band pipeline, but candidates are new x corpus ONLY. DuckDB replays
# every stage, so the batch-vs-corpus form gets its own hard oracle.
_DEDUP_AGAINST_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [] END AS shingles
  FROM tok
), hp AS (
  SELECT doc_id,
    list_transform(shingles, s ->
      list_reduce(list_prepend(0::BIGINT,
        list_transform(range(1, length(s)+1), i -> ascii(s[i])::BIGINT)),
        (a, c) -> (a*31 + c) % 2147483647)) AS h0,
    list_transform(shingles, s ->
      list_reduce(list_prepend(1::BIGINT,
        list_transform(range(1, length(s)+1), i -> 0::BIGINT)),
        (a, c) -> (a*31) % 2147483647)) AS p
  FROM sh
), sig AS (
  SELECT doc_id,
    CASE WHEN len(h0) = 0
         THEN list_transform(range(0, 64), i -> 2147483647::BIGINT + doc_id)
         ELSE list_transform(range(0, 64), i ->
                list_min(list_transform(range(1, len(h0)+1),
                  j -> (i*p[j] + h0[j]) % 2147483647)))
    END AS sig
  FROM hp
), bk AS (
  SELECT doc_id, b AS band,
    list_reduce(list_prepend((b+1)::BIGINT,
      list_transform(range(1, 5), r -> sig[b*4 + r])),
      (a, v) -> (a*31 + v) % 2147483647) AS bh
  FROM sig, (SELECT unnest(range(0, 16)) AS b)
), exact AS (
  SELECT DISTINCT n.doc_id
  FROM documents n JOIN documents c ON n.text = c.text
  WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
), cand AS (
  SELECT DISTINCT x.doc_id AS id_n, y.doc_id AS id_c
  FROM bk x JOIN bk y ON x.band = y.band AND x.bh = y.bh
  WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
), near AS (
  SELECT DISTINCT id_n AS doc_id
  FROM cand
  JOIN sh sa ON sa.doc_id = id_n
  JOIN sh sb ON sb.doc_id = id_c
  WHERE ROUND(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE /
              (len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles))), 4) >= 0.2
)
SELECT d.doc_id,
       CAST(d.doc_id IN (SELECT doc_id FROM exact) AS INT) AS exact_dup,
       CAST(d.doc_id IN (SELECT doc_id FROM near) AS INT) AS near_dup
FROM documents d WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id
"""


@register("c2h_dedup_against_corpus", oracle=_DEDUP_AGAINST_ORACLE, tags=("tierc", "dedup", "jit"))
def dedup_against_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest gate: flag odd-doc_id documents (the incoming
    batch) that exactly or nearly duplicate the even-doc_id corpus —
    candidates are new x corpus band matches only. Hard oracle: DuckDB
    replays sha-exact matching and the full portable MinHash band
    pipeline."""
    docs = _docs(spark, sf_dir)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    # both sides share the full-corpus portable signature fixture,
    # parity-filtered — one signature pass serves c2g/c2j/c2h
    sh, sigs = _portable_sigs(spark, sf_dir)
    odd, even = F.col("id") % 2 == 1, F.col("id") % 2 == 0
    return ops.dedup_against_corpus(
        new,
        corpus,
        threshold=0.2,
        mode="flags",
        new_shingle_sigs=(sh.filter(odd), sigs.filter(odd)),
        corpus_shingle_sigs=(sh.filter(even), sigs.filter(even)),
    ).orderBy("doc_id")


@register("c2j_minhash_estimate_portable", oracle=_PORTABLE_MINHASH_EST_ORACLE, tags=("tierc", "dedup", "jit"))
def minhash_estimate_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimate-mode portable MinHash — the hard-oracled twin of c2e:
    Ĵ = matching signature components / k over the portable hash
    family, so the 100 TB verification mode (fixed signature payloads,
    no shingle sets in the join) replays bit-exactly in DuckDB. With
    this, all SIX rows-only sketch queries have portable twins."""
    return (
        ops.minhash_lsh_pairs_portable(
            _docs(spark, sf_dir),
            threshold=0.2,
            verify="estimate",
            shingle_sigs=_portable_sigs(spark, sf_dir),
        ).orderBy("id_a", "id_b")
    )


@register("c2g_minhash_portable_pairs", oracle=_PORTABLE_MINHASH_ORACLE, tags=("tierc", "dedup", "jit"))
def minhash_portable_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs on the portable hash family — the
    hard-oracled twin of c2a/c2e: the whole pipeline (seeded signature,
    band keys, candidate join, exact-Jaccard verify) replays bit-exactly
    in DuckDB. Reference behavior parity: near-dup pair surface of
    hqt/dust's dedup tooling (SURVEY.md §2 Tier C)."""
    return ops.minhash_lsh_pairs_portable(
        _docs(spark, sf_dir),
        threshold=0.2,
        shingle_sigs=_portable_sigs(spark, sf_dir),
    ).orderBy("id_a", "id_b")


# Deterministic PII injection shared by both engines: the synthetic
# corpus has no real PII, so the query plants one email, one IPv4 and
# one phone-shaped digit run per document before redacting.
_PII_ORACLE = """
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com from 10.7.0.'
              || CAST(doc_id % 256 AS VARCHAR)
              || ' tel 555-0107-7788' AS t
  FROM documents
)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
         '\\d[\\d \\-]{6,}\\d', '<NUM>', 'g') AS redacted,
       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
       len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
       len(regexp_extract_all(t, '\\d[\\d \\-]{6,}\\d')) AS n_number
FROM seeded ORDER BY doc_id
"""


@register("c9e_pii_redact", oracle=_PII_ORACLE, tags=("tierc", "text"))
def pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over deterministically seeded text (emails / IPv4 /
    digit runs planted per doc — the fixture corpus carries none).
    Narrow regex map; counts taken pre-redaction."""
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.7.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel 555-0107-7788"),
        ).alias("t"),
    )
    out = ops.redact_pii(seeded, text_col="t")
    return (
        out.select(
            "doc_id",
            "redacted",
            F.col("n_email").cast("long").alias("n_email"),
            F.col("n_ip").cast("long").alias("n_ip"),
            F.col("n_number").cast("long").alias("n_number"),
        ).orderBy("doc_id")
    )


_DOMAINS_ORACLE = """
WITH seeded AS (
  SELECT doc_id,
         text || ' see https://' ||
         (['alpha.example','beta.example','gamma.example'])[(doc_id % 3) + 1]
         || '/p/' || CAST(doc_id AS VARCHAR)
         || CASE WHEN doc_id % 7 = 0 THEN ' and http://Mirror.Example/x' ELSE '' END AS t
  FROM documents
), refs AS (
  SELECT doc_id, lower(unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1))) AS domain
  FROM seeded
)
SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_refs
FROM refs GROUP BY domain
ORDER BY n_refs DESC, domain LIMIT 20
"""


@register("c4k_top_domains", oracle=_DOMAINS_ORACLE, tags=("tierc", "text", "agg"))
def top_domains_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix audit: top URL domains by reference count over
    deterministically seeded links (3 rotating domains + a 1-in-7
    mixed-case mirror, exercising host lowercasing)."""
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://"),
            F.element_at(
                F.array(F.lit("alpha.example"), F.lit("beta.example"), F.lit("gamma.example")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" and http://Mirror.Example/x")).otherwise(
                F.lit("")
            ),
        ).alias("t"),
    )
    return ops.top_domains(seeded, text_col="t", id_col="doc_id", k=20)


_NFC_ORACLE = """
WITH seeded AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0
              THEN substr(text, 1, 40) || 'e' || chr(769) || ' A' || chr(776) || 'o' || chr(768)
              ELSE substr(text, 1, 40) END AS raw
  FROM documents
)
SELECT doc_id,
       nfc_normalize(raw) AS norm_text,
       CAST(raw <> nfc_normalize(raw) AS INT) AS changed
FROM seeded
ORDER BY doc_id
"""

# decomposed combining sequences appended to even doc_ids: e+U+0301,
# A+U+0308, o+U+0300 — NFC composes all three (stable across Unicode
# versions, so CPython's unicodedata and DuckDB's nfc_normalize agree
# byte-for-byte; the fixture text itself is ASCII and passes through)
_NFC_SUFFIX = "e\u0301 A\u0308o\u0300"  # decomposed, via escapes on purpose


@register("c4l_nfc_normalize", oracle=_NFC_ORACLE, tags=("tierc", "text"))
def nfc_normalize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization over the corpus, with deterministic
    decomposed sequences injected on even doc_ids (the fixtures are
    pure ASCII — without seeding, normalization would be untested
    identity). Hard oracle: DuckDB nfc_normalize replays the exact
    output strings."""
    docs = _docs(spark, sf_dir)
    seeded = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.substring("text", 1, 40), F.lit(_NFC_SUFFIX)),
        )
        .otherwise(F.substring("text", 1, 40))
        .alias("raw"),
    )
    out = ops.normalize_unicode(seeded, text_col="raw", out_col="norm_text", form="NFC")
    return out.select(
        "doc_id",
        "norm_text",
        (F.col("raw") != F.col("norm_text")).cast("int").alias("changed"),
    )


_QUALITY_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w
  FROM documents
), m AS (
  SELECT doc_id,
         len(w) AS n_words,
         ROUND(list_sum(list_transform(w, t -> length(t)))::DOUBLE
               / greatest(len(w), 1), 4) AS mean_wlen,
         ROUND(len(list_distinct(w))::DOUBLE / greatest(len(w), 1), 4)
           AS distinct_ratio,
         len(list_filter(w, t -> t IN ('a','the','and','of','to'))) AS n_stop
  FROM tok
), r AS (
  SELECT *,
    COALESCE(array_to_string(list_filter([
      CASE WHEN n_words < 30 THEN 'too_short' END,
      CASE WHEN n_words > 80 THEN 'too_long' END,
      CASE WHEN mean_wlen < 3.5 THEN 'short_words' END,
      CASE WHEN mean_wlen > 5.5 THEN 'long_words' END,
      CASE WHEN distinct_ratio < 0.5 THEN 'low_diversity' END,
      CASE WHEN n_stop < 2 THEN 'few_stopwords' END
    ], x -> x IS NOT NULL), ','), '') AS fail_reasons
  FROM m
)
SELECT doc_id, n_words, mean_wlen, distinct_ratio, n_stop, fail_reasons,
       CAST(fail_reasons = '' AS BIGINT) AS keep
FROM r ORDER BY doc_id
"""


@register("c4m_quality_filter", oracle=_QUALITY_ORACLE, tags=("tierc", "text"))
def quality_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/FineWeb-style quality rules over the corpus: word-count
    and mean-word-length bounds, lexical diversity, stopword presence —
    per-doc metrics + keep flag + ordered fail reasons, all replayed
    exactly by the DuckDB oracle."""
    return ops.quality_filter(_docs(spark, sf_dir)).orderBy("doc_id")


_ROLLUP_ORACLE = """
WITH x AS (
  SELECT CAST(res AS BIGINT) AS res_s,
         CAST(floor(epoch(ts) / res) * res AS BIGINT) AS bucket_s,
         event_type, value
  FROM events, (SELECT unnest([3600, 21600, 86400]) AS res)
)
SELECT res_s, bucket_s, event_type, count(*) AS n, ROUND(SUM(value), 4) AS sum_value
FROM x GROUP BY res_s, bucket_s, event_type
ORDER BY res_s, bucket_s, event_type
"""


@register("c7b_hypertable_rollup", oracle=_ROLLUP_ORACLE, tags=("tierc", "rollup"))
def hypertable_rollup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution (1h/6h/1d) continuous-aggregate rollup of the
    events hypertable: one scan, constant explode fan-out, one shuffle
    on (resolution, bucket, event_type)."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ops.hypertable_rollup(ev).orderBy("res_s", "bucket_s", "event_type")


# Salted top-k (r7): the global top-k per key equals the two-phase
# salted plan's output by construction — the oracle is the plain
# window top-k, exactly what the skew-resistant plan must reproduce.
_SALTED_TOPK_ORACLE = """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events) WHERE rank <= 5
ORDER BY event_type, rank
"""


@register("c8c_salted_topk", oracle=_SALTED_TOPK_ORACLE, tags=("tierc", "skew"))
def salted_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant per-key top-5 (highest value, event_id tiebreak):
    per-salt row_number prune then a final top-k over ≤ k·salts
    survivors — a hot key's rows never serialize through one reducer's
    sort. Must equal the plain window top-k, which the oracle checks."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    out = ops.salted_topk(
        ev,
        ["event_type"],
        [("value", "desc"), ("event_id", "asc")],
        k=5,
        salt_on="event_id",
        num_salts=16,
    )
    return out.select("event_type", "event_id", "value", "rank").orderBy(
        "event_type", "rank"
    )


# Distributed rank (r9, verdict task #7): percent_rank/cume_dist over a
# LOW-CARDINALITY partition key (o_orderstatus: 3 values) single-tasks a
# third of the table at scale — the b5f/b5h shape. The operator's
# two-phase construction (range partition → per-slice local rank →
# broadcast prefix offsets) must equal the plain window, which the
# oracle checks.
_DIST_RANK_ORACLE = """
SELECT o_orderkey,
       CAST(rank() OVER w AS BIGINT) AS rk,
       ROUND(CAST(percent_rank() OVER w AS DOUBLE), 4) AS pr,
       ROUND(CAST(cume_dist() OVER w AS DOUBLE), 4) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
ORDER BY o_orderkey
"""


@register("c8d_distributed_rank", oracle=_DIST_RANK_ORACLE, tags=("tierc", "skew"))
def distributed_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe rank/percent_rank/cume_dist over a 3-value partition
    key: each task sorts only its ~n/n_slices range slice; global ranks
    come from broadcast per-(slice, key) prefix counts (the
    pack_sequences recipe). No task ever sorts 1/||keys|| of the
    table."""
    from dust_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = ops.distributed_rank(o, "o_orderstatus", "o_totalprice")
    return out.select(
        "o_orderkey",
        F.col("rk"),
        F.round(F.col("pr"), 4).alias("pr"),
        F.round(F.col("cd"), 4).alias("cd"),
    ).orderBy("o_orderkey")


# Distributed rank with a NULL partition (r11, verdict task #4): c8d's
# fixture key is never NULL, so the r10 eqNullSafe offsets-join fix was
# untested by the hard gate. Deriving the key through nullif() sends
# roughly half the table through the NULL partition in BOTH engines —
# a plain inner offsets join would silently drop every one of those
# rows, so the row count itself guards the fix.
_DIST_RANK_NULLS_ORACLE = """
SELECT o_orderkey,
       CAST(rank() OVER w AS BIGINT) AS rk,
       ROUND(CAST(percent_rank() OVER w AS DOUBLE), 4) AS pr,
       ROUND(CAST(cume_dist() OVER w AS DOUBLE), 4) AS cd
FROM orders
WINDOW w AS (PARTITION BY nullif(o_orderstatus, 'F') ORDER BY o_totalprice)
ORDER BY o_orderkey
"""


@register(
    "c8f_distributed_rank_nulls",
    oracle=_DIST_RANK_NULLS_ORACLE,
    tags=("tierc", "skew"),
)
def distributed_rank_nulls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c8d over a partition key with a large NULL group
    (nullif(o_orderstatus, 'F')): NULL partitions rank as their own
    group exactly like a plain window — exercises the null-safe
    broadcast offsets join (skew.py eqNullSafe)."""
    from dust_spark.tables import load_table

    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("status_n", F.expr("nullif(o_orderstatus, 'F')"))
    )
    out = ops.distributed_rank(o, "status_n", "o_totalprice")
    return out.select(
        "o_orderkey",
        F.col("rk"),
        F.round(F.col("pr"), 4).alias("pr"),
        F.round(F.col("cd"), 4).alias("cd"),
    ).orderBy("o_orderkey")


# Nearest as-of (r7): both-directions nearest with the operator's
# exact tie rules (backward side: latest time then largest id; forward
# side: earliest then smallest; cross-side tie -> backward). The oracle
# may all-pairs join per user (sf0.01); the Spark side is the
# single-shuffle two-window plan.
_ASOF_NEAREST_ORACLE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS t FROM events WHERE event_type = 'error'
), c AS (
  SELECT event_id AS rid, user_id, epoch_us(ts) AS ct FROM events WHERE event_type = 'click'
), b AS (
  SELECT event_id, rid, ct FROM (
    SELECT e.event_id, c.rid, c.ct,
           row_number() OVER (PARTITION BY e.event_id ORDER BY c.ct DESC, c.rid DESC) AS rn
    FROM e JOIN c ON e.user_id = c.user_id AND c.ct <= e.t) WHERE rn = 1
), f AS (
  SELECT event_id, rid, ct FROM (
    SELECT e.event_id, c.rid, c.ct,
           row_number() OVER (PARTITION BY e.event_id ORDER BY c.ct ASC, c.rid ASC) AS rn
    FROM e JOIN c ON e.user_id = c.user_id AND c.ct >= e.t) WHERE rn = 1
)
SELECT e.event_id, e.user_id,
       CASE WHEN b.rid IS NOT NULL AND (f.rid IS NULL OR (e.t - b.ct) <= (f.ct - e.t))
            THEN b.rid ELSE f.rid END AS click_event_id,
       CASE WHEN b.rid IS NOT NULL AND (f.rid IS NULL OR (e.t - b.ct) <= (f.ct - e.t))
            THEN b.ct - e.t ELSE f.ct - e.t END AS delta
FROM e LEFT JOIN b USING (event_id) LEFT JOIN f USING (event_id)
ORDER BY event_id
"""


@register("c6c_asof_nearest", oracle=_ASOF_NEAREST_ORACLE, tags=("tierc", "asof"))
def asof_nearest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest click event to each error event of the same user, by
    absolute time distance in exact epoch microseconds — kdb-style
    nearest as-of. One shuffle, two window passes; never an all-pairs
    join (the ORACLE all-pairs, the operator must agree)."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.unix_micros("ts").alias("ct"),
    )
    out = ops.asof_nearest(
        err, clk, "t", "ct", "user_id", "user_id", "click_event_id"
    )
    return out.select("event_id", "user_id", "click_event_id", "delta").orderBy(
        "event_id"
    )


# Interval-overlap (range) join (r7): error windows × click windows per
# user. Durations derive from event_id (1–7h / 2–10h) so the oracle —
# a plain theta join DuckDB runs as IEJoin — replays bit-exactly in
# integer epoch microseconds; the Spark side must produce the same
# pairs through the bucketed equi-join (never a nested loop).
_INTERVAL_JOIN_ORACLE = """
WITH l AS (
  SELECT event_id AS l_id, user_id, epoch_us(ts) AS ls,
         epoch_us(ts) + (event_id % 7 + 1) * 3600000000 AS le
  FROM events WHERE event_type = 'error'
), r AS (
  SELECT event_id AS r_id, user_id, epoch_us(ts) AS rs,
         epoch_us(ts) + (event_id % 5 + 1) * 7200000000 AS re
  FROM events WHERE event_type = 'click'
)
SELECT l_id, r_id, (least(le, re) - greatest(ls, rs)) AS overlap_us
FROM l JOIN r USING (user_id)
WHERE ls <= re AND rs <= le
ORDER BY l_id, r_id
"""


@register("c6d_interval_join", oracle=_INTERVAL_JOIN_ORACLE, tags=("tierc", "asof"))
def interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All overlapping (error-window, click-window) pairs per user with
    the exact overlap length in microseconds. The operator explodes
    each interval into 4-hour buckets and equi-joins on (user, bucket)
    — a shuffled hash join Catalyst can AQE-split, not the
    BroadcastNestedLoopJoin a raw range predicate would plan — then
    dedups multi-bucket pairs by the overlap-start bucket with no
    distinct shuffle."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("l_id"),
        "user_id",
        F.unix_micros("ts").alias("ls"),
        (F.unix_micros("ts") + (F.col("event_id") % 7 + 1) * 3600000000).alias("le"),
    )
    clk = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.unix_micros("ts").alias("rs"),
        (F.unix_micros("ts") + (F.col("event_id") % 5 + 1) * 7200000000).alias("re"),
    )
    out = ops.interval_join(
        err, clk, "user_id", "r_user", "ls", "le", "rs", "re",
        bucket_width=4 * 3600 * 1_000_000,
    )
    return out.select(
        "l_id",
        "r_id",
        (F.least("le", "re") - F.greatest("ls", "rs")).alias("overlap_us"),
    ).orderBy("l_id", "r_id")


# Token rarity (r7): the integer-exact perplexity proxy — bitlength
# via length(bin(x)) replaces log2 so the score replays bit-exactly
# (libm log2 differs in the last ulp across engines).
_RARITY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(
    CASE WHEN length(trim(text)) = 0 THEN []
         ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END) AS t
  FROM documents
), ct AS (
  SELECT t, count(*) AS c FROM tok GROUP BY t
), tot AS (
  SELECT length(bin(SUM(c))) AS blt FROM ct
), j AS (
  SELECT tok.doc_id, ct.c FROM tok JOIN ct USING (t)
)
SELECT doc_id, count(*) AS n_tokens,
       ROUND(CAST(SUM(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS rare_frac,
       ROUND(CAST(count(*) * (SELECT blt FROM tot)
                  - SUM(length(bin(c))) AS DOUBLE) / count(*), 4) AS avg_bits
FROM j GROUP BY doc_id ORDER BY doc_id
"""


@register("c4n_token_rarity", oracle=_RARITY_ORACLE, tags=("tierc", "text", "jit"))
def token_rarity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc corpus-frequency rarity profile (hapax ratio + mean
    approximate information content) — the unigram-LM perplexity proxy
    made integer-exact via bitlength(count) instead of log2, so the
    DuckDB oracle replays it bit-for-bit."""
    return ops.token_rarity(_docs(spark, sf_dir)).orderBy("doc_id")


# Gap-fill + LOCF (r7): dense hourly spine from the global bucket
# range × distinct keys, exact-decimal bucket averages, IGNORE NULLS
# running last_value — TimescaleDB's time_bucket_gapfill + locf().
_GAPFILL_ORACLE = """
WITH keyed AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
         value
  FROM events
), observed AS (
  SELECT event_type, bucket_s,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*), 4) AS avg_value
  FROM keyed GROUP BY event_type, bucket_s
), rng AS (
  SELECT min(bucket_s) AS lo, max(bucket_s) AS hi FROM keyed
), spine AS (
  SELECT k.event_type, CAST(g.b AS BIGINT) AS bucket_s
  FROM (SELECT DISTINCT event_type FROM keyed) k,
       (SELECT unnest(generate_series((SELECT lo FROM rng),
                                      (SELECT hi FROM rng), 3600)) AS b) g
)
SELECT s.event_type, s.bucket_s,
       last_value(o.avg_value IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.bucket_s
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value,
       CAST(o.avg_value IS NULL AS BIGINT) AS filled
FROM spine s LEFT JOIN observed o USING (event_type, bucket_s)
ORDER BY event_type, bucket_s
"""


@register("c7c_gap_fill_locf", oracle=_GAPFILL_ORACLE, tags=("tierc", "rollup"))
def gap_fill_locf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly averages per event_type with LOCF carry —
    TimescaleDB's time_bucket_gapfill + locf() over the events
    hypertable; dense spine is span/3600 × |keys| rows (metadata-sized),
    averages are exact-decimal, the carry is an IGNORE NULLS running
    last_value. Leading gaps stay NULL."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ops.gap_fill_locf(ev).select(
        "event_type", "bucket_s", "avg_value", "filled"
    ).orderBy("event_type", "bucket_s")


_SPAN_DUP_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 8
         THEN list_transform(range(1, len(w) - 6),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         ELSE [] END)) AS g
  FROM tok
), gdf AS (
  SELECT g, count(*) AS df_ FROM grams GROUP BY g
), per_doc AS (
  SELECT doc_id,
         ROUND(SUM(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
           AS dup_span_frac
  FROM grams JOIN gdf USING (g) GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(p.dup_span_frac, 0.0) AS dup_span_frac
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id
"""


@register("c1d_span_dup_fraction", oracle=_SPAN_DUP_ORACLE, tags=("tierc", "dedup", "agg"))
def span_dup_fraction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication score: per document, the fraction of its
    distinct 8-grams shared with any other document (the fixed-gram
    approximation of suffix-array substring dedup)."""
    return ops.span_dup_fraction(_docs(spark, sf_dir)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round 9 additions: containment scoring, funnel analytics, EWMA smoothing
# ---------------------------------------------------------------------------

# n-gram containment vs a reference corpus (Broder's asymmetric measure):
# every 10th document plays the reference; every other document scores
# |grams(d) ∩ grams(R)| / |grams(d)|. The engine joins on 8-byte gram
# hashes (raw text never shuffles); the oracle joins on gram strings —
# distinct-count identical absent 64-bit collisions, like c2c/c10a.
_CONTAINMENT_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS g
  FROM tok
), ref AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0
)
SELECT g2.doc_id, count(*) AS n_grams,
       CAST(SUM(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS matched,
       ROUND(CAST(SUM(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS containment
FROM grams g2 LEFT JOIN ref ON g2.g = ref.g
WHERE g2.doc_id % 10 <> 0
GROUP BY g2.doc_id
ORDER BY g2.doc_id
"""


@register("c2l_containment_scores", oracle=_CONTAINMENT_ORACLE, tags=("tierc", "dedup", "jit"))
def containment_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment of each training document against
    a reference corpus — the thresholdable generalization of c10a's
    binary decontamination (score quotation density instead of dropping
    on one shared gram)."""
    docs = _docs(spark, sf_dir)
    out = ops.containment_scores_split(
        docs,
        ref_pred=F.col("doc_id") % 10 == 0,
        doc_pred=F.col("doc_id") % 10 != 0,
        pairs=_gram_pairs(spark, sf_dir),
    )
    return out.select(
        "doc_id", "n_grams", F.col("matched").cast("long").alias("matched"), "containment"
    ).orderBy("doc_id")


# Ordered funnel (view -> click -> purchase): chained strictly-after
# minima per user, then users-reaching-stage counts. SQL-standard
# construction — the oracle is the identical chain.
_FUNNEL_ORACLE = """
WITH base AS (
  SELECT user_id AS u, epoch_us(ts) AS t, event_type AS e FROM events
), s1 AS (
  SELECT u, min(t) AS t1 FROM base WHERE e = 'view' GROUP BY u
), s2 AS (
  SELECT b.u, min(b.t) AS t2 FROM base b JOIN s1 USING (u)
  WHERE b.e = 'click' AND b.t > s1.t1 GROUP BY b.u
), s3 AS (
  SELECT b.u, min(b.t) AS t3 FROM base b JOIN s2 USING (u)
  WHERE b.e = 'purchase' AND b.t > s2.t2 GROUP BY b.u
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage, count(*) AS users FROM s1
  UNION ALL SELECT 2, count(*) FROM s2
  UNION ALL SELECT 3, count(*) FROM s3
) ORDER BY stage
"""


@register("c6f_event_funnel", oracle=_FUNNEL_ORACLE, tags=("tierc", "asof"))
def event_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel completion counts (view -> click ->
    purchase, strictly-after chaining): every stage shuffles on the
    same user key, so the chain re-uses one hash partitioning and never
    moves event payloads."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ops.funnel_counts(ev).orderBy("stage")


# EWMA (alpha = 1/2, 8 observed lags, renormalized) over hourly bucket
# averages. Hash-stable: decimal bucket sums, weights are exact binary
# fractions, and the numerator/denominator fold in a FIXED lag order —
# identical bits in Spark and DuckDB before the final ROUND.
_EWMA_ORACLE = """
WITH keyed AS (
  SELECT event_type AS k,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
         CAST(value AS DECIMAL(25,6)) AS v
  FROM events
), avgs AS (
  SELECT k, bucket_s, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS avg_v
  FROM keyed GROUP BY k, bucket_s
), lagged AS (
  SELECT k, bucket_s, avg_v,
         lag(avg_v, 0) OVER (PARTITION BY k ORDER BY bucket_s) AS l0,
         lag(avg_v, 1) OVER (PARTITION BY k ORDER BY bucket_s) AS l1,
         lag(avg_v, 2) OVER (PARTITION BY k ORDER BY bucket_s) AS l2,
         lag(avg_v, 3) OVER (PARTITION BY k ORDER BY bucket_s) AS l3,
         lag(avg_v, 4) OVER (PARTITION BY k ORDER BY bucket_s) AS l4,
         lag(avg_v, 5) OVER (PARTITION BY k ORDER BY bucket_s) AS l5,
         lag(avg_v, 6) OVER (PARTITION BY k ORDER BY bucket_s) AS l6,
         lag(avg_v, 7) OVER (PARTITION BY k ORDER BY bucket_s) AS l7
  FROM avgs
)
SELECT k, bucket_s, ROUND(avg_v, 4) AS avg_v,
       ROUND((CASE WHEN l0 IS NOT NULL THEN l0 * CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l1 IS NOT NULL THEN l1 * CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l2 IS NOT NULL THEN l2 * CAST(0.125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l3 IS NOT NULL THEN l3 * CAST(0.0625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l4 IS NOT NULL THEN l4 * CAST(0.03125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l5 IS NOT NULL THEN l5 * CAST(0.015625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l6 IS NOT NULL THEN l6 * CAST(0.0078125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l7 IS NOT NULL THEN l7 * CAST(0.00390625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
             / (CASE WHEN l0 IS NOT NULL THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l1 IS NOT NULL THEN CAST(0.25 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l2 IS NOT NULL THEN CAST(0.125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l3 IS NOT NULL THEN CAST(0.0625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l4 IS NOT NULL THEN CAST(0.03125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l5 IS NOT NULL THEN CAST(0.015625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l6 IS NOT NULL THEN CAST(0.0078125 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END + CASE WHEN l7 IS NOT NULL THEN CAST(0.00390625 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END), 4) AS ewma
FROM lagged ORDER BY k, bucket_s
"""


@register("c7d_ewma_smooth", oracle=_EWMA_ORACLE, tags=("tierc", "rollup"))
def ewma_smooth_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-EWMA smoothing of the hourly event-value series — the
    monitoring-style rollup companion to c7b/c7c, built entirely from
    exact binary weights so the float fold replays bit-for-bit in
    DuckDB."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ops.ewma_smooth(ev).orderBy("k", "bucket_s")


# Keep-k-per-duplicate-cluster downsampling (r9): the generalization of
# c10b's keep-one — retain the k=2 smallest doc_ids of every transitive
# near-dup cluster (singletons are their own cluster). Re-uses the c10b
# recursive-closure oracle verbatim, so both queries provably share one
# cluster definition.
_KEEPK_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= 0.2
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n, LEAST(n, MIN(m)) AS root FROM reach GROUP BY n
), lab AS (
  SELECT d.doc_id, COALESCE(c.root, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.n = d.doc_id
)
SELECT doc_id, cluster, rk FROM (
  SELECT doc_id, cluster,
         CAST(row_number() OVER (PARTITION BY cluster ORDER BY doc_id) AS BIGINT) AS rk
  FROM lab
) WHERE rk <= 2
ORDER BY doc_id
"""


@register("c9j_keep_k_per_cluster", oracle=_KEEPK_ORACLE, tags=("tierc", "dedup", "sampling", "jit"))
def keep_k_per_cluster_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware downsampling: connected components over the exact
    Jaccard pair graph (the shared c2c fixture), then keep the 2
    smallest doc_ids per cluster — the 'retain a few exemplars per
    duplicate family' policy between c10b's keep-one and no dedup at
    all. Components are min-id labels from the size-gated hybrid CC."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    pairs = _ngram_pairs(spark, sf_dir)
    comp = ops.connected_components(pairs)
    lab = docs.join(comp, docs.doc_id == comp.node, "left").select(
        docs.doc_id, F.coalesce(comp.component, docs.doc_id).alias("cluster")
    )
    w = W.partitionBy("cluster").orderBy("doc_id")
    return (
        lab.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
        .select("doc_id", "cluster", "rk")
        .orderBy("doc_id")
    )


# End-to-end prep pipeline (r9): clean → quality-filter → exact-dedup →
# decontaminate → chunk as ONE Spark DAG — the composition a real
# pretraining pipeline runs, demonstrating the operators chain without
# materialization boundaries. The oracle stitches the individual stage
# oracles (c9a/c4m/c1b/c10a/c9b) into one CTE chain, so the composite
# is exactly as hash-checked as its parts.
_PIPELINE_ORACLE = """
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           text, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g'),
           'https?://\\S+', '<URL>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\s+', ' ', 'g')) AS clean
  FROM documents
), tokq AS (
  SELECT doc_id,
         CASE WHEN length(trim(clean)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(clean)), '\\s+') END AS w
  FROM cleaned
), m AS (
  SELECT doc_id, len(w) AS n_words,
         ROUND(list_sum(list_transform(w, t -> length(t)))::DOUBLE
               / greatest(len(w), 1), 4) AS mean_wlen,
         ROUND(len(list_distinct(w))::DOUBLE / greatest(len(w), 1), 4) AS distinct_ratio,
         len(list_filter(w, t -> t IN ('a','the','and','of','to'))) AS n_stop
  FROM tokq
), kept AS (
  SELECT c.doc_id, c.clean FROM cleaned c JOIN m USING (doc_id)
  WHERE m.n_words >= 30 AND m.n_words <= 80
    AND m.mean_wlen >= 3.5 AND m.mean_wlen <= 5.5
    AND m.distinct_ratio >= 0.5 AND m.n_stop >= 2
), dedup AS (
  SELECT doc_id, clean FROM (
    SELECT doc_id, clean,
           row_number() OVER (PARTITION BY clean ORDER BY doc_id) AS rn
    FROM kept) WHERE rn = 1
), bw AS (
  SELECT CASE WHEN length(trim(clean)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(clean)), '\\s+') END AS w
  FROM cleaned WHERE doc_id % 50 = 0
), bgrams AS (
  SELECT DISTINCT unnest(
    CASE WHEN len(w) >= 8
         THEN list_transform(range(1, len(w) - 6),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         ELSE [] END) AS g
  FROM bw
), dw AS (
  SELECT doc_id,
         CASE WHEN length(trim(clean)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(clean)), '\\s+') END AS w
  FROM dedup
), dgrams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 8
         THEN list_transform(range(1, len(w) - 6),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         ELSE [] END)) AS g
  FROM dw
), bad AS (
  SELECT DISTINCT doc_id FROM dgrams JOIN bgrams USING (g)
), final AS (
  SELECT doc_id, clean FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM bad)
), tok2 AS (
  SELECT doc_id,
         CASE WHEN length(trim(clean)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(clean), '\\s+')) END AS n_tok
  FROM final
), ch AS (
  SELECT doc_id, n_tok,
         greatest(CAST(ceil((n_tok - 128) / 96.0) AS BIGINT) + 1, 1) AS n_chunks
  FROM tok2
)
SELECT doc_id, n_chunks,
       CAST(list_sum(list_transform(range(0, n_chunks), i -> least(128, n_tok - i * 96))) AS BIGINT)
         AS total_tokens
FROM ch ORDER BY doc_id
"""


@register("c9k_prep_pipeline", oracle=_PIPELINE_ORACLE, tags=("tierc", "text", "jit"))
def prep_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining prep chain as one lazy DAG: clean_text →
    quality_filter (Gopher rules on the CLEANED text) → exact_dedup →
    decontaminate (benchmark = every 50th cleaned doc) →
    chunk_documents, reported as per-doc chunk counts. One shuffle per
    stage that needs one (dedup hash, gram join); cleaning, quality and
    chunking stay narrow."""
    docs = _docs(spark, sf_dir)
    # r13 opt: persist the cleaned text — it fans into THREE consumers
    # (quality filter, the kept-join, the benchmark slice), each of
    # which re-ran the regex-heavy clean pass; the plan is fixture-
    # derived, so repeat runs re-hit the same cache entry.
    cleaned = ops.clean_text(docs).select("doc_id", "clean").persist()
    q = ops.quality_filter(cleaned, text_col="clean")
    kept = cleaned.join(q.filter(F.col("keep") == 1).select("doc_id"), "doc_id")
    deduped = ops.exact_dedup(kept, text_col="clean")
    bench = cleaned.filter(F.col("doc_id") % 50 == 0)
    final = ops.decontaminate(
        deduped, bench, text_col="clean", benchmark_text_col="clean"
    )
    chunks = ops.chunk_documents(final, chunk_tokens=128, stride=96, text_col="clean")
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_chunk_tokens").alias("total_tokens"),
        )
        .orderBy("doc_id")
    )


# OHLC resample (r10): picked values (row_number over the (ts, event_id)
# total order) + exact min/max — no float accumulation anywhere, so the
# candles hash identically across engines with no DECIMAL machinery.
_OHLC_ORACLE = """
WITH base AS (
  SELECT user_id AS k,
         CAST(floor(epoch_us(ts) / 3600000000) * 3600 AS BIGINT) AS bucket_s,
         epoch_us(ts) AS t, value AS v, event_id AS eid
  FROM events
), rr AS (
  SELECT *,
    row_number() OVER (PARTITION BY k, bucket_s ORDER BY t, eid) AS ra,
    row_number() OVER (PARTITION BY k, bucket_s ORDER BY t DESC, eid DESC) AS rd
  FROM base
)
SELECT k, bucket_s,
       MAX(CASE WHEN ra = 1 THEN v END) AS open,
       MAX(v) AS high, MIN(v) AS low,
       MAX(CASE WHEN rd = 1 THEN v END) AS close,
       count(*) AS n
FROM rr GROUP BY k, bucket_s
ORDER BY k, bucket_s
"""


@register("c7e_resample_ohlc", oracle=_OHLC_ORACLE, tags=("tierc", "rollup"))
def resample_ohlc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per user — the classic hypertable/financial
    downsample. Both row_number windows and the groupBy partition on
    the same (key, bucket) pair: one hash exchange for the whole
    resample."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ops.resample_ohlc(ev).orderBy("k", "bucket_s")


# n-gram novelty (r10): first-occurrence attribution over the ascending
# doc_id ingestion order. The engine joins on 8-byte gram hashes; the
# oracle joins on the gram strings — identical result set.
_NOVELTY_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS g
  FROM tok
), first_seen AS (
  SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
)
SELECT gr.doc_id, count(*) AS n_grams,
       CAST(SUM(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel,
       ROUND(CAST(SUM(CASE WHEN fs.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 4) AS novelty
FROM grams gr JOIN first_seen fs ON gr.g = fs.g
GROUP BY gr.doc_id
ORDER BY gr.doc_id
"""


@register("c4q_ngram_novelty", oracle=_NOVELTY_ORACLE, tags=("tierc", "text", "jit"))
def ngram_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document share of corpus-first n-grams (novelty scoring for
    curation): one gram-hash groupBy builds the first-seen map, one
    join back scores every doc."""
    return ops.ngram_novelty(
        _docs(spark, sf_dir), pairs=_gram_pairs(spark, sf_dir)
    ).select(
        "doc_id", "n_grams", F.col("novel").cast("long").alias("novel"), "novelty"
    ).orderBy("doc_id")


# MIPS via norm augmentation (r10): all corpus vectors pad to norm M
# with sqrt(M^2 - |v|^2), queries pad with 0 — cosine order over the
# augmented space == inner-product order over the originals, and the
# augmented dot IS the original dot. Planes are the dim+1 portable
# generator; M^2 is the max of squared norms folded in list_sum order.
_MIPS_ORACLE = """
WITH n2 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
         list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)) AS s
  FROM embeddings
), m2 AS (SELECT MAX(s) AS v FROM n2),
augc AS (
  SELECT vec_id, list_append(ev, sqrt((SELECT v FROM m2) - s)) AS av FROM n2
), augq AS (
  SELECT vec_id, list_append(ev, 0.0) AS av FROM n2 WHERE vec_id % 100 = 0
), planes AS (
  SELECT j, list_transform(range(0, 65), t ->
    (((j*65 + t + 1) * 2654435761) % 2147483647)::DOUBLE / 2147483647.0 - 0.5) AS d
  FROM (SELECT unnest(range(0, 8)) AS j)
), cbk AS (
  SELECT a.vec_id AS nid,
         SUM(CASE WHEN list_sum(list_transform(list_zip(a.av, p.d), x -> x[1] * x[2])) >= 0
                  THEN (1::BIGINT << p.j) ELSE 0 END)::BIGINT AS bucket
  FROM augc a, planes p GROUP BY a.vec_id
), qbk AS (
  SELECT q.vec_id AS qid,
         SUM(CASE WHEN list_sum(list_transform(list_zip(q.av, p.d), x -> x[1] * x[2])) >= 0
                  THEN (1::BIGINT << p.j) ELSE 0 END)::BIGINT AS qbucket
  FROM augq q, planes p GROUP BY q.vec_id
), probes AS (
  SELECT qid, unnest(list_prepend(qbucket,
    list_transform(range(0, 8), j -> xor(qbucket, 1::BIGINT << j)))) AS bucket
  FROM qbk
), cand AS (
  SELECT DISTINCT p.qid, c.nid FROM probes p JOIN cbk c ON c.bucket = p.bucket
  WHERE c.nid <> p.qid
), scored AS (
  SELECT c.qid, c.nid,
         list_sum(list_transform(list_zip(q.av, n.av), x -> x[1] * x[2])) AS d
  FROM cand c JOIN augq q ON q.vec_id = c.qid JOIN augc n ON n.vec_id = c.nid
), ranked AS (
  SELECT qid, nid, d, row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rn
  FROM scored
)
SELECT qid, nid, ROUND(d, 4) + 0.0 AS dot FROM ranked WHERE rn <= 10 ORDER BY qid, nid
"""


@register("c3n_mips_topk", oracle=_MIPS_ORACLE, tags=("tierc", "similarity", "jit"))
def mips_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate maximum-inner-product top-k via the norm-augmentation
    reduction to cosine LSH — the recommendation-retrieval shape (dot
    scores, not cosine), hard-oracled through the dim+1 portable
    planes."""
    emb = _emb(spark, sf_dir)
    return ops.mips_topk_portable(emb.filter(F.col("vec_id") % 100 == 0), emb, k=10)


# Corpus card (r10): per-source dataset summary — docs, whitespace
# tokens, Gopher-keep share, exact-duplicate share. Counts and picked
# values only (the two ROUNDs divide exact BIGINTs), so it hashes.
_CORPUS_CARD_ORACLE = """
WITH tok AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS w,
         CASE WHEN length(trim(text)) = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\\s+') END AS wr,
         text
  FROM documents
), m AS (
  SELECT doc_id, source, len(wr) AS n_tokens, text,
         len(w) AS n_words,
         ROUND(list_sum(list_transform(w, t -> length(t)))::DOUBLE
               / greatest(len(w), 1), 4) AS mean_wlen,
         ROUND(len(list_distinct(w))::DOUBLE / greatest(len(w), 1), 4) AS distinct_ratio,
         len(list_filter(w, t -> t IN ('a','the','and','of','to'))) AS n_stop
  FROM tok
), k AS (
  SELECT *,
    CAST(n_words >= 30 AND n_words <= 80 AND mean_wlen >= 3.5 AND mean_wlen <= 5.5
         AND distinct_ratio >= 0.5 AND n_stop >= 2 AS BIGINT) AS keep
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       ROUND(CAST(SUM(keep) AS DOUBLE) / count(*), 4) AS keep_share,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_rows,
       ROUND(CAST(count(*) - count(DISTINCT text) AS DOUBLE) / count(*), 4) AS dup_share
FROM k GROUP BY source ORDER BY source
"""


@register("c9l_corpus_card", oracle=_CORPUS_CARD_ORACLE, tags=("tierc", "text"))
def corpus_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: doc/token counts, Gopher-keep share and
    exact-duplicate share — the summary a curation pipeline publishes
    with every shard drop. Composes token_count + quality_filter +
    a distinct-count; every aggregate keys on source (one exchange)."""
    docs = _docs(spark, sf_dir)
    toks = ops.token_count(docs)
    qual = ops.quality_filter(docs).select("doc_id", "keep")
    base = toks.join(qual, "doc_id").select("doc_id", "source", "text", "n_tokens", "keep")
    return (
        base.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("keep").cast("long").alias("n_keep"),
            F.round(F.sum("keep").cast("double") / F.count("*"), 4).alias("keep_share"),
            (F.count("*") - F.countDistinct("text")).cast("long").alias("n_dup_rows"),
            F.round(
                (F.count("*") - F.countDistinct("text")).cast("double") / F.count("*"),
                4,
            ).alias("dup_share"),
        )
        .orderBy("source")
    )


# Rolling z-score (r10): the c7d fixed-lag-fold recipe extended to a
# second moment — mean and sum-of-squares fold over an explicit 8-lag
# chain in fixed order, so both engines hit ROUND with identical bits.
_ZSCORE_ORACLE = """
WITH keyed AS (
  SELECT user_id AS k,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
         CAST(value AS DECIMAL(25,6)) AS v
  FROM events
), avgs AS (
  SELECT k, bucket_s, CAST(SUM(v) AS DOUBLE) / count(*) AS avg_v
  FROM keyed GROUP BY k, bucket_s
), lagged AS (
  SELECT k, bucket_s, avg_v,
    """ + ",\n    ".join(
        f"lag(avg_v, {kk}) OVER (PARTITION BY k ORDER BY bucket_s) AS l{kk}"
        for kk in range(8)
    ) + """
  FROM avgs
), folded AS (
  SELECT k, bucket_s, avg_v,
    """ + (
        "0.0" + "".join(f" + (CASE WHEN l{kk} IS NOT NULL THEN l{kk} ELSE 0.0 END)" for kk in range(8))
    ) + """ AS s1,
    """ + (
        "0.0" + "".join(f" + (CASE WHEN l{kk} IS NOT NULL THEN l{kk} * l{kk} ELSE 0.0 END)" for kk in range(8))
    ) + """ AS s2,
    """ + (
        "0" + "".join(f" + (CASE WHEN l{kk} IS NOT NULL THEN 1 ELSE 0 END)" for kk in range(8))
    ) + """ AS n
  FROM lagged
)
SELECT k, bucket_s, ROUND(avg_v, 4) AS avg_v, CAST(n AS BIGINT) AS n_obs,
  CASE WHEN n >= 3 AND ROUND(s2 / n - (s1 / n) * (s1 / n), 12) > 0
       THEN ROUND((avg_v - s1 / n)
                  / sqrt(ROUND(s2 / n - (s1 / n) * (s1 / n), 12)), 4)
       ELSE NULL END AS z
FROM folded ORDER BY k, bucket_s
"""


@register("c7f_rolling_zscore", oracle=_ZSCORE_ORACLE, tags=("tierc", "rollup"))
def rolling_zscore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly signal over hourly per-user bucket
    averages (trailing 8 observed buckets) — metric-stream anomaly
    detection with bit-stable cross-engine float math (the c7d EWMA
    fixed-fold recipe, extended to the second moment)."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return ops.rolling_zscore(ev).orderBy("k", "bucket_s")


# Contamination report (r10): the per-source rollup of c2l containment —
# how much of each source's text quotes the benchmark set.
_CONTAM_REPORT_ORACLE = """
WITH tok AS (
  SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS g
  FROM tok
), ref AS (
  SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0
), per_doc AS (
  SELECT g2.doc_id,
         CAST(SUM(CASE WHEN ref.g IS NOT NULL THEN 1 ELSE 0 END) > 0 AS BIGINT) AS contaminated
  FROM grams g2 LEFT JOIN ref ON g2.g = ref.g
  WHERE g2.doc_id % 50 <> 0
  GROUP BY g2.doc_id
)
SELECT t.source,
       count(*) AS n_docs,
       CAST(SUM(p.contaminated) AS BIGINT) AS n_contaminated,
       ROUND(CAST(SUM(p.contaminated) AS DOUBLE) / count(*), 4) AS contaminated_share
FROM per_doc p JOIN tok t USING (doc_id)
GROUP BY t.source ORDER BY t.source
"""


@register("c9m_contamination_report", oracle=_CONTAM_REPORT_ORACLE, tags=("tierc", "text", "jit"))
def contamination_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source benchmark-contamination share — the audit table a
    decontamination pass publishes. Composes containment_scores
    (gram-hash join) with a source rollup; both aggregations key on
    already-shuffled keys."""
    docs = _docs(spark, sf_dir)
    scored = ops.containment_scores_split(
        docs,
        ref_pred=F.col("doc_id") % 50 == 0,
        doc_pred=F.col("doc_id") % 50 != 0,
        pairs=_gram_pairs(spark, sf_dir),
    )
    flagged = scored.select(
        "doc_id", (F.col("matched") > 0).cast("long").alias("contaminated")
    )
    src = docs.select("doc_id", "source").filter(F.length(F.trim("text")) > 0)
    return (
        flagged.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("contaminated").cast("long").alias("n_contaminated"),
            F.round(F.sum("contaminated").cast("double") / F.count("*"), 4).alias(
                "contaminated_share"
            ),
        )
        .orderBy("source")
    )


# Tokenizer fertility / bytes-per-token audit (r11, verdict task #7):
# the tokenizer dimension corpus cards (c9l) lacked — per (source,
# lang) byte, whitespace-token and BPE-ish-token volumes with the two
# ratios tokenizer teams watch (fertility = bpe/ws tokens,
# bytes-per-token = utf8 bytes / bpe tokens). One hash-agg,
# metadata-sized output; integer sums + one final ROUND per ratio.
_FERTILITY_ORACLE = """
WITH t AS (
  SELECT source, lang, strlen(text) AS by,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws,
    len(regexp_extract_all(text,
      '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS bpe
  FROM documents
)
SELECT source, lang, count(*) AS n_docs,
  CAST(SUM(by) AS BIGINT) AS n_bytes,
  CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
  CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
  CASE WHEN SUM(ws) > 0
       THEN ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 4) END AS fertility,
  CASE WHEN SUM(bpe) > 0
       THEN ROUND(CAST(SUM(by) AS DOUBLE) / SUM(bpe), 4) END AS bytes_per_token
FROM t GROUP BY source, lang ORDER BY source, lang
"""


@register("c4r_tokenizer_fertility", oracle=_FERTILITY_ORACLE, tags=("tierc", "text"))
def tokenizer_fertility_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per (source, lang): how many BPE-ish
    pieces a whitespace token splits into and how many utf8 bytes each
    piece carries — the per-language tokenizer-efficiency table a
    corpus card publishes."""
    docs = ops.bpe_ish_token_count(ops.token_count(_docs(spark, sf_dir)))
    g = docs.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("long").alias("n_bytes"),
        F.sum("n_tokens").cast("long").alias("n_ws_tokens"),
        F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )
    return g.select(
        "source",
        "lang",
        "n_docs",
        "n_bytes",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.when(
            F.col("n_ws_tokens") > 0,
            F.round(F.col("n_bpe_tokens").cast("double") / F.col("n_ws_tokens"), 4),
        ).alias("fertility"),
        F.when(
            F.col("n_bpe_tokens") > 0,
            F.round(F.col("n_bytes").cast("double") / F.col("n_bpe_tokens"), 4),
        ).alias("bytes_per_token"),
    ).orderBy("source", "lang")


# Temperature-scaled source mixing (r11): alpha=0.5 multinomial
# flattening — targets from exact integer arithmetic over
# ROUND(sqrt(n)*1e6), hash-priority heads per source; the audit groups
# the actual selection back per source.
_TEMP_MIX_ORACLE = (
    _PORTABLE_SRC_BUCKET_CTE
    + """, cnt AS (
  SELECT source, count(*) AS n,
         CAST(ROUND(sqrt(count(*)) * 1000000, 0) AS BIGINT) AS ss
  FROM documents GROUP BY source
), tot AS (SELECT SUM(ss) AS s_tot, SUM(n) AS n_tot FROM cnt),
tgt AS (
  SELECT source, n, ((n_tot * 200) // 1000) * ss // s_tot AS tgt
  FROM cnt, tot
), r AS (
  SELECT b.doc_id, b.source,
         row_number() OVER (PARTITION BY b.source ORDER BY bk, doc_id) AS rn
  FROM b
), kept AS (
  SELECT r.source, count(*) AS kept
  FROM r JOIN tgt USING (source) WHERE rn <= tgt GROUP BY r.source
), tk AS (SELECT SUM(kept) AS k_tot FROM kept)
SELECT t.source, CAST(t.n AS BIGINT) AS n_docs, CAST(t.tgt AS BIGINT) AS tgt,
       CAST(coalesce(k.kept, 0) AS BIGINT) AS kept,
       ROUND(CAST(coalesce(k.kept, 0) AS DOUBLE) / (SELECT k_tot FROM tk), 4)
         AS share_after
FROM tgt t LEFT JOIN kept k USING (source)
ORDER BY t.source"""
)


@register("c9q_temperature_mix", oracle=_TEMP_MIX_ORACLE, tags=("tierc", "sampling"))
def temperature_mix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha=0.5) source mixing audit: per-source
    corpus size, sqrt-share target and actually-kept counts under a
    20% budget — the flattening pass between per-source caps (c9h) and
    budget mixing (c9i)."""
    docs = _docs(spark, sf_dir)
    # r13 opt: the per-source count agg fed SIX plan subtrees (operator
    # internals + this audit) and the kept-agg two (join + k_tot) —
    # ReuseExchange does not dedupe them once AQE rewrites the
    # subtrees. Persist both tiny (≤ sources rows) frames and share the
    # counts with the operator; values unchanged.
    shared_counts = docs.groupBy("source").agg(F.count("*").alias("n")).persist()
    kept = (
        ops.temperature_mix(docs, budget_permille=200, counts=shared_counts)
        .groupBy("source")
        .agg(F.count("*").alias("kept"))
        .persist()
    )
    counts = shared_counts.select("source", F.col("n").alias("n_docs"))
    ss = counts.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs")) * F.lit(1000000.0), 0).cast("long").alias("ss"),
    )
    tot = ss.agg(F.sum("ss").alias("s_tot"), F.sum("n_docs").alias("n_tot"))
    tgt = ss.crossJoin(F.broadcast(tot)).withColumn(
        "tgt", F.expr("((n_tot * 200) div 1000) * ss div s_tot")
    )
    ktot = kept.agg(F.sum("kept").alias("k_tot"))
    return (
        tgt.join(kept, "source", "left")
        .crossJoin(F.broadcast(ktot))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("tgt").cast("long").alias("tgt"),
            F.coalesce(F.col("kept"), F.lit(0)).cast("long").alias("kept"),
            F.round(
                F.coalesce(F.col("kept"), F.lit(0)).cast("double") / F.col("k_tot"), 4
            ).alias("share_after"),
        )
        .orderBy("source")
    )


# Bigram LM scoring (r11): KenLM-style perplexity filtering,
# self-trained add-k bigram model. DuckDB replays the portable pair/
# unigram hashing (collisions merge identically), the smoothed-logprob
# ROUND(6)->DECIMAL, and the count x logprob DECIMAL fold.
_BIGRAM_LP_ORACLE = """
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
), bi0 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 2
         THEN list_transform(range(1, len(w)), i -> [w[i], w[i] || ' ' || w[i+1]])
         ELSE [] END) AS p
  FROM tok
), bi AS (
  SELECT doc_id,
    list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, length(p[2])+1), i -> ascii(p[2][i])::BIGINT)),
      (a, c) -> (a*31 + c) % 2147483647) AS bh,
    list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, length(p[1])+1), i -> ascii(p[1][i])::BIGINT)),
      (a, c) -> (a*31 + c) % 2147483647) AS uh
  FROM bi0
), uni AS (
  SELECT list_reduce(list_prepend(0::BIGINT,
      list_transform(range(1, length(t.u)+1), i -> ascii(t.u[i])::BIGINT)),
      (a, c) -> (a*31 + c) % 2147483647) AS uh
  FROM (SELECT unnest(w) AS u FROM tok) t
), uni_cnt AS (
  SELECT uh, count(*) AS c1 FROM uni GROUP BY uh
), vocab AS (SELECT count(*) AS v FROM uni_cnt),
bi_cnt AS (
  SELECT bh, uh, count(*) AS c12 FROM bi GROUP BY bh, uh
), lp AS (
  SELECT bh, uh,
    CAST(ROUND(ln((c12 + 0.5) / (c1 + 0.5 * v)), 6) AS DECIMAL(18,6)) AS lp
  FROM bi_cnt JOIN uni_cnt USING (uh), vocab
), per AS (
  SELECT doc_id, bh, uh, count(*) AS c FROM bi GROUP BY doc_id, bh, uh
), sc AS (
  SELECT doc_id, SUM(c) AS n_bigrams, SUM(c * lp) AS s
  FROM per JOIN lp USING (bh, uh) GROUP BY doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(CAST(s AS DOUBLE) / n_bigrams, 4) AS avg_logprob
FROM sc ORDER BY doc_id
"""


@register("c4u_bigram_logprob", oracle=_BIGRAM_LP_ORACLE, tags=("tierc", "text"))
def bigram_logprob_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-probability under a self-trained add-k
    model — the KenLM-style perplexity filter between heuristics and
    model-based scoring; low scores flag gibberish and boilerplate."""
    return ops.bigram_logprob(_docs(spark, sf_dir))


# Diversity-preserving sampling (r11): portable k-means clusters, keep
# the k FARTHEST vectors per cluster — SemDeDup's complement (keep the
# spread, drop the dense core). The oracle replays the full c3i Lloyd
# loop at k=8 and exposes the final-assignment distance (in-order list
# folds are bit-identical — the c3a/c2i precedent).
_DIVERSITY_ORACLE = """
WITH base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vid) AS cid, v AS c
  FROM (SELECT vid, v FROM base ORDER BY vid LIMIT 8)
),
d1 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, c0 c
),
a1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM d1) WHERE rn = 1
),
m1 AS (
  SELECT a1.cid, t.i AS dim,
         ROUND(CAST(SUM(CAST(b.v[t.i] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a1 JOIN base b USING (vid), (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY a1.cid, t.i
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
d2 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, c1 c
),
a2 AS (
  SELECT vid, cid, d FROM (
    SELECT vid, cid, d, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM d2) WHERE rn = 1
),
r AS (
  SELECT vid, CAST(cid AS BIGINT) AS cid, ROUND(d, 6) AS dist,
         CAST(row_number() OVER (
           PARTITION BY cid ORDER BY ROUND(d, 6) DESC, vid) AS BIGINT) AS rn
  FROM a2
)
SELECT vid AS vec_id, cid, dist, rn
FROM r WHERE rn <= 10 ORDER BY cid, rn
"""


@register("c9p_diversity_keep", oracle=_DIVERSITY_ORACLE, tags=("tierc", "similarity", "sampling"))
def diversity_keep_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the 10 most centroid-distant vectors per portable-kmeans
    cluster — diversity-preserving curation (the cheap coreset stand-in
    between dedup and mixing)."""
    return ops.diversity_keep(_emb(spark, sf_dir), k_clusters=8, iterations=2)


# Gated diversity keep (r12, verdict #3): the same operator with the
# hierarchical-assignment scale gate FORCED on (k=16 > coarse_gate=8 →
# √k=4 coarse groups, 2 probes). The oracle replays the whole two-level
# pipeline: fine Lloyd (16 clusters, 2 iterations), coarse Lloyd over
# the 16 fine centroids (4 groups, 2 iterations), vector→coarse top-2
# probe, in-list fine argmin, per-cluster keep-5 — every argmin ties on
# (d, id), every centroid ROUND(6), every fold in array order, so the
# DuckDB replay is bit-exact.
_DIVERSITY_GATED_ORACLE = """
WITH base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
  SELECT row_number() OVER (ORDER BY vid) AS cid, v AS c
  FROM (SELECT vid, v FROM base ORDER BY vid LIMIT 16)
),
d1 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b, c0 c
),
a1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM d1) WHERE rn = 1
),
m1 AS (
  SELECT a1.cid, t.i AS dim,
         ROUND(CAST(SUM(CAST(b.v[t.i] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM a1 JOIN base b USING (vid), (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY a1.cid, t.i
),
c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM m1 GROUP BY cid),
gb AS (SELECT cid AS vid, c AS v FROM c1),
g0 AS (
  SELECT row_number() OVER (ORDER BY vid) AS cid, v AS c
  FROM (SELECT vid, v FROM gb ORDER BY vid LIMIT 4)
),
gd1 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM gb b, g0 c
),
ga1 AS (
  SELECT vid, cid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM gd1) WHERE rn = 1
),
gm1 AS (
  SELECT ga1.cid, t.i AS dim,
         ROUND(CAST(SUM(CAST(b.v[t.i] AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*), 6) AS m
  FROM ga1 JOIN gb b USING (vid), (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY ga1.cid, t.i
),
gc1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM gm1 GROUP BY cid),
gd2 AS (
  SELECT b.vid, c.cid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM gb b, gc1 c
),
ga2 AS (
  SELECT vid AS fcid, cid AS gid FROM (
    SELECT vid, cid, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM gd2) WHERE rn = 1
),
pd AS (
  SELECT b.vid, c.cid AS gid,
         list_sum(list_transform(list_zip(b.v, c.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM base b,
       (SELECT g.* FROM gc1 g WHERE g.cid IN (SELECT DISTINCT gid FROM ga2)) c
),
pr AS (
  SELECT vid, gid FROM (
    SELECT vid, gid, row_number() OVER (PARTITION BY vid ORDER BY d, gid) AS rn
    FROM pd) WHERE rn <= 2
),
fd AS (
  SELECT p.vid, f.fcid AS cid,
         list_sum(list_transform(list_zip(b.v, c1.c),
            x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
  FROM pr p
  JOIN ga2 f ON p.gid = f.gid
  JOIN c1 ON c1.cid = f.fcid
  JOIN base b ON b.vid = p.vid
),
a2 AS (
  SELECT vid, cid, d FROM (
    SELECT vid, cid, d, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn
    FROM fd) WHERE rn = 1
),
r AS (
  SELECT vid, CAST(cid AS BIGINT) AS cid, ROUND(d, 6) AS dist,
         CAST(row_number() OVER (
           PARTITION BY cid ORDER BY ROUND(d, 6) DESC, vid) AS BIGINT) AS rn
  FROM a2
)
SELECT vid AS vec_id, cid, dist, rn
FROM r WHERE rn <= 5 ORDER BY cid, rn
"""


@register(
    "c9r_diversity_keep_gated",
    oracle=_DIVERSITY_GATED_ORACLE,
    tags=("tierc", "similarity", "sampling"),
)
def diversity_keep_gated_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diversity_keep with the hierarchical-assignment scale gate forced
    on: vectors probe 2 of 4 coarse groups and argmin only over in-list
    fine centroids — per-row assignment cost √k·(1+probes) instead of k
    (the O(n·k) fix the r11 verdict asked for). Hard-oracled: the DuckDB
    replay runs the full two-level pipeline."""
    return ops.diversity_keep(
        _emb(spark, sf_dir),
        k_clusters=16,
        iterations=2,
        keep_per_cluster=5,
        coarse_gate=8,
        n_probe=2,
    )


# Model-based quality scoring (r11): fasttext-style hashed-bag linear
# classifier (deterministic portable pseudo-weights standing in for a
# trained table — the plumbing is identical). Bucket counts integer,
# weights ROUND(9)->DECIMAL, logit exact DECIMAL, keep = exact sign;
# only the display prob touches exp() (ROUND 4).
_MODEL_QUALITY_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS g
  FROM documents WHERE length(trim(text)) > 0
), hb AS (
  SELECT doc_id,
         list_reduce(list_prepend(0::BIGINT,
           list_transform(range(1, length(g)+1), i -> ascii(g[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) % 256 AS b
  FROM tok
), per AS (
  SELECT doc_id, b, count(*) AS c FROM hb GROUP BY doc_id, b
), w AS (
  SELECT b, CAST(ROUND(
      ((((b + 1) * 2654435761) % 2147483647) / 2147483647.0 - 0.5) / 16,
      9) AS DECIMAL(12,9)) AS w
  FROM (SELECT unnest(range(0, 256)) AS b)
), lg AS (
  SELECT doc_id, SUM(c * w) AS z FROM per JOIN w USING (b) GROUP BY doc_id
)
SELECT doc_id,
       ROUND(CAST(z AS DOUBLE), 6) AS logit,
       ROUND(1.0 / (1.0 + exp(-CAST(z AS DOUBLE))), 4) AS prob,
       CAST(z >= 0 AS BIGINT) AS keep
FROM lg ORDER BY doc_id
"""


@register("c4t_model_quality", oracle=_MODEL_QUALITY_ORACLE, tags=("tierc", "text"))
def model_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: hashed-bag linear classifier logit +
    sigmoid probability + keep flag per doc — the standard
    classifier-filter stage between heuristic rules (c4m) and
    training; swap the pseudo-weight table for a trained one and the
    plan is unchanged."""
    return ops.model_quality_score(_docs(spark, sf_dir))


# Length-bucketed batch packing (r11): fixed-shape training batches —
# docs land in the smallest length bucket that fits, batch up in id
# order at tokens_per_batch div edge rows per batch, and the audit
# reports per-batch padding efficiency. Within-bucket ordering uses
# the scale-safe distributed rank (a plain window on 5 bucket keys is
# the b5f single-task smell); the oracle's plain row_number must agree.
_LENGTH_BUCKET_ORACLE = """
WITH toks AS (
  SELECT doc_id AS id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents WHERE length(trim(text)) > 0
), b AS (
  SELECT id, n_tok,
    CASE WHEN n_tok <= 64 THEN 64 WHEN n_tok <= 128 THEN 128
         WHEN n_tok <= 256 THEN 256 WHEN n_tok <= 512 THEN 512
         ELSE 1000000 END AS edge
  FROM toks
), r AS (
  SELECT id, n_tok, edge,
         row_number() OVER (PARTITION BY edge ORDER BY id) AS rk,
         greatest(1, CAST(floor(4096.0 / edge) AS BIGINT)) AS rows_per
  FROM b
), pb AS (
  SELECT edge, CAST(floor((rk - 1.0) / rows_per) AS BIGINT) AS batch_id,
         count(*) AS n_docs, SUM(n_tok) AS real_tokens
  FROM r GROUP BY edge, batch_id
)
SELECT CAST(edge AS BIGINT) AS edge, batch_id,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(real_tokens AS BIGINT) AS real_tokens,
       CAST(n_docs * edge AS BIGINT) AS padded_tokens,
       ROUND(CAST(real_tokens AS DOUBLE) / (n_docs * edge), 4) AS efficiency
FROM pb ORDER BY edge, batch_id
"""


@register("c9o_length_bucket_batches", oracle=_LENGTH_BUCKET_ORACLE, tags=("tierc", "sampling"))
def length_bucket_batches_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed fixed-shape batching audit: per-batch doc count,
    real vs padded token volume and padding efficiency — what a
    training pipeline tunes bucket edges against."""
    return ops.length_bucket_batches(_docs(spark, sf_dir), tokens_per_batch=4096)


# BM25 top-k retrieval (r11): Okapi BM25 over the corpus with a
# deterministic mid-frequency query (df-ranks 21-25, past the stopword
# head). The idf ln ROUNDs to DECIMAL immediately; the tf/length
# normalization is pure IEEE arithmetic identical in both engines;
# per-doc accumulation is exact DECIMAL (the c9n discipline).
_BM25_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE length(trim(text)) > 0
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
), stats AS (
  SELECT count(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), qt AS (
  SELECT term, df FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn FROM dfreq
  ) WHERE rn > 20 AND rn <= 25
), sc AS (
  SELECT tf.doc_id,
    CAST(ROUND(
      CAST(CAST(ROUND(ln(1.0 + (stats.n_docs - qt.df + 0.5) / (qt.df + 0.5)), 6)
           AS DECIMAL(18,6)) AS DOUBLE)
      * (tf.tf * (1.2 + 1.0))
      / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / stats.avgdl)),
      6) AS DECIMAL(18,6)) AS c
  FROM tf JOIN qt USING (term) JOIN dl USING (doc_id), stats
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       ROUND(CAST(SUM(c) AS DOUBLE), 4) AS score
FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20
"""


@register("c4s_bm25_topk", oracle=_BM25_ORACLE, tags=("tierc", "text"))
def bm25_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 retrieval against a deterministic mid-frequency
    query term set — the classic relevance-scoring pass (tf_idf's
    retrieval-side complement). Query-term table broadcasts; final
    top-k is TakeOrdered."""
    return ops.bm25_topk(_docs(spark, sf_dir), k=20)


# DSIR importance resampling (r11, verdict task #6): hashed-ngram
# target-vs-raw log-ratio weights + deterministic Gumbel-top-k keep
# (Xie et al. 2023). DuckDB replays the portable gram hashing, the
# integer bucket counts, the ROUND-then-DECIMAL ratio/weight
# accumulation, and the portable Gumbel uniform exactly.
_DSIR_ORACLE = """
WITH tok AS (
  SELECT doc_id, doc_id % 10 = 0 AS is_t,
         regexp_split_to_array(trim(lower(text)), '\\s+') AS w
  FROM documents WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, is_t,
         unnest(list_concat(w,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [] END)) AS g
  FROM tok
), hb AS (
  SELECT doc_id, is_t,
         list_reduce(list_prepend(0::BIGINT,
           list_transform(range(1, length(g)+1), i -> ascii(g[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) % 512 AS b
  FROM grams
), cnt AS (
  SELECT b, SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS t,
            SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS r
  FROM hb GROUP BY b
), tot AS (SELECT SUM(t) AS tt, SUM(r) AS rr FROM cnt),
lam AS (
  SELECT b, CAST(ROUND(ln((t + 1.0)/(tt + 512.0))
                     - ln((r + 1.0)/(rr + 512.0)), 6) AS DECIMAL(18,6)) AS lam
  FROM cnt, tot
), wts AS (
  SELECT doc_id, SUM(lam) AS w
  FROM hb JOIN lam USING (b) WHERE NOT is_t GROUP BY doc_id
), sc AS (
  SELECT doc_id, w,
         w + CAST(ROUND(-ln(-ln(
               (((doc_id + 1) * 2654435761) % 2147483647 + 1) / 2147483648.0
             )), 6) AS DECIMAL(18,6)) AS score
  FROM wts
)
SELECT doc_id, CAST(w AS DOUBLE) AS weight, CAST(score AS DOUBLE) AS score
FROM sc ORDER BY score DESC, doc_id LIMIT 100
"""


@register("c9n_dsir_resample", oracle=_DSIR_ORACLE, tags=("tierc", "sampling"))
def dsir_resample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: target docs (doc_id % 10 = 0) define the
    feature distribution; every raw doc scores a hashed-bigram
    importance weight and the top-100 survive a deterministic
    Gumbel-top-k — the standard selection pass between quality
    filtering (c4m) and mixing (c9i/c9g)."""
    docs = _docs(spark, sf_dir)
    return ops.dsir_resample(docs, F.col("doc_id") % 10 == 0, k=100)


# Heavy-hitter diagnostics (r10): the skew-detection companion to the
# c8 mitigation family — exact counts and shares, TakeOrdered top-k.
_HEAVY_HITTERS_ORACLE = """
WITH c AS (
  SELECT user_id AS k, count(*) AS n FROM events GROUP BY user_id
), t AS (SELECT SUM(n) AS total FROM c)
SELECT k, n, ROUND(CAST(n AS DOUBLE) / (SELECT total FROM t), 6) AS share
FROM c ORDER BY n DESC, k LIMIT 20
"""


@register("c8e_heavy_hitters", oracle=_HEAVY_HITTERS_ORACLE, tags=("tierc", "skew"))
def heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest keys with their traffic share — the diagnostic a
    pipeline runs BEFORE choosing a c8 mitigation (salting, two-phase
    agg). One hash agg + a broadcast scalar total + TakeOrdered; the
    full count table never sorts globally."""
    from dust_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(F.col("user_id").alias("k")).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "k",
            "n",
            F.round(F.col("n").cast("double") / F.col("__total"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), "k")
        .limit(20)
    )


# Modality storage budget (r10): per (modality, source) item counts,
# raw bytes, and the bytes exact-dedup would reclaim — the capacity-
# planning table for a multimodal corpus. Counts/sums of exact BIGINTs.
_MODALITY_BUDGET_ORACLE = """
WITH m AS (
  SELECT doc_id, source,
         ['audio','image','video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         strlen(text) AS n_bytes, sha256(text) AS h
  FROM documents
), per_hash AS (
  SELECT media_type, source, h, MIN(n_bytes) AS hb, count(*) AS dup_n
  FROM m GROUP BY media_type, source, h
)
SELECT media_type, source,
       CAST(SUM(dup_n) AS BIGINT) AS n_items,
       CAST(SUM(hb * dup_n) AS BIGINT) AS total_bytes,
       CAST(count(*) AS BIGINT) AS distinct_content,
       CAST(SUM(hb * (dup_n - 1)) AS BIGINT) AS dedup_reclaim_bytes
FROM per_hash GROUP BY media_type, source
ORDER BY media_type, source
"""


@register("c5d_modality_budget", oracle=_MODALITY_BUDGET_ORACLE, tags=("tierc", "multimodal"))
def modality_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (modality, source) storage budget with exact-dedup reclaim —
    bytes group on the content hash (payloads never shuffle; at real
    scale the hash+length ride the metadata columns while the binary
    stays pruned at the scan)."""
    docs = _docs(spark, sf_dir)
    mt = F.element_at(
        F.array(F.lit("audio"), F.lit("image"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    m = docs.select(
        "source",
        mt.alias("media_type"),
        F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
        F.sha2(F.col("text").cast("binary"), 256).alias("h"),
    )
    per_hash = m.groupBy("media_type", "source", "h").agg(
        F.min("n_bytes").alias("hb"), F.count("*").alias("dup_n")
    )
    return (
        per_hash.groupBy("media_type", "source")
        .agg(
            F.sum("dup_n").cast("long").alias("n_items"),
            F.sum(F.col("hb") * F.col("dup_n")).cast("long").alias("total_bytes"),
            F.count("*").cast("long").alias("distinct_content"),
            F.sum(F.col("hb") * (F.col("dup_n") - 1))
            .cast("long")
            .alias("dedup_reclaim_bytes"),
        )
        .orderBy("media_type", "source")
    )


# ---------------------------------------------------------------------------
# r12: split leakage (train→eval contamination rate) and rolling median
# ---------------------------------------------------------------------------

# Train/val/test leakage report: label every document with the portable
# hash split (the c9c bucket), build the train split's exact 8-gram set,
# and report what fraction of each held-out split shares at least one
# gram with train — the go/no-go leakage number a split design is judged
# by. The oracle replays the bucket (char-Horner, Knuth scramble) and
# the gram definition (c10a's) verbatim; the Spark side semi-joins
# 8-byte gram hashes (c10a's collision posture — text never shuffles).
_LEAKAGE_ORACLE = """
WITH b AS (
  SELECT doc_id,
         (list_reduce(list_prepend(42::BIGINT,
           list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
             i -> ascii(CAST(doc_id AS VARCHAR)[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) * 2654435761) % 2147483647 % 1000000 AS bk
  FROM documents
), lab AS (
  SELECT doc_id, CASE WHEN bk < 800000 THEN 'train'
                      WHEN bk < 900000 THEN 'val' ELSE 'test' END AS split
  FROM b
), tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 8
         THEN list_transform(range(1, len(w) - 6),
              i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
                   w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7])
         ELSE [] END)) AS g
  FROM tok
), tr AS (
  SELECT DISTINCT g FROM grams JOIN lab USING (doc_id) WHERE split = 'train'
), leaked AS (
  SELECT DISTINCT grams.doc_id FROM grams
  JOIN lab USING (doc_id) JOIN tr USING (g)
  WHERE lab.split <> 'train'
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM leaked)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked,
       ROUND(CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM leaked)
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS leak_rate
FROM lab WHERE split <> 'train'
GROUP BY split ORDER BY split
"""


@register("c9s_split_leakage", oracle=_LEAKAGE_ORACLE, tags=("tierc", "sampling", "dedup"))
def split_leakage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split eval-contamination rate: fraction of val/test docs
    sharing any exact 8-gram with the train split (portable hash
    split). Scale shape: one gram explode + an 8-byte-key semi-join +
    a per-split hash agg — document text never shuffles."""
    from dust_spark.functions import tokens, word_shingles

    docs = _docs(spark, sf_dir)
    lab = ops.train_val_test_split(docs, hash_fn="portable")
    grams = (
        lab.select("doc_id", "split", tokens("text").alias("__tok"))
        .select(
            "doc_id", "split",
            F.explode(word_shingles(F.col("__tok"), 8)).alias("__g"),
        )
        .select("doc_id", "split", F.xxhash64("__g").alias("__gh"))
    )
    tr = grams.filter(F.col("split") == "train").select("__gh").distinct()
    leaked = (
        grams.filter(F.col("split") != "train")
        .join(tr, "__gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("__l", F.lit(1))
    )
    return (
        lab.filter(F.col("split") != "train")
        .join(leaked, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("__l"), F.lit(0))).cast("long").alias("n_leaked"),
        )
        .withColumn(
            "leak_rate", F.round(F.col("n_leaked") / F.col("n_docs"), 6)
        )
        .orderBy("split")
    )


_ROLLING_MEDIAN_ORACLE = """
SELECT user_id AS k, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v,
       ROUND(median(CAST(value AS DOUBLE)) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts), CAST(value AS DOUBLE)
         ROWS BETWEEN 10 PRECEDING AND CURRENT ROW), 6) AS med
FROM events ORDER BY k, ts_us, v
"""


@register("c7g_rolling_median", oracle=_ROLLING_MEDIAN_ORACLE, tags=("tierc", "rollup"))
def rolling_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-11 rolling median per user (robust-center
    smoothing; the MAD-pipeline primitive). The (ts, value) frame
    order makes duplicate-timestamp frames well-defined; even-count
    medians interpolate (a+b)/2 identically in both engines."""
    from dust_spark.tables import load_table

    return ops.rolling_median(load_table(spark, sf_dir, "events"), window_rows=10)


# Tokenizer vocabulary coverage (r12): build the top-500 corpus
# vocabulary (count DESC, word ASC — fully deterministic) and report
# each source's out-of-vocabulary token rate — the number a tokenizer /
# vocab choice is evaluated by before training. Pure integer counting +
# one ROUND'd int/int division; the vocab rides back as a broadcast.
_OOV_ORACLE = """
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
), vocab AS (
  SELECT w FROM (
    SELECT w, count(*) AS c FROM tok GROUP BY w
  ) QUALIFY row_number() OVER (ORDER BY c DESC, w) <= 500
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
       ROUND(CAST(sum(CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END) AS DOUBLE)
             / count(*), 6) AS oov_rate
FROM tok GROUP BY source ORDER BY source
"""


@register("c4v_oov_rate", oracle=_OOV_ORACLE, tags=("tierc", "text"))
def oov_rate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary rate against the deterministic
    top-500 corpus vocabulary. Scale shape: token hash-agg for the
    vocab (map-side combine), TakeOrdered top-500, broadcast back —
    the corpus tokens shuffle once for the per-source agg."""
    from dust_spark.functions import tokens

    docs = _docs(spark, sf_dir)
    tok = (
        docs.select("source", tokens("text").alias("__tok"))
        .select("source", F.explode("__tok").alias("w"))
    )
    vocab = (
        tok.groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), "w")
        .limit(500)
        .select("w", F.lit(1).alias("__iv"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__iv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .withColumn("oov_rate", F.round(F.col("n_oov") / F.col("n_tokens"), 6))
        .orderBy("source")
    )


# Canonical keeper per duplicate family (r12): inside each near-dup
# cluster (the shared c2c exact-Jaccard graph) keep the LONGEST
# document (tie: lowest doc_id) — the "canonical representative"
# policy real dedup pipelines apply before dropping the rest. Only
# real families (≥2 members) report. Oracle = the c10b recursive
# closure + an argmax over n_chars.
_CANONICAL_ORACLE = """
WITH RECURSIVE tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w FROM documents
  WHERE length(trim(text)) > 0
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END)) AS shingle
  FROM tok
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ROUND(inter / (sa.sz + sb.sz - inter), 4) >= 0.2
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach(n, m) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
), comp AS (
  SELECT n, LEAST(n, MIN(m)) AS root FROM reach GROUP BY n
), lab AS (
  SELECT d.doc_id, d.n_chars, COALESCE(c.root, d.doc_id) AS cluster
  FROM documents d LEFT JOIN comp c ON c.n = d.doc_id
), fam AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         CAST(max(n_chars) AS BIGINT) AS max_chars
  FROM lab GROUP BY cluster HAVING count(*) >= 2
)
SELECT f.cluster, k.keeper, f.n_members, f.max_chars
FROM fam f JOIN (
  SELECT cluster, doc_id AS keeper FROM (
    SELECT cluster, doc_id,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM lab) WHERE rk = 1
) k USING (cluster)
ORDER BY cluster
"""


@register("c1f_canonical_keepers", oracle=_CANONICAL_ORACLE, tags=("tierc", "dedup", "jit"))
def canonical_keepers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per duplicate-family canonical representative: longest document
    (tie: lowest id) in each ≥2-member near-dup cluster. Rides the
    shared c2c pair fixture + hybrid CC; the per-cluster argmax is a
    window over min-id cluster labels."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    pairs = _ngram_pairs(spark, sf_dir)
    comp = ops.connected_components(pairs)
    # r13 opt: the narrow (id, n_chars, cluster) label table feeds both
    # the family agg and the keeper window — persist or the docs⋈comp
    # join runs twice (comp is a LocalRelation on the local-CC path, so
    # the join can never ReuseExchange)
    lab = (
        docs.join(comp, docs.doc_id == comp.node, "left")
        .select(
            docs.doc_id,
            docs.n_chars,
            F.coalesce(comp.component, docs.doc_id).alias("cluster"),
        )
        .persist()
    )
    w = W.partitionBy("cluster").orderBy(F.col("n_chars").desc(), "doc_id")
    fam = (
        lab.groupBy("cluster")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )
    keepers = (
        lab.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("cluster", F.col("doc_id").alias("keeper"))
    )
    return (
        fam.join(keepers, "cluster")
        .select("cluster", "keeper", "n_members", "max_chars")
        .orderBy("cluster")
    )


# Split distributional drift (r12): smoothed KL(held-out ‖ train) over
# the deterministic top-200 corpus vocabulary — the check that a
# hash-split didn't skew token distributions. Hash-stable by the c4u
# recipe: KL decomposes to an INTEGER-weighted sum of ln's of INTEGERS
# ((cv+1)·[L(cv+1) − L(ct+1)] with L = ROUND(ln·,9)→DECIMAL, exact
# DECIMAL accumulation) plus two ROUND'd total-mass logs; only the
# final division + ROUND(6) touches floats.
_SPLIT_KL_ORACLE = """
WITH b AS (
  SELECT doc_id,
         (list_reduce(list_prepend(42::BIGINT,
           list_transform(range(1, length(CAST(doc_id AS VARCHAR))+1),
             i -> ascii(CAST(doc_id AS VARCHAR)[i])::BIGINT)),
           (a, c) -> (a*31 + c) % 2147483647) * 2654435761) % 2147483647 % 1000000 AS bk
  FROM documents
), lab AS (
  SELECT doc_id, CASE WHEN bk < 800000 THEN 'train'
                      WHEN bk < 900000 THEN 'val' ELSE 'test' END AS split
  FROM b
), tok AS (
  SELECT l.split, unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) AS w
  FROM documents d JOIN lab l USING (doc_id)
  WHERE length(trim(d.text)) > 0
), vocab AS (
  SELECT w FROM (SELECT w, count(*) AS c FROM tok GROUP BY w)
  QUALIFY row_number() OVER (ORDER BY c DESC, w) <= 200
), grid AS (
  SELECT s.split, v.w
  FROM (VALUES ('train'), ('val'), ('test')) s(split), vocab v
), cnts AS (
  SELECT g.split, g.w, COALESCE(t.c, 0) AS c
  FROM grid g LEFT JOIN (
    SELECT split, w, count(*) AS c FROM tok JOIN vocab USING (w)
    GROUP BY split, w
  ) t ON t.split = g.split AND t.w = g.w
), tot AS (
  SELECT split, SUM(c) AS tt FROM cnts GROUP BY split
), tr AS (SELECT w, c AS ct FROM cnts WHERE split = 'train'),
s AS (
  SELECT h.split,
         SUM(CAST(h.c + 1 AS BIGINT)
             * (CAST(ROUND(ln(h.c + 1), 9) AS DECIMAL(28,9))
                - CAST(ROUND(ln(tr.ct + 1), 9) AS DECIMAL(28,9)))) AS sacc
  FROM cnts h JOIN tr USING (w) WHERE h.split <> 'train'
  GROUP BY h.split
)
SELECT s.split,
       CAST(ht.tt AS BIGINT) AS n_vocab_tokens,
       ROUND(CAST(s.sacc AS DOUBLE) / (ht.tt + 200)
             + ROUND(ln(tt.tt + 200), 9) - ROUND(ln(ht.tt + 200), 9), 6) AS kl_nats
FROM s
JOIN tot ht ON ht.split = s.split
JOIN tot tt ON tt.split = 'train'
ORDER BY s.split
"""


@register("c9t_split_kl", oracle=_SPLIT_KL_ORACLE, tags=("tierc", "sampling", "text"))
def split_kl_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-smoothed KL(held-out ‖ train) of unigram distributions
    over the top-200 vocabulary, one row per held-out split."""
    from dust_spark.functions import tokens

    docs = _docs(spark, sf_dir)
    lab = ops.train_val_test_split(docs, hash_fn="portable")
    tok = (
        lab.select("split", tokens("text").alias("__tok"))
        .select("split", F.explode("__tok").alias("w"))
    )
    # r13 opt: ONE tokenize+explode pass — aggregate to per-(split, w)
    # counts once and persist the (vocabulary-sized) table; the global
    # vocab ranking and the per-split observed counts both derive from
    # it (previously vocab and cnts_obs each re-tokenized the corpus).
    per_sw = tok.groupBy("split", "w").agg(F.count("*").alias("c0")).persist()
    vocab = (
        per_sw.groupBy("w")
        .agg(F.sum("c0").alias("count"))
        .orderBy(F.col("count").desc(), "w")
        .limit(200)
        .select("w")
    )
    splits = spark.createDataFrame([("train",), ("val",), ("test",)], "split string")
    grid = vocab.crossJoin(splits)
    cnts_obs = per_sw.join(F.broadcast(vocab), "w")
    cnts = grid.join(cnts_obs, ["split", "w"], "left").select(
        "split", "w", F.coalesce(F.col("c0"), F.lit(0)).alias("c")
    )
    tot = cnts.groupBy("split").agg(F.sum("c").alias("tt"))
    tr = cnts.filter(F.col("split") == "train").select(
        "w", F.col("c").alias("ct")
    )
    ln9 = lambda x: F.round(F.log(x), 9).cast("decimal(28,9)")  # noqa: E731
    s = (
        cnts.filter(F.col("split") != "train")
        .join(tr, "w")
        .withColumn(
            "term",
            (F.col("c") + 1).cast("bigint")
            * (ln9(F.col("c") + 1) - ln9(F.col("ct") + 1)),
        )
        .groupBy("split")
        .agg(F.sum("term").alias("sacc"))
    )
    ttrain = tot.filter(F.col("split") == "train").select(
        F.col("tt").alias("t_train")
    )
    return (
        s.join(tot, "split")
        .crossJoin(F.broadcast(ttrain))
        .select(
            "split",
            F.col("tt").cast("long").alias("n_vocab_tokens"),
            F.round(
                F.col("sacc").cast("double") / (F.col("tt") + 200)
                + F.round(F.log(F.col("t_train") + 200), 9)
                - F.round(F.log(F.col("tt") + 200), 9),
                6,
            ).alias("kl_nats"),
        )
        .orderBy("split")
    )


# First/last-touch attribution (r12): for every order, the user's
# first and last click at-or-before the order date — the marketing-
# attribution shape of the as-of family. Spark side is the c6c
# single-union-shuffle two-window plan (orders and clicks ride ONE
# hash exchange on the user key); the oracle is the all-pairs
# row_number formulation and must agree exactly (ties: latest click =
# max (ts, event_id), first = min).
_ATTRIBUTION_ORACLE = """
WITH o AS (
  SELECT o_orderkey, o_custkey,
         epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS ot
  FROM orders
), c AS (
  SELECT user_id, event_id, epoch_us(ts) AS et
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT o.o_orderkey, c.event_id, c.et
  FROM o JOIN c ON c.user_id = o.o_custkey AND c.et <= o.ot
), l AS (
  SELECT o_orderkey, event_id FROM (
    SELECT o_orderkey, event_id,
           row_number() OVER (PARTITION BY o_orderkey
                              ORDER BY et DESC, event_id DESC) AS rn
    FROM j) WHERE rn = 1
), f AS (
  SELECT o_orderkey, event_id FROM (
    SELECT o_orderkey, event_id,
           row_number() OVER (PARTITION BY o_orderkey
                              ORDER BY et, event_id) AS rn
    FROM j) WHERE rn = 1
)
SELECT o.o_orderkey, l.event_id AS last_click, f.event_id AS first_click
FROM o LEFT JOIN l USING (o_orderkey) LEFT JOIN f USING (o_orderkey)
ORDER BY o.o_orderkey
"""


@register("c6h_touch_attribution", oracle=_ATTRIBUTION_ORACLE, tags=("tierc", "asof"))
def touch_attribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch click attribution per order via the union +
    two-window as-of plan — one shuffle, no all-pairs join."""
    from pyspark.sql import Window as W

    register_views(spark, sf_dir)
    clicks = (
        spark.table("events")
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("k"),
            F.unix_micros("ts").alias("t"),
            F.col("event_id").alias("eid"),
        )
        .withColumn("okey", F.lit(None).cast("long"))
        .withColumn("tag", F.lit(0))
    )
    ords = spark.table("orders").select(
        F.col("o_custkey").alias("k"),
        F.unix_micros(F.to_timestamp("o_orderdate")).alias("t"),
        F.lit(None).cast("long").alias("eid"),
        F.col("o_orderkey").alias("okey"),
        F.lit(1).alias("tag"),
    )
    un = clicks.unionByName(ords)
    # same-timestamp clicks precede the order row (tag breaks the tie),
    # so '<=' semantics hold; eid orders equal-time clicks so the LAST
    # non-null eid is the max (t, eid) click
    w = (
        W.partitionBy("k")
        .orderBy("t", "tag", "eid")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    first_struct = F.min(
        F.when(F.col("tag") == 0, F.struct("t", "eid"))
    ).over(w)
    out = (
        un.withColumn("last_click", F.last("eid", ignorenulls=True).over(w))
        .withColumn("first_click", first_struct["eid"])
        .filter(F.col("tag") == 1)
        .select(
            F.col("okey").alias("o_orderkey"), "last_click", "first_click"
        )
        .orderBy("o_orderkey")
    )
    return out


# ---------------------------------------------------------------------------
# r13 additions: timeout funnel, Zipf fit, payload chunk near-dup
# ---------------------------------------------------------------------------

# Timeout funnel (ClickHouse windowFunnel shape): the chained-min
# earliest-chain discipline with a window bound off stage 1 — exact
# integer epoch-micro arithmetic end to end, so the oracle replays the
# chain verbatim.
_WINDOW_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et FROM events
), s1 AS (
  SELECT u, min(t) AS t1 FROM e WHERE et = 'signup' GROUP BY u
), s2 AS (
  SELECT e.u, s1.t1, min(t) AS t2 FROM e JOIN s1 ON e.u = s1.u
  WHERE et = 'click' AND t > s1.t1 AND t <= s1.t1 + 604800000000
  GROUP BY e.u, s1.t1
), s3 AS (
  SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON e.u = s2.u
  WHERE et = 'purchase' AND t > s2.t2 AND t <= s2.t1 + 604800000000
  GROUP BY e.u
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS stage, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
  UNION ALL
  SELECT 2, (SELECT count(*) FROM s2)
  UNION ALL
  SELECT 3, (SELECT count(*) FROM s3)
) ORDER BY stage
"""


@register("c6i_window_funnel", oracle=_WINDOW_FUNNEL_ORACLE, tags=("tierc", "rollup"))
def window_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup→click→purchase timeout funnel with a 7-day window off
    the signup completion (rollup.window_funnel docstring has the
    chain discipline + scale shape)."""
    from dust_spark.tables import load_table

    return ops.window_funnel(
        load_table(spark, sf_dir, "events"),
        steps=("signup", "click", "purchase"),
        window_us=7 * 86400 * 1_000_000,
    )


# Zipf rank-frequency fit (r13): per source, the OLS slope of
# ln(count) against ln(rank) over the deterministic top-100 tokens
# (count DESC, token ASC). INTEGER-EXACT recipe: both logs scale to
# int64 micros (ROUND(ln·1e6) — the c4n bit-length lesson's sibling),
# every OLS sum is exact int64 arithmetic, and only the final
# num/den division touches doubles (int64→double conversion is
# correctly rounded IEEE in both engines).
_ZIPF_ORACLE = """
WITH tok AS (
  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents WHERE length(trim(text)) > 0
), cnt AS (
  SELECT source, w, count(*) AS c FROM tok GROUP BY source, w
), ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS r
  FROM cnt QUALIFY r <= 100
), pts AS (
  SELECT source,
         CAST(ROUND(ln(r) * 1000000, 0) AS BIGINT) AS x,
         CAST(ROUND(ln(c) * 1000000, 0) AS BIGINT) AS y
  FROM ranked
), sums AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
  FROM pts GROUP BY source
)
SELECT source, n,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
FROM sums ORDER BY source
"""


@register("c4w_zipf_slope", oracle=_ZIPF_ORACLE, tags=("tierc", "text"))
def zipf_slope_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf slope (log-log OLS over the top-100 token
    rank/frequency curve) — the corpus-statistics health check a
    natural-language corpus is screened by (slope ≈ -1 for Zipfian
    text). Scale shape: one token hash-agg per (source, w) with
    map-side combine, a per-source top-100 window over the COUNT
    table (bounded rows per source), integer OLS sums."""
    from dust_spark.functions import tokens
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    cnt = (
        docs.select("source", tokens("text").alias("__tok"))
        .select("source", F.explode("__tok").alias("w"))
        .groupBy("source", "w")
        .count()
        .withColumnRenamed("count", "c")
    )
    w = W.partitionBy("source").orderBy(F.col("c").desc(), "w")
    pts = (
        cnt.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 100)
        .select(
            "source",
            F.round(F.log("r") * 1_000_000, 0).cast("long").alias("x"),
            F.round(F.log("c") * 1_000_000, 0).cast("long").alias("y"),
        )
    )
    sums = pts.groupBy("source").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return sums.select(
        "source", "n", F.round(num / den, 6).alias("zipf_slope")
    ).orderBy("source")


# Payload chunk-hash near-dup (r13, the multimodal/CDC shape): split
# each payload into fixed 64-char chunks, hash each chunk, and pair
# documents sharing >= 2 distinct chunk hashes — content-defined-
# chunking dedup as media pipelines run it over bytes (the fixture
# payload is the text column; substring/md5 are char/byte-identical
# across engines on it). Only 16-byte chunk hashes ride the self-join
# shuffle, never payloads.
_CHUNK_DUP_ORACLE = """
WITH d AS (
  SELECT doc_id, trim(text) AS t FROM documents WHERE length(trim(text)) >= 128
), ch0 AS (
  SELECT DISTINCT doc_id, h FROM (
    SELECT doc_id, unnest(list_transform(
      range(1, CAST(length(t) // 64 AS BIGINT) + 1),
      i -> md5(substring(t, CAST((i-1) * 64 + 1 AS BIGINT), 64)))) AS h
    FROM d)
), ch AS (
  SELECT doc_id, h FROM ch0
  QUALIFY count(*) OVER (PARTITION BY h) <= 32
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS shared
  FROM ch a JOIN ch b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, shared FROM pairs WHERE shared >= 2 ORDER BY id_a, id_b
"""


@register("c5e_payload_chunk_dup", oracle=_CHUNK_DUP_ORACLE, tags=("tierc", "multimodal", "dedup"))
def payload_chunk_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-hash near-duplicate pairs over payloads (>= 2 shared
    64-char chunk hashes). The chunk index column materializes as a
    real attribute BEFORE the substring projection (the HOF-lambda
    rule), and the (doc_id, h) postings are distinct-deduped before
    the self-join. Frequent chunks (document frequency > 32 —
    boilerplate) are pruned by a count-over-window on h that RIDES the
    self-join's hash partitioning (the c2c stop-gram lesson; the r13
    256× smoke showed pair output growing ~8× per 4× on
    duplicate-heavy corpora without the cap)."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    d = docs.select(
        "doc_id", F.trim(F.col("text")).alias("t")
    ).filter(F.length("t") >= 128)
    ch = (
        d.select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), (F.length("t") / 64).cast("long"))
            ).alias("g"),
        )
        .select(
            "doc_id",
            F.md5(
                F.encode(F.expr("substring(t, (g-1)*64 + 1, 64)"), "UTF-8")
            ).alias("h"),
        )
        .distinct()
        .withColumn("__df", F.count("*").over(W.partitionBy("h")))
        .filter(F.col("__df") <= 32)
        .drop("__df")
        # r13 opt: persist AFTER the cap — the self-join otherwise
        # re-runs scan + chunk explode + md5 + distinct + cap window on
        # BOTH sides (the r10 c2i / r13 c2d lesson, same shape).
        .persist()
    )
    a = ch.alias("a")
    b = ch.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= 2)
        .orderBy("id_a", "id_b")
    )


# MAD anomaly flags (r13): nested-median robust outlier detection with
# the integer-exact scaling recipe (rollup.mad_anomalies docstring) —
# med4 = 4·median, d_q = 4·deviation, M2 = 8·MAD, flag = pure-int64
# 2·d_q > 3·M2; the oracle replays the same picks over DuckDB lists.
_MAD_ORACLE = """
WITH keyed AS (
  SELECT user_id AS k,
         CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
         CAST(value AS DECIMAL(25,6)) AS v
  FROM events
), avgs AS (
  SELECT k, bucket_s,
         CAST(ROUND(CAST(SUM(v) AS DOUBLE) / count(*) * 10000, 0) AS BIGINT) AS x
  FROM keyed GROUP BY k, bucket_s
), med AS (
  SELECT k, CASE WHEN len(l) % 2 = 1 THEN 4 * l[CAST((len(l)+1)//2 AS BIGINT)]
                 ELSE 2 * (l[CAST((len(l)+1)//2 AS BIGINT)] + l[CAST(len(l)//2+1 AS BIGINT)]) END AS med4
  FROM (SELECT k, list(x ORDER BY x) AS l FROM avgs GROUP BY k)
), devs AS (
  SELECT a.k, a.bucket_s, a.x, m.med4, abs(4 * a.x - m.med4) AS d_q
  FROM avgs a JOIN med m ON a.k = m.k
), mad AS (
  SELECT k, CAST((CASE WHEN len(l) % 2 = 1 THEN 4 * l[CAST((len(l)+1)//2 AS BIGINT)]
                 ELSE 2 * (l[CAST((len(l)+1)//2 AS BIGINT)] + l[CAST(len(l)//2+1 AS BIGINT)]) END) // 2 AS BIGINT) AS m2
  FROM (SELECT k, list(d_q ORDER BY d_q) AS l FROM devs GROUP BY k)
)
SELECT d.k, d.bucket_s,
       d.x / 10000.0 AS avg_v,
       d.med4 / 40000.0 AS med_v,
       md.m2 / 80000.0 AS mad_v,
       CAST(CASE WHEN 2 * d.d_q > 3 * md.m2 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM devs d JOIN mad md ON d.k = md.k
ORDER BY d.k, d.bucket_s
"""


@register("c7h_mad_anomalies", oracle=_MAD_ORACLE, tags=("tierc", "rollup"))
def mad_anomalies_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key MAD anomaly flags over hourly bucket averages — the
    robust complement of the c7f rolling z-score (the median threshold
    can't be poisoned by the outliers it's hunting)."""
    from dust_spark.tables import load_table

    return ops.mad_anomalies(load_table(spark, sf_dir, "events"))


# Binary sign-quantization ANN (r13): 1-bit-per-dimension codes (two
# 32-bit halves — no int64 sign-bit games), Hamming-distance candidate
# generation via xor+bit_count, exact-cosine re-rank of the top-50 —
# the classic memory-16× compression step before PQ. Codes, Hamming
# and the c3b-established identical cosine fold all replay in DuckDB.
_SIGN_ANN_ORACLE = """
WITH codes AS (
  SELECT vec_id,
         list_sum(list_transform(range(0, 32), t ->
           CASE WHEN CAST(embedding[t+1] AS DOUBLE) > 0
                THEN (1::BIGINT << t) ELSE 0 END))::BIGINT AS lo,
         list_sum(list_transform(range(0, 32), t ->
           CASE WHEN CAST(embedding[t+33] AS DOUBLE) > 0
                THEN (1::BIGINT << t) ELSE 0 END))::BIGINT AS hi
  FROM embeddings
), q AS (
  SELECT * FROM codes WHERE vec_id <= 5
), ham AS (
  SELECT q.vec_id AS qid, d.vec_id AS nid,
         CAST(bit_count(xor(q.lo, d.lo)) + bit_count(xor(q.hi, d.hi)) AS BIGINT) AS hd
  FROM q JOIN codes d ON d.vec_id <> q.vec_id
), cand AS (
  SELECT qid, nid, hd FROM (
    SELECT qid, nid, hd,
           row_number() OVER (PARTITION BY qid ORDER BY hd, nid) AS rn
    FROM ham) WHERE rn <= 50
), scored AS (
  SELECT c.qid, c.nid, c.hd,
    list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]), CAST(ne.embedding AS DOUBLE[])) AS cs
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.qid
  JOIN embeddings ne ON ne.vec_id = c.nid
)
SELECT qid, nid, hd, ROUND(cs, 4) + 0.0 AS cos FROM (
  SELECT qid, nid, hd, cs,
         row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
  FROM scored) WHERE rn <= 10
ORDER BY qid, nid
"""


@register("c3o_binary_sign_ann", oracle=_SIGN_ANN_ORACLE, tags=("tierc", "similarity"))
def binary_sign_ann_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit ANN: pack each 64-dim vector into two 32-bit sign
    words, Hamming-rank candidates, exact-cosine re-rank. Scale
    shape: the corpus shuffles only its 16-byte codes; queries
    broadcast; exact scoring touches 50 candidates per query instead
    of n (the compression→candidate→re-rank discipline all binary/PQ
    indexes share)."""
    from dust_spark.functions import cosine
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir).select("vec_id", F.col("embedding").alias("__e"))

    def word(off: int):
        return F.expr(
            "aggregate(transform(sequence(0, 31), t -> "
            f"IF(element_at(__e, t + {off + 1}) > CAST(0 AS FLOAT), "
            "shiftleft(CAST(1 AS BIGINT), t), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (s, x) -> s + x)"
        )

    codes = emb.select(
        "vec_id", word(0).alias("lo"), word(32).alias("hi")
    )
    q = codes.filter(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("qid"),
        F.col("lo").alias("qlo"),
        F.col("hi").alias("qhi"),
    )
    ham = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            (
                F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
                + F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
            )
            .cast("long")
            .alias("hd"),
        )
    )
    wh = W.partitionBy("qid").orderBy("hd", "nid")
    cand = ham.withColumn("rn", F.row_number().over(wh)).filter(
        F.col("rn") <= 50
    ).drop("rn")
    qe = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    ne = _emb(spark, sf_dir).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("nv")
    )
    scored = (
        cand.join(F.broadcast(qe), "qid")
        .join(ne, "nid")
        .withColumn("cs", cosine(F.col("qv"), F.col("nv")))
    )
    wr = W.partitionBy("qid").orderBy(F.col("cs").desc(), "nid")
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 10)
        .select("qid", "nid", "hd", (F.round("cs", 4) + 0.0).alias("cos"))
        .orderBy("qid", "nid")
    )


# Character-entropy quality filter (r13): Shannon entropy of the
# per-document character distribution — the gibberish/low-diversity
# screen (binary blobs, repeated-char spam, base64 runs score low/high
# distinctively). Integer-exact: H = (n·L(n) − Σ c·L(c)) / (n·1e9)
# with L = ROUND(ln·1e9) scaled to int64 — every sum exact, one final
# int64→double division (the c4w recipe).
_ENTROPY_ORACLE = """
WITH d AS (
  SELECT doc_id, trim(text) AS t FROM documents WHERE length(trim(text)) > 0
), chars AS (
  SELECT doc_id, unnest(list_transform(range(1, length(t) + 1),
         i -> substring(t, CAST(i AS BIGINT), 1))) AS ch
  FROM d
), cnt AS (
  SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c FROM chars GROUP BY doc_id, ch
), s AS (
  SELECT doc_id, SUM(c * CAST(ROUND(ln(c) * 1000000000, 0) AS BIGINT)) AS sacc,
         SUM(c) AS n
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       ROUND(CAST(n * CAST(ROUND(ln(n) * 1000000000, 0) AS BIGINT) - sacc AS DOUBLE)
             / (n * 1000000000.0), 6) AS entropy_nats
FROM s ORDER BY doc_id
"""


@register("c4x_char_entropy", oracle=_ENTROPY_ORACLE, tags=("tierc", "text"))
def char_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-entropy (nats) via the int64-scaled ln
    recipe. Scale shape: the char explode is the only wide stage and
    aggregates per (doc, char) with map-side combine — the per-doc
    histogram is ≤ alphabet-size rows."""
    docs = _docs(spark, sf_dir)
    d = docs.select("doc_id", F.trim(F.col("text")).alias("t")).filter(
        F.length("t") > 0
    )
    cnt = (
        d.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.length("t"))).alias("g"),
        )
        .select("doc_id", F.expr("substring(t, g, 1)").alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count("*").cast("long").alias("c"))
    )
    L = lambda x: F.round(F.log(x) * 1_000_000_000, 0).cast("long")  # noqa: E731
    s = cnt.groupBy("doc_id").agg(
        F.sum(F.col("c") * L(F.col("c"))).alias("sacc"),
        F.sum("c").alias("n"),
    )
    return s.select(
        "doc_id",
        F.col("n").cast("long").alias("n_chars"),
        F.round(
            (F.col("n") * L(F.col("n")) - F.col("sacc")).cast("double")
            / (F.col("n") * 1_000_000_000.0),
            6,
        ).alias("entropy_nats"),
    ).orderBy("doc_id")
