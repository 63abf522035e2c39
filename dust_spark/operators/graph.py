"""Connected components over near-duplicate pair graphs.

:func:`minhash_dedup` uses a single-pass keep rule (drop the larger id
of each pair), which under-merges chains (a~b, b~c but a≁c). Full
duplicate *clusters* need the transitive closure — connected components.

:func:`connected_components` implements min-label propagation with
pointer jumping (path doubling): each round every node takes the
minimum label over itself and its neighbors, then chases its label's
label. The jump step doubles the distance a label travels per round, so
convergence is O(log n) rounds even on path graphs (plain propagation
is O(diameter)). Each round is two joins + one aggregation shuffling on
node ids, with the iterate localCheckpointed so the plan stays flat —
the standard shuffle-bounded CC shape for data-parallel engines (same
round structure as the large-star/small-star family of Kiveris et al.,
SoCC'14).

:func:`cluster_dedup` composes it with any pair generator to keep one
representative (min id) per duplicate cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dust_spark.fixtures import memo, plan_key


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; the
    component label is the minimum node id in the component.

    Size-gated hybrid (the GraphFrames/GraphX practice): near-dup pair
    graphs are tiny relative to the corpus (pairs ≪ rows), so when the
    edge set fits ``local_threshold`` (capped count — stops scanning at
    threshold+1) the closure folds driver-side with union-find in one
    collect of the ALREADY-REDUCED pair set — never corpus data. Larger
    graphs take the O(log n)-round distributed pointer-jumping loop,
    which is the 100 TB path.

    Memoized per session on the pair plan: three catalog queries
    (c1f/c9j/c10b) run the closure over the same pair fixture.
    """
    return memo(
        pairs.sparkSession,
        ("cc", plan_key(pairs), src, dst, max_iterations, local_threshold),
        lambda: _components(pairs, src, dst, max_iterations, local_threshold),
    )


def _components(
    pairs: DataFrame, src: str, dst: str, max_iterations: int, local_threshold: int
) -> DataFrame:
    if local_threshold:
        cap = pairs.select(src, dst).limit(local_threshold + 1).count()
        if cap <= local_threshold:
            return _local_components(pairs, src, dst)
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    # label init = min over the closed neighborhood — one aggregation that
    # does the work of the loop's first propagate round for free
    labels = edges.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("label"))

    for _ in range(max_iterations):
        # 1) propagate: min label over the closed neighborhood
        neighbor_min = (
            edges.join(labels.withColumnRenamed("u", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        propagated = labels.join(neighbor_min, "u", "left").select(
            "u",
            F.col("label").alias("l0"),
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("l1"),
        )
        # 2) pointer jump: follow the label's own label (path doubling).
        # The round's change flag rides along into the checkpoint so the
        # convergence check below is a filter over the materialized RDD —
        # no join back against the previous labels, no extra shuffle.
        jumped = (
            propagated.join(
                labels.select(F.col("u").alias("l1"), F.col("label").alias("l2")), "l1", "left"
            )
            .select(
                "u",
                "l0",
                F.least(F.col("l1"), F.coalesce(F.col("l2"), F.col("l1"))).alias("label"),
            )
            .select("u", "label", (F.col("label") != F.col("l0")).alias("__changed"))
        )
        new_labels = jumped.localCheckpoint(eager=True)
        changed = new_labels.filter("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    edges.unpersist()
    # distributed path: labels are checkpoint-pinned, so the memoized
    # handle replays the identical result without re-running the loop
    return labels.select(F.col("u").alias("node"), F.col("label").alias("component"))


def _local_components(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Driver-side union-find over a bounded edge list (min-id labels,
    identical output contract to the distributed loop)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    edges = pairs.select(src, dst).collect()
    for r in edges:
        u, v = r[0], r[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min id keeps the label deterministic
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    rows = [(n, find(n)) for n in parent]
    spark = pairs.sparkSession
    schema = pairs.select(
        F.col(src).alias("node"), F.col(src).alias("component")
    ).schema
    return spark.createDataFrame(rows or [], schema)


def domain_rank_portable(
    df: DataFrame,
    iterations: int = 2,
    damping: float = 0.85,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """HASH-STABLE PageRank-style domain authority over the (source →
    referenced-domain) link graph — the crawl-quality weighting step of
    a web-corpus pipeline, made bit-replayable in DuckDB by the same r6
    recipe as the portable k-means: per-iteration rank contributions
    accumulate in DECIMAL(28,15) (order-independent) and every new rank
    rounds to 9 decimals before feeding the next pass.

    Scale shape: edges/out-degrees build once (explode + distinct +
    hash-agg); each power iteration is one equi-join on the edge list +
    one hash-agg — node cardinality (domains) ≪ corpus, so ranks stay a
    small table. Dangling-node mass is dropped (the standard simplified
    iteration) identically on both engines."""
    pat = r"https?://([A-Za-z0-9.-]+)"
    edges = (
        df.select(
            F.lower(F.col(source_col)).alias("src"),
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(1))
            ).alias("d"),
        )
        .select("src", F.lower(F.col("d")).alias("dst"))
        .distinct()
        # r13 opt: persist — the edge list is read 2x by nodes, once by
        # outdeg and once per power iteration; unpersisted, every one of
        # those re-ran the corpus regex scan + explode + distinct
        # (measured 5 full corpus passes at iterations=2).
        .persist()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # node cardinality ≪ corpus: a driver scalar is fine
    outdeg = edges.groupBy("src").agg(F.count("*").alias("od"))
    rank = nodes.withColumn(
        "r", F.round(F.lit(1.0) / F.lit(n).cast("double"), 9)
    )
    for _ in range(iterations):
        contrib = (
            edges.join(rank.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("r") / F.col("od").cast("double")).alias("c"),
            )
        )
        sums = contrib.groupBy("node").agg(
            F.sum(F.col("c").cast("decimal(28,15)")).cast("double").alias("s")
        )
        rank = nodes.join(sums, "node", "left").select(
            "node",
            F.round(
                F.lit(1.0 - damping) / F.lit(n).cast("double")
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0)),
                9,
            ).alias("r"),
        )
    return rank.orderBy("node")


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative (the minimum id) per duplicate cluster —
    the transitive-closure version of minhash_dedup's keep rule."""
    comps = connected_components(pairs, src, dst)
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
