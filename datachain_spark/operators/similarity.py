"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the corpus, dot products via zip_with/aggregate —
JVM-side, no Python in the row path. The scale path is LSH bucketing
(random-hyperplane signatures): corpus and queries hash to sign-pattern
buckets; only bucket collisions are scored, so the join is O(collisions)
and shards over the cluster like any equi-join.

The reference exposes cosine/euclidean distance as scalar functions backed
by per-row Python in SQLite (/root/reference/src/datachain/func/array.py:10-116,
sql/sqlite/base.py:238-253); here distances are Catalyst expressions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datachain_spark.operators import hash60


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cosine similarity (reference func/array.py:10-64 semantics)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k cosine neighbors per query. The query side is broadcast
    (ANN query batches are small); per-query ranking is a window over the
    scored pairs. Excludes self-matches when ids collide."""
    pairs = corpus.join(F.broadcast(queries))
    return _rank_topk(pairs, k, id_col, vec_col, query_id_col, query_vec_col)


def _rank_topk(
    pairs: DataFrame, k: int, id_col: str, vec_col: str, query_id_col: str, query_vec_col: str
) -> DataFrame:
    """The shared tail of every top-k search over (query, candidate) pairs:
    score `cos_sim`, drop the self-match, rank per query by (cos_sim desc,
    id asc) and keep ranks <= k as (query id, id, cos_sim, rk)."""
    scored = pairs.select(
        F.col(query_id_col),
        F.col(id_col),
        cosine_similarity(F.col(vec_col), F.col(query_vec_col)).alias("cos_sim"),
    ).filter(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "cos_sim", "rk")
    )


def hyperplane_signature(vec: Column, dim: int, n_planes: int = 16) -> Column:
    """Random-hyperplane LSH signature as an int: bit p = sign(v . h_p),
    with deterministic pseudo-random planes h_p[i] = ((hash60('p#i') mod
    2001) - 1000) / 1000 — reproducible across runs and languages. The
    DuckDB form hashes printf('%d#%d', p, i) with `_MD5I`, so signatures
    (and thus LSH candidate sets) are oracle-reproducible."""

    def plane(p: int, i: Column) -> Column:
        h = hash60(F.format_string(f"{p}#%d", i.cast("int")))
        return (F.pmod(h, F.lit(2001)) - 1000) / 1000.0

    def dot_with_plane(p: int):
        # closure factory: Spark's higher-order functions inspect the
        # lambda's arity, so a `p=p` default parameter would break it
        return lambda v, i: v * plane(p, i)

    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        comp = F.aggregate(
            F.zip_with(vec, F.sequence(F.lit(0), F.lit(dim - 1)), dot_with_plane(p)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig.bitwiseOR(
            F.when(comp > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return sig


def embedding_near_dups(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket
    self-join (only same-signature vectors are scored — near-identical
    vectors collide with high probability), then exact cosine filter.
    O(collisions), never all-pairs."""
    sig = df.withColumn("__sig", hyperplane_signature(F.col(vec_col), dim, n_planes))
    l, r = sig.alias("l"), sig.alias("r")
    return (
        l.join(
            r,
            (F.col("l.__sig") == F.col("r.__sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cosine_similarity(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out_col: str = "__cell",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroid cells (IVF
    coarse quantizer). Centroids are a driver-side list (k is small);
    distances are Catalyst expressions, so assignment is a narrow map —
    no shuffle."""
    dists = F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                cosine_distance(F.col(vec_col), F.lit(np.asarray(c, np.float64))).alias("d"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    ranked = F.slice(F.array_sort(dists, lambda a, b: F.when(a["d"] < b["d"], -1).when(a["d"] > b["d"], 1).otherwise(0)), 1, nprobe)
    return df.withColumn(out_col, F.transform(ranked, lambda s: s["cell"]))


def train_centroids_by_hash(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic seeding: pick k spread-out corpus vectors by hash
    rank, the rank key being `hash60` of the decimal id (DuckDB: `_MD5I`
    over printf('%d', id)), so an oracle reproduces the exact seed set.
    Used directly for cheap IVF, and as the init for
    train_centroids_kmeans."""
    rows = (
        df.withColumn("__h", hash60(F.format_string("%d", F.col(id_col).cast("long"))))
        .orderBy("__h")
        .limit(k)
        .select(vec_col)
        .collect()
    )
    return [list(map(float, r[0])) for r in rows]


def train_centroids_kmeans(
    df: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> list[list[float]]:
    """Distributed Lloyd's k-means over the embedding column, pure
    DataFrame ops: per iteration, (1) assign each vector to its nearest
    centroid — a narrow map, centroids inlined as Catalyst literals (k is
    small, no join, no broadcast exchange); (2) recompute means with ONE
    groupBy(cell) shuffle using element-wise array sums
    (zip_with-accumulated), so cost per iteration is one pass + one
    k-row-output shuffle regardless of corpus size. Deterministic:
    hash-rank init, no RNG. Empty cells keep their previous centroid.

    `round_to` quantizes each recomputed mean to that many decimals: float
    sums are partition-order-dependent in Spark, so unrounded centroids can
    differ in the last ulp across cluster sizes / retries; quantizing makes
    the trained centroids (and every downstream assignment) deterministic —
    and lets a DuckDB oracle reproduce the iteration exactly."""
    centroids = train_centroids_by_hash(df, k, id_col, vec_col)
    dim = len(centroids[0]) if centroids else 0
    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col, nprobe=1).withColumn(
            "__cell", F.element_at("__cell", 1)
        )
        # mean per (cell, dimension): posexplode + hash-agg. Partial
        # aggregation runs map-side, so shuffle volume is
        # O(partitions * k * dim), independent of corpus size — never a
        # collect_list of a cell's vectors (whose buffer would grow with
        # the cell).
        ex = assigned.select("__cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
        rows = (
            ex.groupBy("__cell", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in rows:
            m = r["s"] / r["n"]
            if round_to is not None:
                m = round(m, round_to)
            new.setdefault(int(r["__cell"]), [0.0] * dim)[int(r["pos"])] = m
        centroids = [new.get(i, c) for i, c in enumerate(centroids)]
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in their single nearest
    cell (the inverted file); each query probes its `nprobe` nearest cells
    and scores only those cells' vectors. The cell equi-join shards over
    the cluster; scan cost ~ nprobe/k_cells of the corpus."""
    c = ivf_assign(corpus, centroids, vec_col, nprobe=1).withColumn(
        "__cell", F.element_at("__cell", 1)
    )
    q = ivf_assign(queries, centroids, query_vec_col, nprobe=nprobe).select(
        query_id_col, query_vec_col, F.explode("__cell").alias("__cell")
    )
    return _rank_topk(c.join(q, "__cell"), k, id_col, vec_col, query_id_col, query_vec_col)


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    eps: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with k-means, then within each
    cluster greedily drop documents whose cosine similarity to an
    EARLIER-RANKED cluster member is >= `eps`. Rank order follows the
    paper's keep-low-centroid-similarity policy: farthest-from-centroid
    first (centroid cosine distance DESC), id ASC tiebreak — so of an
    eps-duplicate group the member farthest from the cluster centroid
    survives (edge examples carry the most training signal).

    Scale shape: assignment is a narrow map over centroid literals (no
    shuffle); the pairwise pass is an equi-self-join on the CLUSTER id, so
    comparisons are bounded per cluster — k controls the partition
    granularity exactly as in the paper (they run k=50k on LAION). Never
    all-pairs across clusters, nothing collected to the driver.

    Determinism: centroid distances and pair similarities are rounded to
    `round_to` decimals before any comparison, so rank order and the
    drop set are reproducible across cluster sizes — and in a DuckDB
    oracle (pass centroids from train_centroids_kmeans(round_to=6)). Exact duplicates tie on distance and resolve by
    id, keeping the lowest id.

    Returns one row per input doc: (id, cell, centroid_dist, kept 0/1).
    Filter kept=1 to materialize the deduplicated corpus."""
    assigned = ivf_assign(df, centroids, vec_col, nprobe=1).withColumn(
        "__cell", F.element_at("__cell", 1)
    )
    cent_arr = F.array(*[F.lit(np.asarray(c, np.float64)) for c in centroids])
    own = F.element_at(cent_arr, F.col("__cell") + 1)
    assigned = assigned.withColumn(
        "__cdist", F.round(cosine_distance(F.col(vec_col), own), round_to)
    )
    l, r = assigned.alias("l"), assigned.alias("r")
    earlier = (F.col("r.__cdist") > F.col("l.__cdist")) | (
        (F.col("r.__cdist") == F.col("l.__cdist"))
        & (F.col(f"r.{id_col}") < F.col(f"l.{id_col}"))
    )
    dropped = (
        l.join(r, (F.col("l.__cell") == F.col("r.__cell")) & earlier)
        .filter(
            F.round(
                cosine_similarity(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")),
                round_to,
            )
            >= eps
        )
        .select(F.col(f"l.{id_col}").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("__cell").alias("cell"),
            F.col("__cdist").alias("centroid_dist"),
            F.when(F.col("__dropped").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors whose hyperplane
    signature matches the query's (single-probe). At 100 TB the bucket join
    is an equi-join shuffle on the signature — no broadcast of the corpus,
    no all-pairs. The `hash60` planes are DuckDB-reproducible."""
    c = corpus.withColumn("__sig", hyperplane_signature(F.col(vec_col), dim, n_planes))
    q = queries.withColumn(
        "__sig", hyperplane_signature(F.col(query_vec_col), dim, n_planes)
    )
    return _rank_topk(c.join(q, "__sig"), k, id_col, vec_col, query_id_col, query_vec_col)
