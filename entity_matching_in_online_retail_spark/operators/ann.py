"""Approximate nearest-neighbor search over an embedding column.

Two paths:
  - brute-force cosine top-k: broadcast the (small) query set against the
    corpus, exact cosine with built-in higher-order functions (zip_with +
    aggregate — JVM-side, no Python), per-query top-k via window. This is the
    exact baseline and the verifier for the approximate path.
  - random-hyperplane LSH: deterministic pseudo-random hyperplanes (seeded
    numpy, folded into the plan as literals), sign-bit bucket per table,
    candidates = bucket collisions in any of L tables, exact cosine re-rank.
    At 100 TB the bucket join replaces the cross join: cost is O(collisions).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

ANN_SEED = 42


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def _hyperplanes(n_planes: int, dims: int, seed: int = ANN_SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dims))


def with_table_buckets(
    df: DataFrame,
    vec_col: str,
    n_tables: int,
    planes_per_table: int,
    dims: int,
    seed: int = ANN_SEED,
) -> DataFrame:
    """Single-pass multi-table LSH: compute all L table buckets in ONE
    projection, then posexplode to (table, bucket) rows — the corpus is
    scanned once and downstream joins on (table, bucket) are one shuffle,
    not L unioned scans+joins."""
    buckets = []
    for t in range(n_tables):
        planes = _hyperplanes(planes_per_table, dims, seed + t)
        b = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            plane = F.array(*[F.lit(float(x)) for x in p])
            bit = F.when(dot(F.col(vec_col), plane) > 0, F.lit(1)).otherwise(F.lit(0))
            b = b + F.shiftleft(bit.cast("long"), i)
        buckets.append(b)
    return df.select(
        "*", F.posexplode(F.array(*buckets)).alias("table", "bucket")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k per query.

    The query side is broadcast (must be the small side); the corpus streams
    through once. rank ties broken by neighbor_id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _kmeans_centroids(
    corpus: DataFrame, vec_col: str, n_cells: int, dims: int, seed: int = ANN_SEED
) -> list[list[float]]:
    """Coarse quantizer: pyspark.ml KMeans on the (L2-normalized) corpus.
    Training is distributed; the result is n_cells x dims plain floats."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # Hoist the norm out of the per-element lambda: transform(vec, x -> x /
    # l2_norm(vec)) would re-evaluate the aggregate per element — O(d^2)/row.
    normed = corpus.withColumn("_norm", l2_norm(F.col(vec_col))).select(
        array_to_vector(
            F.transform(vec_col, lambda x: x / F.col("_norm"))
        ).alias("_features")
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="_features", maxIter=20)
    model = km.fit(normed)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def _cell_dists(vec_col: str, centroids: list[list[float]]) -> "F.Column":
    """array<double> of (negative cosine) distances to each centroid —
    centroid coordinates are plan literals, evaluation is JVM-side."""
    denom = l2_norm(F.col(vec_col))
    dists = []
    for c in centroids:
        plane = F.array(*[F.lit(float(x)) for x in c])
        cnorm = float(np.linalg.norm(c)) or 1.0
        dists.append(-dot(F.col(vec_col), plane) / (denom * cnorm))
    return F.array(*dists)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    dims: int = 64,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer -> corpus rows land
    in their nearest-centroid cell, queries probe their `nprobe` nearest
    cells, exact cosine re-rank inside probed cells only.

    The scale path complement to lsh_topk: at 10^12 docs the cell id becomes
    the Iceberg partition key, so a query touches nprobe/n_cells of the
    corpus. Centroids are trained once (distributed KMeans) and folded into
    the plan as literals — nothing is broadcast at runtime; pass `centroids`
    to reuse a trained quantizer."""
    if centroids is None:
        centroids = _kmeans_centroids(corpus, vec_col, n_cells, dims)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))

    # corpus: argmin cell = position of the min distance
    cdist = _cell_dists("_cv", centroids)
    c_cells = c.withColumn(
        "cell",
        F.array_position(cdist, F.array_min(cdist)).cast("int") - 1,
    ).select("neighbor_id", "cell")

    # queries: nprobe nearest cells via sorted (dist, idx) structs
    qdist = _cell_dists("_qv", centroids)
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.arrays_zip(qdist.alias("d"), idx.alias("i"))
    probed = F.slice(F.array_sort(pairs), 1, nprobe)
    q_cells = q.select(
        "query_id", F.explode(probed).alias("_p")
    ).select("query_id", F.col("_p.i").cast("int").alias("cell"))

    cands = q_cells.join(c_cells, "cell").select("query_id", "neighbor_id").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = (
        cands.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    dims: int = 64,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Materialize the IVF index: the corpus written parquet-PARTITIONED BY
    its nearest-centroid cell, centroids journaled beside it.

    This is the sandbox analog of the 100 TB claim in `ivf_topk`'s
    docstring ("cell id becomes the Iceberg partition key"): a probed query
    then reads nprobe/n_cells of the files, enforced by Spark partition
    pruning — `ivf_topk_indexed` plans show PartitionFilters on `cell` and
    tests/test_dedup_ann.py asserts the pruned input-file count."""
    import json as _json
    import os as _os

    if centroids is None:
        centroids = _kmeans_centroids(corpus, vec_col, n_cells, dims)
    cdist = _cell_dists(vec_col, centroids)
    with_cell = corpus.withColumn(
        "cell", F.array_position(cdist, F.array_min(cdist)).cast("int") - 1
    )
    with_cell.write.mode("overwrite").partitionBy("cell").parquet(path)
    # underscore prefix: invisible to Spark's file listing, like _SUCCESS
    with open(_os.path.join(path, "_ivf_centroids.json"), "w") as f:
        _json.dump(centroids, f)
    return centroids


def ivf_topk_indexed(
    spark,
    queries: DataFrame,
    index_path: str,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k over a materialized `ivf_write_index` index, reading ONLY
    the probed cells' partitions.

    The probed-cell set is collected driver-side to fold it into the scan
    as a literal `cell IN (...)` predicate — that is what lets Catalyst
    prune partitions at PLANNING time instead of shipping a runtime join
    filter. The collect is bounded by n_cells (16-65k in practice), never
    by corpus or query count: q_cells aggregates to DISTINCT cells first."""
    import json as _json
    import os as _os

    with open(_os.path.join(index_path, "_ivf_centroids.json")) as f:
        centroids = _json.load(f)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    qdist = _cell_dists("_qv", centroids)
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
    pairs = F.arrays_zip(qdist.alias("d"), idx.alias("i"))
    probed = F.slice(F.array_sort(pairs), 1, nprobe)
    q_cells = q.select(
        "query_id", F.explode(probed).alias("_p")
    ).select("query_id", F.col("_p.i").cast("int").alias("cell"))

    probe_set = sorted(
        r["cell"] for r in q_cells.select("cell").distinct().collect()
    )
    corpus = (
        spark.read.parquet(index_path)
        .where(F.col("cell").isin([int(c) for c in probe_set]))
        .select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell"
        )
    )
    scored = (
        q_cells.join(corpus, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 12,
    planes_per_table: int = 4,
    dims: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates = bucket collisions in any of L
    independent hyperplane tables; exact cosine re-rank of candidates only.

    Defaults favor recall in low-similarity regimes (P[bit match] =
    1 - theta/pi; at cos~0.27 a 4-plane bucket collides ~12% per table, so 12
    tables reach ~80% recall). For near-dup corpora (cos >= 0.9) raise
    planes_per_table to 8-16 — buckets get exponentially finer and candidate
    volume, which is what you pay for at scale, drops accordingly."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    qb = with_table_buckets(
        q.select("query_id", F.col("_qv").alias("_bv")), "_bv",
        n_tables, planes_per_table, dims,
    ).select("query_id", "table", "bucket")
    cb = with_table_buckets(
        c.select("neighbor_id", F.col("_cv").alias("_bv")), "_bv",
        n_tables, planes_per_table, dims,
    ).select("neighbor_id", "table", "bucket")
    cands = (
        qb.join(cb, ["table", "bucket"])
        .select("query_id", "neighbor_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cands.join(q, "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
