"""Distributed k-means over an embedding column — the clustering primitive
behind corpus curation at scale: semantic sharding, cluster-balanced
mixture sampling, and the cluster stage of SemDeDup-style semantic dedup
(the reference engine has no clustering surface; this is a SURVEY.md §2.C
training-data extension).

Design for 100 TB:
- Assignment is per-row and embarrassingly parallel. For small k the
  distance argmin is a pure Catalyst fold expression (codegen'd, and
  bit-identical to a sequential-fold oracle — what makes the registry
  query exactly checkable cross-engine). For large k, swap the assign
  stage for operators.similarity.ivf_assign's Arrow-batched matmul —
  same contract, BLAS throughput.
- The Lloyd update never moves vectors: per-(cluster, dimension) partial
  sums combine map-side and only k x dim aggregate rows reach the
  driver per iteration (k=256, dim=1024 -> 256k tiny rows), regardless
  of corpus size. Sums are DECIMAL, so means are exact and
  partition-order-independent: training twice yields bit-identical
  centroids — reproducible data curation, not "roughly the same
  clusters".
- Seeds are the k rows with the smallest md5(id) — a stable
  pseudo-random sample any engine can reproduce (ORDER BY md5 is also
  how the corpus operators draw deterministic samples).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from icerunner_spark.operators.similarity import _as_double_array

__all__ = [
    "seed_centroids",
    "assign_clusters",
    "lloyd_step",
    "kmeans",
    "cluster_balanced_sample",
]


def _dist2_lit(vec: Column, centroid: list[float]) -> Column:
    """Squared euclidean distance to a literal centroid: a zip_with/
    aggregate fold — sequential association, so the double it produces
    is bit-identical to any engine folding the same pair in order."""
    arr = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec, arr, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def seed_centroids(
    df: DataFrame, *, vec_col: str, id_col: str, k: int
) -> list[list[float]]:
    """The k vectors with the smallest md5(id): deterministic,
    engine-portable seeding (bounded k-row collect)."""
    rows = (
        df.select(_as_double_array(vec_col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [list(r["__v"]) for r in rows]


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str,
    out_col: str = "cluster_id",
    dist_col: str | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as one Catalyst expression: an array
    of (dist2, index) structs reduced by array_min (lexicographic struct
    order = min distance, ties to the lowest index). NULL or
    wrong-length vectors assign NULL, never fail (dirty embedding data
    must degrade, not crash). Scales per-row; for large
    k prefer ivf_assign's matmul."""
    if not centroids:
        raise ValueError("assign_clusters needs at least one centroid")
    dim = len(centroids[0])
    v = _as_double_array(vec_col)
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist2_lit(v, c).alias("d"), F.lit(i).alias("c")
                )
                for i, c in enumerate(centroids)
            ]
        )
    )
    ok = v.isNotNull() & (F.size(v) == dim)
    out = df.withColumn(out_col, F.when(ok, best["c"]))
    if dist_col is not None:
        out = out.withColumn(dist_col, F.when(ok, F.sqrt(best["d"])))
    return out


def lloyd_step(
    df: DataFrame, centroids: list[list[float]], *, vec_col: str
) -> list[list[float]]:
    """One Lloyd update: assign, then per-(cluster, dim) mean. Sums are
    DECIMAL (exact, order-independent); each mean is rounded to 9dp in
    Spark (HALF_UP — reproducible by an oracle engine) so downstream
    assignment compares identical doubles. A cluster that captured no
    rows keeps its previous centroid. Driver transfer: k x dim rows."""
    dim = len(centroids[0])
    assigned = assign_clusters(
        df.select(_as_double_array(vec_col).alias("__v")),
        centroids,
        vec_col="__v",
        out_col="__c",
    ).where(F.col("__c").isNotNull())
    stats = (
        assigned.select("__c", F.posexplode("__v").alias("pos", "val"))
        .groupBy("__c", "pos")
        .agg(
            F.round(
                F.sum(F.col("val").cast("decimal(30,15)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("m")
        )
        .collect()
    )
    means: dict[int, list] = {}
    for r in stats:
        if 0 <= r["pos"] < dim:
            means.setdefault(r["__c"], [0.0] * dim)[r["pos"]] = float(r["m"])
    return [means.get(i, centroids[i]) for i in range(len(centroids))]


def kmeans(
    df: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    k: int,
    iters: int = 2,
    dist_col: str | None = None,
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic distributed k-means: md5-seeded, ``iters`` Lloyd
    rounds, then a final assignment. Returns (centroids, df +
    cluster_id [+ dist])."""
    cents = seed_centroids(df, vec_col=vec_col, id_col=id_col, k=k)
    for _ in range(iters):
        cents = lloyd_step(df, cents, vec_col=vec_col)
    return cents, assign_clusters(
        df, cents, vec_col=vec_col, dist_col=dist_col
    )


def cluster_balanced_sample(
    assigned: DataFrame,
    *,
    cluster_col: str = "cluster_id",
    id_col: str,
    cap: int,
) -> DataFrame:
    """At most ``cap`` rows per cluster, chosen in deterministic md5
    order — the rebalancing step of cluster-based curation (hot semantic
    regions are down-sampled instead of dominating the mixture). The
    rank is a per-cluster window over the md5 key; at 100 TB a
    two-phase pre-cap (operators.corpus per_source_caps pattern) absorbs
    degenerate clusters before the exact rank."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        assigned.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= cap)
        .drop("__rk")
    )
