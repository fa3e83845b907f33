"""Distributed Lloyd's k-means over an embedding column.

The iterative-ML companion to the ANN family in :mod:`.similarity`
(reference scope: the reference's transform/merge surface stops at
relational ops; clustering embedding columns is the standard next step
a training-data pipeline runs — IVF coarse quantizers, dedup blocking,
corpus stratification).

Algorithm per Lloyd round:

1. **Assignment** — the current centroids are inlined as LITERAL array
   expressions (the same zero-shuffle trick as the IVF coarse quantizer
   in :func:`.similarity.ivf_cosine_topk` and the sign-LSH
   hyperplanes): each row computes ``round(Σ(x-c)², 6)`` per centroid
   in a row-local fold and takes the argmin via an ascending
   ``sort_array`` of ``struct(dist, cid)`` — distance ties break to the
   smallest cluster id. Zero shuffle, no row multiplication (a
   vectors × centroids cross join would shuffle N·k rows carrying the
   full vector).
2. **Update** — ``posexplode`` the vector to ``(cluster, pos, val)``
   and take per-``(cluster, pos)`` means. The explode multiplies rows
   by ``dim``, but the aggregation is partially aggregable, so each map
   partition emits at most ``k·dim`` partial sums — the shuffle is
   O(partitions · k · dim), independent of N. The ``k·dim`` means are
   collected to the driver (tiny), rounded to 6 decimals, and inlined
   as the next round's literals. Clusters that lose all members keep
   their previous centroid.

Determinism / oracle parity: initial centroids are the ``k`` vectors
with the smallest portable ``hash60(id)`` (ties by id) — the seeded
sample convention shared with IVF — and every cross-engine float
(distances, means) is rounded to 6 decimals before use, so a DuckDB
twin reproduces assignments exactly (see ``_kmeans_sql`` in
``__spark_entry__.py``).

Scale: each round is one full map-side scan of the big table plus a
bounded partial-agg shuffle; the driver round-trip is k·dim doubles.
Lineage does not grow with rounds — each round's plan references only
the source scan and the current literals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60
from ..workerenv import local_relation


def _dist2(vec: Column, centroid: list[float]) -> Column:
    """round(Σ (x - c)², 6) — row-local fold over literal centroid."""
    return F.round(
        F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(float(c)) for c in centroid]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        ),
        6,
    )


def _assign(vectors: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(vec_id, _v, cluster): nearest centroid by rounded squared L2,
    ties to the smallest cluster id (ascending struct sort)."""
    scores = F.array(
        *[
            F.struct(_dist2(F.col("_v"), c).alias("d"), F.lit(i).alias("cid"))
            for i, c in enumerate(centroids)
        ]
    )
    return vectors.select(
        "vec_id", "_v", F.sort_array(scores)[0]["cid"].alias("cluster")
    )


def kmeans_assignments(
    vectors: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Run ``iterations`` Lloyd rounds from the deterministic hash60
    init and return ``(vec_id, cluster)`` (cluster ∈ [0, k))."""
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    init_rows = (
        v.select(
            "vec_id", "_v", hash60(F.col("vec_id").cast("string")).alias("_h")
        )
        .orderBy("_h", "vec_id")
        .limit(k)
        .collect()
    )
    if not init_rows:
        return local_relation(v.sparkSession, [], "vec_id long, cluster int")
    centroids = [list(r["_v"]) for r in init_rows]

    assigned = _assign(v, centroids)
    for _ in range(iterations - 1):
        means = (
            assigned.select(
                "cluster", F.posexplode(F.col("_v")).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_cluster[i][p] for p in range(len(centroids[i]))]
            if i in by_cluster
            else centroids[i]  # empty cluster keeps its centroid
            for i in range(len(centroids))
        ]
        assigned = _assign(v, centroids)
    return assigned.select("vec_id", "cluster")
