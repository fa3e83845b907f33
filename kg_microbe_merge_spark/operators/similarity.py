"""Similarity search over embedding columns (``array<float>``).

- :func:`brute_force_cosine_topk` — exact top-k neighbors; the
  correctness baseline. Vectors are L2-normalized ONCE per side, so the
  per-pair work is a single JVM ``zip_with``+``aggregate`` dot product
  (3× less fold work than computing norms inside the pair loop).
- :func:`lsh_cosine_topk` — random-hyperplane (sign-LSH) bucketed
  variant: the 100 TB path. Signatures are computed with one numpy
  matmul per Arrow batch (``mapInPandas`` — vectorized, no per-row
  Python); candidates share a (table, signature) bucket; exact cosine
  re-ranks the small candidate set JVM-side.

Scale notes: brute force is O(Q·N) and only for small Q (it broadcasts
the query set); the LSH variant's cost is Σ bucket², tuned by bits/
tables. The big side is never shuffled before candidate bucketing.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..workerenv import local_relation


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def normalized_vectors(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    """(id, unit-vector) projection: norm computed ONCE per row, then a
    cheap per-element divide.

    The consumer references ``_n`` twice (zero-guard condition + the
    divide lambda), which stops CollapseProject from inlining the norm
    fold into the transform — without the guard the O(dim) norm
    aggregate is re-evaluated per ELEMENT (O(dim²) per row, verified in
    the physical plan). Zero vectors pass through unnormalized instead
    of dividing by zero (mirrored in :func:`_normalized_sig_side` and in
    the DuckDB oracles)."""
    d = df.select(
        F.col(id_col).alias(out_id), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_n", norm_expr(F.col("_v")))
    unit = F.transform(F.col("_v"), lambda x: x / F.col("_n"))
    return d.select(
        out_id,
        F.when(F.col("_n") != 0.0, unit).otherwise(F.col("_v")).alias(out_vec),
    )


def spread_stream_side(df: DataFrame) -> DataFrame:
    """Ensure the stream side of a broadcast join has at least
    default-parallelism partitions — a single-file parquet source would
    otherwise run the whole O(N·Q) scoring scan on one core. No-op (no
    shuffle) when the source is already spread."""
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def brute_force_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small) is broadcast against ``vectors`` (huge); ranking
    is a per-query window over the scored join. Self-matches (same id)
    are excluded. Output: (query_id, vec_id, cosine, rank).
    """
    q = normalized_vectors(queries, query_id_col, vec_col, "query_id", "qv")
    v = spread_stream_side(
        normalized_vectors(vectors, id_col, vec_col, "vec_id", "vv")
    )
    scored = (
        v.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(dot_expr(F.col("qv"), F.col("vv")), 6))
        .select("query_id", "vec_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, bit: int, table: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane: component j is a
    hash-derived value in [-1, 1). Pure function of (table, bit, j) — the
    same plane on every executor with no driver-side RNG state."""
    import hashlib

    comps = []
    for j in range(dim):
        h = hashlib.sha256(f"{table}:{bit}:{j}".encode()).digest()
        comps.append(int.from_bytes(h[:8], "big") / 2**63 - 1.0)
    return comps


def _with_signatures(
    df: DataFrame, id_col: str, vec_col: str, planes: np.ndarray
) -> DataFrame:
    """(id, vec, table, sig) via one numpy matmul per Arrow batch —
    signature cost is a (batch × dim) @ (dim × bits) GEMM, not
    bits×tables interpreted expression folds per row.

    Id and vector columns pass through UNCHANGED (output schema is built
    from the input schema), so any id type works — string CURIEs
    included, the normal case for this KG engine. Normalization happens
    JVM-side afterwards (same IEEE expression tree as the DuckDB oracle,
    keeping the re-rank cosine bit-comparable)."""
    tables, bits, _dim = planes.shape
    weights = 1 << np.arange(bits, dtype=np.int64)
    out_schema = T.StructType(
        [
            T.StructField("id", df.schema[id_col].dataType, True),
            T.StructField("vec", df.schema[vec_col].dataType, True),
            T.StructField("table", T.IntegerType(), False),
            T.StructField("sig", T.LongType(), False),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            frames = []
            for t in range(tables):
                bits_mat = (V @ planes[t].T) >= 0.0
                sigs = (bits_mat * weights).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "id": pdf[id_col].to_numpy(),
                            "vec": pdf[vec_col].to_numpy(),
                            "table": np.int32(t),
                            "sig": sigs,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(assign, out_schema)


def _normalized_sig_side(
    sigs: DataFrame, out_id: str, out_vec: str
) -> DataFrame:
    """JVM-side unit-normalization of the signature output's vector.

    Same zero-vector guard as :func:`normalized_vectors` — without it a
    zero vector divides by 0 → NaN cosines, and NaN sorts greatest under
    ``desc`` in Spark, ranking zero vectors as top-1 neighbors."""
    d = sigs.select(
        F.col("id").alias(out_id),
        _as_double(F.col("vec")).alias("_v"),
        "table",
        "sig",
    ).withColumn("_n", norm_expr(F.col("_v")))
    unit = F.transform(F.col("_v"), lambda x: x / F.col("_n"))
    return d.select(
        out_id,
        F.when(F.col("_n") != 0.0, unit).otherwise(F.col("_v")).alias(out_vec),
        "table",
        "sig",
    )


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k cosine neighbors via IVF-flat (inverted-file)
    search — the other standard ANN scale path beside sign-LSH.

    Coarse quantizer: ``n_centroids`` centroids chosen as the data
    vectors with the smallest portable hash of their id (a deterministic
    seeded sample — k-means-init-style, no iterative training, so the
    whole operator is reproducible in plain SQL and the DuckDB oracle
    can mirror it bit-for-bit). Centroids are inlined as literal
    expressions (like the sign-LSH hyperplanes), so nearest-centroid
    assignment is a row-local fold — zero shuffle, no row
    multiplication. Every query probes its ``n_probe`` nearest cells;
    candidates sharing a cell are re-ranked by exact cosine.

    Scale: the big side never shuffles before the candidate join, and
    that join broadcasts the (queries × n_probe) probe side, so the only
    big-side exchange is the final per-query top-k window. With K
    centroids, candidate work is Σ cell², tuned by K ≈ sqrt(N) per IVF
    practice; recall is tuned by ``n_probe`` (pytest-asserted vs brute
    force). Output schema matches the brute-force variant.
    """
    from ..functions.hashing import hash60

    v = spread_stream_side(
        normalized_vectors(vectors, id_col, vec_col, "vec_id", "vv")
    )
    q = normalized_vectors(queries, query_id_col, vec_col, "query_id", "qv")
    # deterministic coarse quantizer: the K data vectors with the
    # smallest hash60(id) (ties broken by id). K rows collected to the
    # driver and INLINED as literal expressions — like the sign-LSH
    # hyperplanes — so centroid assignment is a row-local fold with
    # ZERO shuffle and no row multiplication (a cross join + window
    # would shuffle N×K rows each carrying the full vector).
    cent_rows = (
        v.select(
            F.col("vec_id").alias("cid"),
            F.col("vv").alias("cv"),
            hash60(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h", "cid")
        .limit(n_centroids)
        .collect()
    )
    if not cent_rows:
        return local_relation(
            v.sparkSession,
            [],
            "query_id string, vec_id string, cosine double, rank int",
        )
    # argmax iteration in ascending-cid order → smallest cid wins exact
    # cosine ties, mirroring the oracle's ORDER BY cos DESC, cid ASC
    cent_rows = sorted(cent_rows, key=lambda r: str(r["cid"]))
    cid_type = v.schema["vec_id"].dataType

    def _scores(vec: Column) -> Column:
        """array<struct(neg_cos, cid)> — ascending sort = best first."""
        return F.array(
            *[
                F.struct(
                    (-dot_expr(
                        vec,
                        F.array(*[F.lit(float(x)) for x in r["cv"]]),
                    )).alias("nc"),
                    F.lit(r["cid"]).cast(cid_type).alias("cid"),
                )
                for r in cent_rows
            ]
        )

    assigned = v.select(
        "vec_id",
        "vv",
        F.sort_array(_scores(F.col("vv")))[0]["cid"].alias("centroid"),
    )
    probes = (
        q.select(
            "query_id",
            "qv",
            F.explode(
                F.slice(F.sort_array(_scores(F.col("qv"))), 1, n_probe)
            ).alias("_p"),
        )
        .select("query_id", "qv", F.col("_p.cid").alias("centroid"))
    )
    scored = (
        assigned.join(probes.hint("broadcast"), "centroid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(dot_expr(F.col("qv"), F.col("vv")), 6))
        .select("query_id", "vec_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    bits: int = 8,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k cosine neighbors via random-hyperplane LSH.

    Both sides get ``tables`` independent B-bit signatures; candidates
    are pairs sharing (table, signature); exact cosine (dot of unit
    vectors) re-ranks. Recall is tuned by (bits↓, tables↑). Output
    schema matches the brute-force variant.
    """
    planes = np.array(
        [[_hyperplane(dim, b, t) for b in range(bits)] for t in range(tables)]
    )
    # single-file sources would funnel the whole GEMM + candidate scan
    # through one Python worker / one core — spread first (no-op when
    # the source is already parallel)
    v = _normalized_sig_side(
        _with_signatures(spread_stream_side(vectors), id_col, vec_col, planes),
        "vec_id", "vv",
    )
    q = _normalized_sig_side(
        _with_signatures(queries, query_id_col, vec_col, planes), "query_id", "qv"
    )
    # score BEFORE deduplicating candidates: cosine is deterministic per
    # pair, so distinct on (ids, cosine) equals distinct on ids — and the
    # dedup exchange then carries 2 ids + 1 double instead of two
    # embedding vectors per candidate (the map-side duplicate dot
    # products, bounded by `tables`, are far cheaper than shuffling the
    # payload at 100 TB)
    scored = (
        v.join(q.hint("broadcast"), ["table", "sig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", F.round(dot_expr(F.col("qv"), F.col("vv")), 6))
        .select("query_id", "vec_id", "cosine")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
