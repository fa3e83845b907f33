"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KGX nodes-group-merge (reference A3,
utils/duckdb_utils.py:319-342 semantics) over sf0.001. ``queries()``
covers every operator family from SURVEY.md §2 plus the training-data
pipeline operators (dedup / similarity / text analysis); each entry that
is ANSI-SQL-expressible has a DuckDB twin in ``oracle_sql()`` with
value-aligned column names and deterministic float handling:

* monetary sums use the integer-cents trick
  (``sum(cast(round(x*100) as bigint)) / 100.0``) so the aggregate is an
  exact integer sum in both engines — no float summation-order drift;
* per-row scalar floats are computed with the identical IEEE expression
  tree in both engines and rounded to 6 decimals;
* timestamps are formatted to strings before output.

Hash-seeded operators (MinHash/SimHash/sign-LSH) are seeded from
md5/sha2-derived integers that BOTH engines reproduce bit-for-bit
(functions/hashing.py: 60-bit ints from the first 15 md5 hex chars;
sign-LSH hyperplanes are sha256-derived constants inlined into the
oracle SQL as literals), so the full approximate pipelines get exact
DuckDB oracles — no rows-only checks left in the dedup/ANN family.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the sibling package importable regardless of the driver's cwd
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kg_microbe_merge_spark.functions.text import (
    fingerprint_md5,
    lang_id_en,
    quality_score,
    token_count_bpe_ish,
    token_count_ws,
)
from kg_microbe_merge_spark.functions.gopher import gopher_keep, gopher_signals
from kg_microbe_merge_spark.functions.triples import extract_triples_regexp
from kg_microbe_merge_spark.operators.components import (
    connected_components,
    connected_components_incremental,
)
from kg_microbe_merge_spark.operators.kmeans import kmeans_assignments
from kg_microbe_merge_spark.operators.pagerank import pagerank
from kg_microbe_merge_spark.functions.quality_model import (
    hashed_linear_score,
    hashed_linear_score_sql,
    model_keep,
)
from kg_microbe_merge_spark.operators.dedup import (
    dedup_exact,
    duplicated_span_stats,
    embedding_near_dups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dups,
)
from kg_microbe_merge_spark.operators.merge import (
    coverage_check,
    edge_endpoint_ids,
    edges_merge,
    edges_merge_provenance,
    nodes_merge,
    priority_dedup,
)
from kg_microbe_merge_spark.operators.similarity import (
    brute_force_cosine_topk,
    lsh_cosine_topk,
)
from kg_microbe_merge_spark.functions.pii import (
    has_pii,
    pii_counts,
    pii_oracle_exprs,
    redact_pii,
)
from kg_microbe_merge_spark.functions.urls import (
    path_depth,
    query_param,
    registered_domain,
    url_host,
)
from kg_microbe_merge_spark.operators.bm25 import bm25_topk
from kg_microbe_merge_spark.operators.pq import (
    pq_encode,
    pq_topk,
    pq_topk_sql,
    train_pq_codebooks,
)
from kg_microbe_merge_spark.operators.tfidf import tfidf_topk
from kg_microbe_merge_spark.operators.ngram_lm import bigram_lm_scores
from kg_microbe_merge_spark.operators.projection import (
    random_projection,
    random_projection_sql,
)
from kg_microbe_merge_spark.operators.quantize import sq8_topk, sq8_topk_sql
from kg_microbe_merge_spark.workerenv import local_relation

SF001 = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver supplies its own session: pin the runtime-settable confs
    # the oracle comparison depends on (timestamps formatted in UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents_sum(col, alias: str):
    """Exact money sum: per-row round to integer cents (identical IEEE
    double ops in Spark and DuckDB), integer-sum, back to units."""
    return (F.sum(F.round(col * 100).cast("long")) / F.lit(100.0)).alias(alias)


def _cents_sum_sql(expr: str, alias: str) -> str:
    return f"sum(cast(round(({expr}) * 100) as bigint)) / 100.0 AS {alias}"


# The KGX-shaped projection of lineitem used by the flagship A3 query:
# one "source row" per lineitem; duplicate node ids are order keys.
def _kgx_nodes_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("L:"), F.col("l_orderkey")).alias("id"),
        F.col("l_returnflag").alias("category"),
        F.col("l_linestatus").alias("name"),
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("xref"),
        F.col("l_returnflag").alias("provided_by"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("synonym"),
    )


_KGX_NODES_SQL = """
    SELECT 'L:' || l_orderkey AS id,
           l_returnflag       AS category,
           l_linestatus       AS name,
           'P:' || l_partkey  AS xref,
           l_returnflag       AS provided_by,
           'S:' || l_suppkey  AS synonym
    FROM lineitem
"""

# --- portable-hash SQL twins (functions/hashing.py) -----------------------

def _h60(expr: str) -> str:
    """DuckDB twin of functions.hashing.hash60: 60-bit md5-derived int."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


_NORM_TEXT_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS_SQL = f"regexp_split_to_array({_NORM_TEXT_SQL}, ' ')"


def _shingle_cte_sql(n: int) -> str:
    """DuckDB twin of operators.dedup.shingle_postings (portable hash):
    CTEs ``toks`` and ``sh`` producing distinct (doc_id, shingle)."""
    gram = f"array_to_string(t[i:i+{n - 1}], ' ')"
    whole = "array_to_string(t, ' ')"
    return f"""
        toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(
                CASE WHEN len(t) >= {n}
                     THEN [{_h60(gram)} for i in range(1, len(t) - {n - 2})]
                     ELSE [{_h60(whole)}] END)) AS shingle
            FROM toks)
    """


def _kcore_sql(base_edges: str, k: int, rounds: int) -> str:
    """DuckDB twin of operators.kcore.kcore_nodes: the peel recurrence
    unrolled as chained CTEs. Peeling is a monotone fixpoint, so any
    ``rounds`` ≥ the convergence depth yields the exact k-core (extra
    rounds are no-ops); tests/test_kcore.py pins the gate graph's depth
    safely below the unroll count."""
    # AS MATERIALIZED: each round references the previous CTE three
    # times; without materialization DuckDB inlines the references and
    # the plan blows up 3^rounds.
    ctes = [
        f"e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, "
        f"greatest(s, d) AS b FROM ({base_edges}) WHERE s <> d)"
    ]
    for i in range(1, rounds + 1):
        p = f"e{i - 1}"
        ctes.append(
            f"n{i} AS MATERIALIZED (SELECT node FROM (SELECT a AS node "
            f"FROM {p} UNION ALL SELECT b FROM {p}) GROUP BY node "
            f"HAVING count(*) >= {k})"
        )
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT a, b FROM {p} "
            f"WHERE a IN (SELECT node FROM n{i}) "
            f"AND b IN (SELECT node FROM n{i}))"
        )
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT node AS id, cast(count(*) AS BIGINT) AS core_degree
        FROM (SELECT a AS node FROM e{rounds}
              UNION ALL SELECT b FROM e{rounds})
        GROUP BY node
    """


def _ktruss_sql(base_edges: str, k: int, rounds: int) -> str:
    """DuckDB twin of operators.truss.ktruss_edges: the support-peel
    recurrence unrolled as chained CTEs. Per-edge support is derived
    INDEPENDENTLY of the Spark path (adjacency self-join on the common
    neighbor, not the degree-oriented wedge enumeration). Peeling is a
    monotone fixpoint, so any ``rounds`` ≥ the convergence depth yields
    the exact k-truss; tests/test_truss.py pins the gate graph's depth
    safely below the unroll count."""
    ctes = [
        f"e0 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, "
        f"greatest(s, d) AS b FROM ({base_edges}) WHERE s <> d)"
    ]

    def _support(i: int | str, prev: str) -> list[str]:
        return [
            f"adj{i} AS MATERIALIZED (SELECT a AS node, b AS nbr "
            f"FROM {prev} UNION ALL SELECT b, a FROM {prev})",
            f"s{i} AS MATERIALIZED (SELECT e.a AS a, e.b AS b, "
            f"count(*) AS s FROM {prev} e "
            f"JOIN adj{i} x ON x.node = e.a "
            f"JOIN adj{i} y ON y.node = e.b AND y.nbr = x.nbr "
            f"GROUP BY e.a, e.b)",
        ]

    for i in range(1, rounds + 1):
        p = f"e{i - 1}"
        ctes.extend(_support(i, p))
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT e.a, e.b FROM {p} e "
            f"LEFT JOIN s{i} s ON s.a = e.a AND s.b = e.b "
            f"WHERE coalesce(s.s, 0) >= {k - 2})"
        )
    ctes.extend(_support("F", f"e{rounds}"))
    joined = ",\n        ".join(ctes)
    return f"""
        WITH {joined}
        SELECT e.a, e.b, cast(coalesce(s.s, 0) AS BIGINT) AS support
        FROM e{rounds} e
        LEFT JOIN sF s ON s.a = e.a AND s.b = e.b
    """


def _minhash_lsh_sql(
    threshold: float, num_hashes: int, bands: int, n: int
) -> str:
    """DuckDB twin of operators.dedup.minhash_lsh_pairs — mirrors the
    whole pipeline: shingles → universal-hash-min signature → banded
    buckets → candidate join → slot-match Jaccard estimate."""
    from kg_microbe_merge_spark.functions.hashing import universal_slot_sql

    r = num_hashes // bands
    mins = ",\n                ".join(
        f"min({universal_slot_sql('shingle', k)})"
        for k in range(num_hashes)
    )
    band_structs = ",\n                ".join(
        "struct_pack(band := {b}, bucket := {h})".format(
            b=bnd,
            h=_h60(
                " || ',' || ".join(
                    f"sig[{bnd * r + j + 1}]::VARCHAR" for j in range(r)
                )
            ),
        )
        for bnd in range(bands)
    )
    est = (
        "round(len(list_filter(list_transform(range(1, {k1}), "
        "i -> sig_a[i] = sig_b[i]), x -> x)) / {k}.0, 6)"
    ).format(k1=num_hashes + 1, k=num_hashes)
    return f"""
        WITH {_shingle_cte_sql(n)},
        sig AS (
            SELECT doc_id, list_value(
                {mins}) AS sig
            FROM sh GROUP BY doc_id),
        banded AS (
            SELECT doc_id, sig, unnest([
                {band_structs}]) AS bb
            FROM sig),
        bd AS (
            SELECT doc_id, sig, bb.band AS band, bb.bucket AS bucket
            FROM banded),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sig AS sig_a, b.sig AS sig_b
            FROM bd a JOIN bd b
              ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b, {est} AS est_jaccard
        FROM cand
        WHERE {est} >= {threshold}
    """


def _simhash_sql(max_hamming: int, n: int, sig_bits: int = 60) -> str:
    """DuckDB twin of operators.dedup.simhash_near_dups — shingles →
    64 ±1 bit sums → packed signature → pigeonhole block join over the
    low ``sig_bits`` informative bits (hash60 zeroes bits 60-63) →
    exact Hamming verify."""
    bands = min(max_hamming + 1, sig_bits)
    base_w, rem = divmod(sig_bits, bands)
    widths = [base_w + (1 if i < rem else 0) for i in range(bands)]
    offsets = [sum(widths[:i]) for i in range(bands)]
    sums = ",\n                ".join(
        f"sum(CASE WHEN (shingle >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    packed = " | ".join(
        f"(CASE WHEN b{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
        for b in range(64)
    )
    block_structs = ",\n                ".join(
        f"struct_pack(block := {i}, key := (sh >> {offsets[i]}) "
        f"& {(1 << widths[i]) - 1})"
        for i in range(bands)
    )
    return f"""
        WITH {_shingle_cte_sql(n)},
        agg AS (
            SELECT doc_id,
                {sums}
            FROM sh GROUP BY doc_id),
        sig AS (SELECT doc_id, ({packed}) AS sh FROM agg),
        blocks AS (
            SELECT doc_id, sh, unnest([
                {block_structs}]) AS bk
            FROM sig),
        bl AS (
            SELECT doc_id, sh, bk.block AS block, bk.key AS key
            FROM blocks),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sh AS sh_a, b.sh AS sh_b
            FROM bl a JOIN bl b
              ON a.block = b.block AND a.key = b.key
             AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               cast(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
        FROM cand
        WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}
    """


def _lsh_topk_sql(k: int, dim: int, bits: int, tables: int, n_queries: int) -> str:
    """DuckDB twin of operators.similarity.lsh_cosine_topk.

    The sign-LSH hyperplanes are pure sha256-derived constants
    (similarity._hyperplane), so they are inlined here as double
    literals (repr round-trips bit-exactly) — the oracle mirrors the
    full pipeline: per-table signatures → bucket join → exact cosine
    re-rank over unit vectors.
    """
    from kg_microbe_merge_spark.operators.similarity import _hyperplane

    def sig_expr(t: int) -> str:
        terms = []
        for b in range(bits):
            lit = "[" + ", ".join(repr(c) for c in _hyperplane(dim, b, t)) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v0, {lit}) >= 0 "
                f"THEN {1 << b} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")::BIGINT"

    structs = ",\n                ".join(
        f"struct_pack(tbl := {t}, sig := {sig_expr(t)})" for t in range(tables)
    )
    return f"""
        WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
        sigs AS (
            SELECT vec_id, v0, unnest([
                {structs}]) AS ts
            FROM e0),
        s AS (SELECT vec_id, v0, ts.tbl AS tbl, ts.sig AS sig FROM sigs),
        n AS (
            SELECT vec_id,
                   CASE WHEN list_dot_product(v0, v0) = 0 THEN v0
                        ELSE [x / sqrt(list_dot_product(v0, v0)) for x in v0]
                   END AS v,
                   tbl, sig
            FROM s),
        scored AS (
            SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS vec_id,
                   round(list_dot_product(q.v, v.v), 6) AS cosine
            FROM n v JOIN n q ON v.tbl = q.tbl AND v.sig = q.sig
            WHERE q.vec_id < {n_queries} AND v.vec_id <> q.vec_id)
        SELECT query_id, vec_id, cosine, cast(rank AS INTEGER) AS rank
        FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _kmeans_ctes(k: int, iterations: int, dim: int) -> list[str]:
    """The Lloyd-recurrence CTE chain shared by the kmeans and semdedup
    oracles; the final assignment relation is ``a{iterations}``.
    Init = the k vectors with the smallest portable hash60(id); every
    cross-engine float (squared distance, per-dimension mean) is rounded
    to 6 decimals before use, exactly as the Spark operator does, so
    argmin assignments match bit-for-bit."""
    dist = (
        "round(list_sum(list_transform(list_zip(t.v, c.cv), "
        "s -> (s[1] - s[2]) * (s[1] - s[2]))), 6)"
    )
    ctes = [
        f"""
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS (
            SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cid, v AS cv
            FROM (SELECT vec_id, v,
                         ('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT AS h
                  FROM v)
            ORDER BY h, vec_id LIMIT {k})"""
    ]
    for j in range(1, iterations + 1):
        ctes.append(f"""
        a{j} AS (
            SELECT vec_id, v, cid AS cluster FROM (
                SELECT t.vec_id, t.v, c.cid,
                       row_number() OVER (
                           PARTITION BY t.vec_id
                           ORDER BY {dist}, c.cid) AS rn
                FROM v t CROSS JOIN c{j - 1} c)
            WHERE rn = 1)""")
        if j < iterations:
            ctes.append(f"""
        m{j} AS (
            SELECT cluster AS cid, i, round(avg(v[i]), 6) AS m
            FROM a{j}, range(1, {dim + 1}) t(i)
            GROUP BY cluster, i),
        c{j} AS (
            SELECT p.cid, coalesce(mm.cv, p.cv) AS cv
            FROM c{j - 1} p LEFT JOIN (
                SELECT cid, list(m ORDER BY i) AS cv
                FROM m{j} GROUP BY cid) mm ON p.cid = mm.cid)""")
    return ctes


def _kmeans_sql(k: int, iterations: int, dim: int) -> str:
    """DuckDB twin of q_kmeans_clusters (see :func:`_kmeans_ctes`)."""
    return (
        "WITH "
        + ",".join(_kmeans_ctes(k, iterations, dim))
        + f"\n        SELECT vec_id, cluster FROM a{iterations}"
    )


def _semdedup_sql(k: int, iterations: int, dim: int, threshold: float) -> str:
    """DuckDB twin of q_semdedup (operators/semdedup.py): Lloyd
    assignments via the shared :func:`_kmeans_ctes` chain, unit vectors
    via the norm CTE pattern, the within-cluster pair join relationally
    (round-6 cosine ≥ threshold), and connectivity via a recursive CTE
    with min-id canonical survivors — coalesced back over EVERY vector.
    """
    ctes = ",".join(_kmeans_ctes(k, iterations, dim))
    return f"""
        WITH RECURSIVE
        {ctes},
        un0 AS (SELECT vec_id, embedding::DOUBLE[] AS u0 FROM embeddings),
        un AS (SELECT vec_id,
                      CASE WHEN list_dot_product(u0, u0) = 0 THEN u0
                           ELSE [x / sqrt(list_dot_product(u0, u0)) for x in u0]
                      END AS u
               FROM un0),
        cl AS (
            SELECT a.vec_id, a.cluster, un.u
            FROM a{iterations} a JOIN un ON a.vec_id = un.vec_id),
        p AS (
            SELECT x.vec_id AS id_a, y.vec_id AS id_b
            FROM cl x JOIN cl y
                 ON x.cluster = y.cluster AND x.vec_id < y.vec_id
            WHERE round(list_dot_product(x.u, y.u), 6) >= {threshold!r}),
        sym AS (
            SELECT id_a AS src, id_b AS dst FROM p
            UNION
            SELECT id_b, id_a FROM p),
        walk(node, comp) AS (
            SELECT node, node
            FROM (SELECT src AS node FROM sym UNION SELECT dst FROM sym)
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node),
        m AS (SELECT node, min(comp) AS comp FROM walk GROUP BY node)
        SELECT a.vec_id, a.cluster,
               coalesce(m.comp, a.vec_id) AS canonical_id,
               (coalesce(m.comp, a.vec_id) = a.vec_id) AS kept
        FROM a{iterations} a LEFT JOIN m ON a.vec_id = m.node
    """


def _semdedup_pairs_sql(k: int, iterations: int, dim: int, threshold: float) -> str:
    """The pair half of :func:`_semdedup_sql` as a self-contained
    SELECT (id_a, id_b) — feeds the dbscan twin."""
    ctes = ",".join(_kmeans_ctes(k, iterations, dim))
    return f"""
        WITH {ctes},
        un0 AS (SELECT vec_id, embedding::DOUBLE[] AS u0 FROM embeddings),
        un AS (SELECT vec_id,
                      CASE WHEN list_dot_product(u0, u0) = 0 THEN u0
                           ELSE [x / sqrt(list_dot_product(u0, u0)) for x in u0]
                      END AS u
               FROM un0),
        cl AS (
            SELECT a.vec_id, a.cluster, un.u
            FROM a{iterations} a JOIN un ON a.vec_id = un.vec_id)
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM cl x JOIN cl y
             ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        WHERE round(list_dot_product(x.u, y.u), 6) >= {threshold!r}
    """


def _pagerank_sql(iterations: int, damping: float) -> str:
    """DuckDB twin of q_pagerank_kg: the identical power-iteration
    recurrence unrolled as chained CTEs. Float parity: the damping /
    teleport constants are Python-computed doubles inlined via ``repr``
    (round-trips bit-exactly) and cast to DOUBLE before use, matching
    ``F.lit(damping)`` / ``F.lit(1.0 - damping)``; per-node sums differ
    only by summation order (~1e-13), absorbed by the final round(,6)."""
    d = f"cast({damping!r} AS DOUBLE)"
    t = f"cast({1.0 - damping!r} AS DOUBLE)"
    ctes = [
        """
        e AS (
            SELECT 'C' || o_custkey AS src, 'O' || o_orderkey AS dst
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        deg AS (
            SELECT src, cast(count(*) AS DOUBLE) AS outdeg
            FROM e GROUP BY src),
        r0 AS (SELECT node, cast(1.0 AS DOUBLE) AS rank FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""
        r{i} AS (
            SELECT n.node, {t} + {d} * coalesce(s.c, 0.0) AS rank
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(r.rank / g.outdeg) AS c
                FROM e JOIN r{i - 1} r ON e.src = r.node
                       JOIN deg g ON e.src = g.src
                GROUP BY e.dst) s ON n.node = s.node)""")
    return (
        "WITH "
        + ",".join(ctes)
        + f"\n        SELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


def _hits_sql(iterations: int) -> str:
    """DuckDB twin of q_hits_kg: the max-normalized HITS recurrence
    unrolled as chained half-step CTEs over the deduped customer/order
    graph. ``max`` is summation-order independent, so the only float
    reconciliation needed is the final round(,6) (the _pagerank_sql
    convention). Every CTE is MATERIALIZED: DuckDB otherwise inlines
    the chained half-steps, re-evaluating the parquet scan per
    reference (exponential file handles at 8 half-steps)."""
    ctes = [
        """
        e AS MATERIALIZED (
            SELECT 'C' || o_custkey AS src, 'O' || o_orderkey AS dst
            FROM orders
            UNION
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
        nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        h0 AS MATERIALIZED (SELECT node, cast(1.0 AS DOUBLE) AS s FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""
        a{i}raw AS MATERIALIZED (
            SELECT n.node, coalesce(t.c, 0.0) AS s
            FROM nodes n LEFT JOIN (
                SELECT e.dst AS node, sum(h.s) AS c
                FROM e JOIN h{i - 1} h ON e.src = h.node
                GROUP BY e.dst) t ON n.node = t.node),
        a{i} AS MATERIALIZED (
            SELECT node, CASE WHEN (SELECT max(s) FROM a{i}raw) > 0
                 THEN s / (SELECT max(s) FROM a{i}raw)
                 ELSE 0.0 END AS s FROM a{i}raw),
        h{i}raw AS MATERIALIZED (
            SELECT n.node, coalesce(t.c, 0.0) AS s
            FROM nodes n LEFT JOIN (
                SELECT e.src AS node, sum(a.s) AS c
                FROM e JOIN a{i} a ON e.dst = a.node
                GROUP BY e.src) t ON n.node = t.node),
        h{i} AS MATERIALIZED (
            SELECT node, CASE WHEN (SELECT max(s) FROM h{i}raw) > 0
                 THEN s / (SELECT max(s) FROM h{i}raw)
                 ELSE 0.0 END AS s FROM h{i}raw)""")
    n = iterations
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
        SELECT h.node, round(h.s, 6) AS hub, round(a.s, 6) AS authority
        FROM h{n} h JOIN a{n} a ON h.node = a.node"""
    )


# DuckDB twin of operators.merge.pipe_agg (NULL-skipping sorted-distinct
# pipe join; NULL when the group has no non-null values).
def _labelprop_sql(iterations: int) -> str:
    """DuckDB twin of q_label_propagation: the synchronous mode-vote
    recurrence unrolled as chained CTEs over the same symmetrized
    customer/order graph. The per-node argmax is row_number() ORDER BY
    (count DESC, label ASC) — identical to the engine's
    min(struct(-count, label)) tie-break."""
    ctes = [
        """
        e0 AS (
            SELECT 'C' || o_custkey AS a, 'O' || o_orderkey AS b FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
        e AS (
            SELECT a AS src, b AS dst FROM e0 WHERE a <> b
            UNION
            SELECT b, a FROM e0 WHERE a <> b),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        l0 AS (SELECT node, node AS community FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        ctes.append(f"""
        c{i} AS (
            SELECT e.src AS node, l.community, count(*) AS c
            FROM e JOIN l{i - 1} l ON e.dst = l.node
            GROUP BY 1, 2),
        b{i} AS (
            SELECT node, community FROM (
                SELECT node, community,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, community ASC) AS rn
                FROM c{i}) WHERE rn = 1),
        l{i} AS (
            SELECT p.node, coalesce(b.community, p.community) AS community
            FROM l{i - 1} p LEFT JOIN b{i} b ON p.node = b.node)""")
    return (
        "WITH "
        + ",".join(ctes)
        + f"\n        SELECT node, community FROM l{iterations}"
    )


def _pipe_agg_sql(col: str) -> str:
    return (
        f"CASE WHEN count({col}) > 0 THEN "
        f"array_to_string(list_sort(list_distinct(list({col}) "
        f"FILTER (WHERE {col} IS NOT NULL))), '|') END AS {col}"
    )


# ---------------------------------------------------------------------------
# queries — SURVEY.md §2 relational / KGX core


def q_a3_nodes_group_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 flagship: group-merge duplicate node rows by id with priority
    name resolution ('R' is the priority source) + sorted-distinct
    pipe-joins (reference utils/duckdb_utils.py:319-342)."""
    return nodes_merge(_kgx_nodes_from_lineitem(spark, sf_dir), ["R"])


def q_a3_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 with explicit two-phase salted aggregation (hub-id skew path);
    must be value-identical to the unsalted plan."""
    return nodes_merge(_kgx_nodes_from_lineitem(spark, sf_dir), ["R"], salt_buckets=8)


def q_a3_skew_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 production skew variant: heavy-id detection routes only hub
    ids through the salted two-phase (threshold forced low here so the
    salted branch actually exercises); value-identical to plain A3."""
    from kg_microbe_merge_spark.operators.merge import nodes_merge_skew_aware

    return nodes_merge_skew_aware(
        _kgx_nodes_from_lineitem(spark, sf_dir), ["R"],
        heavy_threshold=20, salt_buckets=8,
    )


_A3_SQL = f"""
    SELECT id,
           coalesce(max(CASE WHEN provided_by IN ('R') THEN name END),
                    max(name)) AS name,
           {_pipe_agg_sql('category')},
           {_pipe_agg_sql('xref')},
           {_pipe_agg_sql('provided_by')},
           {_pipe_agg_sql('synonym')}
    FROM ({_KGX_NODES_SQL})
    GROUP BY id
"""


def q_kg_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot upsert (operators/upsert.py): the raw node
    rows are split deterministically ~4:1 into an initial load and a
    delta; the initial load is merged into a stateful snapshot and the
    delta is folded in WITHOUT re-aggregating the snapshot (broadcast
    anti/semi joins — the snapshot side is never shuffled, plan-asserted
    in tests/test_upsert.py). The oracle is the FULL re-merge over all
    raw rows (_A3_SQL): incremental fold ≡ full merge is the invariant."""
    from kg_microbe_merge_spark.operators.upsert import (
        NAME_STATE_COLUMN,
        nodes_merge_incremental,
        nodes_merge_with_state,
    )

    nodes = _kgx_nodes_from_lineitem(spark, sf_dir)
    is_delta = (
        F.pmod(F.xxhash64(F.col("id"), F.col("xref"), F.col("synonym")), F.lit(5))
        == 0
    )
    snap = nodes_merge_with_state(nodes.filter(~is_delta), ["R"], sort_output=False)
    out = nodes_merge_incremental(snap, nodes.filter(is_delta), ["R"])
    return out.drop(NAME_STATE_COLUMN)


def q_a4_edges_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: distinct-(subject, predicate, object) edge union
    (reference utils/duckdb_utils.py:442-448)."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("subject"),
        F.col("l_returnflag").alias("predicate"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("object"),
    )
    return edges_merge(e)


def q_a4_edges_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4-full: provenance-preserving edge union — pipe-agg payload per
    (s,p,o) (north-star variant; expected_edges_merged_full.tsv)."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("subject"),
        F.col("l_returnflag").alias("predicate"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("object"),
        F.col("l_linestatus").alias("relation"),
        F.concat(F.lit("O:"), F.col("l_orderkey")).alias("knowledge_source"),
    )
    return edges_merge_provenance(e)


_EDGES_SQL = """
    SELECT 'P:' || l_partkey AS subject,
           l_returnflag      AS predicate,
           'S:' || l_suppkey AS object,
           l_linestatus      AS relation,
           'O:' || l_orderkey AS knowledge_source
    FROM lineitem
"""


def q_w1_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P2: priority dedup ranking — base-table rows outrank subset
    rows inside each key partition (reference utils/duckdb_utils.py:167-187)."""
    d = _t(spark, sf_dir, "documents").withColumn("source_table", F.col("source"))
    win = priority_dedup(
        d, keys=["lang"], base_table="src0", keep_winners=True, tiebreak_cols=["doc_id"]
    )
    return win.select("doc_id", "lang", "source")


def q_j2_coverage_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A6/U1/F6: edge-endpoint union → anti-join vs nodes → prefix
    category inference (reference utils/edge_vs_node_check.py:23-84)."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    customer = _t(spark, sf_dir, "customer")
    edges = orders.join(events, orders.o_custkey == events.user_id, "inner").select(
        F.concat(F.lit("EC:"), F.col("o_custkey")).alias("subject"),
        F.concat(F.lit("UniprotKB:"), F.col("user_id")).alias("object"),
    )
    nodes = customer.select(F.concat(F.lit("EC:"), F.col("c_custkey")).alias("id"))
    return coverage_check(nodes, edges)


def q_u1_endpoint_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/U1: distinct union of subject and object endpoint ids."""
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("subject"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("object"),
    )
    return edge_endpoint_ids(e)


def q_a2_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: row count + exact distinct counts."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-agg throughput query (headline bench)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1999-12-01")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            _cents_sum(F.col("l_extendedprice"), "sum_base_price"),
            _cents_sum(disc_price, "sum_disc_price"),
            _cents_sum(charge, "sum_charge"),
            F.round(
                F.sum(F.round(F.col("l_discount") * 100).cast("long"))
                / (F.lit(100.0) * F.count("*")),
                6,
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_join_star_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema join (orders⋈customer⋈nation⋈region) + agg — the
    broadcast-dim join pattern."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_orders"),
            _cents_sum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("r_name")
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/P3: semi-join restriction — lineitems of high-value orders."""
    li = _t(spark, sf_dir, "lineitem")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        li.join(big, li.l_orderkey == big.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 (plain): customers without any high-value order."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k: 3 highest-value orders per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def q_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: global order + limit (total sort via range partitioning)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(50)
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation (tumbling 1h window, batch form)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"), _cents_sum(F.col("value"), "sum_value"))
        .orderBy("hour", "event_type")
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative-sum windows) → per-
    session stats. 30-minute gap."""
    from kg_microbe_merge_spark.functions.sessions import sessionize

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    s = sessionize(ev, gap_minutes=30, tiebreak_cols=["event_id"])
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)).alias(
                "sum_value"
            ),
            (
                F.max(F.col("ts").cast("timestamp_ltz").cast("long"))
                - F.min(F.col("ts").cast("timestamp_ltz").cast("long"))
            ).alias("duration_sec"),
        )
    )


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event index + running value sum."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.row_number().over(w).alias("event_idx"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).over(cum)
            / F.lit(100.0)
        ).alias("running_value"),
    )


def q_rolling_1h_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user rolling 1-hour event count + exact
    cents sum, frame bounded by VALUE (epoch seconds), not rows."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp_ltz").cast("long").alias("ts_sec"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        (F.sum("cents").over(w) / F.lit(100.0)).alias("sum_1h"),
    )


def q_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag analytics: seconds since each user's previous event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts").cast("timestamp_ltz").cast("long")).over(w)
    return ev.select(
        "event_id",
        "user_id",
        (F.col("ts").cast("timestamp_ltz").cast("long") - prev).alias(
            "sec_since_prev"
        ),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT: users who purchased but never errored, and
    users who did both, labeled in one result."""
    ev = _t(spark, sf_dir, "events")
    purchasers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    errorers = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    both = purchasers.intersect(errorers).withColumn("cohort", F.lit("both"))
    only_buy = purchasers.exceptAll(errorers).withColumn("cohort", F.lit("purchase_only"))
    return both.unionByName(only_buy).orderBy("cohort", "user_id")


def q_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event enriched with the value of the most
    recent prior-or-simultaneous purchase by the same user (union-window
    implementation; DuckDB ASOF LEFT JOIN oracle)."""
    from kg_microbe_merge_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(
        errors, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.col("value").alias("last_purchase_value"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON path extraction over the events props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n"))
        .orderBy("k_mod")
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ≡
    DuckDB ``quantile_cont`` bit-for-bit — verified)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .orderBy("l_returnflag")
    )


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective fact-fact join + grouped revenue +
    global top-k."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .agg(_cents_sum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over events (all subtotal combinations)."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    return (
        ev.cube(day.alias("day"), F.col("event_type"))
        .agg(F.count("*").alias("n"), _cents_sum(F.col("value"), "sum_value"))
        .orderBy("day", "event_type")
    )


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-filtered semi join (orders whose total
    lineitem quantity exceeds a threshold)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function breadth: substring / upper / replace /
    length / position / reverse — identical semantics both engines."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.substring("n_name", 1, 6).alias("sub6"),
        F.upper(F.reverse(F.col("n_name"))).alias("rev_upper"),
        F.regexp_replace(F.col("n_name"), "_", "-").alias("dashed"),
        F.length("n_name").alias("len"),
        F.instr(F.col("n_name"), "_").alias("us_pos"),
        F.concat_ws("/", F.col("n_name"), F.col("n_name")).alias("doubled"),
    ).orderBy("n_name")


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping-sets aggregation (subtotals + grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: parts bucketed into price bands via a
    broadcast inequality join (BroadcastNestedLoop on a tiny band table
    — the standard Spark shape for interval lookup)."""
    part = _t(spark, sf_dir, "part")
    bands = local_relation(
        spark,
        [("low", 0.0, 933.0), ("mid", 933.0, 966.0), ("high", 966.0, 1e9)],
        "band string, lo double, hi double",
    )
    joined = part.join(
        F.broadcast(bands),
        (part.p_retailprice >= bands.lo) & (part.p_retailprice < bands.hi),
    )
    return (
        joined.groupBy("band")
        .agg(
            F.count("*").alias("n_parts"),
            _cents_sum(F.col("p_retailprice"), "sum_price"),
        )
        .orderBy("band")
    )


def q_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: nation-name pairs within edit distance 1
    (both engines implement classic Levenshtein DP — exact ints).
    All-pairs crossJoin — a correctness baseline, so it carries the
    brute-force guard (operators/guards.py)."""
    from kg_microbe_merge_spark.operators.guards import require_small

    nation = _t(spark, sf_dir, "nation")
    require_small(nation, 100_000, op="fuzzy_levenshtein",
                  alternative="ngram_jaccard_pairs / minhash_lsh_pairs on names")
    a = nation.select(F.col("n_name").alias("name_a"))
    b = nation.select(F.col("n_name").alias("name_b"))
    pairs = a.crossJoin(b).filter(F.col("name_a") < F.col("name_b"))
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        pairs.withColumn("distance", dist)
        .filter(F.col("distance") <= 1)
        .orderBy("name_a", "name_b")
    )


def q_s2_union_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: multi-source union with schema alignment (NULL-padding missing
    columns — the reference's documented intent, SURVEY §1.3)."""
    d = _t(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "src0").select("doc_id", "text", "lang")
    b = d.filter(F.col("source") == "src1").select("doc_id", "source", "n_chars")
    return a.unionByName(b, allowMissingColumns=True)


def q_bgp_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 local analogue: SPARQL-subset basic-graph-pattern query over a
    KGX edge table, compiled to DataFrame joins (plans/bgp.py) — the
    conjunctive-pattern capability the reference federates to external
    SPARQL endpoints, evaluated in-engine. Two-hop: customers' orders
    joined to their nation; per-nation order counts."""
    from kg_microbe_merge_spark.plans.bgp import bgp_query

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    edges = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("subject"),
        F.lit("owns").alias("predicate"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("object"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
        )
    )
    matches = bgp_query(
        edges,
        [("?c", "owns", "?o"), ("?c", "located_in", "?n")],
        select=["?n"],
    )
    return (
        matches.groupBy("n")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("n")
    )


def q_bgp_filter_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-subset OPTIONAL (left join preserving NULL bindings) +
    FILTER (SQL expression over ?vars, compiled JVM-side): per nation
    except N10, every customer with their orders kept optional —
    customers without orders survive with a NULL ?o binding."""
    from kg_microbe_merge_spark.plans.bgp import bgp_query

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    edges = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("subject"),
        F.lit("owns").alias("predicate"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("object"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
        )
    )
    m = bgp_query(
        edges,
        [("?c", "located_in", "?n")],
        optional=[[("?c", "owns", "?o")]],
        filters=["?n <> 'N10'"],
        select=["?n", "?c", "?o"],
    )
    return (
        m.groupBy("n")
        .agg(
            F.countDistinct("c").alias("n_customers"),
            F.count("o").alias("n_orders"),
        )
        .orderBy("n")
    )


def _kg_edges_cn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared customer/order/nation KG edge table (C owns O, C
    located_in N) used by the BGP query-form gate queries."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("subject"),
        F.lit("owns").alias("predicate"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("object"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
        )
    )


def q_bgp_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 GROUP BY + aggregates + HAVING (plans/bgp.bgp_aggregate)
    evaluated inside the engine — one partial+final hash aggregation
    over the OPTIONAL-extended solution multiset, never a driver-side
    groupBy bolted onto a SELECT. COUNT(*) counts solutions (the dup
    cardinality of the bag), COUNT(?o) skips OPTIONAL NULLs,
    SAMPLE is pinned to MIN (deterministic-engine deviation,
    documented in _compile_aggregate)."""
    from kg_microbe_merge_spark.plans.bgp import bgp_aggregate

    return bgp_aggregate(
        _kg_edges_cn(spark, sf_dir),
        [("?c", "located_in", "?n")],
        optional=[[("?c", "owns", "?o")]],
        group_by=["?n"],
        aggregates={
            "n_solutions": "COUNT(*)",
            "n_orders": "COUNT(?o)",
            "n_customers": "COUNT(DISTINCT ?c)",
            "first_customer": "SAMPLE(?c)",
            "max_order": "MAX(?o)",
        },
        having=["n_customers >= 2"],
        order_by=["?n"],
    )


def q_bgp_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (plans/bgp.bgp_construct): instantiate a triple
    template per solution and emit the resulting RDF graph (set
    semantics — one distinct over the row-local template fan-out).
    The OPTIONAL-unbound ?o skips only its own template triple (W3C
    §16.2), so order-less customers still get their type/residency
    triples."""
    from kg_microbe_merge_spark.plans.bgp import bgp_construct

    return bgp_construct(
        _kg_edges_cn(spark, sf_dir),
        [("?c", "located_in", "?n")],
        optional=[[("?c", "owns", "?o")]],
        template=[
            ("?n", "has_resident", "?c"),
            ("?c", "ordered", "?o"),
            ("?c", "type", "Customer"),
        ],
    )


def q_cypher_var_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher variable-length relationship (plans/cypher.py
    ``-[:TYPE*1..3]->``): per-customer order chains (each order linked
    to the customer's next order by o_orderkey) walked 1-3 hops —
    bounded hops compile to chained equi-joins with per-length
    distincts, endpoint-relation semantics (the documented Neo4j
    deviation shared with the SPARQL path family). DuckDB twin builds
    the same chain with lead() and unrolls the three lengths."""
    from kg_microbe_merge_spark.plans.cypher import cypher_query
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        orders.select(
            F.col("o_orderkey").alias("k"),
            F.lead("o_orderkey").over(w).alias("nk"),
        )
        .filter(F.col("nk").isNotNull())
        .select(
            F.concat(F.lit("O"), F.col("k")).alias("subject"),
            F.lit("next_order").alias("predicate"),
            F.concat(F.lit("O"), F.col("nk")).alias("object"),
        )
    )
    nodes = edges.select(
        F.col("subject").alias("id"),
        F.lit("biolink:Order").alias("category"),
        F.col("subject").alias("name"),
    ).distinct()
    return cypher_query(
        nodes,
        edges,
        "MATCH (x)-[:next_order*1..3]->(y) "
        "RETURN x.id AS x, count(*) AS n",
    )


def q_modularity_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 4-round LPA assignment over the
    customer/order/nation graph (operators/labelprop.modularity —
    the community-quality evaluation face of label_propagation).
    Pure-BIGINT per-community terms (q_term_num = 4·m·e_c − d_c²,
    shared q_den = 4m²) — no division, so the oracle (the unrolled
    LPA twin as a derived table + the same relational stats) matches
    bit for bit."""
    from kg_microbe_merge_spark.operators.labelprop import (
        label_propagation,
        modularity,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    edges = o.unionByName(c)
    labels = label_propagation(edges, iterations=4)
    return modularity(edges, labels)


def q_graph_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy graph coloring by iterated Luby MIS
    (operators/coloring.py): partition the customer/supplier–nation
    conflict graph into conflict-free concurrency batches (color
    classes). Deterministic hash priorities; oracle GENERATED by the
    module (color rounds × MIS rounds unrolled as materialized CTEs);
    depth pinned ≤ (6 colors, 12 MIS rounds) in test_coloring."""
    from kg_microbe_merge_spark.operators.coloring import greedy_coloring

    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    edges = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
    ).unionByName(
        supplier.select(
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("subject"),
            F.concat(F.lit("N"), F.col("s_nationkey")).alias("object"),
        )
    )
    return greedy_coloring(edges, max_colors=6, mis_rounds=12)


def q_densest_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed densest-subgraph peeling (operators/densest.py,
    Bahmani et al. 2012 — remove all nodes with deg*V <= 3*E per
    round, keep the densest intermediate subgraph): the over-merge
    blob detector for same_as/similarity graphs, run over the
    order–supplier bipartite graph. Pure-BIGINT density protocol;
    oracle GENERATED by the module (rounds unrolled as materialized
    CTEs, identical integer best-round rule)."""
    from kg_microbe_merge_spark.operators.densest import densest_subgraph

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("subject"),
        F.concat(F.lit("S"), F.col("l_suppkey")).alias("object"),
    )
    return densest_subgraph(edges)


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap link prediction (operators/linkpred.py):
    common-neighbors / Adamic-Adar / Jaccard for non-adjacent 2-hop
    pairs of the customer–order–nation graph. The wedge join through
    shared neighbors is the triangle-join shape; Adamic-Adar terms
    cross the shuffle as exact micro-integers so per-pair sums are
    order-independent and the oracle matches bit-for-bit."""
    from kg_microbe_merge_spark.operators.linkpred import (
        link_prediction_scores,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    edges = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("subject"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("object"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
        )
    )
    return link_prediction_scores(
        edges, max_center_degree=100, min_common=1
    )


def q_hits_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/hits.py): 4 max-normalized
    power-iteration rounds over the customer→order / customer→nation
    KG — customers are pure hubs, orders/nations pure authorities.
    DuckDB twin unrolls the identical recurrence (8 chained half-step
    CTEs); max-normalization is summation-order independent, so only
    the final round(6) does float reconciliation."""
    from kg_microbe_merge_spark.operators.hits import hits

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    e2 = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    return hits(e1.unionByName(e2), iterations=4)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level boilerplate removal
    (operators/dedup.remove_boilerplate_lines): lines whose trimmed text
    appears in >= 2 distinct documents are cut and the text rebuilt.
    The documents table is single-line, so the gate first rewrites each
    doc as 8-token lines (deterministic in both engines) — near-dup
    docs then share whole lines, which is exactly the boilerplate
    shape. Shuffle key is the 60-bit line hash; rebuild is a row-local
    indexed-filter HOF."""
    from kg_microbe_merge_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s1 = docs.select("doc_id", F.split(F.col("text"), " ").alias("_t"))
    nl = F.ceil(F.size("_t") / F.lit(8.0)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - F.lit(1)),
        lambda i: F.array_join(
            F.slice(F.col("_t"), i * F.lit(8) + F.lit(1), F.lit(8)), " "
        ),
    )
    docs2 = s1.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = remove_boilerplate_lines(docs2, min_df=2, min_line_chars=5)
    # The rebuilt clean_text is a multi-line cell; embedded newlines are
    # canonicalized differently by row-serialization hashers across
    # engines (r3 driver hash-red despite exact cell equality), so the
    # gate emits md5(clean_text) — full-text equality stays in
    # tests/test_line_dedup.py.
    return out.select(
        "doc_id",
        F.md5(F.coalesce(F.col("clean_text"), F.lit(""))).alias(
            "clean_md5"
        ),
        "n_lines",
        "n_removed",
    )


def q_bgp_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-subset UNION (plans/bgp.py): alternative pattern groups
    unioned by variable name (NULL for branch-unbound vars) and joined
    back on the shared variable — per nation, rows from EITHER the
    located_in branch (binds ?c) or the part-supplied branch (binds
    ?s), rolled up so both branch cardinalities are hash-checked."""
    from kg_microbe_merge_spark.plans.bgp import bgp_query

    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    edges = (
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
        )
        .unionByName(
            supplier.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("subject"),
                F.lit("based_in").alias("predicate"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("object"),
            )
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey")).alias("subject"),
                F.lit("part_of").alias("predicate"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("object"),
            )
        )
    )
    m = bgp_query(
        edges,
        [("?n", "part_of", "?r")],
        union=[
            [("?c", "located_in", "?n")],
            [("?s", "based_in", "?n")],
        ],
        select=["?r", "?n", "?c", "?s"],
    )
    return (
        m.groupBy("r", "n")
        .agg(
            F.count("c").alias("n_customers"),
            F.count("s").alias("n_suppliers"),
        )
        .orderBy("r", "n")
    )


def q_cypher_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher-subset passthrough (plans/cypher.py — the local analogue
    of the reference's kg-chat Neo4j backend, reference
    run.py:276-381): label-filtered relationship match + WHERE CONTAINS
    + grouped count, compiled to DataFrame joins."""
    from kg_microbe_merge_spark.plans.cypher import cypher_query

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    nodes = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("id"),
        F.lit("biolink:Customer").alias("category"),
        F.col("c_name").alias("name"),
    ).unionByName(
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("id"),
            F.lit("biolink:Nation").alias("category"),
            F.col("n_name").alias("name"),
        )
    )
    edges = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("subject"),
        F.lit("owns").alias("predicate"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("object"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("subject"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("object"),
        )
    )
    return cypher_query(
        nodes,
        edges,
        "MATCH (c:Customer)-[:owns]->(o) "
        "WHERE c.name CONTAINS '11' "
        "RETURN c.id AS cid, c.name AS cname, count(o) AS n_orders",
    )


def q_near_dup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level near-duplicate resolution: MinHash+LSH pair graph →
    connected components → min-id canonical survivor per cluster
    (operators.dedup.near_dup_clusters). Transitive chains collapse into
    ONE cluster — the decision step greedy pairwise dropping gets
    wrong."""
    from kg_microbe_merge_spark.operators.dedup import near_dup_clusters

    docs = _t(spark, sf_dir, "documents")
    return near_dup_clusters(docs, threshold=0.5, num_hashes=64, bands=16, n=3)


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination: held-out benchmark = deterministic 5%
    id-hash slice of documents; for every training doc (the complement),
    count distinct 3-gram shingles and how many also occur in the
    benchmark (operators.dedup.benchmark_contamination — broadcast
    benchmark shingle set, ONE corpus-side exchange). Exact integer
    counts; only contaminated docs returned."""
    from kg_microbe_merge_spark.operators.dedup import benchmark_contamination
    from kg_microbe_merge_spark.operators.split import (
        deterministic_complement,
        deterministic_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = deterministic_sample(docs, 0.05, id_col="doc_id", salt="bench")
    train = deterministic_complement(docs, 0.05, id_col="doc_id", salt="bench")
    return benchmark_contamination(train, bench, n=3).filter(
        F.col("n_contaminated") > 0
    )


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-graph summary report (legacy KGX graph-stats analogue,
    reference merge.py:50-60): node count per merged category, edge
    count per predicate, totals — one partial-aggregable pass each."""
    from kg_microbe_merge_spark.operators.stats import graph_stats

    nodes = nodes_merge(
        _kgx_nodes_from_lineitem(spark, sf_dir), ["R"], sort_output=False
    )
    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("subject"),
        F.col("l_returnflag").alias("predicate"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("object"),
    )
    return graph_stats(nodes, edges_merge(e, sort_output=False))


def q_cc_chain_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 adversarial shape: per-nation DEEP CHAINS (diameter = customers
    per nation) of which the even-nation chains are fused through one
    HUB node into a single giant high-diameter component — the shape
    that breaks naive label propagation (O(diameter) rounds) and that
    large-star/small-star converges on in O(log² n). DuckDB oracle is a
    recursive-CTE reachability closure."""
    customer = _t(spark, sf_dir, "customer")
    cid = F.concat(F.lit("C"), F.col("c_custkey"))
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    chain = (
        customer.select(
            cid.alias("src"),
            F.lead(cid).over(w).alias("dst"),
            "c_nationkey",
        )
        .filter(F.col("dst").isNotNull())
        .select("src", "dst")
    )
    hub = (
        customer.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("c_nationkey") % 2 == 0))
        .select(F.lit("HUB").alias("src"), cid.alias("dst"))
    )
    return connected_components(chain.unionByName(hub))


def q_cc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: distributed connected components (large-star/small-star) over
    a customer–order–nation graph; component = lexicographic min id."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    e2 = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    return connected_components(e1.unionByName(e2))


def q_kg_incremental_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components
    (operators/components.connected_components_incremental): the prior
    assignment is the customer–nation graph's CC (25 nation-sized
    components); the delta both MERGES existing components (every 53rd
    customer gains an edge to nation (n+5)%25 — gcd(5,25)=5 fuses the
    25 nations into 5 five-nation components) and ATTACHES brand-new
    nodes (every 101st order links to its customer). The full
    assignment is touched by exactly two broadcast joins, never
    shuffled (plan-asserted in tests/test_components.py); the quotient
    CC run is delta-sized. Oracle: recursive-CTE min-id closure over
    the UNION of old and delta edges — incremental fold ≡ full
    recompute is the invariant."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    # The prior assignment is READ, not recomputed — exactly as a real
    # incremental run reads the last committed snapshot (re-running the
    # full CC here would bench the full-recompute operator a second
    # time; cc_components already covers it). The customer–nation
    # graph's CC labels are constructible in one groupBy: each nation's
    # component is {N<n>} ∪ {C<c> ∀ its customers} and the label is the
    # lexicographic min node id ("C…" < "N…"), byte-identical to
    # connected_components(base) output (asserted in
    # tests/test_components.py::test_incremental_cc_gate_assignment).
    per_nation = customer.groupBy("c_nationkey").agg(
        F.min(F.concat(F.lit("C"), F.col("c_custkey"))).alias("_min_c")
    )
    comp = F.least(
        F.col("_min_c"), F.concat(F.lit("N"), F.col("c_nationkey"))
    ).alias("component")
    assignment = (
        customer.join(F.broadcast(per_nation), "c_nationkey")
        .select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("node"), comp
        )
        .unionByName(
            per_nation.select(
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("node"),
                comp,
            )
        )
    )
    delta_merge = customer.filter(F.col("c_custkey") % 53 == 0).select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), (F.col("c_nationkey") + 5) % 25).alias("dst"),
    )
    delta_new = orders.filter(F.col("o_orderkey") % 101 == 0).select(
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("src"),
        F.concat(F.lit("C"), F.col("o_custkey")).alias("dst"),
    )
    return connected_components_incremental(
        assignment, delta_merge.unionByName(delta_new)
    )


def q_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/chunking.py): window=24,
    stride=16 token windows over the en documents — the LLM-sequence
    segmentation op (chunking cuts long docs down to sequence length;
    its dual, sequence_packing, bins short ones up). Row-local:
    tokenize-once barrier + transform over a sequence of starts +
    explode, ZERO exchange and zero Python; emission stops with the
    first window that reaches the document end (no chunk is a subset
    of its predecessor). Oracle: DuckDB
    range(0, greatest(n-window,0)+stride, stride) unnest + 1-based
    inclusive list slicing."""
    from kg_microbe_merge_spark.operators.chunking import chunk_documents

    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return chunk_documents(d, window=24, stride=16)


def q_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source k-hop BFS (operators/bfs.py) over the same
    customer–order–nation KG as ``cc_components``, undirected, from two
    nation seeds, max 2 hops — hop layers: seed nations (0), their
    customers (1), those customers' orders (2). Oracle: DuckDB
    recursive CTE bounded at dist<2 with min-dist aggregation."""
    from kg_microbe_merge_spark.operators.bfs import bfs_distances

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    e2 = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    seeds = local_relation(spark, [("N1",), ("N2",)], "id string")
    return bfs_distances(
        e1.unionByName(e2), seeds, max_hops=2, src="src", dst="dst",
        directed=False,
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (operators/triangles.py, degree-oriented
    wedge join) over a supplier–nation–region graph where every supplier
    closes exactly one triangle with its nation and region. Oracle:
    generic 3-way self-join enumeration with a<b<c ordering."""
    from kg_microbe_merge_spark.operators.triangles import triangle_counts

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    e1 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("subject"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("object"),
    )
    e2 = supplier.select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("subject"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("object"),
    )
    e3 = (
        supplier.join(nation, supplier["s_nationkey"] == nation["n_nationkey"])
        .select(
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("subject"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("object"),
        )
    )
    return triangle_counts(e1.unionByName(e2).unionByName(e3))


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficients
    (operators/triangles.clustering_coefficients) over the same
    supplier–nation–region graph as triangle_counts: degree partial-agg
    + degree-oriented triangle counts + one left join; ratio pinned
    with the micro protocol. Oracle re-derives degrees and the generic
    a<b<c triangle enumeration relationally."""
    from kg_microbe_merge_spark.operators.triangles import (
        clustering_coefficients,
    )

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    e1 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("subject"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("object"),
    )
    e2 = supplier.select(
        F.concat(F.lit("S"), F.col("s_suppkey")).alias("subject"),
        F.concat(F.lit("N"), F.col("s_nationkey")).alias("object"),
    )
    e3 = (
        supplier.join(nation, supplier["s_nationkey"] == nation["n_nationkey"])
        .select(
            F.concat(F.lit("S"), F.col("s_suppkey")).alias("subject"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("object"),
        )
    )
    return clustering_coefficients(e1.unionByName(e2).unionByName(e3))


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (2 assignment passes, k=4) over the embeddings
    table — deterministic hash60 init, all cross-engine floats rounded
    to 6 decimals, so the DuckDB twin reproduces every assignment."""
    e = _t(spark, sf_dir, "embeddings")
    return kmeans_assignments(e, k=4, iterations=2)


def q_pagerank_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (5 power iterations, d=0.85) over the same
    customer→order / customer→nation KG as ``cc_components``. The DuckDB
    twin unrolls the identical recurrence as 5 chained CTEs — an exact
    oracle for an iterative DataFrame algorithm."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    e1 = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    e2 = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    return pagerank(e1.unionByName(e2), iterations=5, damping=0.85)


# ---------------------------------------------------------------------------
# queries — training-data pipeline operators (documents / embeddings)


def q_triples_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side SVO triple extraction over the documents table
    (regexp_extract_all — zero Python; the pandas-UDF twin is
    pytest-verified on the HTML corpus)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    out = extract_triples_regexp(
        d.select("doc_id", "text"),
        verbs=["join", "merge", "scan", "filter"],
        stop=["a", "the"],
    )
    return out.select("doc_id", "subj", "pred", "obj")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via normalized-content hash groupBy."""
    d = _t(spark, sf_dir, "documents")
    return dedup_exact(d, text_col="text", id_col="doc_id")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counts (ws + BPE-ish), md5 fingerprint,
    heuristic lang-id, composite quality score."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_ws(t).alias("n_tok"),
        token_count_bpe_ish(t).alias("n_bpe"),
        fingerprint_md5(t).alias("fingerprint"),
        lang_id_en(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
    )


def q_suffix_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed suffix-array construction (operators/suffix.py,
    prefix doubling — the Lee et al. exact-substring machinery) over
    the hash-ordered token stream of a bounded document slice. Each
    round is one position-key equi-join + a range-sorted dense-id mint
    (two-level zipWithIndex prefix sum, never a global window); the
    oracle materializes every suffix as a space-joined string and
    sorts (valid because ' ' sorts below every token char)."""
    from kg_microbe_merge_spark.operators.suffix import (
        corpus_token_stream,
        suffix_ranks,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    stream = corpus_token_stream(d, text_col="text", id_col="doc_id")
    return suffix_ranks(stream).select("pos", "rank")


def q_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-duplication coverage
    (operators/suffix.duplicated_coverage): the doc-level rollup of
    exact_dup_runs — both endpoints of every qualifying adjacent pair
    become a clipped interval, unioned per doc with ONE row-local
    sorted-interval fold. The oracle unions relationally
    (gaps-and-islands)."""
    from kg_microbe_merge_spark.operators.suffix import duplicated_coverage

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    return duplicated_coverage(d, min_len=2)


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key computation (operators/layout.py): equi-width
    bucketize user_id and value, Morton-interleave the bucket bits into
    one BIGINT — a static shift/mask/OR codegen tree, zero shuffle,
    zero Python. This is the sort key `write_zordered` range-clusters
    files by, giving parquet min/max pruning on EVERY interleaved
    dimension (footer-stat evidence in tests/test_layout.py); the
    oracle evaluates the identical expression generated for SQL by the
    same module."""
    from kg_microbe_merge_spark.operators.layout import bucketize, z_value

    ev = _t(spark, sf_dir, "events")
    bu = bucketize(F.col("user_id"), 0.0, 256.0, 8)
    bv = bucketize(F.col("value"), 0.0, 512.0, 8)
    return ev.select(
        "event_id",
        bu.alias("bucket_user"),
        bv.alias("bucket_value"),
        z_value([bu, bv], bits=8).alias("z"),
    )


def q_exact_dup_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-length EXACT duplicated-run detection
    (operators/suffix.duplicated_runs — the suffix-array half of Lee
    et al. substring dedup): LCP array via the doubling-LCP walk over
    the prefix-doubling rank ladder (O(log n) bounded joins, no suffix
    ever materialized, no Kasai sequential scan), filtered to adjacent
    suffix pairs sharing ≥ min_len leading tokens. The oracle computes
    each adjacent pair's token-level LCP as the first-mismatch index
    over the materialized corpus list."""
    from kg_microbe_merge_spark.operators.suffix import (
        corpus_token_stream,
        duplicated_runs,
    )

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    stream = corpus_token_stream(d, text_col="text", id_col="doc_id")
    return duplicated_runs(stream, min_len=2).select(
        "rank", "pos", "prev_pos", "lcp"
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/semdedup.py, Abbas et al.
    2023): k-means clusters (literal-centroid zero-shuffle assignment)
    → within-cluster round-6 cosine pairs (hash join on the cluster id,
    O(Σcᵢ²) not O(N²)) → connected components → min-id survivors for
    every vector. Oracle: shared Lloyd CTE chain + relational pair
    join + recursive-CTE connectivity."""
    from kg_microbe_merge_spark.operators.semdedup import semantic_dedup

    em = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(em, k=4, iterations=2, threshold=0.4)


def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (operators/katz.py) over the
    customer→order / customer→nation KG — attenuated walk counting
    with the per-round integer-floor micro protocol (zero floats), so
    the unrolled DuckDB twin matches bit for bit. Unlike PageRank,
    endorsement is not divided by out-degree — the natural prior for
    alias/same_as endorsement edges."""
    from kg_microbe_merge_spark.operators.katz import katz_centrality

    o = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    return katz_centrality(
        o.unionByName(c), alpha_micro=200_000, iterations=4
    )


def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled bounded-hop Brandes betweenness
    (operators/betweenness.py) over the customer→order entry edges +
    per-customer order chains — interior chain orders broker their
    customer's later orders. Deterministic hash-sampled sources,
    per-term-floored integer dependency protocol (zero floats);
    oracle GENERATED by the module (forward sigma rounds + backward
    dependency rounds unrolled)."""
    from kg_microbe_merge_spark.operators.betweenness import (
        betweenness_centrality,
    )
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    chain = (
        orders.select(
            F.col("o_orderkey").alias("k"),
            F.lead("o_orderkey").over(w).alias("nk"),
        )
        .filter(F.col("nk").isNotNull())
        .select(
            F.concat(F.lit("O"), F.col("k")).alias("src"),
            F.concat(F.lit("O"), F.col("nk")).alias("dst"),
        )
    )
    entries = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    return betweenness_centrality(
        chain.unionByName(entries), k_sources=8, max_hops=4
    )


def q_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering (operators/dbscan.py) over SemDeDup's
    kmeans-cell-bounded cosine pair relation: core (≥min_pts
    neighbors), border (min core-neighbor cluster — deterministic
    pinning), noise; clusters = min-id CC over core–core edges only,
    so borders never chain clusters. Oracle: the shared Lloyd/pair
    CTE chain feeding the module-generated dbscan twin."""
    from kg_microbe_merge_spark.operators.dbscan import dbscan_from_pairs
    from kg_microbe_merge_spark.operators.semdedup import (
        semantic_dedup_pairs,
    )

    em = _t(spark, sf_dir, "embeddings")
    pairs = semantic_dedup_pairs(em, k=4, iterations=2, threshold=0.35)
    return dbscan_from_pairs(pairs, min_pts=3)


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities
    (operators/labelprop.py) over the undirected customer/order/nation
    graph (the same relation family as pagerank_kg): 4 deterministic
    rounds, min-tie-break mode voting — edges shuffled once and
    persisted, two map-side-combinable exchanges per round, O(1)
    lineage via eager checkpoints. The oracle unrolls the identical
    recurrence as chained CTEs."""
    from kg_microbe_merge_spark.operators.labelprop import label_propagation

    o = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    return label_propagation(o.unionByName(c), iterations=4)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality battery (functions/gopher.py,
    Rae et al. 2021 A1.1): repetition (top-2/3-gram + duplicated-5-gram
    character fractions via ONE sorted-array fold per n), shape (mean
    word length, symbol-to-word ratio, alphabetic-word fraction) and
    the composite keep decision — all row-local JVM codegen over a
    single tokenize-once barrier, zero Exchange (plan-asserted in
    tests/test_gopher.py). Fractions pinned with the repo's
    floor(x·1e6+0.5) protocol; the oracle recomputes every statistic
    relationally (unnest + GROUP BY + deterministic (count desc, gram
    asc) top-1)."""
    d = _t(spark, sf_dir, "documents")
    return gopher_keep(gopher_signals(d)).select(
        "doc_id",
        "n_tok",
        "mean_word_len",
        "symbol_word_ratio",
        "alpha_word_frac",
        "top_2gram_frac",
        "top_3gram_frac",
        "dup_5gram_frac",
        "keep",
    )


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (functions/quality_model.py): a
    hashed-feature linear classifier (fastText/CCNet-style filter-model
    inference) scored entirely JVM-side — the integer weight table is
    inlined as an array literal into whole-stage codegen, tokens reuse
    the row-local normalize+split, ZERO shuffle / zero Python. Exact
    oracle: integer fold + one rounded double division."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return d.select(
        "doc_id",
        token_count_ws(t).alias("n_tok"),
        hashed_linear_score(t).alias("model_score"),
        model_keep(t, threshold=0.0).alias("keep"),
    )


def _pii_augmented_text_col() -> F.Column:
    """Deterministic PII injection (Spark side): the synthetic documents
    carry no PII, so the query plants one email / phone / IPv4 / SSN per
    row, derived from doc_id, before scrubbing — the oracle builds the
    IDENTICAL string, so the hash compare exercises real redaction work
    on every row."""
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" Contact: user"),
        did.cast("string"),
        F.lit("@example.com or 555-123-4567, host 10.0."),
        (did % 256).cast("string"),
        F.lit(".21, ssn 219-09-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit("."),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (functions/pii.py): per-category match counts + fully
    redacted text, all regexp_count/regexp_replace inside whole-stage
    codegen — zero Python, zero shuffle; the RE2-safe patterns run
    verbatim in the DuckDB oracle, which hash-compares the redacted
    text itself."""
    d = _t(spark, sf_dir, "documents")
    aug = _pii_augmented_text_col()
    counts = pii_counts(aug)
    return d.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["ssn"].alias("n_ssn"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        has_pii(aug).alias("has_pii"),
        redact_pii(aug).alias("redacted"),
    )


def _url_synth_col() -> F.Column:
    """Deterministic URL synthesis (Spark side): documents carry no url
    column, so the query builds one per row from (source, doc_id) —
    multi-label host, 0-3 path segments, sometimes a query string — and
    the oracle builds the identical string."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.col("source"),
        (did % 5).cast("string"),
        F.lit(".example"),
        (did % 4).cast("string"),
        F.lit(".com"),
        F.repeat(F.lit("/seg"), (did % 4).cast("int")),
        F.when(did % 3 == 0, F.concat(F.lit("?utm=c"), (did % 9).cast("string")))
        .otherwise(F.lit("")),
    )


def q_url_parse_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing + per-domain density (functions/urls.py): host /
    registered-domain / path-depth / query-param extraction per row
    (whole-stage codegen, RE2-safe regexes shared verbatim with the
    oracle), plus each row's domain page count via a partition-only
    window — the per-domain rollup signal without collapsing rows."""
    d = _t(spark, sf_dir, "documents")
    u = _url_synth_col()
    w = Window.partitionBy("domain")
    return (
        d.select(
            "doc_id",
            u.alias("url"),
            url_host(u).alias("host"),
            registered_domain(u).alias("domain"),
            path_depth(u).alias("depth"),
            query_param(u, "utm").alias("utm"),
        )
        .withColumn("domain_pages", F.count(F.lit(1)).over(w))
    )


def _messy_url_col() -> F.Column:
    """Deterministic MESSY URL synthesis (Spark side): mixed-case
    scheme/host, default and non-default ports, tracking params mixed
    with real ones in non-canonical order, fragments, trailing
    slashes — everything frontier.canonical_url must normalize. The
    oracle builds the identical string (``_MESSY_URL_SQL``)."""
    did = F.col("doc_id")
    hostbase = F.concat(
        F.lit("www."),
        F.col("source"),
        (did % 5).cast("string"),
        F.lit(".com"),
    )
    return F.concat(
        F.when(did % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 2 == 0, F.upper(hostbase)).otherwise(hostbase),
        F.when((did % 2 == 0) & (did % 5 == 0), F.lit(":80"))
        .when((did % 2 == 1) & (did % 5 == 1), F.lit(":443"))
        .when(did % 5 == 2, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.repeat(F.lit("/Seg"), (did % 3).cast("int")),
        F.when(did % 4 == 2, F.lit("/")).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("?utm_source=x&page="),
                (did % 7).cast("string"),
                F.lit("&gclid=1"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(F.lit("?b=2&a="), (did % 7).cast("string")),
        )
        .otherwise(F.lit("")),
        F.when(
            did % 4 == 1,
            F.concat(F.lit("#sec"), (did % 3).cast("string")),
        ).otherwise(F.lit("")),
    )


_MESSY_URL_SQL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)"
    " || '://'"
    " || (CASE WHEN doc_id % 2 = 0"
    "      THEN upper('www.' || source || cast(doc_id % 5 AS VARCHAR)"
    "                 || '.com')"
    "      ELSE 'www.' || source || cast(doc_id % 5 AS VARCHAR)"
    "           || '.com' END)"
    " || (CASE WHEN doc_id % 2 = 0 AND doc_id % 5 = 0 THEN ':80'"
    "      WHEN doc_id % 2 = 1 AND doc_id % 5 = 1 THEN ':443'"
    "      WHEN doc_id % 5 = 2 THEN ':8080' ELSE '' END)"
    " || repeat('/Seg', cast(doc_id % 3 AS INTEGER))"
    " || (CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END)"
    " || (CASE WHEN doc_id % 3 = 0"
    "      THEN '?utm_source=x&page=' || cast(doc_id % 7 AS VARCHAR)"
    "           || '&gclid=1'"
    "      WHEN doc_id % 3 = 1"
    "      THEN '?b=2&a=' || cast(doc_id % 7 AS VARCHAR)"
    "      ELSE '' END)"
    " || (CASE WHEN doc_id % 4 = 1"
    "      THEN '#sec' || cast(doc_id % 3 AS VARCHAR) ELSE '' END)"
)


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier URL canonicalization (operators/frontier.py):
    fragment strip, scheme+authority lowercase, default-port drop,
    tracking-param drop + alphabetical param sort, trailing-slash drop
    — all row-local codegen, zero shuffle — plus the per-canonical
    collapse count (the frontier exact-dup signal). Oracle: identical
    messy-URL synthesis + the module-generated canonical expression."""
    from kg_microbe_merge_spark.operators.frontier import canonicalize_urls

    d = _t(spark, sf_dir, "documents")
    urls = d.select("doc_id", _messy_url_col().alias("url"))
    return canonicalize_urls(urls)


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-partitioned fetch scheduling (operators/frontier.py):
    canonical frontier → per-host waves (row_number over (priority
    DESC, url ASC)); the per-host budget cap (8) is a filter on the
    rank, which Spark runs as WindowGroupLimit with a map-side Partial
    rank — hub hosts are bounded BEFORE the one hash exchange.
    Oracle: module-generated twin (same window order and cap)."""
    from kg_microbe_merge_spark.operators.frontier import (
        canonicalize_urls,
        fetch_schedule,
    )

    d = _t(spark, sf_dir, "documents")
    urls = d.select(_messy_url_col().alias("url"))
    canon = (
        canonicalize_urls(urls).select("canonical_url").distinct()
    )
    return fetch_schedule(canon, max_per_host=8)


def _robots_host_col() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.lit("www."),
        F.col("source"),
        (did % 5).cast("string"),
        F.lit(".com"),
    )


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt fetch gating (operators/robots.py): deterministic
    per-host robots TEXT (groups for * and KGBot, wildcard rule the
    parser must drop, empty Disallow it must ignore) is parsed by the
    real Arrow-batched RFC 9309 parser, then urls are gated via the
    longest-prefix / allow-wins / default-allowed evaluation — one
    host join + one map-side-combinable max(struct) agg, no window.
    Oracle: identical rule synthesis straight from the same hash
    conditions (skipping the text round-trip) + the module-generated
    evaluation twin, so parse+evaluate is checked end-to-end."""
    from kg_microbe_merge_spark.functions.hashing import hash60
    from kg_microbe_merge_spark.operators.robots import (
        parse_robots,
        robots_decisions,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    host = _robots_host_col()
    path = F.concat(
        F.repeat(F.lit("/Seg"), (did % 3).cast("int")),
        F.when(did % 4 == 2, F.lit("/")).otherwise(F.lit("")),
    )
    urls = d.select(
        F.concat(F.lit("https://"), host, path).alias("url")
    )
    b = hash60(F.col("host")) % 6
    txt = F.concat(
        F.lit(
            "# synthetic policy\nUser-agent: *\nDisallow: /Seg\n"
            "Allow: /Seg/Seg\nDisallow: /*.php$\n"
        ),
        F.when(b == 0, F.lit("Disallow: /\n")).otherwise(F.lit("")),
        F.when(
            b.isin(1, 2),
            F.lit("\nUser-agent: KGBot\nDisallow: /Seg/Seg\n"),
        ).otherwise(F.lit("")),
        F.when(b == 1, F.lit("Disallow:\n")).otherwise(F.lit("")),
        F.when(b == 2, F.lit("Allow: /Seg\n")).otherwise(F.lit("")),
    )
    robots = d.select(host.alias("host")).distinct().select(
        "host", txt.alias("robots_txt")
    )
    rules = parse_robots(robots, user_agent="kgbot")
    return robots_decisions(urls, rules)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 characteristic terms per document
    (operators/tfidf.py): row-local tokenize → map-side-combined TF →
    DF as a plain re-count of TF rows → broadcast-or-shuffle join on
    term → bounded window top-k; smoothed idf, round-6 float protocol,
    total (weight desc, term asc) order."""
    d = _t(spark, sf_dir, "documents")
    return tfidf_topk(d, k=3).withColumn(
        "rank", F.col("rank").cast("int")
    )


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/pq.py): per-subspace Lloyd
    training (one job per round for ALL subspaces, O(partitions·k·dim)
    shuffle), zero-shuffle encode to m codes, and ADC top-10 for row 0's
    vector via a driver-inlined m×k lookup table. The oracle
    (module-generated, the sketches convention) RETRAINS the codebooks
    itself — a match verifies train + encode + search end to end."""
    e = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(e, m=4, k=4, iterations=2, dim=64)
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    query = [float(x) for x in qrow[0]]
    return pq_topk(pq_encode(e, books), query, books, k=10)


def _scc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic directed graph over doc ids: each 8-id group is a
    6-cycle (positions 0-5) plus two tail nodes (positions 6-7) that
    point INTO the cycle with no return — SCCs are the 6-cycles
    (component = group base), tails are trim-settled singletons."""
    d = _t(spark, sf_dir, "documents").select("doc_id")
    base = F.col("doc_id") - F.col("doc_id") % 8
    pos = F.col("doc_id") % 8
    return d.select(
        F.col("doc_id").alias("src"),
        F.when(pos < 6, base + (pos + 1) % 6).otherwise(base).alias("dst"),
    )


def q_scc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (operators/scc.py — min-label
    forward-backward with iterated trim): directed mutual-reachability
    clusters with min-id canonical, the directed complement of
    cc_components (one-way edges must NOT merge). Oracle: DuckDB
    recursive-CTE transitive closure → mutual pairs → per-node min."""
    from kg_microbe_merge_spark.operators.scc import (
        strongly_connected_components,
    )

    return strongly_connected_components(_scc_edges(spark, sf_dir))


def q_dag_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path topological layering (operators/scc.py
    topological_levels — Kahn peeling, one level per round): doc ids in
    16-id blocks form chains i→i+1 with skip edges i→i+2 every 4th
    position, so levels = position in chain (skips don't shorten the
    LONGEST path). Oracle: recursive-CTE all-paths-from-sources →
    max depth per node — independent of the peeling derivation."""
    from kg_microbe_merge_spark.operators.scc import topological_levels

    d = _t(spark, sf_dir, "documents").select("doc_id")
    base = F.col("doc_id") - F.col("doc_id") % 16
    pos = F.col("doc_id") % 16
    chain = d.filter(pos < 15).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    skip = d.filter((pos % 4 == 0) & (pos < 14)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 2).alias("dst")
    )
    return topological_levels(chain.unionByName(skip))


def q_kg_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite domain/range validation (operators/validate.py) over
    MERGED nodes — the pipe-joined multi-valued category sets the A3
    merge emits are exactly what the membership test must split — and
    a deterministic constrained edge set (object = orderkey+32, often
    absent: missing endpoints must surface as NULL actual, never pass
    silently). Broadcast expectations join + two id-equi node joins.
    Oracle: the A3 merge SQL as the node CTE + the module-generated
    evaluation twin."""
    from kg_microbe_merge_spark.operators.validate import (
        domain_range_violations,
    )

    nodes = nodes_merge(_kgx_nodes_from_lineitem(spark, sf_dir), ["R"])
    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("L:"), F.col("o_orderkey")).alias("subject"),
        F.concat(F.lit("rel:"), F.col("o_orderstatus")).alias("predicate"),
        F.concat(F.lit("L:"), F.col("o_orderkey") + 32).alias("object"),
    )
    expect = local_relation(
        spark,
        [("rel:O", "R", "A"), ("rel:F", "A", "N"), ("rel:P", "N", "R")],
        "predicate string, subject_category string, object_category string",
    )
    return domain_range_violations(edges, nodes, expect)


#: RDFS-lite TBox for the entailment gate: a 3-deep property chain
#: with domain/range on the bottom property, a 3-deep class chain —
#: every rule (rdfs2/3/5/7/9/11) fires on the nation ABox.
_ENTAIL_TBOX = [
    ("located_in", "rdfs:subPropertyOf", "part_of"),
    ("part_of", "rdfs:subPropertyOf", "related_to"),
    ("located_in", "rdfs:domain", "Nation"),
    ("located_in", "rdfs:range", "Region"),
    ("part_of", "rdfs:domain", "Place"),
    ("Nation", "rdfs:subClassOf", "Place"),
    ("Region", "rdfs:subClassOf", "Place"),
    ("Place", "rdfs:subClassOf", "Entity"),
]


def q_rdfs_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS-lite entailment materialization (operators/entailment.py):
    stratified rdfs2/3/5/7/9/11 forward chaining — TBox closed by path
    doubling then BROADCAST against the ABox, which is scanned once per
    rule pass with zero shuffle before the final distinct
    (plan-asserted in tests/test_entailment.py). ABox: every nation
    located_in its region, rdf:type asserted only for even nationkeys
    so the domain rule must derive the odd ones and the range rule all
    Region types. Oracle: independent recursive-CTE closures + rule
    joins (module-generated twin, linear frontier vs engine doubling)."""
    from kg_microbe_merge_spark.operators.entailment import rdfs_entailment

    n = _t(spark, sf_dir, "nation")
    abox = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
        F.lit("located_in").alias("predicate"),
        F.concat(F.lit("R:"), F.col("n_regionkey")).alias("object"),
    ).unionByName(
        n.filter(F.col("n_nationkey") % 2 == 0).select(
            F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
            F.lit("rdf:type").alias("predicate"),
            F.lit("Nation").alias("object"),
        )
    )
    tbox = local_relation(
        spark, _ENTAIL_TBOX, "subject string, predicate string, object string"
    )
    return rdfs_entailment(abox, tbox)


def q_entailment_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY-provenance of the RDFS entailment
    (operators/entailment.rdfs_entailment_provenance): every entailed
    triple with the sorted pipe-joined set of rule tags that produce
    it (asserted/rdfs2/3/5/7/9/11) — same broadcast rule streams as
    rdfs_entailment, the output distinct upgraded to one grouped
    set-agg (the A3 pipe convention). Oracle: module-generated tagged
    twin over the same nation ABox + literal TBox."""
    from kg_microbe_merge_spark.operators.entailment import (
        rdfs_entailment_provenance,
    )

    n = _t(spark, sf_dir, "nation")
    abox = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
        F.lit("located_in").alias("predicate"),
        F.concat(F.lit("R:"), F.col("n_regionkey")).alias("object"),
    ).unionByName(
        n.filter(F.col("n_nationkey") % 2 == 0).select(
            F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
            F.lit("rdf:type").alias("predicate"),
            F.lit("Nation").alias("object"),
        )
    )
    tbox = local_relation(
        spark, _ENTAIL_TBOX, "subject string, predicate string, object string"
    )
    return rdfs_entailment_provenance(abox, tbox)


def q_semantic_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC / Resnik / Lin ontology similarity (operators/semsim.py):
    taxonomy = nation→region→ROOT, annotations = customers on their
    nation term (freq = distinct annotated customers in each subtree),
    pairs = same-region nation pairs (a < b — the bounded candidate
    set an ER blocker would emit). Micro-integer IC protocol (floor
    ln-micro round-half) so both engines hash identical BIGINTs; Lin
    is defined on the micro ICs. Oracle: recursive-CTE closure + the
    module-generated ic/lin SQL twins."""
    from kg_microbe_merge_spark.operators.semsim import (
        information_content,
        lin_similarity,
        reflexive,
    )
    from kg_microbe_merge_spark.operators.closure import transitive_closure

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    edges = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("R:"), F.col("n_regionkey")).alias("dst"),
    ).unionByName(
        r.select(
            F.concat(F.lit("R:"), F.col("r_regionkey")).alias("src"),
            F.lit("ROOT").alias("dst"),
        )
    )
    clo = reflexive(transitive_closure(edges))
    ann = _t(spark, sf_dir, "customer").select(
        F.concat(F.lit("C:"), F.col("c_custkey")).alias("entity"),
        F.concat(F.lit("N:"), F.col("c_nationkey")).alias("term"),
    )
    ic = information_content(ann, clo)
    a = n.select(
        F.col("n_nationkey").alias("ka"), F.col("n_regionkey").alias("rk")
    )
    b = n.select(
        F.col("n_nationkey").alias("kb"), F.col("n_regionkey").alias("rk")
    )
    pairs = (
        a.join(b, "rk")
        .filter(F.col("ka") < F.col("kb"))
        .select(
            F.concat(F.lit("N:"), F.col("ka")).alias("a"),
            F.concat(F.lit("N:"), F.col("kb")).alias("b"),
        )
    )
    return lin_similarity(pairs, clo, ic)


#: OWL-lite TBox for the owl_entailment gate: subPropertyOf feeding a
#: transitive predicate, an inverse pair, a symmetric predicate, and
#: domain/range + subClassOf so every stratum fires.
_OWL_TBOX = [
    ("located_in", "rdfs:subPropertyOf", "part_of"),
    ("part_of", "rdf:type", "owl:TransitiveProperty"),
    ("located_in", "owl:inverseOf", "contains"),
    ("adjacent_to", "rdf:type", "owl:SymmetricProperty"),
    ("located_in", "rdfs:domain", "Nation"),
    ("located_in", "rdfs:range", "Region"),
    ("Nation", "rdfs:subClassOf", "Place"),
    ("Region", "rdfs:subClassOf", "Place"),
]


def q_owl_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS+OWL-lite entailment (operators/entailment.py
    rdfs_owl_entailment): the signed predicate-implication lattice
    (subPropertyOf/inverseOf/symmetric closed TBox-side, ONE broadcast
    ABox mapping), per-predicate path-doubling closure for
    owl:TransitiveProperty, post-closure lattice mapping, then
    domain/range + subclass typing. ABox: nations located_in regions
    (lifting into the transitive part_of), regions part_of ROOT (so
    the closure derives N→ROOT), even-key adjacency (symmetric
    mirror). Oracle: the module-generated recursive-CTE twin."""
    from kg_microbe_merge_spark.operators.entailment import (
        rdfs_owl_entailment,
    )

    n = _t(spark, sf_dir, "nation")
    abox = (
        n.select(
            F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
            F.lit("located_in").alias("predicate"),
            F.concat(F.lit("R:"), F.col("n_regionkey")).alias("object"),
        )
        .unionByName(
            n.select(F.col("n_regionkey").alias("k"))
            .distinct()
            .select(
                F.concat(F.lit("R:"), F.col("k")).alias("subject"),
                F.lit("part_of").alias("predicate"),
                F.lit("ROOT").alias("object"),
            )
        )
        .unionByName(
            n.filter(F.col("n_nationkey") % 2 == 0).select(
                F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
                F.lit("adjacent_to").alias("predicate"),
                F.concat(F.lit("N:"), F.col("n_nationkey") + 1).alias(
                    "object"
                ),
            )
        )
    )
    tbox = local_relation(
        spark, _OWL_TBOX, "subject string, predicate string, object string"
    )
    return rdfs_owl_entailment(abox, tbox)


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiler (operators/profile.py): row count +
    per-column nulls / EXACT distinct / native-type min-max over five
    orders columns in a single Expand-based aggregation (one hash
    exchange + one single-partition gather, plan-asserted). The exact
    twin the HLL/KMV sketch family is judged against; feeds broadcast
    and salt decisions. Oracle: per-column independent re-derivation."""
    from kg_microbe_merge_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "orders"),
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            "o_orderpriority",
        ],
    )


def q_kg_incremental_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental transitive-closure fold (operators/closure.py
    incremental_closure): the chain edges close first (the snapshot),
    then the skip edges fold in as the delta — work proportional to
    the NEW paths, snapshot never re-closed (the upsert/incremental-CC
    fold-not-rebuild shape). Oracle: the full recursive-CTE re-closure
    over chain ∪ skip — fold ≡ re-closure by pure set semantics."""
    from kg_microbe_merge_spark.operators.closure import (
        incremental_closure,
        transitive_closure,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pos = F.col("doc_id") % 16
    chain = d.filter(pos < 15).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    skip = d.filter((pos % 4 == 0) & (pos < 14)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 2).alias("dst")
    )
    return incremental_closure(transitive_closure(chain), skip)


def q_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths (operators/sssp.py):
    frontier Bellman-Ford — per round ONE frontier⋈edges join +
    map-side min agg + outer merge, improvement-only frontier, exact
    ≤max_hops-edge semantics. Graph: the chain+skip doc DAG with
    deterministic integer weights (chain w = doc_id%7+1, skip w = 1 —
    skips genuinely shortcut), sources = block heads. Oracle:
    independent bounded-walk path enumeration (module-generated) vs
    the engine's relaxation."""
    from kg_microbe_merge_spark.operators.sssp import sssp

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pos = F.col("doc_id") % 16
    chain = d.filter(pos < 15).select(
        F.col("doc_id").alias("subject"),
        (F.col("doc_id") + 1).alias("object"),
        (F.col("doc_id") % 7 + 1).alias("weight"),
    )
    skip = d.filter((pos % 4 == 0) & (pos < 14)).select(
        F.col("doc_id").alias("subject"),
        (F.col("doc_id") + 2).alias("object"),
        F.lit(1).alias("weight"),
    )
    sources = d.filter(pos == 0).select(F.col("doc_id").alias("id"))
    return sssp(
        chain.unionByName(skip), sources, max_hops=20,
        with_predecessor=True,
    )


def q_kg_incremental_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental entailment maintenance (operators/entailment.py
    incremental_entailment): the even-nationkey half of the owl gate
    ABox entails first (the snapshot), then the odd located_in edges +
    the adjacency edges fold in as the delta — every stratum folds
    (lattice mapping of the delta only, incremental per-predicate
    closure against the snapshot's closed pairs, typing of new rows
    only). Oracle: the full re-entailment twin over ALL rows — fold ≡
    re-entailment by monotonicity."""
    from kg_microbe_merge_spark.operators.entailment import (
        incremental_entailment,
        rdfs_owl_entailment,
    )

    n = _t(spark, sf_dir, "nation")
    located = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
        F.lit("located_in").alias("predicate"),
        F.concat(F.lit("R:"), F.col("n_regionkey")).alias("object"),
        (F.col("n_nationkey") % 2 == 0).alias("_init"),
    )
    roots = (
        n.select(F.col("n_regionkey").alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("R:"), F.col("k")).alias("subject"),
            F.lit("part_of").alias("predicate"),
            F.lit("ROOT").alias("object"),
            F.lit(True).alias("_init"),
        )
    )
    adj = n.filter(F.col("n_nationkey") % 2 == 0).select(
        F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
        F.lit("adjacent_to").alias("predicate"),
        F.concat(F.lit("N:"), F.col("n_nationkey") + 1).alias("object"),
        F.lit(False).alias("_init"),
    )
    rows = located.unionByName(roots).unionByName(adj)
    tbox = local_relation(
        spark, _OWL_TBOX, "subject string, predicate string, object string"
    )
    init = rows.filter(F.col("_init")).drop("_init")
    delta = rows.filter(~F.col("_init")).drop("_init")
    return incremental_entailment(
        rdfs_owl_entailment(init, tbox), delta, tbox
    )


def q_kg_corrupt_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG-embedding negative sampling
    (operators/negatives.corrupt_triples): type-consistent filtered
    corruption over the distinct lineitem KG edges — per-predicate
    pools dense-indexed once, broadcast sizes, row-local hash draws,
    ONE (predicate, idx) equi-join, one true-triple anti join. Oracle:
    module-generated twin (identical hash/index/filter order)."""
    from kg_microbe_merge_spark.operators.negatives import corrupt_triples

    li = _t(spark, sf_dir, "lineitem")
    t = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("subject"),
        F.col("l_returnflag").alias("predicate"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("object"),
    ).distinct()
    return corrupt_triples(t, k=2)


def q_schema_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quotient-graph schema summary (operators/stats.schema_summary):
    the instance KG collapsed to its TYPE graph — (subject_category,
    predicate, object_category, n_edges, n_subjects, n_objects) via
    two id-equi node joins + one grouped count; missing endpoints
    surface as 'Unknown' (the +32 object shift guarantees some).
    Nodes: the A3 merge output; oracle: A3 merge SQL as the node CTE +
    the module-generated twin."""
    from kg_microbe_merge_spark.operators.stats import schema_summary

    nodes = nodes_merge(_kgx_nodes_from_lineitem(spark, sf_dir), ["R"])
    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("L:"), F.col("o_orderkey")).alias("subject"),
        F.concat(F.lit("rel:"), F.col("o_orderstatus")).alias("predicate"),
        F.concat(F.lit("L:"), F.col("o_orderkey") + 32).alias("object"),
    )
    return schema_summary(nodes, edges)


def q_mine_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain/range expectation MINING
    (operators/validate.mine_expectations): distill the
    schema_summary type graph into the (predicate, subject_category,
    object_category) expectations table kg_validation enforces —
    per-predicate majority categories with exact-integer micro
    confidences, deterministic (count DESC, category ASC) tie-break,
    Unknown majorities dropped. Oracle: the schema_summary twin as
    input to the module-generated mining twin."""
    from kg_microbe_merge_spark.operators.stats import schema_summary
    from kg_microbe_merge_spark.operators.validate import mine_expectations

    nodes = nodes_merge(_kgx_nodes_from_lineitem(spark, sf_dir), ["R"])
    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        F.concat(F.lit("L:"), F.col("o_orderkey")).alias("subject"),
        F.concat(F.lit("rel:"), F.col("o_orderstatus")).alias("predicate"),
        F.concat(F.lit("L:"), F.col("o_orderkey") + 32).alias("object"),
    )
    return mine_expectations(
        schema_summary(nodes, edges),
        min_support=5,
        min_confidence_micro=250_000,
    )


def q_er_fs_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter ER scoring (operators/er_scoring.py): smoothed
    per-feature m/u rates from ONE global aggregation over a labeled
    pair sample, micro-nat log weights, then ZERO-join row-local
    scoring (weights inlined as literal CASE branches,
    plan-asserted). Pairs: adjacent-custkey customers in the same
    nation; features: same market segment, same account-balance sign;
    deterministic pseudo-labels. Oracle: module-generated end-to-end
    twin (identical smoothing, ln operand order, floor-micro rule)."""
    from kg_microbe_merge_spark.operators.er_scoring import (
        fs_score,
        fs_weights,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    a, b = c.alias("a"), c.alias("b")
    labeled = (
        a.join(
            b,
            (F.col("b.c_custkey") == F.col("a.c_custkey") + 1)
            & (F.col("b.c_nationkey") == F.col("a.c_nationkey")),
        )
        .select(
            F.concat(F.lit("C:"), F.col("a.c_custkey")).alias("a"),
            F.concat(F.lit("C:"), F.col("b.c_custkey")).alias("b"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("seg_eq"),
            (
                F.signum(F.col("a.c_acctbal"))
                == F.signum(F.col("b.c_acctbal"))
            )
            .cast("int")
            .alias("bal_eq"),
            (F.col("a.c_custkey") % 3 == 0).cast("int").alias("is_match"),
        )
    )
    w = fs_weights(labeled, ["seg_eq", "bal_eq"])
    pairs = labeled.select("a", "b", "seg_eq", "bal_eq")
    return fs_score(pairs, w, upper_micro=200_000, lower_micro=-200_000)


def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme evaluation (operators/blocking.blocking_metrics):
    pair completeness / pairs quality / reduction ratio as integer
    micros over the adjacent-same-nation candidate scheme vs a
    deterministic truth set that includes reachable pairs (+1 step,
    custkey%3) and mostly-unreachable ones (+2 step, custkey%7).
    Oracle: the same canonicalize/count/semi-join arithmetic in SQL."""
    from kg_microbe_merge_spark.operators.blocking import blocking_metrics

    c = _t(spark, sf_dir, "customer")
    a, b = c.alias("a"), c.alias("b")
    cand = a.join(
        b,
        (F.col("b.c_custkey") == F.col("a.c_custkey") + 1)
        & (F.col("b.c_nationkey") == F.col("a.c_nationkey")),
    ).select(
        F.concat(F.lit("C:"), F.col("a.c_custkey")).alias("a"),
        F.concat(F.lit("C:"), F.col("b.c_custkey")).alias("b"),
    )
    truth = (
        c.filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.concat(F.lit("C:"), F.col("c_custkey")).alias("a"),
            F.concat(F.lit("C:"), F.col("c_custkey") + 1).alias("b"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 7 == 0).select(
                F.concat(F.lit("C:"), F.col("c_custkey")).alias("a"),
                F.concat(F.lit("C:"), F.col("c_custkey") + 2).alias("b"),
            )
        )
    )
    return blocking_metrics(cand, truth, n_records=c.count())


def q_er_agreement_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement-pattern counts (operators/er_scoring.agreement_patterns)
    — the ≤ 2^k-row sufficient statistic the UNSUPERVISED Fellegi-
    Sunter EM fit consumes (fs_em_weights runs its deterministic EM
    loop driver-side over exactly this table; the fit itself is
    pytest-proven against planted parameters since SQL cannot EM).
    Same candidate pairs as er_fs_scoring."""
    from kg_microbe_merge_spark.operators.er_scoring import (
        agreement_patterns,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    a, b = c.alias("a"), c.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.c_custkey") == F.col("a.c_custkey") + 1)
            & (F.col("b.c_nationkey") == F.col("a.c_nationkey")),
        )
        .select(
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            .cast("int")
            .alias("seg_eq"),
            (
                F.signum(F.col("a.c_acctbal"))
                == F.signum(F.col("b.c_acctbal"))
            )
            .cast("int")
            .alias("bal_eq"),
        )
    )
    return agreement_patterns(pairs, ["seg_eq", "bal_eq"])


def q_linkpred_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking evaluation (operators/linkpred.ranking_metrics): MRR /
    Hits@k WITHOUT a window — true score via one equi-join, rank = 1 +
    map-side count of strictly-better rows under the deterministic
    (score desc, candidate asc) order, integer reciprocal-rank micro.
    Queries = nations, candidates = their suppliers scored by a
    deterministic integer formula (ties included — the tie-break path
    is exercised), truth = each nation's min-suppkey supplier. Oracle:
    module-generated twin."""
    from kg_microbe_merge_spark.operators.linkpred import ranking_metrics

    sup = _t(spark, sf_dir, "supplier")
    scored = sup.select(
        F.concat(F.lit("N:"), F.col("s_nationkey")).alias("query"),
        F.concat(F.lit("S:"), F.col("s_suppkey")).alias("candidate"),
        ((F.col("s_suppkey") * 37) % 1000).alias("score_micro"),
    )
    truth = sup.groupBy(
        F.concat(F.lit("N:"), F.col("s_nationkey")).alias("query")
    ).agg(
        F.concat(F.lit("S:"), F.min("s_suppkey")).alias("candidate")
    )
    return ranking_metrics(scored, truth)


def q_bgp_over_entailment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reasoning-aware querying: the BGP compiler (plans/bgp.py) over
    the MATERIALIZED entailment (operators/entailment.py) — ask for
    part_of facts and each subject's types, and the lifted
    located_in→part_of edges plus the domain/subclass-derived types
    answer. Same nation ABox + TBox as the gated rdfs_entailment;
    oracle: the pattern join SQL over the module-generated entailment
    twin as a derived table."""
    from kg_microbe_merge_spark.operators.entailment import rdfs_entailment
    from kg_microbe_merge_spark.plans.bgp import bgp_query

    n = _t(spark, sf_dir, "nation")
    abox = n.select(
        F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
        F.lit("located_in").alias("predicate"),
        F.concat(F.lit("R:"), F.col("n_regionkey")).alias("object"),
    ).unionByName(
        n.filter(F.col("n_nationkey") % 2 == 0).select(
            F.concat(F.lit("N:"), F.col("n_nationkey")).alias("subject"),
            F.lit("rdf:type").alias("predicate"),
            F.lit("Nation").alias("object"),
        )
    )
    tbox = local_relation(
        spark, _ENTAIL_TBOX, "subject string, predicate string, object string"
    )
    entailed = rdfs_entailment(abox, tbox)
    return bgp_query(
        entailed,
        [("?x", "part_of", "?y"), ("?x", "rdf:type", "?t")],
        select=["?x", "?y", "?t"],
    )


def q_bgp_property_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property paths in the BGP compiler (plans/bgp.py):
    ``skip/next+`` — a sequence step joined to a transitive closure
    compiled by path doubling — over the chain+skip doc DAG (the
    subclass_closure graph split into two predicates). Set semantics
    per path relation; each atomic step is a pushed predicate filter.
    Oracle: recursive-CTE closure + one join, DISTINCT."""
    from kg_microbe_merge_spark.plans.bgp import bgp_query

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pos = F.col("doc_id") % 16
    chain = d.filter(pos < 15).select(
        F.col("doc_id").alias("subject"),
        F.lit("next").alias("predicate"),
        (F.col("doc_id") + 1).alias("object"),
    )
    skip = d.filter((pos % 4 == 0) & (pos < 14)).select(
        F.col("doc_id").alias("subject"),
        F.lit("skip").alias("predicate"),
        (F.col("doc_id") + 2).alias("object"),
    )
    return bgp_query(
        chain.unionByName(skip), [("?x", "skip/next+", "?y")]
    )


def q_subclass_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ontology transitive closure (operators/closure.py — path
    doubling, ⌈log₂ depth⌉ rounds, one equi-join + distinct per round,
    eager localCheckpoint): same 16-id chain+skip DAG as dag_levels —
    closure = every within-block (earlier, later) reachable pair, skip
    edges only add duplicate derivations the distinct collapses.
    Oracle: independent recursive-CTE reachability (linear frontier
    derivation vs the engine's logarithmic doubling)."""
    from kg_microbe_merge_spark.operators.closure import (
        transitive_closure,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    pos = F.col("doc_id") % 16
    chain = d.filter(pos < 15).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    skip = d.filter((pos % 4 == 0) & (pos < 14)).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 2).alias("dst")
    )
    return transitive_closure(chain.unionByName(skip))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (operators/bm25.py): two scans, zero
    joins — pass 1 one partial aggregation for the exact integer corpus
    stats (N, Σdl, per-term df via row-local array_contains), pass 2
    row-local scoring with the stats inlined as literals and a bounded
    TakeOrderedAndProject top-k; floor-micro float protocol, ln on
    identical exact-integer-derived doubles in both engines."""
    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["vector", "hash", "merge"], k=10)


def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG snapshot diff (operators/diff.py): ONE full-outer join on the
    key, row-local null-safe column compare, unchanged rows dropped
    before anything downstream. Snapshots derived from `part` with
    deterministic membership/value perturbations so the diff exercises
    added + removed + changed(+changed_cols)."""
    from kg_microbe_merge_spark.operators.diff import snapshot_diff

    part = _t(spark, sf_dir, "part")
    old = part.filter(F.col("p_partkey") % 11 != 0).select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("price"),
    )
    new = part.filter(F.col("p_partkey") % 13 != 0).select(
        F.col("p_partkey").alias("id"),
        F.when(
            F.col("p_partkey") % 5 == 0, F.concat(F.col("p_name"), F.lit("!"))
        )
        .otherwise(F.col("p_name"))
        .alias("name"),
        F.when(
            F.col("p_partkey") % 7 == 0, F.col("p_retailprice") + 1
        )
        .otherwise(F.col("p_retailprice"))
        .alias("price"),
    )
    return snapshot_diff(old, new, key="id")


def _walk_graph(spark: SparkSession, sf_dir: str):
    """Symmetrized customer–order–nation–region–supplier KG + start set
    shared by the walk-family gate queries."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    half = (
        orders.select(
            F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            supplier.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
    )
    edges = half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    starts = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("id")
    ).unionByName(
        customer.filter(F.col("c_custkey") % 97 == 0).select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("id")
        )
    )
    return edges, starts


def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk-style random walks (operators/walks.py)
    over the symmetrized customer–order–nation–region–supplier KG:
    rank-join formulation — every step is two 1:1 hash joins per live
    walk (degree lookup, then (src, rnk) equi-join), hub adjacency
    never multiplies rows. Oracle: the same ranked relation + portable
    hash unrolled as chained CTEs."""
    from kg_microbe_merge_spark.operators.walks import random_walks

    edges, starts = _walk_graph(spark, sf_dir)
    return random_walks(edges, starts, steps=4)


def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order node2vec-biased walks
    (operators/walks.node2vec_walks) over the same symmetrized KG:
    deterministic rejection sampling (KnightKing formulation) — per
    round two 1:1 rank-joins + one (prev, cand) edge-membership left
    join, integer micro bias weights, last-round uniform fallback.
    Oracle GENERATED by the module: steps × rounds unrolled as chained
    CTEs with identical hash draws and CASE weight order."""
    from kg_microbe_merge_spark.operators.walks import node2vec_walks

    edges, starts = _walk_graph(spark, sf_dir)
    return node2vec_walks(edges, starts, steps=3)


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context, n) pairs from the deterministic walk
    corpus (operators/walks.skipgram_pairs): one bounded walk_id
    self-join (walks are constant-length — no explodable key) +
    map-side-partial count."""
    from kg_microbe_merge_spark.operators.walks import skipgram_pairs

    return skipgram_pairs(q_kg_random_walks(spark, sf_dir), window=2)


def q_er_token_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-agnostic token-blocking ER candidates
    (operators/blocking.py, MinoanER-style): row-local name-token
    postings → ONE block-index count → size-capped (max_block) block
    purge BEFORE the self-join → rarity(IDF)-weighted pair scores via
    the exact integer micro protocol. Entities are a part subsample
    whose name-token rarity matches real entity names."""
    from kg_microbe_merge_spark.operators.blocking import (
        token_blocking_candidates,
    )

    part = _t(spark, sf_dir, "part")
    ents = part.filter(F.col("p_partkey") % 20 == 0).select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    return token_blocking_candidates(ents, max_block=50, min_shared=1)


def q_meta_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-blocking WEP/CNP pruning of the token-blocking candidate
    graph (operators/metablocking.py, Papadakis TKDE 2014): per-edge
    block-Jaccard in exact BIGINT micro-units, weight-edge pruning vs
    the global mean (integer compare, no division), and per-endpoint
    top-k cardinality-node pruning (WindowGroupLimit, map-side Partial
    rank). Same entity universe as er_token_blocking. Oracle:
    module-generated twin (identical tokenizer, purge, integer
    Jaccard, window order)."""
    from kg_microbe_merge_spark.operators.metablocking import meta_blocking

    part = _t(spark, sf_dir, "part")
    ents = part.filter(F.col("p_partkey") % 20 == 0).select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    return meta_blocking(ents, max_block=50, top_k=3)


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER candidates (operators/blocking.py,
    Hernandez–Stolfo): records paired within a rank window of the
    normalized-name sort order — the complementary scheme to token
    blocking (catches truncation/prefix variants sharing no rare
    token). Rank = two-level zipWithIndex prefix sum over a
    range-partitioned sort (never a single-partition window); pairing
    = exact adjacent-bucket join, O(n·window) candidates. Oracle:
    module-generated twin (row_number + gap self-join)."""
    from kg_microbe_merge_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    part = _t(spark, sf_dir, "part")
    ents = part.filter(F.col("p_partkey") % 20 == 0).select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name")
    )
    return sorted_neighborhood_pairs(ents, window=4)


def q_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS) + overlap candidate pairs
    (operators/winnow.py): gram hashing and window-min selection are
    row-local array expressions (only the ~2/(w+1) selected minima
    explode); pairing is the inverted-index join with a doc-frequency
    ceiling on boilerplate prints."""
    from kg_microbe_merge_spark.operators.winnow import winnow_overlap_pairs

    d = _t(spark, sf_dir, "documents")
    return winnow_overlap_pairs(
        d, k=3, w=4, min_shared=1, max_doc_freq=50
    )


def q_hll_distinct_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language HyperLogLog distinct-span estimates
    (operators/sketches.py): m=512 integer registers per group — the
    ONLY state crossing the shuffle regardless of cardinality (exact
    count(distinct span) would shuffle the span set itself, i.e. the
    corpus, at 10^12 docs). Register index / rank / harmonic-mean
    denominator are all exact integer arithmetic over the portable
    md5 hash (2^(Rmax-rho) summed as BIGINT, order-independent); the
    single int64→double division is snapped to the micro protocol, so
    the DuckDB oracle matches value-for-value. Per-lang cardinalities
    (2.9k–10k) sit above the 2.5m small-range cutoff — the raw
    estimator's valid regime."""
    from kg_microbe_merge_spark.operators.dedup import shingle_array
    from kg_microbe_merge_spark.operators.sketches import hll_distinct

    d = _t(spark, sf_dir, "documents")
    # (doc_id=lang, shingles): per-ROW distinct 8-token span hashes
    sh = shingle_array(d, 8, "text", "lang")
    items = sh.select(
        F.col("doc_id").alias("lang"),
        F.explode_outer("shingles").alias("span"),
    )
    return hll_distinct(items, "span", ["lang"], p=9).orderBy("lang")


def q_kmv_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k set-INTERSECTION estimate (operators/kmv.py): the
    distinct-token overlap between the even- and odd-doc_id halves of
    the corpus — the question HLL structurally cannot answer
    (inclusion–exclusion over two noisy estimates explodes on small
    overlaps). Each half's sketch is its k=256 smallest distinct token
    hashes; the one build exchange per sketch is k-bounded map-side by
    WindowGroupLimit, and union/intersection/Jaccard are row-local
    array algebra over the two ≤256-element arrays. Oracle: the
    module-generated DuckDB twin (row_number bottom-k + list algebra,
    identical division order, micro protocol)."""
    from kg_microbe_merge_spark.functions.text import normalized_text
    from kg_microbe_merge_spark.operators.kmv import (
        kmv_intersection,
        kmv_sketch,
    )

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2).alias("bucket"),
        F.explode(F.split(normalized_text(F.col("text")), " ")).alias(
            "token"
        ),
    ).filter(F.col("token") != "")
    a = kmv_sketch(toks.filter(F.col("bucket") == 0), "token")
    b = kmv_sketch(toks.filter(F.col("bucket") == 1), "token")
    return kmv_intersection(a, b)


def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostics (operators/skew.py): heavy-hitter
    frequencies, the concentration ratio (top-reducer rows vs uniform
    share) and the per-key salt-bucket prescription for lineitem's
    low-cardinality l_returnflag key at 32 shuffle partitions — the
    measured version of the planning call every 100 TB groupBy/join
    makes. ONE map-side-partial count agg + a bounded TakeOrdered;
    all-BIGINT ceil (div, never floor(double/)). Oracle:
    module-generated twin."""
    from kg_microbe_merge_spark.operators.skew import skew_report

    li = _t(spark, sf_dir, "lineitem")
    return skew_report(li, "l_returnflag", shuffle_partitions=32, top_n=10)


def q_kmv_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join output-size estimation WITHOUT executing the join
    (operators/kmv.py kmv_join_size — the theta-sketch-with-summaries
    planning question: broadcast? salt? how many partitions?): the
    orders⋈lineitem size estimated from two k=256-row frequency
    sketches; each sampled key carries its EXACT frequency, scaled by
    the Horvitz–Thompson union estimate. Oracle: module-generated twin
    (identical fold and scaling operand order, micro protocol)."""
    from kg_microbe_merge_spark.operators.kmv import (
        kmv_freq_sketch,
        kmv_join_size,
    )

    a = kmv_freq_sketch(_t(spark, sf_dir, "orders"), "o_orderkey")
    b = kmv_freq_sketch(_t(spark, sf_dir, "lineitem"), "l_orderkey")
    return kmv_join_size(a, b)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/split.weighted_sample, Efraimidis–Spirakis A-ES): top-25
    documents by ln(u)/n_chars with u drawn reproducibly from the
    id-hash — quality-weighted corpus subsampling as a bounded
    TakeOrdered, no global sort, no RNG state. Oracle: identical
    formula + ORDER BY ... LIMIT in DuckDB (ln parity precedent)."""
    from kg_microbe_merge_spark.operators.split import weighted_sample

    d = _t(spark, sf_dir, "documents")
    return weighted_sample(d, k=25, weight_col="n_chars")


def q_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (operators/ppjoin.py,
    AllPairs/PPJoin): ALL 3-gram-shingle-set Jaccard ≥ 0.8 pairs with
    the candidate join running only on rarest-first prefixes (the Zipf
    head is never indexed) plus an exact BIGINT length filter — zero
    recall loss by the prefix theorem, unlike ngram_jaccard's
    max_doc_freq cap. Oracle: the NAIVE full inverted-index
    formulation with no prefix logic at all, so this gate row is a
    machine-checked proof of the pruning theorem on the gate corpus."""
    from kg_microbe_merge_spark.operators.ppjoin import set_similarity_join

    d = _t(spark, sf_dir, "documents")
    return set_similarity_join(d, threshold=0.8, n=3)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity-interval history (operators/history.py): four
    part-price delta batches folded with scd2_apply — per fold the
    history is scanned but never shuffled (broadcast delta carve-outs,
    the upsert discipline); parts divisible by 5 change price at their
    second appearance (new version + closed row), everything else
    re-arrives unchanged (no spurious versions). Oracle: the window
    formulation over the full change log — per key keep events whose
    attrs differ from the previous event's (lag), valid_to = next kept
    batch (lead) — an independent one-pass derivation the chained
    folds must reproduce exactly (the invariant IS the oracle)."""
    from kg_microbe_merge_spark.operators.history import (
        scd2_apply,
        scd2_init,
    )

    part = _t(spark, sf_dir, "part")

    def delta(b: int) -> DataFrame:
        return part.filter(F.col("p_partkey") % 2 == b % 2).select(
            F.col("p_partkey").alias("id"),
            F.col("p_name").alias("name"),
            (
                F.col("p_retailprice")
                + F.when(
                    (F.lit(b) >= 2) & (F.col("p_partkey") % 5 == 0),
                    F.lit(1.0),
                ).otherwise(F.lit(0.0))
            ).alias("price"),
        )

    h = scd2_init(delta(0), "id", ["name", "price"], 0)
    for b in range(1, 4):
        # materialize between folds (localCheckpoint stands in for the
        # per-batch snapshot write of real usage) — scd2_apply reads
        # its history input through five streams, so an unmaterialized
        # chain re-derives the previous fold 5× per level (5^n plans)
        h = scd2_apply(
            h.localCheckpoint(eager=True), delta(b), "id",
            ["name", "price"], b,
        )
    return h


def q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall ball-size estimates |B(v, t)| for t = 0..2 over the
    combined KG (operators/hyperball.py — the kcore/ktruss gate graph):
    per-node HLL sketches iterated along edges, registers as m=128
    partially-aggregable max COLUMNS so each round ships one row per
    edge, never edges × registers. Exact integer estimate protocol
    (BIGINT 2^(Rmax-rho) sums, one division, micro snap). Oracle: the
    module-generated ROW-form twin — (node, reg, rho) max-merge rounds
    unrolled as materialized CTEs, an independent formulation sharing
    only the hash/estimate constants."""
    from kg_microbe_merge_spark.operators.hyperball import hyperball

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    edges = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
        )
        .unionByName(
            supplier.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            supplier.join(
                nation, supplier["s_nationkey"] == nation["n_nationkey"]
            ).select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
            )
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
            )
        )
    )
    return hyperball(edges, max_t=2, src="src", dst="dst")


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI/NPMI collocation mining (operators/collocations.py): top-50
    adjacent-pair phrases by normalized pointwise mutual information —
    the association-scored complement of the raw-frequency bpe_pairs.
    Pair/unigram counts collapse map-side off one row-local
    tokenize-once instance relation; min_count prunes the Zipf hapax
    tail BEFORE the two vocabulary-bounded joins; totals inline as
    literals; bounded TakeOrdered on the deterministic (npmi desc, w1,
    w2) order. Oracle: module-generated twin (identical operand order
    into ln, micro protocol)."""
    from kg_microbe_merge_spark.operators.collocations import (
        pmi_collocations,
    )

    d = _t(spark, sf_dir, "documents")
    return pmi_collocations(d, min_count=4, top_k=50)


def q_cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter tokens (operators/sketches.py): d=4×w=1024
    integer counters; each map partition contributes ≤ d·w cells to the
    single counter exchange no matter how long the token stream is, and
    estimation probes broadcast the (≤ d·w)-cell table. One-sided
    guarantee: every token with true count ≥ threshold is returned.
    Counter rows use the repo's universal-hash family over the portable
    md5 hash — the DuckDB oracle rebuilds the identical counters."""
    from kg_microbe_merge_spark.functions.text import normalized_text
    from kg_microbe_merge_spark.operators.sketches import cms_heavy_hitters

    d = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(normalized_text(F.col("text")), " "),
        lambda t: F.length(t) >= 1,
    )
    stream = (
        d.select(F.explode_outer(toks).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    return cms_heavy_hitters(stream, "tok", threshold=400, depth=4, width=1024)


def q_substring_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup CUT (operators/dedup.remove_duplicated_spans —
    the removal half of Lee et al. substring dedup; duplicated_spans is
    the detection half): every token covered by an 8-token span
    occurring in ≥2 distinct documents is deleted and the text rebuilt.
    Span production row-local; flagged positions shuffle as ONE int
    array per affected doc (token arrays never shuffle); rebuild is a
    nested HOF (filter-with-index × exists), zero Python."""
    from kg_microbe_merge_spark.operators.dedup import (
        remove_duplicated_spans,
    )

    d = _t(spark, sf_dir, "documents")
    return remove_duplicated_spans(d, n=8, min_df=2)


def q_quantile_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language approximate doc-length quantiles via the mergeable
    log-binned histogram (operators/sketches.py): exact quantiles need
    a global range-shuffle of the corpus; the histogram shuffles ONE
    partially-aggregated count per (lang, bin) — a few hundred bins
    regardless of row count — and extracts p50/p90/p99 from integer
    cumulative ranks. Bin mapping is pure integer (packed exponent/
    mantissa over bit length, relative error ≤ 2^-4), identical in
    Spark SQL and DuckDB, so the oracle matches value-for-value."""
    from kg_microbe_merge_spark.operators.sketches import quantile_sketch

    d = _t(spark, sf_dir, "documents")
    return quantile_sketch(d, "n_chars", ["lang"]).orderBy("lang", "q")


def q_bloom_prune_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join-prune decision surface (operators/bloom.py):
    the bitmap over high-value orders' custkeys is a fixed-size
    ``bit_or`` aggregation (≤ n_bits/64 BIGINT words cross the build
    shuffle per partition — key-set size never does), then inlined as
    a plan literal so the probe-side membership test is pure row-local
    codegen: ZERO probe-side exchange before the (pre-pruned) join
    shuffle. No false negatives — ``bloom_prune_semi_join`` returns
    exactly the plain semi join's rows; this query gates the raw
    decisions, which the oracle reproduces bit-for-bit from the same
    md5/universal-hash bitmap."""
    from kg_microbe_merge_spark.operators.bloom import (
        bloom_bitmap,
        bloom_literal,
        with_might_contain,
    )

    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    cust = _t(spark, sf_dir, "customer")
    words = bloom_literal(bloom_bitmap(orders.select("o_custkey"), "o_custkey"))
    return with_might_contain(
        cust.select("c_custkey"), "c_custkey", words
    ).orderBy("c_custkey")


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity scoring (operators/ngram_lm.py — the
    CCNet-style model-based quality filter): row-local bigram
    production → map-side-combined corpus counts → vocabulary-bounded
    score joins → exact integer micro-bits reduction per document.
    Cross-engine float protocol is integer-exact (floor(x·1e6+0.5)
    per bigram, BIGINT sum, one final division)."""
    d = _t(spark, sf_dir, "documents")
    return bigram_lm_scores(d, k=0.5)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic JL random projection 64→8 dims
    (operators/projection.py): ±1 sign matrix derived from the portable
    md5 hash, inlined as 512 plan literals — zero shuffle, zero Python,
    whole-stage codegen; left-to-right FP order shared with the oracle
    so coordinates match bit-for-bit."""
    e = _t(spark, sf_dir, "embeddings")
    return random_projection(e, k=8, d=64)


def q_sq8_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8-range) top-k neighbor search
    (operators/quantize.py): one min/max training aggregation →
    literal-constant row-local encode → EXACT integer dot/norms over
    codes → TakeOrdered top-20 of vec_id 0. The oracle recomputes
    min/max itself, verifying train + encode + search end to end."""
    e = _t(spark, sf_dir, "embeddings")
    return sq8_topk(e, query_id=0, k=20, d=64)


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-SPAN detection (operators/dedup.py
    duplicated_span_stats — the substring-dedup signal of Lee et al.):
    share of each document's distinct 8-token spans occurring in ≥2
    distinct documents. Two hash-keyed exchanges; span production is
    row-local."""
    d = _t(spark, sf_dir, "documents")
    return duplicated_span_stats(d, n=8, min_df=2)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the combined KG (operators/kcore.py, iterative peeling):
    supplier–nation–region triangles UNION the customer–order/nation
    tree. Peeling strips the dangling order leaves, then the
    customer chains, then nations left without suppliers — the surviving
    core is the densely-connected S/N/R cluster structure. Oracle:
    peel rounds unrolled as chained DuckDB CTEs (monotone fixpoint, so
    extra unrolled rounds are no-ops)."""
    from kg_microbe_merge_spark.operators.kcore import kcore_nodes

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    edges = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
        )
        .unionByName(
            supplier.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            supplier.join(
                nation, supplier["s_nationkey"] == nation["n_nationkey"]
            ).select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
            )
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
            )
        )
    )
    return kcore_nodes(edges, k=2, src="src", dst="dst")


def _gate_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kcore/ktruss/hyperball gate graph (same construction as
    q_kcore): supplier–nation–region triangle tissue UNION the
    customer–order/nation tree."""
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
        )
        .unionByName(
            supplier.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            supplier.join(
                nation, supplier["s_nationkey"] == nation["n_nationkey"]
            ).select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
            )
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
            )
        )
    )


def q_mis_conflict_free(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Luby maximal independent set (operators/mis.py)
    over the kcore/ktruss gate graph: the conflict-free survivor
    policy for SIMILARITY pair graphs (component-collapse over-deletes
    on chains; MIS keeps a maximal non-conflicting set). Hash
    priorities make Luby reproducible; per round one map-side-partial
    min(struct) + id-keyed joins, eager lineage truncation. Oracle:
    module-generated twin, rounds unrolled as MATERIALIZED CTEs
    (monotone — extra rounds are no-ops; settle depth 2 on this graph,
    unroll 5, pinned in tests/test_mis.py)."""
    from kg_microbe_merge_spark.operators.mis import (
        maximal_independent_set,
    )

    edges = _gate_graph_edges(spark, sf_dir)
    return maximal_independent_set(edges, src="src", dst="dst")


def q_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-WL color refinement (operators/wl.py): 3 rounds of structural
    re-coloring over the kcore/ktruss gate graph — node-role
    fingerprints (hub/leaf/bridge classes) from structure alone. The
    neighbor multiset folds through a commutative hash SUM (map-side
    partial — a 10^6-degree hub costs one combiner cell per task,
    never a collected color array). Oracle: module-generated twin,
    rounds unrolled as MATERIALIZED CTEs with the identical hash
    combine."""
    from kg_microbe_merge_spark.operators.wl import wl_colors

    edges = _gate_graph_edges(spark, sf_dir)
    return wl_colors(edges, rounds=3, src="src", dst="dst")


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the combined KG (operators/truss.py, support peeling —
    the edge-granular sibling of kcore_2 over the SAME gate graph):
    every surviving edge sits in ≥1 triangle, so the customer–order
    tree dies in round 1 while the supplier–nation–region triangle
    tissue survives with its per-edge support (S–N and S–R edges carry
    support 1, N–R edges the nation's supplier count). Oracle: peel
    rounds unrolled as chained DuckDB CTEs with support derived
    independently (adjacency self-join on the common neighbor, not the
    degree-oriented wedge join); monotone fixpoint, so extra unrolled
    rounds are no-ops (depth pinned in tests/test_truss.py)."""
    from kg_microbe_merge_spark.operators.truss import ktruss_edges

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    edges = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("src"),
            F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
        )
        .unionByName(
            supplier.select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("N"), F.col("s_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            supplier.join(
                nation, supplier["s_nationkey"] == nation["n_nationkey"]
            ).select(
                F.concat(F.lit("S"), F.col("s_suppkey")).alias("src"),
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("O"), F.col("o_orderkey")).alias("dst"),
            )
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
            )
        )
    )
    return ktruss_edges(edges, k=3, src="src", dst="dst")


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction (operators/vocab.py): corpus-wide
    token counts (map-side-combinable wordcount), top-100 by
    (count DESC, token ASC) with stable ids — the cut is a distributed
    TakeOrdered; only the 100 survivors hit the id window."""
    from kg_microbe_merge_spark.operators.vocab import top_vocab

    d = _t(spark, sf_dir, "documents")
    return top_vocab(d, size=100, min_count=2)


def q_unigram_segment_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer segmentation (operators/unigram_lm.py,
    Kudo 2018 hard-EM family): seed substring vocabulary with micro-ln
    costs, then each top-corpus word's MIN-COST piece segmentation —
    the per-word lattice shortest path, executed as one Arrow-batched
    DP over the Zipf-bounded word dimension. The gate verifies the
    minimum COST (unique under ties) against an INDEPENDENT
    walk-enumeration oracle that recursively explores every complete
    piece walk per word."""
    from kg_microbe_merge_spark.operators.unigram_lm import (
        seed_vocab,
        segment_words,
        vocab_costs,
    )
    from kg_microbe_merge_spark.operators.vocab import top_vocab

    d = _t(spark, sf_dir, "documents")
    words = (
        top_vocab(d, size=60, min_count=3)
        .select(F.col("token").alias("word"), F.col("n").alias("freq"))
        .filter(F.length("word") <= 16)
    )
    costs = vocab_costs(
        seed_vocab(words, max_piece_len=4, vocab_size=40, min_count=2)
    )
    return segment_words(
        words, costs, max_piece_len=4, max_word_len=16
    ).select("word", "cost_micro")


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate counting (operators/vocab.py): adjacent
    token-pair counts built row-locally from the token array, one
    exchange (the pair groupBy with map-side partials)."""
    from kg_microbe_merge_spark.operators.vocab import bpe_pair_counts

    d = _t(spark, sf_dir, "documents")
    return bpe_pair_counts(d, min_count=5)


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer TRAINING (operators/bpe.py): 8 merge rounds
    learned over the corpus word-frequency dimension — per round ONE
    map-side-partial pair-count exchange + a 1-row driver argmax + a
    row-local wrapped-literal replace (eager localCheckpoint keeps
    lineage O(1)). The corpus itself is scanned exactly once (the
    wordcount). Oracle: the module GENERATES a DuckDB twin that
    re-trains end to end — rounds unrolled as MATERIALIZED CTEs with
    the identical (n DESC, lhs, rhs) argmax and the same greedy
    left-to-right replace semantics."""
    from kg_microbe_merge_spark.operators.bpe import bpe_train, merges_df

    d = _t(spark, sf_dir, "documents")
    merges, _state = bpe_train(d, n_merges=8, min_count=2)
    return merges_df(spark, merges)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index,
    over the stop-shingle-filtered universe (doc-freq ceiling 50)."""
    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, threshold=0.5, n=3, text_col="text", id_col="doc_id", max_doc_freq=50
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors (brute force baseline) for the first
    5 vectors as queries."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return brute_force_cosine_topk(e, q, k=10)


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine near-duplicate pairs (brute-force correctness baseline)."""
    e = _t(spark, sf_dir, "embeddings")
    return embedding_near_dups(e, threshold=0.35)


def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function breadth: sorted-distinct collection per group, then
    size / join / contains / element_at / slice / reverse — identical
    list semantics both engines (collect_set is order-free, so the array
    is sorted before any order-sensitive op)."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.groupBy((F.col("user_id") % 50).alias("bucket"))
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )
    return per.select(
        "bucket",
        F.size("types").alias("n_types"),
        F.array_join("types", ",").alias("types_csv"),
        F.array_contains("types", "purchase").alias("has_purchase"),
        F.element_at("types", 1).alias("first_type"),
        F.array_join(F.slice("types", 1, 2), "|").alias("first2"),
        F.array_join(F.reverse("types"), ";").alias("rev"),
    ).orderBy("bucket")


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: per-day event counts, one column per event type (explicit
    value list — no extra distinct-values scan). Cells with no rows are
    NULL (Spark pivot semantics; oracle mirrors with CASE sums)."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    return (
        ev.groupBy("day")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .orderBy("day")
    )


def q_unpivot_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-returnflag aggregate → long (flag,
    metric, value) rows via the stack/unpivot operator."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty"),
        _cents_sum(F.col("l_extendedprice"), "sum_price"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ["l_returnflag"],
        ["sum_qty", "sum_price", "n_rows"],
        "metric",
        "metric_value",
    ).orderBy("l_returnflag", "metric")


def q_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-function breadth: date add/sub, truncation, datediff,
    extract fields, last_day — identical semantics both engines."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(d, "yyyy-MM-dd").alias("d"),
        F.date_format(F.date_add(d, 30), "yyyy-MM-dd").alias("plus30"),
        F.date_format(F.add_months(d, 2), "yyyy-MM-dd").alias("plus2mo"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("eom"),
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        F.dayofweek(d).alias("dow"),
        F.datediff(F.lit("1998-12-31").cast("date"), d).alias("days_to_98"),
    ).orderBy("o_orderkey")


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate signal: most-frequent-token share per document,
    computed row-locally (sorted-array fold — no explode, no shuffle)."""
    from kg_microbe_merge_spark.functions.text import repetition_ratio

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", repetition_ratio(F.col("text")).alias("rep_ratio")
    )


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ML holdout split (reference G2 — declared but
    unimplemented there, run.py:273): hash-bucket assignment, exactly
    reproducible in SQL; reported as per-(split, lang) counts."""
    from kg_microbe_merge_spark.operators.split import holdout_split

    d = _t(spark, sf_dir, "documents")
    s = holdout_split(d, id_col="doc_id")
    return (
        s.groupBy("split", "lang")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
        .orderBy("split", "lang")
    )


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 25% corpus sample by id-hash (stable across runs,
    engines, partitionings — unlike DataFrame.sample)."""
    from kg_microbe_merge_spark.operators.split import deterministic_sample

    d = _t(spark, sf_dir, "documents")
    s = deterministic_sample(d, 0.25, id_col="doc_id")
    return (
        s.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("sum_chars"))
        .orderBy("source")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus rebalancing: keep 80% of en, 30% of de/fr,
    10% of everything else — deterministic per-stratum hash sampling
    (reproducible, growth-stable, shuffle-free)."""
    from kg_microbe_merge_spark.operators.split import stratified_sample

    d = _t(spark, sf_dir, "documents")
    s = stratified_sample(
        d,
        {"en": 0.8, "de": 0.3, "fr": 0.3},
        strata_col="lang",
        id_col="doc_id",
        default_fraction=0.1,
    )
    return (
        s.groupBy("lang")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_doc"))
        .orderBy("lang")
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed 256-token training sequences (the
    pre-training "pack short docs into budget-sized rows" step):
    deterministic cumulative-sum packing inside 8 hashed packer groups.
    ONE exchange (the window's hash partitioning); the layout is a pure
    function of the id set — reproducible across runs, partitionings
    and engines, hence exactly SQL-mirrorable."""
    from kg_microbe_merge_spark.operators.packing import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tok")
    )
    p = pack_sequences(d, budget=256, n_packers=8)
    return p.orderBy("packer", "seq_id", "offset", "doc_id")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: language filter → token-count
    bounds → quality threshold → exact-dedup representative selection.
    One declarative plan: the filters all push into the scan, the dedup
    is one hash aggregation."""
    d = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = d.select(
        "doc_id",
        t.alias("text"),
        token_count_ws(t).alias("n_tok"),
        quality_score(t).alias("quality"),
    ).filter(
        (F.col("n_tok") >= 32)
        & (F.col("n_tok") <= 4096)
        & (F.col("quality") >= 0.7)
    )
    kept = (
        scored.groupBy(fingerprint_md5(F.col("text")).alias("_fp"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_count"),
            F.min("n_tok").alias("n_tok"),
            F.min("quality").alias("quality"),
        )
        .drop("_fp")
    )
    return kept


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing with a FULL DuckDB oracle: the media table is
    derived from ``documents`` with sha2-based payload/metadata (every
    byte reproducible in SQL), features are extracted from the binary
    payload via iterator-mapInPandas (real Arrow batch plumbing; the
    byte-fingerprint kernel stands in for codec decode — PIL/ffmpeg
    absent in this image), and frame sampling is a JVM ``sequence``.
    """
    from kg_microbe_merge_spark.operators.multimodal import (
        extract_media_features,
        media_from_documents,
    )

    d = _t(spark, sf_dir, "documents")
    media = media_from_documents(d)
    feats = extract_media_features(media)
    frame_ts = F.sequence(
        F.lit(0),
        F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
        F.lit(1000),
    )
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "head60",
        F.round(F.col("head60") / F.lit(float(1 << 60)), 6).alias("brightness"),
        F.size(frame_ts).alias("n_frames"),
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.5, num_hashes=64, bands=16, n=3)


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return simhash_near_dups(d, max_hamming=6, n=2)


def q_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return lsh_cosine_topk(e, q, k=10, dim=64, bits=8, tables=8)


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (operators.similarity.ivf_cosine_topk): hash-seeded
    coarse quantizer inlined as literals → row-local cell assignment →
    n_probe cell search → exact-cosine re-rank."""
    from kg_microbe_merge_spark.operators.similarity import ivf_cosine_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    return ivf_cosine_topk(e, q, k=10, n_centroids=8, n_probe=3)


# ---------------------------------------------------------------------------
# driver contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_a3_nodes_group_merge(spark, SF001)


# Round-5 driver gate (50-entry cap). Composition per VERDICT.md r4
# "Next round" items 1+5: (a) the 17 queries that have NEVER had a
# driver row in CORRECTNESS_r01-r04 (computed by diffing the four
# files against _all_query_fns(); cumulative driver-green coverage
# becomes 157/157 when these land), (b) hits_kg — its sparse
# half-step rewrite (operators/hits.py) landed AFTER its last green
# driver row, so it carries only local-oracle evidence, (c) the six
# flagship re-gates VERDICT names for regression cover, (d) 26
# re-gates drawn from the queries whose last green driver row is the
# OLDEST (round 2) — least-recently-proven-first. Everything else
# moves to extra_queries(), still fully oracle-checked by
# scripts/check_correctness.py and pytest.
_GATE_R5 = [
    # (a) never driver-verified — 17
    "mine_expectations",
    "dbscan_embeddings",
    "bgp_union",
    "clustering_coeff",
    "dup_coverage",
    "chunk_sliding",
    "kg_snapshot_diff",
    "kg_random_walks",
    "skipgram_pairs",
    "winnow_overlap",
    "er_token_blocking",
    "url_canonicalize",
    "crawl_schedule",
    "robots_gate",
    "sorted_neighborhood",
    "vocab_topk",
    "bpe_pairs",
    # (b) semantics-relevant rewrite after last green row
    "hits_kg",
    # (c) flagship regression cover (VERDICT r4 item 1)
    "a3_nodes_group_merge",
    "a4_edges_provenance",
    "w1_priority_dedup",
    "j2_coverage_anti",
    "cc_components",
    "minhash_lsh",
    # (d) oldest driver evidence (last green: round 2)
    "a2_count_distinct",
    "a3_nodes_group_merge_salted",
    "a3_nodes_group_merge_skew_aware",
    "a4_edges_distinct",
    "anti_join",
    "semi_join",
    "u1_endpoint_union",
    "dedup_exact",
    "ngram_jaccard",
    "embedding_near_dups",
    "embedding_topk",
    "global_topk",
    "topk_per_group",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_orders",
    "sessionization",
    "rolling_1h_range",
    "asof_enrich",
    "range_band_join",
    "holdout_split",
    "graph_stats_report",
    "cc_chain_hub",
    "stratified_sample",
    "text_quality",
    "bgp_two_hop",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-gated registry, capped at 50 entries (the driver truncates
    there). Round-5 rotation: the 17 never-driver-verified queries,
    hits_kg (rewritten after its last green row), and 32 re-gates of
    the least-recently-proven queries (see ``_GATE_R5``); every other
    query lives in :func:`extra_queries`, still fully oracle-checked
    locally."""
    fns = _all_query_fns()
    return {k: fns[k] for k in _GATE_R5}


def _mix_tier_col():
    """Skewed source tiers derived from the uniform srcN ids (20×equal
    sources are degenerate for mixing): web=src0-13, books=src14-17,
    code=src18, wiki=src19 → e.g. 350/100/25/25 docs at sf0.01."""
    num = F.substring(F.col("source"), 4, 10).cast("int")
    return (
        F.when(num < 14, F.lit("web"))
        .when(num < 18, F.lit("books"))
        .when(num == 18, F.lit("code"))
        .otherwise(F.lit("wiki"))
    )


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 corpus mixing (operators/mixing.py): one tiny
    per-source count agg → driver-side integer-protocol rate
    derivation (IEEE-exact sqrt micro-weights, the repo's
    floor(x+0.5) round-half protocol) → ONE shuffle-free hash filter
    with the bounds inlined as a literal CASE map. Small sources
    (code/wiki) exercise the clamp-at-keep-everything path; the
    oracle re-derives counts, weights and bounds entirely in SQL."""
    from kg_microbe_merge_spark.operators.mixing import temperature_mix

    d = _t(spark, sf_dir, "documents").withColumn(
        "mix_source", _mix_tier_col()
    )
    out = temperature_mix(
        d,
        temperature=0.5,
        target_total=250,
        source_col="mix_source",
        id_col="doc_id",
    )
    return out.select("doc_id", "mix_source", "n_chars")


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-source cap (operators/mixing.py): hash-threshold
    prefilter bounds every window task at ~oversample·cap rows
    regardless of source size (the prefilter is a PREFIX of the
    ranking hash order, so the capped result is exact, and the
    operator verifies prefix sufficiency from its own output);
    web/books take the threshold path, code/wiki the keep-all path."""
    from kg_microbe_merge_spark.operators.mixing import cap_per_source

    d = _t(spark, sf_dir, "documents").withColumn(
        "mix_source", _mix_tier_col()
    )
    out = cap_per_source(
        d, cap=8, source_col="mix_source", id_col="doc_id", oversample=4
    )
    return out.select(
        "doc_id",
        "mix_source",
        F.col("rank_in_source").cast("int").alias("rank_in_source"),
    )


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic unigram^0.75 negative sampling
    (operators/negatives.py): the word2vec training-data step — CDF
    built once from the token-count dimension (collected sorted,
    shipped in the UDF closure like the linking dict / IVF centroids),
    then each (pair, j) draw is a row-local portable-hash mod + one
    vectorized np.searchsorted in an Arrow-batched pandas UDF. ZERO
    shuffle beyond the pair/count aggregations; integer protocol
    end-to-end, so the oracle re-derives CDF and draws in SQL and
    range-joins to the same words."""
    from kg_microbe_merge_spark.operators.negatives import (
        negative_samples,
        unigram_cdf,
    )
    from kg_microbe_merge_spark.operators.vocab import (
        bpe_pair_counts,
        token_counts,
    )

    d = _t(spark, sf_dir, "documents")
    cdf = unigram_cdf(token_counts(d, min_count=2), power=0.75)
    pairs = bpe_pair_counts(d, min_count=5)
    return negative_samples(pairs, cdf, k=2).select(
        "lhs", "rhs", "j", "negative"
    )


def q_kg_incremental_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EDGE upsert (operators/upsert.edges_merge_incremental):
    raw edge rows split deterministically ~4:1 into initial load and
    delta; the delta folds into the provenance-merged snapshot without
    re-aggregating it (broadcast anti/semi carve-out — snapshot scanned
    once, never shuffled, plan-asserted in tests/test_upsert.py). The
    oracle is the FULL provenance re-merge over all raw rows: pure set
    algebra makes fold ≡ re-merge with no sidecar state."""
    from kg_microbe_merge_spark.operators.merge import edges_merge_provenance
    from kg_microbe_merge_spark.operators.upsert import edges_merge_incremental

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.concat(F.lit("P:"), F.col("l_partkey")).alias("subject"),
        F.col("l_returnflag").alias("predicate"),
        F.concat(F.lit("S:"), F.col("l_suppkey")).alias("object"),
        F.col("l_linestatus").alias("relation"),
        F.concat(F.lit("O:"), F.col("l_orderkey")).alias("knowledge_source"),
    )
    is_delta = (
        F.pmod(
            F.xxhash64(F.col("subject"), F.col("object"), F.col("knowledge_source")),
            F.lit(5),
        )
        == 0
    )
    snap = edges_merge_provenance(e.filter(~is_delta), sort_output=False)
    return edges_merge_incremental(snap, e.filter(is_delta))


def q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-balanced output sharding (operators/sharding.py): the
    training-shard writer layout — every row's shard is
    before_bytes div shard_bytes under the deterministic hash order,
    computed as a two-level prefix sum (per-bucket totals → broadcast
    offsets → per-bucket window) so no task sees the whole corpus;
    the oracle collapses it to ONE global window over the identical
    (bucket, hash, id) order — exact because all arithmetic is BIGINT."""
    from kg_microbe_merge_spark.operators.sharding import assign_shards

    d = _t(spark, sf_dir, "documents")
    return assign_shards(d, shard_bytes=30_000, n_buckets=64).select(
        "doc_id", "shard_id"
    )


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries retired from the 50-entry driver gate as redundant
    variants of gated queries (a3 salted/skew-aware ≡ a3 plain + salted
    branch + property/parity tests; anti_join ≡ j2_coverage_anti;
    lag_delta shares its window operator with gated rolling_stats;
    cc_chain_hub is the adversarial variant of gated cc_components with
    its own networkx + recursive-CTE pytest oracles; set_ops/global_topk/
    string_funcs/q18_large_orders had green round-2 driver rows and
    their capabilities stay gated via u1_endpoint_union, topk_per_group,
    the string functions used across gated queries, and q1/q3;
    array_funcs had a green round-2 driver row and its array surface is
    exercised by the gated dedup/similarity/packing queries;
    stratified_sample had a green round-2 driver row, shares its
    hash-bucket sampling core with gated deterministic_sample, and keeps
    per-stratum pytest coverage in test_split;
    rolling_stats had a green round-2 driver row and the window-function
    family stays gated via sessionization, with lag_delta and
    rolling_1h_range keeping local oracles here;
    events_hourly had a green round-2 driver row and its time-bucketed
    aggregation stays gated via sessionization (event-time windows) and
    pivot_events (hour-part bucketing);
    semi_join had a green round-2 driver row and the left-semi capability
    stays gated inside kg_incremental_upsert's broadcast semi carve-out
    (operators/upsert.py:160, plan-asserted in test_upsert);
    q3_shipping_priority had a green round-2 driver row and its
    join+agg+top-k shape stays gated via q1_pricing_summary,
    join_star_agg and topk_per_group).
    New round-3 operators whose gate slots are deferred to the round-4
    rotation (full oracles + pytest now): vocab_topk, bpe_pairs,
    kg_snapshot_diff, kg_random_walks, skipgram_pairs, winnow_overlap,
    er_token_blocking, temperature_mix, cap_per_source,
    negative_samples, shard_layout, kg_incremental_edges.
    join_star_agg / range_band_join / bgp_two_hop had green round-2
    driver rows (rows+schema+hash) and ceded their gate slots to the new
    bigram_lm_perplexity / random_projection / sq8_adc_topk queries:
    the multi-join+agg shape stays gated via q1_pricing_summary and
    j2_coverage_anti, temporal/range join semantics via asof_enrich,
    and bgp_two_hop is a strict subset of gated bgp_filter_optional
    (same two-hop pattern plus FILTER and OPTIONAL).
    json_extract / percentiles / cube_agg had green round-2 driver rows
    (rows+schema+hash) and ceded their gate slots to the new
    pii_redaction / url_parse_stats / tfidf_topk curation queries; their
    capabilities stay exercised (JSON path extraction in the events
    props tests, exact percentile SQL retained here, grouping-sets via
    rollup_agg here).
    a2_count_distinct / embedding_near_dups had green round-1 AND
    round-2 driver rows and ceded their gate slots to the new
    hll_distinct_spans / cms_heavy_tokens sketch queries: exact
    count-distinct stays gated inside u1_endpoint_union and
    graph_stats_report (and hll_distinct_spans is its scale-path
    successor); the brute embedding near-dup baseline is the guarded
    O(N²) correctness twin of the still-gated lsh_cosine_topk /
    ivf_cosine_topk / near_dup_dedup family.
    topk_per_group had green round-1 AND round-2 driver rows and ceded
    its slot to bloom_prune_decisions: its WindowGroupLimit rank-filter
    capability stays gated via w1_priority_dedup (rn = 1 is the k = 1
    case of the same operator and plan shape).
    repetition_ratio had green round-1 AND round-2 driver rows and
    ceded its slot to quantile_doc_lengths: the text-analysis family
    stays gated via text_quality and the repetition operator keeps its
    value-level pytest (test_split::test_repetition_ratio_values) plus
    the full oracle here.
    fuzzy_levenshtein had green round-1 AND round-2 driver rows and
    ceded its slot to substring_dedup_cut: approximate text matching
    stays gated via ngram_jaccard / minhash_lsh, and the guarded
    Levenshtein band join keeps its full oracle here.
    embedding_topk had green round-1 AND round-2 driver rows and ceded
    its slot to kg_incremental_cc: brute-force cosine top-k is the
    guarded correctness baseline of the still-gated lsh_cosine_topk /
    ivf_cosine_topk / sq8_adc_topk family and keeps its full oracle
    here.
    New round-3 operators queued for the round-4 gate rotation (full
    oracles + pytest now): chunk_sliding (sliding-window LLM-sequence
    chunking, operators/chunking.py), dup_coverage (per-document
    exact-duplication coverage, the doc-level rollup of the gated
    exact_dup_runs — operators/suffix.duplicated_coverage), and
    robots_gate (RFC 9309 robots.txt parse + fetch-permission
    evaluation, operators/robots.py — end-to-end through the real
    Arrow-batched parser), subclass_closure (ontology transitive
    closure by path doubling, operators/closure.py — recursive-CTE
    reachability oracle), and kg_validation (SHACL-lite domain/range
    conformance over merged pipe-joined categories,
    operators/validate.py).
    dedup_exact had green round-1 AND round-2 driver rows and ceded its
    slot to the new gopher_quality rule battery: whole-row/content-hash
    dedup stays gated via near_dup_dedup and substring_dedup_cut (both
    strictly harder members of the same family), and the operator keeps
    its full oracle here plus test_dedup coverage.
    a4_edges_distinct had green round-1 AND round-2 driver rows and
    ceded its slot to the new label_propagation community query: the
    distinct-triple capability stays gated via a4_edges_provenance
    (the same 3-column group key plus provenance pipe-joins) and the
    golden-port pytests, with the full oracle kept here.
    u1_endpoint_union had green round-1 AND round-2 driver rows and
    ceded its slot to the new zorder_values layout query: the
    endpoint distinct-union capability stays gated inside
    j2_coverage_anti (which unions both endpoint id sets before its
    anti join) and graph_stats_report (distinct endpoint counts),
    with the full oracle kept here.
    sessionization had green round-1 AND round-2 driver rows and ceded
    its slot to the new exact_dup_runs query: the window-function
    family stays gated via w1_priority_dedup (ranked windows) and
    asof_enrich (the union-window pattern), the gap-session capability
    keeps the full oracle here plus test_sessions, and its streaming
    face gained its own coverage in test_streaming_sessions.
    holdout_split had green round-1 AND round-2 driver rows and ceded
    its slot to the new suffix_ranks query: the hash-bucket split
    family stays gated via deterministic_sample (the same portable
    hash-threshold core) and keeps test_split's proportion/determinism
    coverage plus the full oracle here.
    ngram_jaccard had green round-1 AND round-2 driver rows and ceded
    its slot to the new semdedup query: the shingle/inverted-index
    similarity family stays gated via minhash_lsh, duplicated_spans and
    substring_dedup_cut (all sharing the same shingle machinery), and
    the operator keeps its full oracle here plus test_dedup value
    checks.
    New round-3 operators queued for the round-4 gate rotation (full
    oracles + pytest now): bm25_topk (BM25 keyword retrieval,
    operators/bm25.py — the lexical-ranking complement of the gated
    tfidf_topk and the vector top-k family) and pq_adc_topk (product
    quantization train/encode/ADC-search, operators/pq.py — the m-code
    compression rung above the gated sq8_adc_topk; oracle retrains the
    codebooks itself via the module-generated CTE chain); and
    scc_components (strongly connected components, operators/scc.py —
    the directed complement of the gated cc_components, solved
    independently in the oracle by recursive-CTE closure + mutual
    pairs); ktruss_3 (k-truss decomposition, operators/truss.py —
    the edge-granular cohesion peel over the same gate graph as
    kcore_2, oracle support derived independently via an adjacency
    self-join on the common neighbor); and kmv_token_overlap (KMV
    bottom-k set-intersection sketches, operators/kmv.py — the
    overlap estimate the HLL family can't express; module-generated
    oracle); pmi_collocations (PMI/NPMI phrase mining,
    operators/collocations.py — the association-scored complement of
    bpe_pairs; module-generated oracle); and hyperball_balls
    (HyperBall neighborhood function, operators/hyperball.py —
    column-register HLL balls vs an independent row-form oracle); and
    scd2_history (SCD2 validity-interval history, operators/history.py
    — chained folds vs the independent window-derivation oracle); and
    ppjoin_pairs (prefix-filtered set-similarity join,
    operators/ppjoin.py — exact-recall AllPairs/PPJoin pruning vs the
    NAIVE full-index oracle, a machine-checked proof of the prefix
    theorem); weighted_sample (Efraimidis–Spirakis A-ES weighted
    sampling, operators/split.py — identical-formula oracle); and
    kmv_join_size (equi-join output-size estimation from two
    frequency-annotated bottom-k sketches, operators/kmv.py —
    module-generated oracle); and skew_report (shuffle-skew
    diagnostics + salt prescription, operators/skew.py —
    module-generated oracle).
    New round-3 KG-reasoning operators queued for the round-4 gate
    rotation (full oracles + pytest now): semantic_similarity
    (IC/Resnik/Lin over the ontology closure, operators/semsim.py —
    recursive-CTE closure + module-generated ic/lin twins) and
    bgp_property_paths (SPARQL property paths ^ / | + * ? compiled to
    DataFrame algebra + closure, plans/bgp.py — recursive-CTE oracle)
    and bgp_aggregates / bgp_construct (SPARQL 1.1 GROUP BY + COUNT/
    SUM/MIN/MAX/AVG/SAMPLE/GROUP_CONCAT + HAVING, and CONSTRUCT
    template instantiation with per-triple unbound-skip + RDF-set
    semantics, plans/bgp.py — LEFT-JOIN solution-multiset twins)
    and cypher_var_length (Cypher variable-length relationships
    ``-[:T*lo..hi]->`` compiled to chained equi-joins / the
    path-doubling closure, plans/cypher.py — lead()-chain unrolled
    twin)
    and densest_subgraph (Bahmani greedy peeling with the BIGINT
    density protocol, operators/densest.py — module-generated
    materialized-CTE unroll twin)
    and modularity_communities (exact-BIGINT Newman modularity of the
    LPA assignment, operators/labelprop.modularity — unrolled-LPA
    derived-table twin)
    and node2vec_walks (second-order biased walks via deterministic
    rejection sampling, operators/walks.node2vec_walks —
    module-generated steps×rounds unrolled twin)
    and graph_coloring (iterated-Luby-MIS conflict-free concurrency
    batches, operators/coloring.py — module-generated colors×rounds
    unrolled twin)
    and mine_expectations (domain/range expectation mining from the
    schema_summary type graph, operators/validate.mine_expectations —
    schema-summary twin feeding the module-generated mining twin)
    and dbscan_embeddings (DBSCAN core/border/noise density clustering
    over the SemDeDup pair relation, operators/dbscan.py — Lloyd/pair
    CTE chain feeding the module-generated dbscan twin)
    and katz_centrality (K-truncated Katz with the per-round
    integer-floor micro protocol, operators/katz.py —
    module-generated unrolled twin)
    and entailment_provenance (why-provenance rule tags per entailed
    triple, operators/entailment.rdfs_entailment_provenance —
    module-generated tagged twin)
    and betweenness_sampled (hash-sampled bounded-hop Brandes
    betweenness with per-term-floored integer dependencies,
    operators/betweenness.py — module-generated forward/backward
    unrolled twin)
    and unigram_segment_cost (unigram-LM tokenizer lattice
    segmentation, operators/unigram_lm.py — module-generated
    walk-enumeration twin over the relationally re-derived seed
    vocabulary)
    and owl_entailment (OWL-lite inverseOf/symmetric/transitive via a
    signed predicate-implication lattice, operators/entailment.py —
    module-generated recursive-CTE twin) and weighted_sssp (frontier
    Bellman-Ford shortest paths, operators/sssp.py — independent
    bounded-walk-enumeration oracle) and kg_incremental_closure (delta
    fold into a closed reachability relation, operators/closure.py —
    fold ≡ full re-closure invariant oracle) and
    kg_incremental_entailment (delta ABox fold into a materialized
    entailment, operators/entailment.py — fold ≡ full re-entailment
    invariant oracle) and table_profile (one-pass per-column exact
    profiler, operators/profile.py — per-column re-derivation oracle)
    and bgp_over_entailment (reasoning-aware BGP querying over the
    materialized entailment — pattern-join SQL over the entailment
    twin as a derived table) and kg_corrupt_triples (type-consistent
    filtered KG-embedding negative sampling,
    operators/negatives.corrupt_triples — module-generated twin) and
    linkpred_ranking (windowless MRR/Hits@k ranking evaluation,
    operators/linkpred.ranking_metrics — module-generated twin) and
    er_fs_scoring (Fellegi-Sunter probabilistic ER scoring,
    operators/er_scoring.py — module-generated end-to-end twin) and
    schema_summary (quotient-graph TYPE-graph summarization,
    operators/stats.schema_summary — A3-node-CTE + module twin) and
    er_agreement_patterns (the ≤2^k-row sufficient statistic for the
    unsupervised Fellegi-Sunter EM fit — grouped-count twin; the EM
    loop itself is pytest-proven against planted parameters) and
    blocking_eval (pair completeness / quality / reduction ratio,
    operators/blocking.blocking_metrics — arithmetic twin).
    Round-5 rotation: the gate (_GATE_R5) holds the 17 queries that
    had never been driver-verified through round 4 (once green,
    cumulative driver coverage is 157/157 registered queries),
    hits_kg (sparse half-step rewrite landed after its last green
    driver row), and 32 least-recently-proven re-gates (the VERDICT
    r4 flagship list plus every query whose last green row was round
    2). Everything else — including the full round-4 gate, all green
    in CORRECTNESS_r04 — lives here.

    Still oracle-checked by scripts/check_correctness.py and pytest."""
    gated = set(_GATE_R5)
    return {
        k: v for k, v in _all_query_fns().items() if k not in gated
    }


def _all_query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query (gated + extra), name → callable."""
    return {
        "rdfs_entailment": q_rdfs_entailment,
        "link_prediction": q_link_prediction,
        "line_dedup": q_line_dedup,
        "hits_kg": q_hits_kg,
        "zorder_values": q_zorder_values,
        "exact_dup_runs": q_exact_dup_runs,
        "suffix_ranks": q_suffix_ranks,
        "semdedup": q_semdedup,
        "label_propagation": q_label_propagation,
        "gopher_quality": q_gopher_quality,
        "kg_incremental_cc": q_kg_incremental_cc,
        "hll_distinct_spans": q_hll_distinct_spans,
        "cms_heavy_tokens": q_cms_heavy_tokens,
        "bloom_prune_decisions": q_bloom_prune_decisions,
        "quantile_doc_lengths": q_quantile_doc_lengths,
        "substring_dedup_cut": q_substring_dedup_cut,
        "bigram_lm_perplexity": q_bigram_lm,
        "random_projection": q_random_projection,
        "sq8_adc_topk": q_sq8_adc_topk,
        "pii_redaction": q_pii_redaction,
        "url_parse_stats": q_url_parse_stats,
        "tfidf_topk": q_tfidf_topk,
        "quality_model_score": q_quality_model,
        "duplicated_spans": q_duplicated_spans,
        "kcore_2": q_kcore,
        "kg_incremental_upsert": q_kg_incremental_upsert,
        "bfs_khop": q_bfs_khop,
        "triangle_counts": q_triangle_counts,
        "pagerank_kg": q_pagerank_kg,
        "kmeans_clusters": q_kmeans_clusters,
        "sequence_packing": q_sequence_packing,
        "near_dup_dedup": q_near_dup_dedup,
        "benchmark_contamination": q_benchmark_contamination,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "cypher_match": q_cypher_match,
        "minhash_lsh": q_minhash_lsh,
        "simhash_near_dups": q_simhash_near_dups,
        "lsh_cosine_topk": q_lsh_cosine_topk,
        "multimodal_features": q_multimodal_features,
        "corpus_curation": q_corpus_curation,
        "a3_nodes_group_merge": q_a3_nodes_group_merge,
        "a4_edges_provenance": q_a4_edges_provenance,
        "w1_priority_dedup": q_w1_priority_dedup,
        "j2_coverage_anti": q_j2_coverage_anti,
        "s2_union_align": q_s2_union_align,
        "bgp_filter_optional": q_bgp_filter_optional,
        "cc_components": q_cc_components,
        "triples_extract": q_triples_extract,
        "pivot_events": q_pivot_events,
        "deterministic_sample": q_deterministic_sample,
        "semantic_similarity": q_semantic_similarity,
        "bgp_property_paths": q_bgp_property_paths,
        "bgp_aggregates": q_bgp_aggregates,
        "bgp_construct": q_bgp_construct,
        "cypher_var_length": q_cypher_var_length,
        "densest_subgraph": q_densest_subgraph,
        "modularity_communities": q_modularity_communities,
        "node2vec_walks": q_node2vec_walks,
        "graph_coloring": q_graph_coloring,
        "mine_expectations": q_mine_expectations,
        "dbscan_embeddings": q_dbscan_embeddings,
        "katz_centrality": q_katz_centrality,
        "entailment_provenance": q_entailment_provenance,
        "betweenness_sampled": q_betweenness_sampled,
        "unigram_segment_cost": q_unigram_segment_cost,
        "bgp_over_entailment": q_bgp_over_entailment,
        "kg_corrupt_triples": q_kg_corrupt_triples,
        "linkpred_ranking": q_linkpred_ranking,
        "er_fs_scoring": q_er_fs_scoring,
        "er_agreement_patterns": q_er_agreement_patterns,
        "schema_summary": q_schema_summary,
        "blocking_eval": q_blocking_eval,
        "owl_entailment": q_owl_entailment,
        "weighted_sssp": q_weighted_sssp,
        "kg_incremental_closure": q_kg_incremental_closure,
        "kg_incremental_entailment": q_kg_incremental_entailment,
        "table_profile": q_table_profile,
        "q1_pricing_summary": q_q1_pricing_summary,
        "ktruss_3": q_ktruss,
        "kmv_token_overlap": q_kmv_token_overlap,
        "pmi_collocations": q_pmi_collocations,
        "hyperball_balls": q_hyperball,
        "scd2_history": q_scd2_history,
        "ppjoin_pairs": q_ppjoin_pairs,
        "weighted_sample": q_weighted_sample,
        "kmv_join_size": q_kmv_join_size,
        "skew_report": q_skew_report,
        "bm25_topk": q_bm25_topk,
        "pq_adc_topk": q_pq_adc_topk,
        "scc_components": q_scc_components,
        "dag_levels": q_dag_levels,
        "subclass_closure": q_subclass_closure,
        "kg_validation": q_kg_validation,
        "asof_enrich": q_asof_enrich,
        "graph_stats_report": q_graph_stats,
        "text_quality": q_text_quality,
        "bgp_union": q_bgp_union,
        "clustering_coeff": q_clustering_coeff,
        "dup_coverage": q_dup_coverage,
        "u1_endpoint_union": q_u1_endpoint_union,
        "sessionization": q_sessionization,
        "holdout_split": q_holdout_split,
        "ngram_jaccard": q_ngram_jaccard,
        "a4_edges_distinct": q_a4_edges_distinct,
        "dedup_exact": q_dedup_exact,
        "chunk_sliding": q_chunk_sliding,
        "a2_count_distinct": q_a2_count_distinct,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_topk": q_embedding_topk,
        "topk_per_group": q_topk_per_group,
        "repetition_ratio": q_repetition_ratio,
        "fuzzy_levenshtein": q_fuzzy_levenshtein,
        "temperature_mix": q_temperature_mix,
        "cap_per_source": q_cap_per_source,
        "negative_samples": q_negative_samples,
        "shard_layout": q_shard_layout,
        "kg_incremental_edges": q_kg_incremental_edges,
        "kg_snapshot_diff": q_kg_snapshot_diff,
        "kg_random_walks": q_kg_random_walks,
        "skipgram_pairs": q_skipgram_pairs,
        "winnow_overlap": q_winnow_overlap,
        "er_token_blocking": q_er_token_blocking,
        "meta_blocking": q_meta_blocking,
        "url_canonicalize": q_url_canonicalize,
        "crawl_schedule": q_crawl_schedule,
        "robots_gate": q_robots_gate,
        "mis_conflict_free": q_mis_conflict_free,
        "wl_refinement": q_wl_refinement,
        "sorted_neighborhood": q_sorted_neighborhood,
        "vocab_topk": q_vocab_topk,
        "bpe_merges": q_bpe_merges,
        "json_extract": q_json_extract,
        "percentiles": q_percentiles,
        "cube_agg": q_cube_agg,
        "bpe_pairs": q_bpe_pairs,
        "events_hourly": q_events_hourly,
        "semi_join": q_semi_join,
        "q3_shipping_priority": q_q3_shipping_priority,
        "array_funcs": q_array_funcs,
        "stratified_sample": q_stratified_sample,
        "rolling_stats": q_rolling_stats,
        "a3_nodes_group_merge_salted": q_a3_salted,
        "a3_nodes_group_merge_skew_aware": q_a3_skew_aware,
        "anti_join": q_anti_join,
        "lag_delta": q_lag_delta,
        "rolling_1h_range": q_rolling_1h_range,
        "rollup_agg": q_rollup_agg,
        "unpivot_stats": q_unpivot_stats,
        "date_arith": q_date_arith,
        "cc_chain_hub": q_cc_chain_hub,
        "set_ops": q_set_ops,
        "global_topk": q_global_topk,
        "string_funcs": q_string_funcs,
        "q18_large_orders": q_q18_large_orders,
        "join_star_agg": q_join_star_agg,
        "range_band_join": q_range_band_join,
        "bgp_two_hop": q_bgp_two_hop,
    }


def _all_oracle_sql() -> dict[str, str]:
    """DuckDB twins for every registered query (gated + extra)."""
    pipe = _pipe_agg_sql
    sql: dict[str, str] = {}

    sql["a3_nodes_group_merge"] = _A3_SQL
    sql["a3_nodes_group_merge_salted"] = _A3_SQL
    sql["a3_nodes_group_merge_skew_aware"] = _A3_SQL
    # incremental fold ≡ full re-merge: the oracle IS the full merge
    sql["kg_incremental_upsert"] = _A3_SQL

    sql["a4_edges_distinct"] = f"""
        SELECT DISTINCT subject, predicate, object FROM ({_EDGES_SQL})
    """

    sql["a4_edges_provenance"] = f"""
        SELECT subject, predicate, object,
               {pipe('relation')},
               {pipe('knowledge_source')}
        FROM ({_EDGES_SQL})
        GROUP BY subject, predicate, object
    """

    sql["w1_priority_dedup"] = """
        SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY CASE WHEN source = 'src0' THEN 1 ELSE 2 END,
                                doc_id) AS rn
            FROM documents) WHERE rn = 1
    """

    sql["j2_coverage_anti"] = """
        WITH edges AS (
            SELECT 'EC:' || o_custkey AS subject,
                   'UniprotKB:' || user_id AS object
            FROM orders JOIN events ON o_custkey = user_id
        ), endpoints AS (
            SELECT subject AS id FROM edges
            UNION
            SELECT object FROM edges
        ), missing AS (
            SELECT id FROM endpoints
            WHERE id NOT IN (SELECT 'EC:' || c_custkey FROM customer)
        )
        SELECT id,
               CASE WHEN starts_with(id, 'EC:') THEN 'biolink:Enzyme'
                    WHEN starts_with(id, 'assay:') THEN 'biolink:PhenotypicQuality'
                    WHEN starts_with(id, 'trophic_type:') THEN 'biolink:BiologicalProcess'
                    WHEN starts_with(id, 'cell_shape:') THEN 'biolink:PhenotypicQuality'
                    WHEN starts_with(id, 'UniprotKB:') THEN 'biolink:Enzyme'
                    WHEN starts_with(id, 'medium:') THEN 'biolink:ChemicalEntity'
                    WHEN starts_with(id, 'carbon_substrates:') THEN 'biolink:ChemicalEntity'
                    ELSE 'Unknown' END AS category
        FROM missing
    """

    sql["u1_endpoint_union"] = """
        SELECT 'P:' || l_partkey AS id FROM lineitem
        UNION
        SELECT 'S:' || l_suppkey FROM lineitem
    """

    sql["a2_count_distinct"] = """
        SELECT cast(count(*) AS BIGINT) AS n_rows,
               cast(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
               cast(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem
    """

    sql["q1_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               {_cents_sum_sql('l_extendedprice', 'sum_base_price')},
               {_cents_sum_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {_cents_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
               round(sum(cast(round(l_discount * 100) as bigint))
                     / (100.0 * count(*)), 6) AS avg_disc,
               cast(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1999-12-01'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["join_star_agg"] = f"""
        SELECT r_name,
               cast(count(*) AS BIGINT) AS n_orders,
               {_cents_sum_sql('o_totalprice', 'revenue')}
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
    """

    sql["semi_join"] = """
        SELECT l_returnflag, cast(count(*) AS BIGINT) AS n
        FROM lineitem
        WHERE l_orderkey IN (
            SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        GROUP BY l_returnflag
    """

    sql["anti_join"] = """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """

    sql["topk_per_group"] = """
        SELECT o_custkey, o_orderkey, o_totalprice, cast(rank AS INTEGER) AS rank
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey) AS rank
            FROM orders)
        WHERE rank <= 3
    """

    sql["global_topk"] = """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """

    sql["events_hourly"] = f"""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               cast(count(*) AS BIGINT) AS n,
               {_cents_sum_sql('value', 'sum_value')}
        FROM events
        GROUP BY 1, 2
    """

    sql["sessionization"] = """
        WITH s AS (
            SELECT user_id, value, ts, event_id,
                   cast(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR cast(floor(epoch(ts)) AS BIGINT)
                                - cast(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS is_start
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s2 AS (
            SELECT user_id, value, ts_sec,
                   sum(is_start) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_seq
            FROM s)
        SELECT user_id,
               cast(session_seq AS BIGINT) AS session_seq,
               cast(count(*) AS BIGINT) AS n_events,
               sum(cast(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
               cast(max(ts_sec) - min(ts_sec) AS BIGINT) AS duration_sec
        FROM s2
        GROUP BY user_id, session_seq
    """

    sql["rolling_stats"] = """
        SELECT user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               cast(row_number() OVER w AS INTEGER) AS event_idx,
               sum(cast(round(value * 100) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) / 100.0 AS running_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """

    sql["rolling_1h_range"] = """
        WITH e AS (
            SELECT event_id, user_id,
                   cast(floor(epoch(ts)) AS BIGINT) AS ts_sec,
                   cast(round(value * 100) AS BIGINT) AS cents
            FROM events)
        SELECT event_id, user_id,
               cast(count(*) OVER w AS BIGINT) AS n_1h,
               (sum(cents) OVER w) / 100.0 AS sum_1h
        FROM e
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts_sec
            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """

    sql["lag_delta"] = """
        SELECT event_id, user_id,
               cast(floor(epoch(ts)) AS BIGINT)
                   - lag(cast(floor(epoch(ts)) AS BIGINT)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id)
                   AS sec_since_prev
        FROM events
    """

    sql["set_ops"] = """
        WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
             e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
        SELECT user_id, 'both' AS cohort FROM (SELECT user_id FROM p INTERSECT SELECT user_id FROM e)
        UNION ALL
        SELECT user_id, 'purchase_only' FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM e)
    """

    sql["asof_enrich"] = """
        WITH l AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'error'),
        r AS (
            SELECT user_id, ts, value FROM events
            WHERE event_type = 'purchase')
        SELECT l.event_id, l.user_id,
               strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
               r.value AS last_purchase_value
        FROM l ASOF LEFT JOIN r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """

    sql["json_extract"] = """
        SELECT cast(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
               cast(count(*) AS BIGINT) AS n
        FROM events
        GROUP BY 1
    """

    sql["s2_union_align"] = """
        SELECT doc_id, text, lang, NULL AS source, NULL AS n_chars
        FROM documents WHERE source = 'src0'
        UNION ALL
        SELECT doc_id, NULL, NULL, source, n_chars
        FROM documents WHERE source = 'src1'
    """

    sql["percentiles"] = """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS p50,
               quantile_cont(l_extendedprice, 0.9) AS p90,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem
        GROUP BY l_returnflag
    """

    sql["q3_shipping_priority"] = f"""
        SELECT l_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
               o_orderpriority,
               {_cents_sum_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate_s, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """

    sql["cube_agg"] = f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type,
               cast(count(*) AS BIGINT) AS n,
               {_cents_sum_sql('value', 'sum_value')}
        FROM events
        GROUP BY CUBE (day, event_type)
    """

    sql["q18_large_orders"] = """
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS total_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
        SELECT c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
               o_totalprice, total_qty
        FROM big
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """

    sql["string_funcs"] = """
        SELECT n_name,
               substring(n_name, 1, 6) AS sub6,
               upper(reverse(n_name)) AS rev_upper,
               regexp_replace(n_name, '_', '-', 'g') AS dashed,
               cast(length(n_name) AS INTEGER) AS len,
               cast(instr(n_name, '_') AS INTEGER) AS us_pos,
               n_name || '/' || n_name AS doubled
        FROM nation
    """

    sql["rollup_agg"] = """
        SELECT l_returnflag, l_linestatus,
               cast(count(*) AS BIGINT) AS n,
               sum(l_quantity) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    sql["range_band_join"] = f"""
        WITH bands(band, lo, hi) AS (
            VALUES ('low', 0.0, 933.0),
                   ('mid', 933.0, 966.0),
                   ('high', 966.0, 1e9))
        SELECT band,
               cast(count(*) AS BIGINT) AS n_parts,
               {_cents_sum_sql('p_retailprice', 'sum_price')}
        FROM part JOIN bands
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band
    """

    sql["fuzzy_levenshtein"] = """
        SELECT a.n_name AS name_a, b.n_name AS name_b,
               cast(levenshtein(a.n_name, b.n_name) AS INTEGER) AS distance
        FROM nation a JOIN nation b ON a.n_name < b.n_name
        WHERE levenshtein(a.n_name, b.n_name) <= 1
    """

    sql["cc_components"] = """
        WITH rep AS (
            SELECT c_nationkey, min('C' || c_custkey) AS m
            FROM customer GROUP BY c_nationkey)
        SELECT 'C' || c_custkey AS node, m AS component
        FROM customer JOIN rep USING (c_nationkey)
        UNION ALL
        SELECT DISTINCT 'N' || c_nationkey, m
        FROM customer JOIN rep USING (c_nationkey)
        UNION ALL
        SELECT 'O' || o_orderkey, m
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN rep USING (c_nationkey)
    """

    # bounded recursive closure with min-dist aggregation: UNION
    # (distinct) on (id, dist) pairs terminates because dist <= 2
    sql["bfs_khop"] = """
        WITH RECURSIVE base AS (
            SELECT 'C' || o_custkey AS s, 'O' || o_orderkey AS d
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
        sym AS (
            SELECT DISTINCT s, d FROM (
                SELECT s, d FROM base UNION ALL SELECT d, s FROM base)
            WHERE s <> d),
        walk(id, dist) AS (
            SELECT id, 0 FROM (VALUES ('N1'), ('N2')) v(id)
            UNION
            SELECT sym.d, walk.dist + 1
            FROM walk JOIN sym ON sym.s = walk.id
            WHERE walk.dist < 2)
        SELECT id, CAST(min(dist) AS INTEGER) AS dist
        FROM walk GROUP BY id
    """

    # generic triangle enumeration: undirected simple edges, each
    # triangle once via a<b<c (e1=(a,b), e2=(b,c), e3=(a,c))
    sql["triangle_counts"] = """
        WITH raw AS (
            SELECT 'N' || n_nationkey AS s, 'R' || n_regionkey AS d
            FROM nation
            UNION ALL
            SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
            UNION ALL
            SELECT 'S' || s_suppkey, 'R' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        und AS (
            SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
            FROM raw WHERE s <> d),
        tri AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        corners AS (
            SELECT u AS id FROM tri
            UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri)
        SELECT id, CAST(count(*) AS BIGINT) AS triangles
        FROM corners GROUP BY id
    """

    sql["link_prediction"] = """
        WITH raw AS (
            SELECT 'C' || o_custkey AS s, 'O' || o_orderkey AS d FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
        und AS (
            SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
            FROM raw WHERE s <> d),
        nbr AS (
            SELECT a AS z, b AS x FROM und
            UNION ALL SELECT b, a FROM und),
        deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM nbr GROUP BY z),
        cent AS (
            SELECT nbr.z, nbr.x, deg.deg,
                   CASE WHEN deg.deg >= 2
                        THEN CAST(floor(1000000.0 / ln(deg.deg) + 0.5)
                                  AS BIGINT)
                        ELSE 0 END AS aa_micro
            FROM nbr JOIN deg ON nbr.z = deg.z
            WHERE deg.deg <= 100),
        p AS (
            SELECT l.x AS node_a, r.x AS node_b,
                   CAST(count(*) AS BIGINT) AS common,
                   sum(l.aa_micro) AS aa_sum
            FROM cent l JOIN cent r ON l.z = r.z AND l.x < r.x
            GROUP BY 1, 2
            HAVING count(*) >= 1),
        np AS (
            SELECT p.* FROM p
            ANTI JOIN und ON p.node_a = und.a AND p.node_b = und.b)
        SELECT np.node_a, np.node_b, np.common,
               cast(np.aa_sum AS DOUBLE) / 1000000.0 AS adamic_adar,
               CAST(floor(cast(np.common AS DOUBLE)
                          / (da.deg + db.deg - np.common)
                          * 1000000.0 + 0.5) AS BIGINT) / 1000000.0
                   AS jaccard
        FROM np
        JOIN deg da ON np.node_a = da.z
        JOIN deg db ON np.node_b = db.z
    """

    sql["hits_kg"] = _hits_sql(iterations=4)

    sql["line_dedup"] = f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        docs2 AS (
            SELECT doc_id, array_to_string(
                [array_to_string(t[i*8+1 : i*8+8], ' ')
                 FOR i IN range(CAST(ceil(len(t)/8.0) AS BIGINT))],
                chr(10)) AS text
            FROM toks),
        l AS (
            SELECT doc_id,
                   unnest(string_split(text, chr(10))) AS line,
                   unnest(range(len(string_split(text, chr(10))))) AS pos
            FROM docs2),
        elig AS (
            SELECT doc_id, pos, {_h60('trim(line)')} AS h
            FROM l WHERE length(trim(line)) >= 5),
        fl AS (
            SELECT h FROM (
                SELECT h, count(DISTINCT doc_id) AS dfreq
                FROM elig GROUP BY h)
            WHERE dfreq >= 2),
        fpos AS (
            SELECT doc_id, list_sort(list(pos)) AS fl
            FROM elig SEMI JOIN fl ON elig.h = fl.h GROUP BY doc_id)
        SELECT d.doc_id,
               md5(coalesce(array_to_string(
                   list_filter(string_split(d.text, chr(10)),
                       (x, i) -> NOT coalesce(
                           list_contains(f.fl, i - 1), FALSE)),
                   chr(10)), '')) AS clean_md5,
               CAST(len(string_split(d.text, chr(10))) AS BIGINT)
                   AS n_lines,
               CAST(coalesce(len(f.fl), 0) AS BIGINT) AS n_removed
        FROM docs2 d LEFT JOIN fpos f ON d.doc_id = f.doc_id
    """

    sql["bgp_union"] = """
        WITH u AS (
            SELECT 'N' || c_nationkey AS n, 'C' || c_custkey AS c,
                   CAST(NULL AS VARCHAR) AS s
            FROM customer
            UNION ALL
            SELECT 'N' || s_nationkey, NULL, 'S' || s_suppkey
            FROM supplier)
        SELECT 'R' || n_regionkey AS r, u.n,
               CAST(count(u.c) AS BIGINT) AS n_customers,
               CAST(count(u.s) AS BIGINT) AS n_suppliers
        FROM nation JOIN u ON u.n = 'N' || n_nationkey
        GROUP BY 1, 2 ORDER BY 1, 2
    """

    sql["clustering_coeff"] = """
        WITH raw AS (
            SELECT 'N' || n_nationkey AS s, 'R' || n_regionkey AS d
            FROM nation
            UNION ALL
            SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
            UNION ALL
            SELECT 'S' || s_suppkey, 'R' || n_regionkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey),
        und AS (
            SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
            FROM raw WHERE s <> d),
        deg AS (
            SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
                SELECT a AS id FROM und UNION ALL SELECT b FROM und)
            GROUP BY id),
        tri AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        cnt AS (
            SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM (
                SELECT u AS id FROM tri
                UNION ALL SELECT v FROM tri
                UNION ALL SELECT w FROM tri)
            GROUP BY id)
        SELECT deg.id, deg.degree,
               coalesce(cnt.triangles, 0) AS triangles,
               CASE WHEN deg.degree >= 2
                    THEN cast(floor(2.0 * coalesce(cnt.triangles, 0)
                                    / (deg.degree * (deg.degree - 1))
                                    * 1000000.0 + 0.5) AS BIGINT)
                         / 1000000.0
                    ELSE 0.0 END AS coeff
        FROM deg LEFT JOIN cnt ON deg.id = cnt.id
    """

    sql["bgp_two_hop"] = """
        WITH edges AS (
            SELECT 'C' || o_custkey AS subject, 'owns' AS predicate,
                   'O' || o_orderkey AS object
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'located_in', 'N' || c_nationkey
            FROM customer),
        m AS (
            SELECT b.object AS n
            FROM edges a JOIN edges b ON a.subject = b.subject
            WHERE a.predicate = 'owns' AND b.predicate = 'located_in')
        SELECT n, cast(count(*) AS BIGINT) AS n_orders
        FROM m GROUP BY n
    """

    # OPTIONAL = left join with the optional pattern's predicate filter
    # in the ON clause (preserves NULL bindings); FILTER on the
    # mandatory-side variable.
    sql["bgp_filter_optional"] = """
        WITH edges AS (
            SELECT 'C' || o_custkey AS subject, 'owns' AS predicate,
                   'O' || o_orderkey AS object
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'located_in', 'N' || c_nationkey
            FROM customer),
        m AS (
            SELECT l.subject AS c, l.object AS n, o.object AS o
            FROM edges l
            LEFT JOIN edges o
              ON o.predicate = 'owns' AND o.subject = l.subject
            WHERE l.predicate = 'located_in' AND l.object <> 'N10')
        SELECT n, cast(count(DISTINCT c) AS BIGINT) AS n_customers,
               cast(count(o) AS BIGINT) AS n_orders
        FROM m GROUP BY n
    """

    # SPARQL GROUP BY + aggregates + HAVING over the same solution
    # multiset: COUNT(*) counts solutions, COUNT(?o) skips OPTIONAL
    # NULLs, SAMPLE ≡ MIN (the engine's documented deterministic
    # pinning), HAVING on the aggregate output
    sql["bgp_aggregates"] = """
        WITH edges AS (
            SELECT 'C' || o_custkey AS subject, 'owns' AS predicate,
                   'O' || o_orderkey AS object
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'located_in', 'N' || c_nationkey
            FROM customer),
        sol AS (
            SELECT l.subject AS c, l.object AS n, o.object AS o
            FROM edges l
            LEFT JOIN edges o
              ON o.predicate = 'owns' AND o.subject = l.subject
            WHERE l.predicate = 'located_in')
        SELECT n,
               cast(count(*) AS BIGINT) AS n_solutions,
               cast(count(o) AS BIGINT) AS n_orders,
               cast(count(DISTINCT c) AS BIGINT) AS n_customers,
               min(c) AS first_customer,
               max(o) AS max_order
        FROM sol GROUP BY n
        HAVING count(DISTINCT c) >= 2
    """

    # SPARQL CONSTRUCT: per-solution template fan-out, unbound-variable
    # triples skipped per template row, DISTINCT (RDF graph = set)
    sql["bgp_construct"] = """
        WITH edges AS (
            SELECT 'C' || o_custkey AS subject, 'owns' AS predicate,
                   'O' || o_orderkey AS object
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'located_in', 'N' || c_nationkey
            FROM customer),
        sol AS (
            SELECT l.subject AS c, l.object AS n, o.object AS o
            FROM edges l
            LEFT JOIN edges o
              ON o.predicate = 'owns' AND o.subject = l.subject
            WHERE l.predicate = 'located_in'),
        t AS (
            SELECT n AS subject, 'has_resident' AS predicate,
                   c AS object
            FROM sol
            UNION ALL
            SELECT c, 'ordered', o FROM sol WHERE o IS NOT NULL
            UNION ALL
            SELECT c, 'type', 'Customer' FROM sol)
        SELECT DISTINCT subject, predicate, object FROM t
    """

    # iterated-MIS greedy coloring: module-generated twin (color
    # rounds × MIS rounds unrolled; depth pinned in test_coloring)
    from kg_microbe_merge_spark.operators.coloring import coloring_sql

    sql["graph_coloring"] = coloring_sql(
        "SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst "
        "FROM customer "
        "UNION ALL "
        "SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier",
        colors=6,
        mis_rounds=12,
    )

    # modularity of the LPA assignment: the unrolled LPA twin as a
    # derived table + the same exact-integer per-community stats
    sql["modularity_communities"] = f"""
        WITH lab AS MATERIALIZED (
            SELECT * FROM ({_labelprop_sql(iterations=4)}) t),
        e0 AS (
            SELECT 'C' || o_custkey AS x, 'O' || o_orderkey AS y
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer),
        g AS MATERIALIZED (
            SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
            FROM e0 WHERE x <> y),
        mm AS (SELECT count(*) AS m FROM g),
        deg AS (
            SELECT n, count(*) AS deg FROM (
                SELECT a AS n FROM g UNION ALL SELECT b FROM g)
            GROUP BY n),
        degc AS (
            SELECT coalesce(l.community, d.n) AS community,
                   count(*) AS n_nodes, sum(deg) AS degree_sum
            FROM deg d LEFT JOIN lab l ON d.n = l.node
            GROUP BY 1),
        intra AS (
            SELECT coalesce(la.community, g.a) AS community,
                   count(*) AS intra_edges
            FROM g
            LEFT JOIN lab la ON g.a = la.node
            LEFT JOIN lab lb ON g.b = lb.node
            WHERE coalesce(la.community, g.a) = coalesce(lb.community, g.b)
            GROUP BY 1)
        SELECT d.community,
               CAST(d.n_nodes AS BIGINT) AS n_nodes,
               CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
               CAST(d.degree_sum AS BIGINT) AS degree_sum,
               CAST(4 * mm.m * coalesce(i.intra_edges, 0)
                    - d.degree_sum * d.degree_sum AS BIGINT) AS q_term_num,
               CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
        FROM degc d LEFT JOIN intra i ON d.community = i.community
        CROSS JOIN mm
    """

    # densest subgraph: module-generated twin (materialized-CTE unroll
    # of the same integer peel; depth pinned <= 40 in test_densest)
    from kg_microbe_merge_spark.operators.densest import densest_sql

    sql["densest_subgraph"] = densest_sql(
        "SELECT 'O' || l_orderkey AS src, 'S' || l_suppkey AS dst "
        "FROM lineitem",
        rounds=40,
    )

    # Cypher variable-length -[:next_order*1..3]-> over per-customer
    # order chains: same lead() chain, three unrolled lengths, distinct
    # endpoint-pair union, grouped count
    sql["cypher_var_length"] = """
        WITH e AS (
            SELECT 'O' || o_orderkey AS s,
                   'O' || lead(o_orderkey) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderkey) AS o
            FROM orders),
        l1 AS (SELECT DISTINCT s, o FROM e WHERE o IS NOT NULL),
        l2 AS (SELECT DISTINCT a.s, b.o FROM l1 a JOIN l1 b ON a.o = b.s),
        l3 AS (SELECT DISTINCT a.s, b.o FROM l2 a JOIN l1 b ON a.o = b.s),
        u AS (SELECT s, o FROM l1 UNION
              SELECT s, o FROM l2 UNION
              SELECT s, o FROM l3)
        SELECT s AS x, cast(count(*) AS BIGINT) AS n
        FROM u GROUP BY s
    """

    # Cypher MATCH (c:Customer)-[:owns]->(o) WHERE c.name CONTAINS '11'
    # RETURN c.id, c.name, count(o) — as a relational twin
    sql["cypher_match"] = """
        SELECT 'C' || c.c_custkey AS cid, c.c_name AS cname,
               cast(count(o.o_orderkey) AS BIGINT) AS n_orders
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_name LIKE '%11%'
        GROUP BY 1, 2
    """

    sql["graph_stats_report"] = f"""
        WITH merged AS ({_A3_SQL}),
        edges AS (SELECT DISTINCT subject, predicate, object
                  FROM ({_EDGES_SQL}))
        SELECT 'nodes_by_category' AS section,
               coalesce(category, 'Unknown') AS key,
               cast(count(*) AS BIGINT) AS n
        FROM merged GROUP BY 2
        UNION ALL
        SELECT 'edges_by_predicate', predicate, cast(count(*) AS BIGINT)
        FROM edges GROUP BY 2
        UNION ALL
        SELECT 'totals', 'total_nodes', cast(count(*) AS BIGINT) FROM merged
        UNION ALL
        SELECT 'totals', 'total_edges', cast(count(*) AS BIGINT) FROM edges
    """

    sql["cc_chain_hub"] = """
        WITH RECURSIVE
        c AS (
            SELECT 'C' || c_custkey AS node, c_nationkey,
                   row_number() OVER (
                       PARTITION BY c_nationkey ORDER BY c_custkey) AS rn
            FROM customer),
        chain AS (
            SELECT a.node AS src, b.node AS dst
            FROM c a JOIN c b
              ON a.c_nationkey = b.c_nationkey AND b.rn = a.rn + 1),
        hub AS (
            SELECT 'HUB' AS src, node AS dst
            FROM c WHERE rn = 1 AND c_nationkey % 2 = 0),
        edges AS (
            SELECT src, dst FROM chain UNION ALL SELECT src, dst FROM hub),
        sym AS (
            SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        walk(node, comp) AS (
            SELECT node, node
            FROM (SELECT src AS node FROM sym UNION SELECT dst FROM sym)
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node)
        SELECT node, min(comp) AS component FROM walk GROUP BY node
    """

    sql["chunk_sliding"] = r"""
        WITH base AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\s+'),
                               t -> t <> '') AS toks
            FROM documents
            WHERE lang = 'en'),
        nz AS (
            SELECT doc_id, toks, len(toks) AS n
            FROM base WHERE len(toks) > 0),
        s AS (
            SELECT doc_id, toks, n,
                   unnest(range(0, greatest(n - 24, 0) + 16, 16)) AS start
            FROM nz)
        SELECT doc_id,
               cast(start // 16 AS INTEGER) AS chunk_idx,
               array_to_string(toks[start + 1 : start + 24], ' ')
                   AS chunk_text,
               cast(least(24, n - start) AS INTEGER) AS n_tok
        FROM s
    """

    sql["kg_incremental_cc"] = """
        WITH RECURSIVE
        base AS (
            SELECT 'C' || c_custkey AS src, 'N' || c_nationkey AS dst
            FROM customer),
        dmerge AS (
            SELECT 'C' || c_custkey AS src,
                   'N' || ((c_nationkey + 5) % 25) AS dst
            FROM customer WHERE c_custkey % 53 = 0),
        dnew AS (
            SELECT 'O' || o_orderkey AS src, 'C' || o_custkey AS dst
            FROM orders WHERE o_orderkey % 101 = 0),
        edges AS (
            SELECT src, dst FROM base
            UNION ALL SELECT src, dst FROM dmerge
            UNION ALL SELECT src, dst FROM dnew),
        sym AS (
            SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        walk(node, comp) AS (
            SELECT node, node
            FROM (SELECT src AS node FROM sym UNION SELECT dst FROM sym)
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node)
        SELECT node, min(comp) AS component FROM walk GROUP BY node
    """

    sql["triples_extract"] = r"""
        WITH m AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(
                       text, '(\w+) (join|merge|scan|filter) (\w+)', 0)) AS hit
            FROM documents WHERE lang = 'en')
        SELECT doc_id,
               string_split(hit, ' ')[1] AS subj,
               string_split(hit, ' ')[2] AS pred,
               string_split(hit, ' ')[3] AS obj
        FROM m
        WHERE string_split(hit, ' ')[1] NOT IN ('a', 'the')
          AND string_split(hit, ' ')[3] NOT IN ('a', 'the')
    """

    _norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    sql["dedup_exact"] = f"""
        SELECT min(doc_id) AS doc_id, cast(count(*) AS BIGINT) AS dup_count
        FROM documents
        GROUP BY md5({_norm})
    """

    _toks = f"regexp_split_to_array({_norm}, ' ')"
    sql["text_quality"] = f"""
        WITH base AS (
            SELECT doc_id, text,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tok,
                   len(list_filter({_toks},
                       t -> t IN ('the','a','and','of','to','in','is','it','that','for')))
                       AS stop_hits
            FROM documents)
        SELECT doc_id,
               cast(n_tok AS INTEGER) AS n_tok,
               cast(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]', 0))
                    AS INTEGER) AS n_bpe,
               md5({_norm}) AS fingerprint,
               CASE WHEN (CASE WHEN n_tok > 0
                          THEN cast(stop_hits AS DOUBLE) / cast(n_tok AS DOUBLE)
                          ELSE 0.0 END) >= 0.05
                    THEN 'en' ELSE 'unk' END AS lang_pred,
               round(0.4 * least(1.0, cast(n_tok AS DOUBLE) / 64.0)
                     + 0.3 * (CASE WHEN length(text) > 0
                              THEN cast(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                                   / cast(length(text) AS DOUBLE)
                              ELSE 0.0 END)
                     + 0.3 * least(1.0,
                           (CASE WHEN n_tok > 0
                            THEN cast(stop_hits AS DOUBLE) / cast(n_tok AS DOUBLE)
                            ELSE 0.0 END) * 5.0), 6) AS quality
        FROM base
    """

    # Gopher rule battery: same statistics relationally — unnest n-grams,
    # GROUP BY, deterministic (count DESC, gram ASC) top-1; every fraction
    # pinned with the floor(x*1e6+0.5) micro protocol like the engine.
    _gtoks = f"list_filter(regexp_split_to_array({_NORM_TEXT_SQL}, ' '), t -> t <> '')"

    def _gram_cte(n: int) -> str:
        return (
            f"SELECT doc_id, unnest(list_transform(range(1, len(toks) - {n} + 2), "
            f"i -> array_to_string(list_slice(toks, i, i + {n} - 1), ' '))) AS g "
            "FROM tok"
        )

    def _micro(x: str) -> str:
        return f"CAST(floor(({x}) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0"

    def _top_cte(src: str) -> str:
        return (
            f"SELECT doc_id, c * length(g) AS covered FROM ("
            f"SELECT doc_id, g, count(*) AS c, "
            f"row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn "
            f"FROM {src} GROUP BY doc_id, g) WHERE rn = 1"
        )

    sql["gopher_quality"] = f"""
        WITH tok AS (
            SELECT doc_id, text,
                   length({_NORM_TEXT_SQL}) AS nlen,
                   {_gtoks} AS toks
            FROM documents),
        base AS (SELECT doc_id, text, nlen, toks, len(toks) AS n_tok FROM tok),
        g2 AS ({_gram_cte(2)}),
        g3 AS ({_gram_cte(3)}),
        g5 AS ({_gram_cte(5)}),
        t2 AS ({_top_cte('g2')}),
        t3 AS ({_top_cte('g3')}),
        d5 AS (
            SELECT doc_id, sum(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END) AS mass
            FROM (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g)
            GROUP BY doc_id),
        sig AS (
            SELECT b.doc_id,
                   cast(b.n_tok AS INTEGER) AS n_tok,
                   CASE WHEN b.n_tok > 0
                        THEN {_micro('cast(b.nlen - (b.n_tok - 1) AS DOUBLE) / b.n_tok')}
                        ELSE 0.0 END AS mean_word_len,
                   CASE WHEN b.n_tok > 0
                        THEN {_micro(
                            "((length(b.text) - length(replace(b.text, '#', '')))"
                            " + (length(b.text) - length(replace(b.text, '...', ''))) / 3)"
                            " / b.n_tok")}
                        ELSE 0.0 END AS symbol_word_ratio,
                   CASE WHEN b.n_tok > 0
                        THEN {_micro(
                            "cast(len(list_filter(b.toks, t -> regexp_matches(t, '[a-z]')))"
                            " AS DOUBLE) / b.n_tok")}
                        ELSE 0.0 END AS alpha_word_frac,
                   CASE WHEN b.nlen > 0 AND t2.covered IS NOT NULL
                        THEN {_micro('cast(t2.covered AS DOUBLE) / b.nlen')}
                        ELSE 0.0 END AS top_2gram_frac,
                   CASE WHEN b.nlen > 0 AND t3.covered IS NOT NULL
                        THEN {_micro('cast(t3.covered AS DOUBLE) / b.nlen')}
                        ELSE 0.0 END AS top_3gram_frac,
                   CASE WHEN b.nlen > 0 AND d5.mass IS NOT NULL
                        THEN least(1.0, {_micro('cast(d5.mass AS DOUBLE) / b.nlen')})
                        ELSE 0.0 END AS dup_5gram_frac
            FROM base b
            LEFT JOIN t2 ON b.doc_id = t2.doc_id
            LEFT JOIN t3 ON b.doc_id = t3.doc_id
            LEFT JOIN d5 ON b.doc_id = d5.doc_id)
        SELECT *,
               (n_tok >= 5 AND mean_word_len >= 2.0 AND mean_word_len <= 10.0
                AND symbol_word_ratio <= 0.1 AND alpha_word_frac >= 0.8
                AND top_2gram_frac <= 0.5 AND top_3gram_frac <= 0.4
                AND dup_5gram_frac <= 0.6) AS keep
        FROM sig
    """

    sql["corpus_curation"] = f"""
        WITH base AS (
            SELECT doc_id, text,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                   END AS n_tok,
                   len(list_filter({_toks},
                       t -> t IN ('the','a','and','of','to','in','is','it','that','for')))
                       AS stop_hits
            FROM documents),
        scored AS (
            SELECT doc_id, text, n_tok,
                   round(0.4 * least(1.0, cast(n_tok AS DOUBLE) / 64.0)
                         + 0.3 * (CASE WHEN length(text) > 0
                                  THEN cast(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)
                                       / cast(length(text) AS DOUBLE)
                                  ELSE 0.0 END)
                         + 0.3 * least(1.0,
                               (CASE WHEN n_tok > 0
                                THEN cast(stop_hits AS DOUBLE) / cast(n_tok AS DOUBLE)
                                ELSE 0.0 END) * 5.0), 6) AS quality
            FROM base),
        filtered AS (
            SELECT * FROM scored
            WHERE n_tok >= 32 AND n_tok <= 4096 AND quality >= 0.7)
        SELECT min(doc_id) AS doc_id,
               cast(count(*) AS BIGINT) AS dup_count,
               cast(min(n_tok) AS INTEGER) AS n_tok,
               min(quality) AS quality
        FROM filtered
        GROUP BY md5({_norm})
    """

    # 3-gram shingle universe (strings in DuckDB vs 60-bit hashes in
    # Spark — identical distinct/membership counts modulo md5 collisions,
    # same accepted equivalence as ngram_jaccard). Benchmark = the
    # deterministic 5% ':bench' id-hash slice; train = complement.
    sql["benchmark_contamination"] = f"""
        WITH toks AS (
            SELECT doc_id, {_toks} AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 3
                        THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                            for i in range(1, len(t) - 1)])
                        ELSE [array_to_string(t, ' ')] END AS s
            FROM toks),
        ex AS (
            SELECT doc_id, unnest(s) AS shingle FROM sh),
        bench AS (
            SELECT DISTINCT shingle FROM ex
            WHERE ({_h60("doc_id::VARCHAR || ':bench'")} % 10000) < 500),
        train AS (
            SELECT doc_id, shingle FROM ex
            WHERE ({_h60("doc_id::VARCHAR || ':bench'")} % 10000) >= 500)
        SELECT doc_id,
               cast(count(*) AS BIGINT) AS n_shingles,
               cast(count(CASE WHEN shingle IN (SELECT shingle FROM bench)
                          THEN 1 END) AS BIGINT) AS n_contaminated
        FROM train
        GROUP BY doc_id
        HAVING count(CASE WHEN shingle IN (SELECT shingle FROM bench)
                     THEN 1 END) > 0
    """

    sql["ngram_jaccard"] = f"""
        WITH toks AS (
            SELECT doc_id, {_toks} AS t FROM documents),
        sh AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= 3
                        THEN list_distinct([array_to_string(t[i:i+2], ' ')
                                            for i in range(1, len(t) - 1)])
                        ELSE [array_to_string(t, ' ')] END AS s
            FROM toks),
        ex0 AS (
            SELECT doc_id, unnest(s) AS shingle FROM sh),
        hot AS (
            SELECT shingle FROM ex0 GROUP BY shingle HAVING count(*) > 50),
        ex1 AS (
            SELECT doc_id, shingle FROM ex0
            WHERE shingle NOT IN (SELECT shingle FROM hot)),
        sz AS (
            SELECT doc_id, count(*) AS sz FROM ex1 GROUP BY doc_id),
        ex AS (
            SELECT ex1.doc_id, sz.sz, shingle FROM ex1 JOIN sz USING (doc_id)),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.sz AS size_a, b.sz AS size_b,
                   count(*) AS i
            FROM ex a JOIN ex b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4)
        SELECT doc_a, doc_b,
               round(cast(i AS DOUBLE) / (size_a + size_b - i), 6) AS jaccard
        FROM inter
        WHERE round(cast(i AS DOUBLE) / (size_a + size_b - i), 6) >= 0.5
    """

    # mirror of the Spark path: L2-normalize each vector first (per-
    # element divide by a once-computed norm), then a single dot product.
    _norm_cte = """
        e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
        e AS (SELECT vec_id,
                     CASE WHEN list_dot_product(v0, v0) = 0 THEN v0
                          ELSE [x / sqrt(list_dot_product(v0, v0)) for x in v0]
                     END AS v
              FROM e0)
    """
    _cos = "round(list_dot_product(a.v, b.v), 6)"
    sql["embedding_topk"] = f"""
        WITH {_norm_cte},
        s AS (
            SELECT a.vec_id AS query_id, b.vec_id AS vec_id, {_cos} AS cosine
            FROM e a JOIN e b ON b.vec_id <> a.vec_id
            WHERE a.vec_id < 5)
        SELECT query_id, vec_id, cosine, cast(rank AS INTEGER) AS rank
        FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS rank
            FROM s)
        WHERE rank <= 10
    """

    # IVF-flat twin: same deterministic quantizer (K smallest
    # hash60(vec_id) vectors), argmax assignment with (cos DESC, cid)
    # tie-break, n_probe probe cells, exact-cosine re-rank.
    sql["ivf_cosine_topk"] = f"""
        WITH {_norm_cte},
        cents AS (
            SELECT vec_id AS cid, v AS cv
            FROM e
            ORDER BY {_h60("vec_id::VARCHAR")}, cid
            LIMIT 8),
        assign AS (
            SELECT vec_id, v, cid,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_dot_product(v, cv) DESC, cid) AS rk
            FROM e CROSS JOIN cents),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, cid, rk
            FROM assign WHERE vec_id < 5 AND rk <= 3),
        scored AS (
            SELECT p.query_id, a.vec_id,
                   round(list_dot_product(p.qv, a.v), 6) AS cosine
            FROM assign a JOIN probes p ON a.cid = p.cid
            WHERE a.rk = 1 AND a.vec_id <> p.query_id)
        SELECT query_id, vec_id, cosine, cast(rank AS INTEGER) AS rank
        FROM (
            SELECT query_id, vec_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id) AS rank
            FROM scored)
        WHERE rank <= 10
    """

    sql["embedding_near_dups"] = f"""
        WITH {_norm_cte}
        SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos} AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE {_cos} >= 0.35
    """

    sql["array_funcs"] = """
        WITH per AS (
            SELECT user_id % 50 AS bucket,
                   list_sort(list_distinct(list(event_type))) AS types
            FROM events GROUP BY 1)
        SELECT bucket,
               cast(len(types) AS INTEGER) AS n_types,
               array_to_string(types, ',') AS types_csv,
               list_contains(types, 'purchase') AS has_purchase,
               types[1] AS first_type,
               array_to_string(types[1:2], '|') AS first2,
               array_to_string(list_reverse(types), ';') AS rev
        FROM per
    """

    _pv = ",\n               ".join(
        f"cast(sum(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS {t}"
        for t in _EVENT_TYPES
    )
    sql["pivot_events"] = f"""
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               {_pv}
        FROM events
        GROUP BY 1
    """

    sql["unpivot_stats"] = f"""
        WITH wide AS (
            SELECT l_returnflag,
                   sum(l_quantity) AS sum_qty,
                   {_cents_sum_sql('l_extendedprice', 'sum_price')},
                   cast(count(*) AS DOUBLE) AS n_rows
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, metric, metric_value
        FROM wide
        UNPIVOT (metric_value FOR metric IN (sum_qty, sum_price, n_rows))
    """

    sql["date_arith"] = """
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS d,
               strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
               strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d') AS plus2mo,
               strftime(last_day(o_orderdate), '%Y-%m-%d') AS eom,
               cast(year(o_orderdate) AS INTEGER) AS y,
               cast(quarter(o_orderdate) AS INTEGER) AS q,
               cast(month(o_orderdate) AS INTEGER) AS m,
               cast(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
               cast(datediff('day', o_orderdate::DATE, DATE '1998-12-31')
                    AS INTEGER) AS days_to_98
        FROM orders WHERE o_orderkey % 97 = 0
    """

    _NTOK = ("CASE WHEN length(trim(text)) = 0 THEN 0 "
             "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END")
    sql["repetition_ratio"] = f"""
        WITH base AS (
            SELECT doc_id, {_TOKS_SQL} AS t, {_NTOK} AS n_tok FROM documents),
        ex AS (SELECT doc_id, n_tok, unnest(t) AS tok FROM base),
        cnt AS (
            SELECT doc_id, n_tok, tok, count(*) AS c
            FROM ex GROUP BY 1, 2, 3),
        mx AS (SELECT doc_id, n_tok, max(c) AS m FROM cnt GROUP BY 1, 2)
        SELECT doc_id,
               CASE WHEN n_tok > 0
                    THEN round(cast(m AS DOUBLE) / n_tok, 6)
                    ELSE 0.0 END AS rep_ratio
        FROM mx
    """

    _SPLIT_BUCKET = _h60("doc_id::VARCHAR || ':holdout'") + " % 10000"
    sql["holdout_split"] = f"""
        WITH s AS (
            SELECT *,
                   CASE WHEN ({_SPLIT_BUCKET}) < 8000 THEN 'train'
                        WHEN ({_SPLIT_BUCKET}) < 9000 THEN 'valid'
                        ELSE 'test' END AS split
            FROM documents)
        SELECT split, lang, cast(count(*) AS BIGINT) AS n,
               min(doc_id) AS min_doc
        FROM s GROUP BY split, lang
    """

    sql["deterministic_sample"] = f"""
        SELECT source, cast(count(*) AS BIGINT) AS n,
               cast(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        WHERE ({_h60("doc_id::VARCHAR || ':sample'")} % 10000) < 2500
        GROUP BY source
    """

    sql["stratified_sample"] = f"""
        WITH s AS (
            SELECT * FROM documents
            WHERE ({_h60("doc_id::VARCHAR || ':sample'")} % 10000) <
                  CASE lang WHEN 'en' THEN 8000
                            WHEN 'de' THEN 3000
                            WHEN 'fr' THEN 3000
                            ELSE 1000 END)
        SELECT lang, cast(count(*) AS BIGINT) AS n, min(doc_id) AS min_doc
        FROM s GROUP BY lang
    """

    # Full-pipeline mirrors of the md5-seeded approximate operators
    # (parameters must match q_minhash_lsh / q_simhash_near_dups).
    sql["minhash_lsh"] = _minhash_lsh_sql(
        threshold=0.5, num_hashes=64, bands=16, n=3
    )
    # near-dup RESOLUTION twin: the same pair graph, collapsed to
    # min-id components by a recursive walk (transitive closure)
    sql["near_dup_dedup"] = f"""
        WITH RECURSIVE
        pairs AS ({_minhash_lsh_sql(threshold=0.5, num_hashes=64, bands=16, n=3)}),
        sym AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b, doc_a FROM pairs),
        walk(node, comp) AS (
            SELECT node, node
            FROM (SELECT src AS node FROM sym UNION SELECT dst FROM sym)
            UNION
            SELECT s.dst, w.comp FROM walk w JOIN sym s ON s.src = w.node)
        SELECT node AS doc_id, min(comp) AS canonical_id,
               (node = min(comp)) AS kept
        FROM walk GROUP BY node
    """
    sql["pagerank_kg"] = _pagerank_sql(iterations=5, damping=0.85)
    sql["label_propagation"] = _labelprop_sql(iterations=4)
    sql["kmeans_clusters"] = _kmeans_sql(k=4, iterations=2, dim=64)
    sql["semdedup"] = _semdedup_sql(k=4, iterations=2, dim=64, threshold=0.4)

    # Suffix-array twin: materialize every suffix as a space-joined
    # string and rank by plain binary sort — valid because ' ' sorts
    # below every token character, so joined-string order == token-
    # sequence order. The engine never materializes a suffix.
    _sfx_h = _h60("doc_id::VARCHAR || ':sfx'")
    sql["suffix_ranks"] = f"""
        WITH d AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> '') AS toks,
                   ({_sfx_h}) AS h
            FROM documents WHERE doc_id < 5),
        offs AS (
            SELECT doc_id, toks,
                   coalesce(sum(len(toks)) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS base
            FROM d),
        tok AS (
            SELECT cast(base + generate_subscripts(toks, 1) - 1 AS BIGINT)
                       AS pos,
                   unnest(toks) AS token
            FROM offs),
        fl AS (SELECT list(token ORDER BY pos) AS l FROM tok),
        sfx AS (
            SELECT t.pos, array_to_string(f.l[t.pos + 1:], ' ') AS s
            FROM tok t CROSS JOIN fl f)
        SELECT pos, row_number() OVER (ORDER BY s) - 1 AS rank FROM sfx
    """

    # LCP twin: token-level longest common prefix of adjacent SA pairs
    # = first-mismatch offset over the materialized corpus list; the
    # engine walks the doubling rank ladder instead. The CTE chain is
    # shared with the dup_coverage rollup twin.
    _sfx_ctes = f"""
        d AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               t -> t <> '') AS toks,
                   ({_sfx_h}) AS h
            FROM documents WHERE doc_id < 5),
        offs AS (
            SELECT doc_id, toks,
                   coalesce(sum(len(toks)) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS base
            FROM d),
        tok AS (
            SELECT doc_id,
                   cast(base + generate_subscripts(toks, 1) - 1 AS BIGINT)
                       AS pos,
                   cast(generate_subscripts(toks, 1) - 1 AS BIGINT)
                       AS doc_pos,
                   unnest(toks) AS token
            FROM offs),
        fl AS (SELECT list(token ORDER BY pos) AS l, count(*) AS n FROM tok),
        sfx AS (
            SELECT t.pos, array_to_string(f.l[t.pos + 1:], ' ') AS s
            FROM tok t CROSS JOIN fl f),
        sa AS (
            SELECT pos, row_number() OVER (ORDER BY s) - 1 AS rank
            FROM sfx),
        adj AS (
            SELECT a.rank, a.pos, b.pos AS prev_pos
            FROM sa a JOIN sa b ON a.rank = b.rank + 1),
        lcp AS (
            SELECT adj.rank, adj.pos, adj.prev_pos,
                   cast(coalesce(
                       list_filter(
                           range(1, cast(least(f.n - adj.pos,
                                               f.n - adj.prev_pos) AS BIGINT) + 1),
                           m -> f.l[adj.pos + m] IS DISTINCT FROM
                                f.l[adj.prev_pos + m])[1],
                       least(f.n - adj.pos, f.n - adj.prev_pos) + 1) - 1
                       AS BIGINT) AS lcp
            FROM adj CROSS JOIN fl f)"""
    sql["exact_dup_runs"] = f"""
        WITH {_sfx_ctes}
        SELECT rank, pos, prev_pos, lcp FROM lcp WHERE lcp >= 2
    """

    # dup_coverage twin: both endpoints of every qualifying pair become
    # a clipped per-doc interval; the union is gaps-and-islands (an
    # island's union is contiguous, max(e) - min(s)), mirroring the
    # engine's row-local sorted-interval fold.
    sql["dup_coverage"] = f"""
        WITH {_sfx_ctes},
        hits AS (
            SELECT pos AS p, lcp FROM lcp WHERE lcp >= 2
            UNION ALL
            SELECT prev_pos, lcp FROM lcp WHERE lcp >= 2),
        nt AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
        iv AS (
            SELECT t.doc_id, t.doc_pos AS s,
                   least(t.doc_pos + h.lcp, nt.n_tok) AS e
            FROM hits h
            JOIN tok t ON h.p = t.pos
            JOIN nt ON t.doc_id = nt.doc_id),
        isl AS (
            SELECT doc_id, s, e,
                   max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max
            FROM iv),
        isl2 AS (
            SELECT doc_id, s, e,
                   sum(CASE WHEN prev_max IS NULL OR s > prev_max
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY s, e
                             ROWS UNBOUNDED PRECEDING) AS gid
            FROM isl),
        cov AS (
            SELECT doc_id, sum(covered) AS dup_tokens FROM (
                SELECT doc_id, gid, max(e) - min(s) AS covered
                FROM isl2 GROUP BY doc_id, gid)
            GROUP BY doc_id)
        SELECT nt.doc_id,
               cast(nt.n_tok AS BIGINT) AS n_tok,
               cast(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CASE WHEN nt.n_tok > 0
                    THEN cast(floor(cast(coalesce(cov.dup_tokens, 0) AS DOUBLE)
                                    / nt.n_tok * 1000000.0 + 0.5) AS BIGINT)
                         / 1000000.0
                    ELSE 0.0 END AS dup_frac
        FROM nt LEFT JOIN cov ON nt.doc_id = cov.doc_id
    """

    # Z-order twin: the identical bucketize + interleave expression,
    # generated for SQL by the same module.
    from kg_microbe_merge_spark.operators.layout import z_value_sql

    def _bucket_sql(expr: str, lo: float, hi: float, bits: int) -> str:
        width = (hi - lo) / (1 << bits)
        return (
            f"greatest(0, least({(1 << bits) - 1}, "
            f"cast(floor((cast({expr} AS DOUBLE) - {lo!r}) / {width!r}) "
            f"AS BIGINT)))"
        )

    _bu = _bucket_sql("user_id", 0.0, 256.0, 8)
    _bv = _bucket_sql("value", 0.0, 512.0, 8)
    sql["zorder_values"] = f"""
        SELECT event_id,
               {_bu} AS bucket_user,
               {_bv} AS bucket_value,
               ({z_value_sql([_bu, _bv], bits=8)}) AS z
        FROM events
    """
    sql["simhash_near_dups"] = _simhash_sql(max_hamming=6, n=2)
    sql["lsh_cosine_topk"] = _lsh_topk_sql(
        k=10, dim=64, bits=8, tables=8, n_queries=5
    )

    # Twin of q_sequence_packing: same hash order, same running-total
    # window, same floor/mod layout arithmetic (budget=256, 8 packers).
    _PACK_H = _h60("doc_id::VARCHAR || ':pack'")
    sql["sequence_packing"] = f"""
        WITH d AS (
            SELECT doc_id,
                   cast(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                        END AS BIGINT) AS tokens,
                   ({_PACK_H}) % 8 AS packer,
                   ({_PACK_H}) AS _order
            FROM documents),
        w AS (
            SELECT doc_id, packer, tokens,
                   cast(sum(tokens) OVER (
                       PARTITION BY packer ORDER BY _order, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - tokens AS BIGINT) AS cum_before
            FROM d)
        SELECT doc_id, packer,
               cast(floor(cum_before / 256) AS BIGINT) AS seq_id,
               cum_before % 256 AS "offset",
               tokens
        FROM w
    """

    # Twin of q_multimodal_features: the media table is a pure function
    # of sha256(text)/doc_id, so features + frame counts mirror exactly.
    sql["multimodal_features"] = """
        WITH m AS (
            SELECT doc_id AS media_id,
                   ['image', 'audio', 'video'][(doc_id % 3 + 1)] AS kind,
                   ('0x' || substr(sha256(text), 1, 15))::BIGINT AS head60,
                   (1 + doc_id % 3) AS copies
            FROM documents)
        SELECT media_id,
               kind,
               cast(32 * copies AS INTEGER) AS n_bytes,
               head60,
               round(head60 / 1152921504606846976.0, 6) AS brightness,
               cast(CASE WHEN kind = 'image' THEN 1
                         ELSE floor((head60 % 4000 + 999) / 1000) + 1
                    END AS INTEGER) AS n_frames
        FROM m
    """

    # Twin of q_quality_model: same integer weight table (inlined as a
    # list literal), same portable token hash, one rounded double
    # division at the end — exact in any evaluation order.
    _score = hashed_linear_score_sql("text")
    _n_tok_sql = (
        "CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END"
    )
    sql["quality_model_score"] = f"""
        SELECT doc_id,
               cast({_n_tok_sql} AS INTEGER) AS n_tok,
               {_score} AS model_score,
               ({_score}) >= 0.0 AS keep
        FROM documents
    """

    # Twin of q_duplicated_spans: distinct 8-token span hashes per doc
    # (shared shingle CTE), document frequency per span, per-doc dup
    # share — exact integer counts + one rounded double division.
    sql["duplicated_spans"] = f"""
        WITH {_shingle_cte_sql(8)},
        sdf AS (
            SELECT shingle, count(*) AS c FROM sh GROUP BY shingle)
        SELECT doc_id,
               cast(count(*) AS BIGINT) AS n_spans,
               cast(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               round(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END)::DOUBLE
                     / count(*)::DOUBLE, 6) AS dup_fraction
        FROM sh JOIN sdf USING (shingle)
        GROUP BY doc_id
    """

    # Twins of the sketch gate queries (operators/sketches.py): the SQL
    # is GENERATED by the same module that builds the Spark plan, from
    # the same constants — oracle and engine cannot drift.
    from kg_microbe_merge_spark.operators.sketches import (
        cms_heavy_hitters_sql,
        hll_sql,
    )

    _span8 = f"""toks AS (SELECT lang, {_TOKS_SQL} AS t FROM documents),
        items AS (
            SELECT lang, unnest(list_distinct(
                CASE WHEN len(t) >= 8
                     THEN [{_h60("array_to_string(t[i:i+7], ' ')")}
                           for i in range(1, len(t) - 6)]
                     ELSE [{_h60("array_to_string(t, ' ')")}] END)) AS span
            FROM toks)"""
    sql["hll_distinct_spans"] = (
        hll_sql(_span8, "span", ["lang"], p=9) + " ORDER BY lang"
    )

    sql["cms_heavy_tokens"] = cms_heavy_hitters_sql(
        "items AS (SELECT unnest(list_filter("
        f"{_TOKS_SQL}, t -> length(t) >= 1)) AS tok FROM documents)",
        "tok",
        400,
        depth=4,
        width=1024,
    )

    # Twin of q_kmv_token_overlap (operators/kmv.py): module-generated
    # bottom-k sketches per doc_id-parity half + list-algebra overlap.
    from kg_microbe_merge_spark.operators.kmv import (
        kmv_intersection_sql,
        kmv_sketch_cte,
    )

    def _kmv_items(parity: int) -> str:
        return (
            f"SELECT t AS token FROM (SELECT unnest({_TOKS_SQL}) AS t "
            f"FROM documents WHERE doc_id % 2 = {parity}) WHERE t <> ''"
        )

    sql["kmv_token_overlap"] = kmv_intersection_sql(
        kmv_sketch_cte(_kmv_items(0), "token", (), name="ska")
        + ",\n        "
        + kmv_sketch_cte(_kmv_items(1), "token", (), name="skb"),
        "ska",
        "skb",
    )

    # Twin of q_pmi_collocations (operators/collocations.py):
    # module-generated, identical operand order into ln.
    from kg_microbe_merge_spark.operators.collocations import (
        pmi_collocations_sql,
    )

    sql["pmi_collocations"] = pmi_collocations_sql(
        f"SELECT list_filter({_TOKS_SQL}, t -> length(t) >= 1) AS t "
        "FROM documents",
        min_count=4,
        top_k=50,
    )

    # Twin of q_substring_dedup_cut (operators/dedup.py
    # remove_duplicated_spans): positional span postings, distinct-doc
    # frequency, flagged-position semi join, list-comprehension rebuild
    # with the identical coverage rule. coalesce('') because DuckDB's
    # array_to_string of an empty list is NULL where Spark's
    # array_join is ''.
    _cn = 8
    _cgram = f"array_to_string(t[i:i+{_cn - 1}], ' ')"
    sql["substring_dedup_cut"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
        p0 AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= {_cn}
                       THEN [{{'pos': i - 1, 'span': {_h60(_cgram)}}}
                             for i in range(1, len(t) - {_cn - 2})]
                       ELSE [{{'pos': 0,
                               'span': {_h60("array_to_string(t, ' ')")}}}]
                   END) AS u
            FROM toks),
        pos AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM p0),
        dfq AS (SELECT span FROM (
                    SELECT span, count(DISTINCT doc_id) AS c
                    FROM pos GROUP BY span) WHERE c >= 2),
        fl AS (SELECT pos.doc_id, list_sort(list(DISTINCT pos.pos)) AS fl
               FROM pos JOIN dfq USING (span) GROUP BY pos.doc_id),
        base AS (SELECT toks.doc_id, t, coalesce(fl.fl, []) AS fl
                 FROM toks LEFT JOIN fl USING (doc_id)),
        reb AS (SELECT doc_id, t,
                [t[i] for i in range(1, len(t) + 1)
                 if len(list_filter(fl,
                        q -> q <= i - 1 AND i - 1 < q + {_cn})) = 0] AS kept
                FROM base)
        SELECT doc_id,
               coalesce(array_to_string(kept, ' '), '') AS clean_text,
               len(t)::BIGINT AS n_tokens,
               (len(t) - len(kept))::BIGINT AS n_removed
        FROM reb
    """

    # Twin of q_quantile_doc_lengths (operators/sketches.py): histogram
    # + rank extraction re-derived entirely in SQL by the same module.
    from kg_microbe_merge_spark.operators.sketches import quantile_sketch_sql

    sql["quantile_doc_lengths"] = (
        quantile_sketch_sql(
            "items AS (SELECT lang, n_chars FROM documents)",
            "n_chars",
            ["lang"],
        )
        + " ORDER BY lang, q"
    )

    # Twin of q_bloom_prune_decisions (operators/bloom.py): the oracle
    # rebuilds the identical bitmap from the same md5/universal-hash
    # constants and re-tests every probe — SQL generated by the module.
    from kg_microbe_merge_spark.operators.bloom import bloom_decisions_sql

    sql["bloom_prune_decisions"] = (
        bloom_decisions_sql(
            "build AS (SELECT o_custkey FROM orders"
            " WHERE o_totalprice > 400000)",
            "o_custkey",
            "probe AS (SELECT c_custkey FROM customer)",
            "c_custkey",
            "c_custkey",
        )
        + " ORDER BY c_custkey"
    )

    # Twin of q_kcore: the peel recurrence unrolled (10 rounds safely
    # above the gate graph's measured convergence depth; monotone, so
    # extra rounds no-op).
    _kcore_base = """
        SELECT 'N' || n_nationkey AS s, 'R' || n_regionkey AS d FROM nation
        UNION ALL
        SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
        UNION ALL
        SELECT 'S' || s_suppkey, 'R' || n_regionkey
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        UNION ALL
        SELECT 'C' || o_custkey, 'O' || o_orderkey FROM orders
        UNION ALL
        SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
    """
    sql["kcore_2"] = _kcore_sql(_kcore_base, k=2, rounds=10)

    # Twin of q_ktruss: support peeling unrolled over the same gate
    # graph (8 rounds safely above the measured convergence depth —
    # pinned in tests/test_truss.py; monotone, extra rounds no-op).
    sql["ktruss_3"] = _ktruss_sql(_kcore_base, k=3, rounds=8)

    # Twin of q_mis_conflict_free: module-generated Luby rounds over
    # the same gate graph (settle depth 2 measured; 5 unrolled —
    # monotone, extra rounds no-op; pinned in tests/test_mis.py).
    from kg_microbe_merge_spark.operators.mis import mis_sql

    sql["mis_conflict_free"] = mis_sql(
        f"SELECT s AS src, d AS dst FROM ({_kcore_base})",
        rounds=5,
        node_cast="",
    )

    # Twin of q_wl_refinement: module-generated WL rounds over the
    # same gate graph (identical commutative hash-sum combine).
    from kg_microbe_merge_spark.operators.wl import wl_colors_sql

    sql["wl_refinement"] = wl_colors_sql(
        f"SELECT s AS src, d AS dst FROM ({_kcore_base})", rounds=3
    )

    # Twin of q_hyperball: module-generated row-form HLL max-merge
    # rounds over the same gate graph.
    from kg_microbe_merge_spark.operators.hyperball import hyperball_sql

    sql["hyperball_balls"] = hyperball_sql(_kcore_base, max_t=2)

    # Twin of q_skew_report: module-generated, identical BIGINT ceil.
    from kg_microbe_merge_spark.operators.skew import skew_report_sql

    sql["skew_report"] = skew_report_sql(
        "SELECT l_returnflag AS key FROM lineitem",
        shuffle_partitions=32,
        top_n=10,
    )

    # Twin of q_kmv_join_size: module-generated frequency sketches +
    # identical HT scaling.
    from kg_microbe_merge_spark.operators.kmv import kmv_join_size_sql

    sql["kmv_join_size"] = kmv_join_size_sql(
        "SELECT o_orderkey AS key FROM orders",
        "SELECT l_orderkey AS key FROM lineitem",
    )

    # Twin of q_weighted_sample: identical A-ES formula, ln parity.
    _ws_h = _h60("doc_id::VARCHAR || ':wsample'")
    sql["weighted_sample"] = f"""
        WITH scored AS (
            SELECT doc_id, n_chars,
                   ln(({_ws_h} + 1)::DOUBLE / 1152921504606846976.0)
                       / n_chars::DOUBLE AS key
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0)
        SELECT doc_id, n_chars,
               floor(key * 1e6 + 0.5)::BIGINT AS key_micro
        FROM scored
        ORDER BY key DESC, doc_id ASC
        LIMIT 25
    """

    # Twin of q_ppjoin_pairs: the NAIVE full inverted-index Jaccard —
    # no prefix filtering, no length filter — so equality proves the
    # engine's pruning lost nothing.
    sql["ppjoin_pairs"] = f"""
        WITH {_shingle_cte_sql(3)},
        sz AS (SELECT doc_id, count(*) AS size FROM sh GROUP BY doc_id),
        ov AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id)
        SELECT ov.doc_a, ov.doc_b, cast(ov.inter AS BIGINT) AS inter,
               round(ov.inter::DOUBLE
                     / (sa.size + sb.size - ov.inter), 6) AS jaccard
        FROM ov
        JOIN sz sa ON sa.doc_id = ov.doc_a
        JOIN sz sb ON sb.doc_id = ov.doc_b
        WHERE ov.inter::DOUBLE
              / (sa.size + sb.size - ov.inter) >= 0.8
    """

    # Twin of q_scd2_history: the one-pass window derivation over the
    # full change log — chained scd2_apply folds must reproduce it
    # exactly (the invariant IS the oracle).
    sql["scd2_history"] = """
        WITH ev AS (
            SELECT b.b AS batch_id, p_partkey AS id, p_name AS name,
                   p_retailprice
                   + CASE WHEN b.b >= 2 AND p_partkey % 5 = 0
                          THEN 1.0 ELSE 0.0 END AS price
            FROM part, (SELECT unnest([0, 1, 2, 3]) AS b) b
            WHERE p_partkey % 2 = b.b % 2),
        marked AS (
            SELECT *,
                   (lag(struct_pack(n := name, p := price)) OVER w IS NULL
                    OR struct_pack(n := name, p := price)
                       IS DISTINCT FROM
                       lag(struct_pack(n := name, p := price)) OVER w)
                       AS chg
            FROM ev
            WINDOW w AS (PARTITION BY id ORDER BY batch_id)),
        kept AS (SELECT * FROM marked WHERE chg)
        SELECT id, name, price,
               batch_id::BIGINT AS valid_from,
               lead(batch_id::BIGINT)
                   OVER (PARTITION BY id ORDER BY batch_id) AS valid_to
        FROM kept
    """

    # Twin of q_vocab_topk: same tokenization, (n DESC, token ASC)
    # ordering, ids from 0 — AS MATERIALIZED so the window sees the
    # aggregated counts once.
    sql["vocab_topk"] = f"""
        WITH c AS MATERIALIZED (
            SELECT token, cast(count(*) AS BIGINT) AS n
            FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
            WHERE token <> ''
            GROUP BY token
            HAVING count(*) >= 2),
        r AS (
            SELECT cast(row_number() OVER (ORDER BY n DESC, token ASC) - 1
                        AS BIGINT) AS token_id, token, n
            FROM c)
        SELECT token_id, token, n FROM r WHERE token_id < 100
    """

    # Unigram-LM segmentation cost: the same word dimension + seed
    # vocabulary + micro-ln costs derived relationally, then the
    # module-generated walk-enumeration twin
    from kg_microbe_merge_spark.operators.unigram_lm import (
        segment_cost_sql,
    )

    _uni_words = f"""
        WITH c AS MATERIALIZED (
            SELECT token, cast(count(*) AS BIGINT) AS n
            FROM (SELECT unnest({_TOKS_SQL}) AS token FROM documents)
            WHERE token <> ''
            GROUP BY token
            HAVING count(*) >= 3),
        r AS (
            SELECT cast(row_number() OVER (ORDER BY n DESC, token ASC) - 1
                        AS BIGINT) AS token_id, token, n
            FROM c)
        SELECT token AS word, n AS freq FROM r
        WHERE token_id < 60 AND length(token) <= 16
    """
    _uni_costs = f"""
        WITH uw AS MATERIALIZED ({_uni_words}),
        sub AS (
            SELECT substring(uw.word, i.i, l.l) AS piece, uw.freq
            FROM uw,
                 range(1, 17) i(i),
                 range(1, 5) l(l)
            WHERE i.i + l.l - 1 <= length(uw.word)),
        cnt AS (SELECT piece, sum(freq) AS count FROM sub GROUP BY piece),
        vocab AS (
            SELECT piece, count FROM cnt WHERE length(piece) = 1
            UNION ALL
            SELECT piece, count FROM (
                SELECT piece, count FROM cnt
                WHERE length(piece) > 1 AND count >= 2
                ORDER BY count DESC, piece LIMIT 40)),
        tot AS (SELECT sum(count) AS t FROM vocab)
        SELECT piece,
               CAST(floor(-ln(CAST(count AS DOUBLE) / CAST(t AS DOUBLE))
                          * 1000000 + 0.5) AS BIGINT) AS cost_micro
        FROM vocab, tot
    """
    sql["unigram_segment_cost"] = segment_cost_sql(
        _uni_words, _uni_costs, max_piece_len=4, max_word_len=16
    )

    # Twin of q_bpe_pairs: adjacent pairs via a 1-based list
    # comprehension over the token array.
    sql["bpe_pairs"] = f"""
        WITH toks AS (SELECT {_TOKS_SQL} AS t FROM documents),
        p AS (
            SELECT unnest(CASE WHEN len(t) >= 2
                   THEN [struct_pack(lhs := t[i], rhs := t[i + 1])
                         for i in range(1, len(t))]
                   ELSE [] END) AS pp
            FROM toks)
        SELECT pp.lhs AS lhs, pp.rhs AS rhs,
               cast(count(*) AS BIGINT) AS n
        FROM p GROUP BY pp.lhs, pp.rhs
        HAVING count(*) >= 5
    """

    # Twin of q_bpe_merges: module-generated full re-training (rounds
    # unrolled as MATERIALIZED CTEs, identical argmax order + greedy
    # replace semantics).
    from kg_microbe_merge_spark.operators.bpe import bpe_merges_sql

    sql["bpe_merges"] = bpe_merges_sql(
        "SELECT text FROM documents", n_merges=8, min_count=2
    )

    # -- PII scrub: identical deterministic injection + identical RE2
    # patterns (functions/pii.py), hash-compared on the redacted text
    _pii_aug = (
        "text || ' Contact: user' || cast(doc_id AS VARCHAR)"
        " || '@example.com or 555-123-4567, host 10.0.'"
        " || cast(doc_id % 256 AS VARCHAR)"
        " || '.21, ssn 219-09-'"
        " || lpad(cast(doc_id % 10000 AS VARCHAR), 4, '0') || '.'"
    )
    _pii = pii_oracle_exprs(_pii_aug)
    sql["pii_redaction"] = f"""
        SELECT doc_id,
               {_pii["counts"]["email"]} AS n_email,
               {_pii["counts"]["ssn"]} AS n_ssn,
               {_pii["counts"]["phone"]} AS n_phone,
               {_pii["counts"]["ipv4"]} AS n_ipv4,
               ({_pii["counts"]["email"]} > 0 OR {_pii["counts"]["ssn"]} > 0
                OR {_pii["counts"]["phone"]} > 0
                OR {_pii["counts"]["ipv4"]} > 0) AS has_pii,
               {_pii["redacted"]} AS redacted
        FROM documents
    """

    # -- URL parse + per-domain density: identical synthesis + the same
    # RE2-safe extraction regexes as functions/urls.py
    _url = (
        "'https://' || source || cast(doc_id % 5 AS VARCHAR)"
        " || '.example' || cast(doc_id % 4 AS VARCHAR) || '.com'"
        " || repeat('/seg', cast(doc_id % 4 AS INTEGER))"
        " || (CASE WHEN doc_id % 3 = 0"
        "      THEN '?utm=c' || cast(doc_id % 9 AS VARCHAR) ELSE '' END)"
    )
    sql["url_parse_stats"] = f"""
        WITH parsed AS (
            SELECT doc_id,
                   {_url} AS url,
                   lower(regexp_extract({_url},
                       '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1)) AS host,
                   regexp_extract({_url},
                       '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
            FROM documents)
        SELECT doc_id, url, host,
               regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS domain,
               cast(len(list_filter(regexp_split_to_array(path, '/'),
                    s -> length(s) > 0)) AS INTEGER) AS depth,
               nullif(regexp_extract(url, '[?&]utm=([^&#]*)', 1), '') AS utm,
               count(*) OVER (PARTITION BY
                   regexp_extract(host, '([^.]+\\.[^.]+)$', 1))
                   AS domain_pages
        FROM parsed
    """

    # Twins of q_url_canonicalize / q_crawl_schedule: identical messy
    # synthesis (_MESSY_URL_SQL) + module-generated canonicalization /
    # window schedule.
    from kg_microbe_merge_spark.functions.hashing import hash60_sql
    from kg_microbe_merge_spark.operators.frontier import (
        canonical_url_sql,
        fetch_schedule_sql,
    )
    from kg_microbe_merge_spark.operators.robots import (
        decisions_sql as robots_decisions_sql,
    )

    _canon = canonical_url_sql(_MESSY_URL_SQL)
    sql["url_canonicalize"] = f"""
        WITH u AS MATERIALIZED (
            SELECT doc_id, {_MESSY_URL_SQL} AS url,
                   {_canon} AS canonical_url
            FROM documents)
        SELECT doc_id, url, canonical_url,
               count(*) OVER (PARTITION BY canonical_url)::BIGINT
                   AS canon_group
        FROM u
    """
    sql["crawl_schedule"] = fetch_schedule_sql(
        f"SELECT DISTINCT {_canon} AS url FROM documents",
        max_per_host=8,
    )

    # robots gate: rules re-synthesized straight from the hash branches
    # the Spark side renders INTO robots.txt text (the parser's work —
    # group selection, wildcard drop, empty-rule ignore — is thereby
    # checked end-to-end), evaluation via the module-generated twin
    _rhost = "'www.' || source || CAST(doc_id % 5 AS VARCHAR) || '.com'"
    _rb = f"({hash60_sql('host')}) % 6"
    sql["robots_gate"] = f"""
        WITH hosts AS (SELECT DISTINCT {_rhost} AS host FROM documents),
        hb AS (SELECT host, {_rb} AS b FROM hosts),
        rules_t AS (
            SELECT host, false AS rule_allow, '/Seg' AS rule_path
            FROM hb WHERE b NOT IN (1, 2)
            UNION ALL SELECT host, true, '/Seg/Seg'
            FROM hb WHERE b NOT IN (1, 2)
            UNION ALL SELECT host, false, '/' FROM hb WHERE b = 0
            UNION ALL SELECT host, false, '/Seg/Seg'
            FROM hb WHERE b IN (1, 2)
            UNION ALL SELECT host, true, '/Seg' FROM hb WHERE b = 2),
        u0 AS (
            SELECT DISTINCT {_rhost} AS host,
                   repeat('/Seg', CAST(doc_id % 3 AS INT))
                   || CASE WHEN doc_id % 4 = 2 THEN '/' ELSE '' END AS p
            FROM documents),
        u AS (
            SELECT 'https://' || host || p AS url, host,
                   CASE WHEN p = '' THEN '/' ELSE p END AS pth
            FROM u0),
        {robots_decisions_sql('u', 'rules_t')}
        SELECT url, host, allowed, rule_allow, rule_path FROM verdict
    """

    # -- TF-IDF top-3 per doc: same tokenizer (normalize + split, len>=2),
    # smoothed idf, rank over the ROUNDED weight, (weight desc, term asc)
    # bigram-LM perplexity (operators/ngram_lm.py): identical token
    # normalizer, identical add-k smoothing formula, integer micro-bits
    # protocol (floor(x*1e6+0.5) per bigram, exact BIGINT sum)
    sql["bigram_lm_perplexity"] = f"""
        WITH toks AS (
            SELECT doc_id, list_filter(
                {_TOKS_SQL},
                t -> length(t) >= 1) AS t
            FROM documents),
        idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
        inst AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
        cb AS (SELECT w1, w2, count(*) AS cb FROM inst GROUP BY w1, w2),
        cw AS (SELECT w1, sum(cb) AS cw FROM cb GROUP BY w1),
        v AS (SELECT count(DISTINCT w2) AS v FROM cb),
        scored AS (
            SELECT inst.doc_id,
                   CAST(floor((-log2((cb.cb + 0.5) / (cw.cw + 0.5 * v.v)))
                              * 1000000.0 + 0.5) AS BIGINT) AS micro
            FROM inst JOIN cb USING (w1, w2) JOIN cw USING (w1)
            CROSS JOIN v),
        agg AS (
            SELECT doc_id, cast(count(*) AS BIGINT) AS n_bigrams,
                   sum(micro) AS s_micro
            FROM scored GROUP BY doc_id)
        SELECT d.doc_id,
               cast(coalesce(agg.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               CAST(floor(agg.s_micro / agg.n_bigrams + 0.5) AS BIGINT)
                   / 1000000.0 AS avg_bits
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """

    # JL projection / SQ8 quantized search: twins generated by the SAME
    # module as the Spark plan (shared sign-matrix / protocol literals)
    sql["random_projection"] = random_projection_sql(k=8, d=64)
    sql["sq8_adc_topk"] = sq8_topk_sql(query_id=0, k=20, d=64)

    # snapshot diff: FULL OUTER + IS DISTINCT FROM; concat_ws skips
    # NULLs exactly like array_join(array_compact(...)) (cols sorted)
    sql["kg_snapshot_diff"] = """
        WITH oldsnap AS (
            SELECT p_partkey AS id, p_name AS name,
                   p_retailprice AS price
            FROM part WHERE p_partkey % 11 <> 0),
        newsnap AS (
            SELECT p_partkey AS id,
                   CASE WHEN p_partkey % 5 = 0 THEN p_name || '!'
                        ELSE p_name END AS name,
                   CASE WHEN p_partkey % 7 = 0 THEN p_retailprice + 1
                        ELSE p_retailprice END AS price
            FROM part WHERE p_partkey % 13 <> 0),
        j AS (
            SELECT o.id AS oid, n.id AS nid,
                   o.name AS oname, n.name AS nname,
                   o.price AS oprice, n.price AS nprice
            FROM oldsnap o FULL OUTER JOIN newsnap n ON o.id = n.id),
        d AS (
            SELECT coalesce(nid, oid) AS id,
                   CASE WHEN oid IS NULL THEN 'added'
                        WHEN nid IS NULL THEN 'removed'
                        ELSE 'changed' END AS change,
                   CASE WHEN oid IS NULL OR nid IS NULL THEN ''
                        ELSE concat_ws(',',
                            CASE WHEN oname IS DISTINCT FROM nname
                                 THEN 'name' END,
                            CASE WHEN oprice IS DISTINCT FROM nprice
                                 THEN 'price' END) END AS changed_cols
            FROM j)
        SELECT * FROM d
        WHERE change <> 'changed' OR changed_cols <> ''
    """

    # random walks: twin generated by the module (chained step CTEs,
    # same ranked relation + portable hash)
    _walk_edges_sql = """
        WITH half AS (
            SELECT 'C' || o_custkey AS src, 'O' || o_orderkey AS dst
            FROM orders
            UNION ALL
            SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
            UNION ALL
            SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
            UNION ALL
            SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation)
        SELECT src, dst FROM half
        UNION ALL SELECT dst AS src, src AS dst FROM half
    """
    _walk_starts_sql = """
        SELECT 'N' || n_nationkey AS id FROM nation
        UNION ALL
        SELECT 'C' || c_custkey FROM customer WHERE c_custkey % 97 = 0
    """
    from kg_microbe_merge_spark.operators.walks import random_walks_sql

    sql["kg_random_walks"] = random_walks_sql(
        _walk_edges_sql, _walk_starts_sql, steps=4
    )

    from kg_microbe_merge_spark.operators.walks import node2vec_walks_sql

    sql["node2vec_walks"] = node2vec_walks_sql(
        _walk_edges_sql, _walk_starts_sql, steps=3
    )

    sql["skipgram_pairs"] = f"""
        WITH walks AS ({sql["kg_random_walks"]})
        SELECT a.node AS center, b.node AS context,
               cast(count(*) AS BIGINT) AS n
        FROM walks a JOIN walks b ON a.walk_id = b.walk_id
        WHERE abs(a.step - b.step) <= 2 AND a.step <> b.step
        GROUP BY a.node, b.node
    """

    # token-blocking ER candidates (operators/blocking.py): same
    # tokenizer, block purge bounds, and IDF micro protocol
    sql["er_token_blocking"] = f"""
        WITH ent AS (
            SELECT p_partkey AS id, p_name AS name
            FROM part WHERE p_partkey % 20 = 0),
        posts AS (
            SELECT DISTINCT id AS eid,
                   unnest(list_filter(
                       regexp_split_to_array(
                           trim(regexp_replace(lower(name), '\\s+', ' ',
                                               'g')), ' '),
                       t -> length(t) >= 2)) AS token
            FROM ent),
        n AS (SELECT count(DISTINCT id) AS n FROM ent),
        blocks AS (SELECT token, count(*) AS df FROM posts GROUP BY token),
        kept AS (
            SELECT posts.token, posts.eid,
                   CAST(floor(ln(n.n / blocks.df) * 1000000.0 + 0.5)
                        AS BIGINT) AS idf_micro
            FROM posts JOIN blocks USING (token) CROSS JOIN n
            WHERE blocks.df BETWEEN 2 AND 50),
        pairs AS (
            SELECT a.eid AS id_a, b.eid AS id_b,
                   cast(count(*) AS BIGINT) AS shared,
                   sum(a.idf_micro) AS score_micro
            FROM kept a JOIN kept b
              ON a.token = b.token AND a.eid < b.eid
            GROUP BY 1, 2)
        SELECT id_a, id_b, shared, score_micro / 1000000.0 AS score
        FROM pairs WHERE shared >= 1
    """

    # Twin of q_meta_blocking: module-generated (identical tokenizer,
    # purge window, integer-exact Jaccard, WEP compare, CNP window).
    from kg_microbe_merge_spark.operators.metablocking import (
        meta_blocking_sql,
    )

    sql["meta_blocking"] = meta_blocking_sql(
        "SELECT p_partkey AS id, p_name AS name FROM part"
        " WHERE p_partkey % 20 = 0",
        max_block=50,
        top_k=3,
    )

    # Twin of q_sorted_neighborhood: module-generated row_number +
    # gap self-join over the identical (key, id) order.
    from kg_microbe_merge_spark.operators.blocking import (
        sorted_neighborhood_sql,
    )

    sql["sorted_neighborhood"] = sorted_neighborhood_sql(
        "SELECT p_partkey AS id, p_name AS name FROM part"
        " WHERE p_partkey % 20 = 0",
        window=4,
    )

    # winnowing fingerprints (operators/winnow.py): same gram hash,
    # window-min selection, doc-frequency ceiling, inverted-index pairs
    _wk, _ww, _wdf, _wms = 3, 4, 50, 1
    sql["winnow_overlap"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter({_TOKS_SQL}, t -> length(t) >= 1) AS t
            FROM documents),
        g AS (
            SELECT doc_id,
                   CASE WHEN len(t) >= {_wk} THEN
                       list_transform(range(1, len(t) - {_wk - 1} + 1),
                           i -> {_h60(f"array_to_string(t[i:i + {_wk - 1}], ' ')")})
                   ELSE CAST([] AS BIGINT[]) END AS g
            FROM toks),
        mins AS (
            SELECT doc_id,
                   CASE WHEN len(g) > 0 THEN
                       list_distinct(list_transform(
                           range(1, greatest(len(g) - {_ww - 1}, 1) + 1),
                           j -> list_min(
                               g[j:j + least({_ww}, len(g)) - 1])))
                   ELSE CAST([] AS BIGINT[]) END AS m
            FROM g),
        fps AS (SELECT DISTINCT doc_id, unnest(m) AS fp FROM mins),
        dfreq AS (
            SELECT fp FROM (
                SELECT fp, count(*) AS c FROM fps GROUP BY fp)
            WHERE c <= {_wdf}),
        kept AS (SELECT fps.doc_id, fps.fp FROM fps JOIN dfreq USING (fp)),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   cast(count(*) AS BIGINT) AS shared
            FROM kept a JOIN kept b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b, shared FROM pairs WHERE shared >= {_wms}
    """

    sql["tfidf_topk"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array({_norm}, ' '),
                t -> length(t) >= 2)) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, cast(count(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term),
        dfreq AS (
            SELECT term, cast(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
        n AS (SELECT cast(count(*) AS DOUBLE) AS nd FROM documents),
        w AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                   round(tf.tf * (ln((n.nd + 1.0) / (dfreq.df + 1.0))
                                  + 1.0), 6) AS weight
            FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY weight DESC, term ASC) AS rank
            FROM w)
        SELECT doc_id, term, tf, df, weight, cast(rank AS INTEGER) AS rank
        FROM r WHERE rank <= 3
    """

    # BM25 retrieval (operators/bm25.py): the expression tree mirrors
    # the operator token-for-token — exact integer stats (N, Σdl, df),
    # engine-side ln on identical doubles, left-associated per-term sum,
    # floor-micro score. Terms/k/k1/b match q_bm25_topk.
    _bm25_terms = ["vector", "hash", "merge"]
    _bm25_tf = ",\n".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(_bm25_terms)
    )
    _bm25_df = ",\n".join(
        f"CAST(sum(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS df{i}"
        for i, t in enumerate(_bm25_terms)
    )
    _bm25_score = "0.0" + "".join(
        f""" + ln(1.0 + (CAST(s.n - s.df{i} AS DOUBLE) + 0.5)
                        / (CAST(s.df{i} AS DOUBLE) + 0.5))
               * b.tf{i} * (1.2 + 1.0)
               / (b.tf{i} + 1.2 * ((1.0 - 0.75)
                   + 0.75 * CAST(b.dl AS DOUBLE)
                     / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))"""
        for i in range(len(_bm25_terms))
    )
    sql["bm25_topk"] = f"""
        WITH toks AS (
            SELECT doc_id, list_filter(
                regexp_split_to_array({_norm}, ' '),
                t -> length(t) >= 2) AS t
            FROM documents),
        base AS (
            SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl,
                   {_bm25_tf}
            FROM toks),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(dl) AS BIGINT) AS sum_dl,
                   {_bm25_df}
            FROM base),
        scored AS (
            SELECT b.doc_id, b.dl,
                   CAST(floor(({_bm25_score}) * 1000000.0 + 0.5) AS BIGINT)
                       / 1000000.0 AS score
            FROM base b CROSS JOIN s)
        SELECT doc_id, dl, score FROM scored
        WHERE score > 0.0
        ORDER BY score DESC, doc_id ASC
        LIMIT 10
    """

    # DAG longest-path levels (operators/scc.py topological_levels):
    # same edge formula (16-id chains + skip edges), then an
    # INDEPENDENT solve — recursive CTE enumerating (node, depth) from
    # the sources, level = max depth
    sql["dag_levels"] = """
        WITH RECURSIVE
        d AS (SELECT doc_id FROM documents),
        e AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM d WHERE doc_id % 16 < 15
            UNION ALL
            SELECT doc_id AS src, doc_id + 2 AS dst
            FROM d WHERE doc_id % 16 % 4 = 0 AND doc_id % 16 < 14),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        srcs AS (
            SELECT node FROM n
            WHERE node NOT IN (SELECT dst FROM e)),
        walk(node, depth) AS (
            SELECT node, 0 FROM srcs
            UNION
            SELECT e.dst, walk.depth + 1
            FROM walk JOIN e ON walk.node = e.src)
        SELECT node, CAST(max(depth) AS INT) AS level
        FROM walk GROUP BY node
    """

    # SHACL-lite domain/range over MERGED nodes: A3 merge SQL as the
    # node CTE + module-generated evaluation twin
    from kg_microbe_merge_spark.operators.validate import (
        domain_range_sql,
    )

    sql["kg_validation"] = f"""
        WITH n AS ({_A3_SQL}),
        e AS (
            SELECT 'L:' || o_orderkey AS subject,
                   'rel:' || o_orderstatus AS predicate,
                   'L:' || (o_orderkey + 32) AS object
            FROM orders),
        x AS (
            SELECT * FROM (VALUES
                ('rel:O', 'R', 'A'),
                ('rel:F', 'A', 'N'),
                ('rel:P', 'N', 'R'))
            AS t(predicate, subject_category, object_category))
        {domain_range_sql('e', 'n', 'x')}
    """

    # ontology closure: same chain+skip DAG, independent recursive-CTE
    # reachability (module-generated) vs the engine's path doubling
    from kg_microbe_merge_spark.operators.closure import closure_sql

    sql["subclass_closure"] = f"""
        WITH RECURSIVE
        e AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents WHERE doc_id % 16 < 15
            UNION ALL
            SELECT doc_id AS src, doc_id + 2 AS dst
            FROM documents WHERE doc_id % 16 % 4 = 0 AND doc_id % 16 < 14),
        {closure_sql('e')}
        SELECT src, dst FROM r
    """

    # RDFS-lite entailment: same nation ABox + literal TBox, the
    # module-generated stratified-rule twin (recursive-CTE closures)
    from kg_microbe_merge_spark.operators.entailment import entailment_sql

    _tbox_values = ",\n                ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in _ENTAIL_TBOX
    )
    sql["rdfs_entailment"] = entailment_sql(
        "abox",
        "tbox",
        prelude_ctes=f"""
        tbox AS (
            SELECT * FROM (VALUES
                {_tbox_values})
            AS t(subject, predicate, object)),
        abox AS (
            SELECT 'N:' || n_nationkey AS subject,
                   'located_in' AS predicate,
                   'R:' || n_regionkey AS object
            FROM nation
            UNION ALL
            SELECT 'N:' || n_nationkey, 'rdf:type', 'Nation'
            FROM nation WHERE n_nationkey % 2 = 0),
        """,
    )

    # rule provenance: the same ABox/TBox through the module-generated
    # tagged twin (sorted-distinct pipe-joined rule sets)
    from kg_microbe_merge_spark.operators.entailment import (
        entailment_provenance_sql,
    )

    sql["entailment_provenance"] = entailment_provenance_sql(
        "abox",
        "tbox",
        prelude_ctes=f"""
        tbox AS (
            SELECT * FROM (VALUES
                {_tbox_values})
            AS t(subject, predicate, object)),
        abox AS (
            SELECT 'N:' || n_nationkey AS subject,
                   'located_in' AS predicate,
                   'R:' || n_regionkey AS object
            FROM nation
            UNION ALL
            SELECT 'N:' || n_nationkey, 'rdf:type', 'Nation'
            FROM nation WHERE n_nationkey % 2 = 0),
        """,
    )

    # OWL-lite entailment: same nation ABox + literal TBox, the
    # module-generated lattice/closure/typing twin
    from kg_microbe_merge_spark.operators.entailment import (
        owl_entailment_sql,
    )

    _owl_tbox_values = ",\n                ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in _OWL_TBOX
    )
    sql["owl_entailment"] = owl_entailment_sql(
        "abox",
        "tbox",
        prelude_ctes=f"""
        tbox AS (
            SELECT * FROM (VALUES
                {_owl_tbox_values})
            AS t(subject, predicate, object)),
        abox AS (
            SELECT 'N:' || n_nationkey AS subject,
                   'located_in' AS predicate,
                   'R:' || n_regionkey AS object
            FROM nation
            UNION ALL
            SELECT DISTINCT 'R:' || n_regionkey, 'part_of', 'ROOT'
            FROM nation
            UNION ALL
            SELECT 'N:' || n_nationkey, 'adjacent_to',
                   'N:' || (n_nationkey + 1)
            FROM nation WHERE n_nationkey % 2 = 0),
        """,
    )

    # table profiler: per-column independent re-derivation
    from kg_microbe_merge_spark.operators.profile import profile_sql

    sql["table_profile"] = profile_sql(
        "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
         "o_orderpriority"],
    )

    # incremental closure fold ≡ full re-closure (invariant-as-oracle,
    # same edge formula as subclass_closure)
    sql["kg_incremental_closure"] = f"""
        WITH RECURSIVE
        e AS (
            SELECT doc_id AS src, doc_id + 1 AS dst
            FROM documents WHERE doc_id % 16 < 15
            UNION ALL
            SELECT doc_id AS src, doc_id + 2 AS dst
            FROM documents WHERE doc_id % 16 % 4 = 0 AND doc_id % 16 < 14),
        {closure_sql('e')}
        SELECT src, dst FROM r
    """

    # weighted SSSP: same chain+skip graph with weights, independent
    # bounded-walk enumeration (module-generated)
    from kg_microbe_merge_spark.operators.sssp import (
        sssp_pred_sql,
        sssp_sql,
    )

    sql["weighted_sssp"] = f"""
        WITH RECURSIVE
        e AS (
            SELECT doc_id AS s, doc_id + 1 AS d, doc_id % 7 + 1 AS w
            FROM documents WHERE doc_id % 16 < 15
            UNION ALL
            SELECT doc_id, doc_id + 2, 1
            FROM documents WHERE doc_id % 16 % 4 = 0 AND doc_id % 16 < 14),
        src AS (SELECT doc_id AS id FROM documents WHERE doc_id % 16 = 0),
        {sssp_sql('e', 'src', 20)},
        {sssp_pred_sql('e')}
        SELECT r.id, r.dist, p.pred
        FROM sssp_result r LEFT JOIN sssp_pred p ON r.id = p.id
    """

    # incremental entailment fold ≡ full re-entailment over all rows
    # (invariant-as-oracle: same twin as owl_entailment)
    sql["kg_incremental_entailment"] = sql["owl_entailment"]

    # schema summary: A3 merge SQL node CTE + module-generated twin
    from kg_microbe_merge_spark.operators.stats import schema_summary_sql

    sql["schema_summary"] = f"""
        WITH n AS ({_A3_SQL}),
        e AS (
            SELECT 'L:' || o_orderkey AS subject,
                   'rel:' || o_orderstatus AS predicate,
                   'L:' || (o_orderkey + 32) AS object
            FROM orders)
        {schema_summary_sql('n', 'e')}
    """

    # sampled betweenness: module-generated forward/backward unrolled
    # twin over the same chain+entry edge relation
    from kg_microbe_merge_spark.operators.betweenness import (
        betweenness_sql,
    )

    sql["betweenness_sampled"] = betweenness_sql(
        """
        WITH ch AS (
            SELECT 'O' || o_orderkey AS src,
                   'O' || lead(o_orderkey) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderkey
                   ) AS dst
            FROM orders)
        SELECT src, dst FROM ch WHERE dst IS NOT NULL
        UNION ALL
        SELECT 'C' || o_custkey, 'O' || o_orderkey FROM orders
        """,
        k_sources=8,
        max_hops=4,
    )

    # truncated Katz: module-generated integer-recurrence twin over
    # the same customer/order/nation edge relation
    from kg_microbe_merge_spark.operators.katz import katz_sql

    sql["katz_centrality"] = katz_sql(
        """
        SELECT 'C' || o_custkey AS src, 'O' || o_orderkey AS dst
        FROM orders
        UNION ALL
        SELECT 'C' || c_custkey, 'N' || c_nationkey FROM customer
        """,
        alpha_micro=200_000,
        iterations=4,
    )

    # density clustering over the SemDeDup pair relation: shared
    # Lloyd/pair CTE chain feeding the module-generated dbscan twin
    from kg_microbe_merge_spark.operators.dbscan import dbscan_sql

    sql["dbscan_embeddings"] = dbscan_sql(
        _semdedup_pairs_sql(k=4, iterations=2, dim=64, threshold=0.35),
        min_pts=3,
    )

    # expectation mining: schema_summary twin feeding the
    # module-generated mining twin (identical tie-break + micro rule)
    from kg_microbe_merge_spark.operators.validate import (
        mine_expectations_sql,
    )

    sql["mine_expectations"] = mine_expectations_sql(
        f"""
        SELECT * FROM (
        WITH n AS ({_A3_SQL}),
        e AS (
            SELECT 'L:' || o_orderkey AS subject,
                   'rel:' || o_orderstatus AS predicate,
                   'L:' || (o_orderkey + 32) AS object
            FROM orders)
        {schema_summary_sql('n', 'e')})
        """,
        min_support=5,
        min_confidence_micro=250_000,
    )

    # Fellegi-Sunter ER scoring: module-generated end-to-end twin
    from kg_microbe_merge_spark.operators.er_scoring import fs_sql

    sql["er_fs_scoring"] = fs_sql(
        "lab",
        "p",
        ["seg_eq", "bal_eq"],
        200_000,
        -200_000,
        prelude_ctes="""
        lab AS (
            SELECT 'C:' || a.c_custkey AS a,
                   'C:' || b.c_custkey AS b,
                   CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS seg_eq,
                   CAST(sign(a.c_acctbal) = sign(b.c_acctbal) AS INT)
                       AS bal_eq,
                   CAST(a.c_custkey % 3 = 0 AS INT) AS is_match
            FROM customer a JOIN customer b
            ON b.c_custkey = a.c_custkey + 1
            AND b.c_nationkey = a.c_nationkey),
        p AS (SELECT a, b, seg_eq, bal_eq FROM lab),
        """,
    )

    # blocking evaluation: canonicalize/count/semi-join arithmetic twin
    sql["blocking_eval"] = """
        WITH cand AS (
            SELECT DISTINCT
                least('C:' || a.c_custkey, 'C:' || b.c_custkey) AS a,
                greatest('C:' || a.c_custkey, 'C:' || b.c_custkey) AS b
            FROM customer a JOIN customer b
            ON b.c_custkey = a.c_custkey + 1
            AND b.c_nationkey = a.c_nationkey),
        tr AS (
            SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
                SELECT 'C:' || c_custkey AS a,
                       'C:' || (c_custkey + 1) AS b
                FROM customer WHERE c_custkey % 3 = 0
                UNION ALL
                SELECT 'C:' || c_custkey, 'C:' || (c_custkey + 2)
                FROM customer WHERE c_custkey % 7 = 0)),
        k AS (
            SELECT
                (SELECT count(*) FROM cand) AS nc,
                (SELECT count(*) FROM tr) AS nt,
                (SELECT count(*) FROM cand SEMI JOIN tr USING (a, b)) AS nh,
                (SELECT count(*) FROM customer) AS n)
        SELECT nc AS n_candidates, nt AS n_truth, nh AS n_hit,
               (2 * 1000000 * nh + nt) // (2 * nt) AS pc_micro,
               (2 * 1000000 * nh + nc) // (2 * nc) AS pq_micro,
               (2 * 1000000 * (n * (n - 1) // 2 - nc) + n * (n - 1) // 2)
                   // (2 * (n * (n - 1) // 2)) AS rr_micro
        FROM k
    """

    # EM sufficient statistic: plain grouped count twin
    sql["er_agreement_patterns"] = """
        SELECT CAST(a.c_mktsegment = b.c_mktsegment AS INT) AS seg_eq,
               CAST(sign(a.c_acctbal) = sign(b.c_acctbal) AS INT)
                   AS bal_eq,
               count(*) AS n
        FROM customer a JOIN customer b
        ON b.c_custkey = a.c_custkey + 1
        AND b.c_nationkey = a.c_nationkey
        GROUP BY 1, 2
    """

    # ranking evaluation: module-generated rank/MRR twin
    from kg_microbe_merge_spark.operators.linkpred import (
        ranking_metrics_sql,
    )

    sql["linkpred_ranking"] = ranking_metrics_sql(
        "scored",
        "tr",
        prelude_ctes="""
        scored AS (
            SELECT 'N:' || s_nationkey AS query,
                   'S:' || s_suppkey AS candidate,
                   (s_suppkey * 37) % 1000 AS score_micro
            FROM supplier),
        tr AS (
            SELECT 'N:' || s_nationkey AS query,
                   'S:' || min(s_suppkey) AS candidate
            FROM supplier GROUP BY s_nationkey),
        """,
    )

    # KG negative sampling: module-generated corruption twin
    from kg_microbe_merge_spark.operators.negatives import (
        corrupt_triples_sql,
    )

    sql["kg_corrupt_triples"] = corrupt_triples_sql(
        "tr",
        2,
        prelude_ctes="""
        tr AS (
            SELECT DISTINCT 'P:' || l_partkey AS subject,
                   l_returnflag AS predicate,
                   'S:' || l_suppkey AS object
            FROM lineitem),
        """,
    )

    # BGP over the materialized entailment: pattern joins over the
    # entailment twin as a derived table
    sql["bgp_over_entailment"] = f"""
        SELECT e1.subject AS x, e1.object AS y, e2.object AS t
        FROM ({sql['rdfs_entailment']}) e1
        JOIN ({sql['rdfs_entailment']}) e2
        ON e1.subject = e2.subject AND e2.predicate = 'rdf:type'
        WHERE e1.predicate = 'part_of'
    """

    # property paths: skip/next+ over the chain+skip doc DAG —
    # recursive-CTE closure + one sequence join, DISTINCT
    sql["bgp_property_paths"] = """
        WITH RECURSIVE
        next_e AS (
            SELECT doc_id AS s, doc_id + 1 AS o
            FROM documents WHERE doc_id % 16 < 15),
        skip_e AS (
            SELECT doc_id AS s, doc_id + 2 AS o
            FROM documents WHERE doc_id % 16 % 4 = 0 AND doc_id % 16 < 14),
        np(s, o) AS (
            SELECT s, o FROM next_e
            UNION
            SELECT np.s, e.o FROM np JOIN next_e e ON np.o = e.s)
        SELECT DISTINCT k.s AS x, np.o AS y
        FROM skip_e k JOIN np ON k.o = np.s
    """

    # IC/Resnik/Lin: same taxonomy + annotations + same-region pairs,
    # module-generated ic/lin twins over a recursive-CTE closure
    from kg_microbe_merge_spark.operators.semsim import ic_sql, lin_sql

    sql["semantic_similarity"] = f"""
        WITH RECURSIVE
        e AS (
            SELECT 'N:' || n_nationkey AS src, 'R:' || n_regionkey AS dst
            FROM nation
            UNION ALL
            SELECT 'R:' || r_regionkey, 'ROOT' FROM region),
        rr(src, dst) AS (
            SELECT src, dst FROM e
            UNION
            SELECT rr.src, e.dst FROM rr JOIN e ON rr.dst = e.src),
        nn AS (SELECT src AS t FROM e UNION SELECT dst FROM e),
        clo AS (SELECT src, dst FROM rr UNION SELECT t, t FROM nn),
        ann AS (
            SELECT 'C:' || c_custkey AS entity,
                   'N:' || c_nationkey AS term
            FROM customer),
        p AS (
            SELECT 'N:' || a.n_nationkey AS a, 'N:' || b.n_nationkey AS b
            FROM nation a JOIN nation b
            ON a.n_regionkey = b.n_regionkey
            AND a.n_nationkey < b.n_nationkey),
        {ic_sql('ann', 'clo')}
        {lin_sql('p', 'clo')}
    """

    # strongly connected components (operators/scc.py): the SAME edge
    # formula as q_scc_components (6-cycles + trim tails per 8-id
    # group), then an INDEPENDENT solve — recursive-CTE transitive
    # closure (UNION dedup terminates cycles), mutual-reachability
    # pairs, per-node min with self fallback
    sql["scc_components"] = """
        WITH RECURSIVE
        d AS (SELECT doc_id FROM documents),
        e AS (
            SELECT doc_id AS src,
                   CASE WHEN doc_id % 8 < 6
                        THEN (doc_id - doc_id % 8) + (doc_id % 8 + 1) % 6
                        ELSE doc_id - doc_id % 8 END AS dst
            FROM d),
        n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        r(a, b) AS (
            SELECT src, dst FROM e
            UNION
            SELECT r.a, e.dst FROM r JOIN e ON r.b = e.src),
        mutual AS (
            SELECT r1.a AS v, r1.b AS u
            FROM r r1 JOIN r r2 ON r1.a = r2.b AND r1.b = r2.a),
        comp AS (
            SELECT n.node,
                   least(n.node, coalesce(min(m.u), n.node)) AS component
            FROM n LEFT JOIN mutual m ON m.v = n.node
            GROUP BY n.node)
        SELECT node, component FROM comp
    """

    # product quantization (operators/pq.py): module-generated oracle —
    # retrains per-subspace codebooks (hash60 init, round-6 Lloyd),
    # re-encodes, and re-scores row 0's query with floor-micro ADC
    sql["pq_adc_topk"] = pq_topk_sql(
        m=4, k_centroids=4, iterations=2, k=10, query_id=0, d=64
    )

    # corpus mixing (operators/mixing.py): tier CASE, per-tier counts,
    # IEEE-exact sqrt micro-weights (2^20 scale, floor(x+0.5)), one
    # left-associated double division chain — token-for-token the
    # operator's python derivation — then the split.py bucket filter
    _mix_tier = """
        CASE WHEN CAST(substr(source, 4) AS INT) < 14 THEN 'web'
             WHEN CAST(substr(source, 4) AS INT) < 18 THEN 'books'
             WHEN CAST(substr(source, 4) AS INT) = 18 THEN 'code'
             ELSE 'wiki' END
    """
    sql["temperature_mix"] = f"""
        WITH d AS (
            SELECT doc_id, n_chars, {_mix_tier} AS mix_source
            FROM documents),
        c AS (SELECT mix_source, count(*) AS n FROM d GROUP BY 1),
        w AS (SELECT mix_source, n,
                     CAST(floor(sqrt(n) * 1048576.0 + 0.5) AS BIGINT)
                         AS w_micro
              FROM c),
        t AS (SELECT sum(w_micro) AS total_w FROM w),
        b AS (SELECT mix_source,
                     GREATEST(0, LEAST(10000, CAST(floor(
                         10000.0 * 250 * w_micro / t.total_w / n + 0.5)
                         AS BIGINT))) AS bound
              FROM w CROSS JOIN t)
        SELECT d.doc_id, d.mix_source, d.n_chars
        FROM d JOIN b USING (mix_source)
        WHERE {_h60("(d.doc_id)::VARCHAR || ':mix'")} % 10000 < b.bound
    """

    # per-source cap (operators/mixing.py): hash-threshold prefilter
    # (2^60·oversample·cap/n, keep-all when the source is small) is a
    # prefix of the ranking hash order, so prefilter + row_number ≤ cap
    # is the exact top-cap
    sql["cap_per_source"] = f"""
        WITH d AS (
            SELECT doc_id, {_mix_tier} AS mix_source FROM documents),
        c AS (SELECT mix_source, count(*) AS n FROM d GROUP BY 1),
        thr AS (SELECT mix_source,
                       CASE WHEN n <= 32 THEN 1152921504606846976
                            ELSE CAST(floor(
                                1152921504606846976.0 * 32.0 / n)
                                AS BIGINT) END AS thr
                FROM c),
        h AS (SELECT doc_id, mix_source,
                     {_h60("(doc_id)::VARCHAR || ':cap'")} AS hh
              FROM d),
        kept AS (
            SELECT h.doc_id, h.mix_source, h.hh
            FROM h JOIN thr USING (mix_source) WHERE h.hh < thr.thr),
        r AS (SELECT doc_id, mix_source,
                     row_number() OVER (PARTITION BY mix_source
                                        ORDER BY hh, doc_id) AS rn
              FROM kept)
        SELECT doc_id, mix_source, CAST(rn AS INTEGER) AS rank_in_source
        FROM r WHERE rn <= 8
    """

    # negative sampling (operators/negatives.py): same token counts as
    # vocab, micro-weights floor(n^0.75·2^20+0.5) with n^0.75 =
    # sqrt(n)·sqrt(sqrt(n)) (IEEE-exact sqrts), BIGINT cumulative CDF
    # ordered by token, hash-mod draws, range join into the CDF —
    # value-for-value the pandas-UDF searchsorted
    sql["negative_samples"] = f"""
        WITH toks AS (SELECT {_TOKS_SQL} AS t FROM documents),
        tok AS (SELECT unnest(t) AS token FROM toks),
        vc AS (SELECT token, cast(count(*) AS BIGINT) AS n
               FROM tok WHERE token != ''
               GROUP BY token HAVING count(*) >= 2),
        wm AS (SELECT token,
                      CAST(floor(sqrt(n) * sqrt(sqrt(n)) * 1048576.0
                                 + 0.5) AS BIGINT) AS w
               FROM vc),
        cdf AS (SELECT token, w,
                       sum(w) OVER (ORDER BY token
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS hi
                FROM wm),
        tot AS (SELECT sum(w) AS total FROM wm),
        p AS (
            SELECT unnest(CASE WHEN len(t) >= 2
                   THEN [struct_pack(lhs := t[i], rhs := t[i + 1])
                         for i in range(1, len(t))]
                   ELSE [] END) AS pp
            FROM toks),
        pairs AS (
            SELECT pp.lhs AS lhs, pp.rhs AS rhs
            FROM p GROUP BY pp.lhs, pp.rhs HAVING count(*) >= 5),
        draws AS (
            SELECT lhs, rhs, j,
                   {_h60("lhs || ':' || rhs || ':' || CAST(j AS VARCHAR) || ':neg'")}
                       % tot.total AS u
            FROM pairs CROSS JOIN (VALUES (1), (2)) v(j) CROSS JOIN tot)
        SELECT d.lhs, d.rhs, CAST(d.j AS INTEGER) AS j,
               cdf.token AS negative
        FROM draws d JOIN cdf
          ON d.u >= cdf.hi - cdf.w AND d.u < cdf.hi
    """

    # size-balanced sharding (operators/sharding.py): the engine's
    # two-level prefix sum collapses to one global window here — same
    # (bucket, hash, id) order, BIGINT cum, integer division
    sql["shard_layout"] = f"""
        WITH h AS (
            SELECT doc_id, n_chars,
                   {_h60("(doc_id)::VARCHAR || ':shard'")} AS hh
            FROM documents),
        c AS (
            SELECT doc_id,
                   CAST(sum(n_chars) OVER (
                       ORDER BY hh % 64, hh, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_chars AS BIGINT) AS bytes_before
            FROM h)
        SELECT doc_id, CAST(bytes_before // 30000 AS BIGINT) AS shard_id
        FROM c
    """

    # incremental edge upsert: fold ≡ full provenance re-merge (same
    # invariant-as-oracle pattern as kg_incremental_upsert)
    sql["kg_incremental_edges"] = f"""
        SELECT subject, predicate, object,
               {pipe('relation')},
               {pipe('knowledge_source')}
        FROM ({_EDGES_SQL})
        GROUP BY subject, predicate, object
    """
    return sql


def oracle_sql() -> dict[str, str]:
    """Twins for the driver-gated registry only (key set ⊆ queries())."""
    alls = _all_oracle_sql()
    return {k: alls[k] for k in queries() if k in alls}


def extra_oracle_sql() -> dict[str, str]:
    """Twins for the retired-from-gate registry (extra_queries())."""
    alls = _all_oracle_sql()
    return {k: alls[k] for k in extra_queries() if k in alls}
