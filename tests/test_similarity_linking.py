"""ANN similarity search (LSH recall vs brute force) and entity-linking
semantics (ambiguity resolution, unlinked fallback, same_as components
of shared aliases).
"""

from __future__ import annotations

import numpy as np

from kg_microbe_merge_spark.functions.linking import (
    link_mentions,
    resolve_alias_dictionary,
)
from kg_microbe_merge_spark.operators.components import alias_group_components
from kg_microbe_merge_spark.operators.similarity import (
    brute_force_cosine_topk,
    lsh_cosine_topk,
)

DIM = 16


def _vectors(spark, n=200, seed=3):
    rng = np.random.default_rng(seed)
    # clustered vectors so top-k has structure: 10 centroids + noise
    centroids = rng.standard_normal((10, DIM))
    rows = []
    for i in range(n):
        c = centroids[i % 10]
        v = c + 0.15 * rng.standard_normal(DIM)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_shape_and_selfexclusion(spark):
    vecs = _vectors(spark)
    q = vecs.filter("vec_id < 3").withColumnRenamed("vec_id", "query_id")
    out = brute_force_cosine_topk(vecs, q, k=5).collect()
    assert len(out) == 15
    for r in out:
        assert r["vec_id"] != r["query_id"]
        assert 1 <= r["rank"] <= 5
    # nearest neighbors of a clustered point share its cluster (mod 10)
    top1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
    for qid, vid in top1.items():
        assert vid % 10 == qid % 10


def test_lsh_topk_recall_vs_brute_force(spark):
    vecs = _vectors(spark)
    q = vecs.filter("vec_id < 10").withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_cosine_topk(vecs, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_cosine_topk(vecs, q, k=5, dim=DIM, bits=6, tables=12).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH top-k recall {recall:.2f}"


def test_lsh_topk_string_ids(spark):
    """Signature path must be id-type-agnostic: string CURIE ids (the
    normal case for this KG engine) flow through mapInPandas untouched —
    the output schema is built from the input schema, no int64
    coercion."""
    from pyspark.sql import functions as F

    vecs = _vectors(spark, n=60).select(
        F.concat(F.lit("NODE:"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    q = vecs.filter("vec_id IN ('NODE:0','NODE:1')").withColumnRenamed(
        "vec_id", "query_id"
    )
    out = lsh_cosine_topk(vecs, q, k=3, dim=DIM, bits=4, tables=8).collect()
    assert out, "string-id LSH must return candidates"
    for r in out:
        assert r["query_id"].startswith("NODE:")
        assert r["vec_id"].startswith("NODE:")
        assert r["vec_id"] != r["query_id"]


def _aliases(spark):
    return spark.createDataFrame(
        [
            ("apple", "FRUIT:1", 0.9),
            ("apple", "COMPANY:1", 0.6),
            ("banana", "FRUIT:2", 0.8),
        ],
        "alias string, entity_id string, prior double",
    )


def test_resolve_alias_dictionary_picks_max_prior(spark):
    best = {
        r["alias"]: (r["entity_id"], r["prior"])
        for r in resolve_alias_dictionary(_aliases(spark)).collect()
    }
    assert best["apple"] == ("FRUIT:1", 0.9)
    assert best["banana"] == ("FRUIT:2", 0.8)


def test_link_mentions_fallback_and_scores(spark):
    triples = spark.createDataFrame(
        [("d1", "apple", "grows_on", "tree"), ("d2", "banana", "is_a", "apple")],
        "url string, subj string, pred string, obj string",
    )
    out = {(r["url"]): r for r in link_mentions(triples, _aliases(spark)).collect()}
    assert out["d1"]["subj"] == "FRUIT:1"
    assert out["d1"]["subj_score"] == 0.9
    assert out["d1"]["obj"] == "surface:tree"      # unlinked keeps surface
    assert out["d1"]["obj_score"] is None
    assert out["d2"]["obj"] == "FRUIT:1"


def test_alias_group_components(spark):
    """Two entity ids sharing an alias are one ``same_as`` component; an
    alias with one entity links nothing."""
    rows = {
        (r["node"], r["component"])
        for r in alias_group_components(_aliases(spark)).collect()
    }
    assert rows == {("COMPANY:1", "COMPANY:1"), ("FRUIT:1", "COMPANY:1")}


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF-flat (hash-seeded centroids, row-local assignment) must reach
    high recall on the clustered fixture with generous probing."""
    from kg_microbe_merge_spark.operators.similarity import ivf_cosine_topk

    vecs = _vectors(spark)
    q = vecs.filter("vec_id < 10").withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_cosine_topk(vecs, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_cosine_topk(
            vecs, q, k=5, n_centroids=12, n_probe=4
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"IVF top-k recall {recall:.2f}"


def test_ivf_assignment_plan_has_no_preaggregate_shuffle(spark):
    """Centroid assignment must be a row-local fold over inlined
    literals: the only Exchanges in the plan are the final top-k window
    (+ the broadcast of the tiny probe side) — never an N×K cross-join
    shuffle of the data vectors."""
    from kg_microbe_merge_spark.operators.similarity import ivf_cosine_topk

    vecs = _vectors(spark, n=60)
    q = vecs.filter("vec_id < 2").withColumnRenamed("vec_id", "query_id")
    plan = (
        ivf_cosine_topk(vecs, q, k=3, n_centroids=4, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re as _re

    shuffles = _re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    # every hash exchange is the per-query window, never a vec-side key
    assert shuffles, plan
    assert all(s.startswith("query_id") for s in shuffles), shuffles
    assert "CartesianProduct" not in plan, plan
