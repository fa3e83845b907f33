"""SPARQL aggregation / CONSTRUCT / ASK (plans/bgp.py): GROUP BY +
COUNT/SUM/MIN/MAX/AVG/SAMPLE/GROUP_CONCAT + HAVING, template
instantiation with unbound-variable skipping, existence queries."""

from __future__ import annotations

import pytest

from kg_microbe_merge_spark.plans.bgp import (
    AggregateSyntaxError,
    bgp_aggregate,
    bgp_ask,
    bgp_construct,
)


def _graph(spark):
    # customers in nations owning orders; c3 owns nothing, n2 has one
    # customer; duplicate owns edge (bag semantics input)
    rows = [
        ("c1", "in", "n1"),
        ("c2", "in", "n1"),
        ("c3", "in", "n2"),
        ("c1", "owns", "o1"),
        ("c1", "owns", "o2"),
        ("c2", "owns", "o3"),
        ("c2", "owns", "o3"),  # duplicate edge: COUNT vs COUNT DISTINCT
    ]
    return spark.createDataFrame(
        rows, "subject string, predicate string, object string"
    )


def test_count_star_and_distinct_per_group(spark):
    out = bgp_aggregate(
        _graph(spark),
        [("?c", "in", "?n"), ("?c", "owns", "?o")],
        group_by=["?n"],
        aggregates={
            "n_sol": "COUNT(*)",
            "n_orders": "COUNT(DISTINCT ?o)",
            "n_cust": "COUNT(DISTINCT ?c)",
        },
    )
    got = {r["n"]: (r["n_sol"], r["n_orders"], r["n_cust"])
           for r in out.collect()}
    # n1: solutions = c1×{o1,o2} + c2×{o3 (dup edge → 2 solutions)} = 4
    assert got == {"n1": (4, 3, 2)}


def test_optional_null_bindings_not_counted(spark):
    # COUNT(?o) skips NULL bindings from OPTIONAL; COUNT(*) keeps rows
    out = bgp_aggregate(
        _graph(spark),
        [("?c", "in", "?n")],
        optional=[[("?c", "owns", "?o")]],
        group_by=["?n"],
        aggregates={"rows": "COUNT(*)", "orders": "COUNT(?o)"},
    )
    got = {r["n"]: (r["rows"], r["orders"]) for r in out.collect()}
    assert got == {"n1": (4, 4), "n2": (1, 0)}


def test_group_concat_sorted_and_sample_min(spark):
    out = bgp_aggregate(
        _graph(spark),
        [("?c", "owns", "?o")],
        group_by=["?c"],
        aggregates={
            "all_orders": "GROUP_CONCAT(DISTINCT ?o)",
            "one": "SAMPLE(?o)",
            "hi": "MAX(?o)",
        },
        order_by=["?c"],
    )
    rows = out.collect()
    assert [(r["c"], r["all_orders"], r["one"], r["hi"]) for r in rows] == [
        ("c1", "o1|o2", "o1", "o2"),
        ("c2", "o3", "o3", "o3"),
    ]


def test_group_concat_bag_keeps_duplicates(spark):
    out = bgp_aggregate(
        _graph(spark),
        [("?c", "owns", "?o")],
        group_by=["?c"],
        aggregates={"orders": "GROUP_CONCAT(?o; separator=',')"},
    )
    got = {r["c"]: r["orders"] for r in out.collect()}
    assert got == {"c1": "o1,o2", "c2": "o3,o3"}


def test_sum_avg_numeric_bindings(spark):
    g = spark.createDataFrame(
        [("a", "w", "10"), ("a", "w", "30"), ("b", "w", "5"),
         ("a", "w", "10")],
        "subject string, predicate string, object string",
    )
    out = bgp_aggregate(
        g,
        [("?s", "w", "?v")],
        group_by=["?s"],
        aggregates={
            "total": "SUM(?v)",
            "total_d": "SUM(DISTINCT ?v)",
            "mean": "AVG(?v)",
            "mean_d": "AVG(DISTINCT ?v)",
        },
    )
    got = {r["s"]: (float(r["total"]), int(r["total_d"]),
                    float(r["mean"]), float(r["mean_d"]))
           for r in out.collect()}
    assert got["a"] == (50.0, 40, 50.0 / 3, 20.0)
    assert got["b"] == (5.0, 5, 5.0, 5.0)


def test_having_filters_groups(spark):
    out = bgp_aggregate(
        _graph(spark),
        [("?c", "owns", "?o")],
        group_by=["?c"],
        aggregates={"n": "COUNT(DISTINCT ?o)"},
        having=["n >= 2"],
    )
    assert [(r["c"], r["n"]) for r in out.collect()] == [("c1", 2)]


def test_aggregate_guards(spark):
    g = _graph(spark)
    with pytest.raises(ValueError, match="GROUP BY"):
        bgp_aggregate(g, [("?c", "owns", "?o")], [], {"n": "COUNT(*)"})
    with pytest.raises(ValueError, match="not bound"):
        bgp_aggregate(g, [("?c", "owns", "?o")], ["?z"], {"n": "COUNT(*)"})
    with pytest.raises(AggregateSyntaxError):
        bgp_aggregate(g, [("?c", "owns", "?o")], ["?c"],
                      {"n": "MEDIAN(?o)"})
    with pytest.raises(AggregateSyntaxError):
        bgp_aggregate(g, [("?c", "owns", "?o")], ["?c"],
                      {"n": "SUM(*)"})
    with pytest.raises(AggregateSyntaxError):
        bgp_aggregate(g, [("?c", "owns", "?o")], ["?c"],
                      {"n": "COUNT(DISTINCT *)"})


def test_construct_template_and_set_semantics(spark):
    # rewrite the graph: emit (n, has_resident, c) + a type triple; the
    # duplicate owns edge must NOT duplicate output (RDF graph = set)
    out = bgp_construct(
        _graph(spark),
        [("?c", "in", "?n"), ("?c", "owns", "?o")],
        template=[
            ("?n", "has_resident", "?c"),
            ("?c", "type", "Customer"),
        ],
    )
    got = {(r["subject"], r["predicate"], r["object"])
           for r in out.collect()}
    assert got == {
        ("n1", "has_resident", "c1"),
        ("n1", "has_resident", "c2"),
        ("c1", "type", "Customer"),
        ("c2", "type", "Customer"),
    }
    assert out.count() == len(got)  # distinct output


def test_construct_skips_unbound_template_rows(spark):
    # OPTIONAL leaves ?o NULL for c3 → its (c, ordered, o) triple is
    # skipped but its type triple still emits (per-triple skipping)
    out = bgp_construct(
        _graph(spark),
        [("?c", "in", "?n")],
        optional=[[("?c", "owns", "?o")]],
        template=[("?c", "ordered", "?o"), ("?c", "type", "Customer")],
    )
    got = {(r["subject"], r["predicate"], r["object"])
           for r in out.collect()}
    assert ("c3", "type", "Customer") in got
    assert not any(s == "c3" and p == "ordered" for s, p, _ in got)
    assert ("c1", "ordered", "o1") in got


def test_construct_guards(spark):
    g = _graph(spark)
    with pytest.raises(ValueError, match="template"):
        bgp_construct(g, [("?c", "in", "?n")], template=[])
    with pytest.raises(ValueError, match="not bound"):
        bgp_construct(g, [("?c", "in", "?n")],
                      template=[("?c", "x", "?missing")])


def test_ask(spark):
    g = _graph(spark)
    assert bgp_ask(g, [("?c", "owns", "?o"), ("?c", "in", "n1")])
    assert not bgp_ask(g, [("?c", "owns", "?o"), ("?c", "in", "n2")])
    assert bgp_ask(g, [("?c", "in", "?n")], filters=["?n = 'n2'"])
    assert not bgp_ask(g, [("?c", "in", "?n")], filters=["?n = 'n9'"])


def test_describe_variable_and_iri(spark):
    from kg_microbe_merge_spark.plans.bgp import bgp_describe

    g = _graph(spark)
    # describe the nation every order-owning customer lives in
    out = bgp_describe(
        g,
        [("?c", "owns", "?o"), ("?c", "in", "?n")],
        describe=["?n"],
    )
    got = {(r["subject"], r["predicate"], r["object"])
           for r in out.collect()}
    # n1 is incident to exactly the two 'in' edges of c1/c2
    assert got == {("c1", "in", "n1"), ("c2", "in", "n1")}

    # DESCRIBE <iri> with no variable resolution
    out2 = bgp_describe(g, [("?c", "in", "?n")], describe=["c1"])
    got2 = {(r["subject"], r["predicate"], r["object"])
            for r in out2.collect()}
    assert got2 == {("c1", "in", "n1"), ("c1", "owns", "o1"),
                    ("c1", "owns", "o2")}


def test_describe_constant_iris_from_local_relation(spark):
    """Constant IRIs describe exactly their incident triples; the IRIs are
    a JVM-scanned local relation, not a Python RDD."""
    from kg_microbe_merge_spark.plans.bgp import bgp_describe

    g = _graph(spark)
    iris = ["n1", "o3", "zz"]
    out = bgp_describe(g, [], describe=iris)
    want = {t for t in map(tuple, g.collect()) if t[0] in iris or t[2] in iris}
    assert sorted(map(tuple, out.collect())) == sorted(want)
    assert want == {("c1", "in", "n1"), ("c2", "in", "n1"), ("c2", "owns", "o3")}
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    iri_leaves = [
        leaves.apply(i) for i in range(leaves.size())
        if leaves.apply(i).output().apply(0).name() == "r"
    ]
    assert iri_leaves
    assert {p.getClass().getSimpleName() for p in iri_leaves} == {"LocalRelation"}


def test_describe_guards(spark):
    from kg_microbe_merge_spark.plans.bgp import bgp_describe

    g = _graph(spark)
    with pytest.raises(ValueError, match="at least one"):
        bgp_describe(g, [("?c", "in", "?n")], describe=[])
    with pytest.raises(ValueError, match="not bound"):
        bgp_describe(g, [("?c", "in", "?n")], describe=["?zz"])
