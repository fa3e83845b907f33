"""Connected-components correctness vs a networkx oracle on seeded
random graphs plus adversarial topologies (long chain — worst case for
propagation depth; star — worst case for hub skew; mixed forest).

Every oracle check runs both solve paths: the driver-side union-find
that inputs up to ``components._DRIVER_THRESHOLD`` edges take, and the
distributed star rounds, forced by patching that threshold to 0. The
alias-group entry point (``alias_group_components``) is checked against
the same oracle over the pairwise ``same_as`` graph of its groups.
"""

from __future__ import annotations

import contextlib
import random
import uuid
from collections import Counter

import networkx as nx
import pytest

from kg_microbe_merge_spark.operators import components
from kg_microbe_merge_spark.operators.components import (
    alias_group_components,
    canonicalize_ids,
    connected_components,
    connected_components_incremental,
)

THRESHOLDS = (components._DRIVER_THRESHOLD, 0)


@contextlib.contextmanager
def _driver_threshold(threshold: int):
    """Solve with ``threshold`` as the driver/star cut-over."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(components, "_DRIVER_THRESHOLD", threshold)
        yield


def _oracle(edges: list[tuple[str, str]]) -> dict[str, str]:
    g = nx.Graph()
    g.add_edges_from(edges)
    out = {}
    for comp in nx.connected_components(g):
        rep = min(comp)
        for n in comp:
            out[n] = rep
    return out


def _check(spark, edges: list[tuple[str, str]]) -> None:
    df = spark.createDataFrame(edges, "src string, dst string")
    for threshold in THRESHOLDS:
        with _driver_threshold(threshold):
            rows = connected_components(df).collect()
        got = {r["node"]: r["component"] for r in rows}
        assert got == _oracle(edges), f"threshold={threshold}"
        assert len(rows) == len(got), f"threshold={threshold}"


def test_cc_long_chain(spark):
    # diameter 60 — requires O(log d) rounds, not O(d)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(60)]
    _check(spark, edges)


def test_cc_star(spark):
    edges = [("hub", f"leaf{i:03d}") for i in range(100)]
    _check(spark, edges)


def test_cc_self_loops_and_dups(spark):
    edges = [("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"), ("c", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for threshold in THRESHOLDS:
        with _driver_threshold(threshold):
            rows = connected_components(df).collect()
        # self-loop-only node 'c' still appears, mapped to itself; one
        # row per node despite the duplicate edges
        assert sorted(map(tuple, rows)) == [("a", "a"), ("b", "a"), ("c", "c")]


def test_cc_null_endpoints_same_on_both_paths(spark):
    """A null endpoint admits the other endpoint as a node, and all null
    endpoints together give exactly one (None, None) row, on both paths."""
    edges = [("a", None), (None, "b"), ("b", "c"), (None, None), ("d", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = Counter([(None, None), ("a", "a"), ("b", "b"), ("c", "b"), ("d", "d")])
    for threshold in THRESHOLDS:
        with _driver_threshold(threshold):
            got = Counter(map(tuple, connected_components(df).collect()))
        assert got == want, f"threshold={threshold}"


def test_cc_job_count_on_dictionary_sized_graph(spark):
    """A ``same_as``-shaped graph (500 disjoint pairs, as the alias
    dictionary self-join yields) is solved on the driver in a few jobs;
    the star rounds need one job per round on top."""
    edges = [(f"E:{i:04d}a", f"E:{i:04d}b") for i in range(500)]
    df = spark.createDataFrame(edges, "src string, dst string")
    sc = spark.sparkContext

    def jobs() -> int:
        group = f"cc-jobs-{uuid.uuid4()}"
        sc.setJobGroup(group, "connected_components job count")
        try:
            rows = connected_components(df).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 1000
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    driver_jobs = jobs()
    assert driver_jobs <= 3
    with _driver_threshold(0):
        assert jobs() > driver_jobs


@pytest.mark.parametrize("seed", [1, 7])
def test_cc_random_graphs(spark, seed):
    rng = random.Random(seed)
    nodes = [f"v{i:04d}" for i in range(300)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(260)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    _check(spark, edges)


def _group_oracle(rows: list[tuple]) -> dict[str, str]:
    """The pairwise encoding: every two distinct non-null members of a
    non-null alias are a ``same_as`` edge."""
    groups: dict = {}
    for a, x in rows:
        if a is not None and x is not None:
            groups.setdefault(a, set()).add(x)
    return _oracle([(x, y) for g in groups.values() for x in g for y in g if x < y])


def _group_check(spark, rows: list[tuple]) -> None:
    df = spark.createDataFrame(rows, "alias string, entity_id string")
    want = _group_oracle(rows)
    for threshold in THRESHOLDS:
        with _driver_threshold(threshold):
            got = alias_group_components(df).collect()
        assert {r["node"]: r["component"] for r in got} == want, threshold
        assert len(got) == len(want), threshold


@pytest.mark.parametrize("seed", [2, 5])
def test_alias_groups_random(spark, seed):
    """Random groups with null aliases and members, singleton groups,
    duplicate rows and members shared across groups."""
    rng = random.Random(seed)
    aliases = [f"al{i:03d}" for i in range(60)] + [None]
    members = [f"E:{i:03d}" for i in range(90)] + [None]
    rows = [(rng.choice(aliases), rng.choice(members)) for _ in range(150)]
    rows += rng.sample(rows, 20) + [("solo", "E:500"), ("solo", "E:500")]
    _group_check(spark, rows)


def test_alias_groups_duplicates_and_nulls(spark):
    rows = [
        ("x", "b"), ("x", "b"), ("x", "a"),  # a group with a duplicate
        ("y", "c"), ("y", "c"),  # one distinct member: no rows
        ("z", "c"), ("z", "b"),  # c joins {a, b} through b
        (None, "d"), (None, "e"),  # a null alias links nothing
        ("w", None), ("w", "f"),  # a null member links nothing
    ]
    _group_check(spark, rows)
    want = {"a": "a", "b": "a", "c": "a"}
    assert _group_oracle(rows) == want


def test_generic_alias_stays_on_driver(spark, monkeypatch):
    """One alias over 1,500 entities is 1,500 dictionary rows, not the
    1,124,750 pairs that would push the solve past the driver cap."""
    rows = [("generic", f"G:{i:04d}") for i in range(1500)]
    rows += [(f"s{i}", f"A:{i:03d}") for i in range(300)]
    rows += [(f"s{i}", f"B:{i:03d}") for i in range(300)]
    rows += [("s7", "G:0042")]

    def no_star(*_):
        raise AssertionError("star rounds ran")

    monkeypatch.setattr(components, "_star_components", no_star)
    df = spark.createDataFrame(rows, "alias string, entity_id string")
    got = {r["node"]: r["component"] for r in alias_group_components(df).collect()}
    want = _oracle(
        [("G:0000", f"G:{i:04d}") for i in range(1, 1500)]
        + [(f"A:{i:03d}", f"B:{i:03d}") for i in range(300)]
        + [("A:007", "G:0042")]
    )
    assert got == want
    assert got["G:1499"] == "A:007" and got["A:008"] == "A:008"


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def _inc_check(spark, old_edges, delta_edges):
    """Invariant: incremental(cc(E0), E1) == cc(E0 ∪ E1) — checked on
    BOTH quotient solvers (driver-side union-find, the default at delta
    size, and the distributed star-contraction fallback forced with
    a threshold of 0)."""
    assignment = connected_components(_edges_df(spark, old_edges))
    want = _oracle(old_edges + delta_edges)
    for threshold in THRESHOLDS:
        with _driver_threshold(threshold):
            rows = connected_components_incremental(
                assignment, _edges_df(spark, delta_edges)
            ).collect()
        got = {r["node"]: r["component"] for r in rows}
        assert got == want, f"threshold={threshold}"
        # and exactly one row per node
        assert len(got) == len(want)


def test_cc_incremental_merges_components(spark):
    # two chains merged by one delta edge; min-id root must win globally
    old = [("a1", "a2"), ("a2", "a3"), ("b1", "b2"), ("b2", "b3")]
    _inc_check(spark, old, [("a3", "b1")])


def test_cc_incremental_new_nodes_and_self_loops(spark):
    old = [("a1", "a2")]
    # brand-new chain, a new node attaching to an old component, and a
    # self-loop-only brand-new node
    delta = [("x1", "x2"), ("x2", "a2"), ("z9", "z9"), ("q1", "q2")]
    _inc_check(spark, old, delta)


def test_cc_incremental_noop_delta(spark):
    # delta re-stating an existing edge must not change anything
    old = [("a1", "a2"), ("b1", "b2")]
    _inc_check(spark, old, [("a1", "a2")])


@pytest.mark.parametrize("seed", [3, 11])
def test_cc_incremental_random_split(spark, seed):
    rng = random.Random(seed)
    nodes = [f"v{i:04d}" for i in range(200)]
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(180)]
    edges = [e for e in edges if e[0] != e[1]]
    cut = len(edges) * 3 // 4
    _inc_check(spark, edges[:cut], edges[cut:])


def test_cc_incremental_assignment_never_shuffled(spark):
    """The full assignment must only ever be the stream side of
    broadcast-hash joins — no sort-merge join of the big side."""
    old = [(f"c{i:03d}", f"n{i % 5}") for i in range(100)]
    # materialize the prior assignment as real use would read it from a
    # parquet snapshot — the assertion targets the incremental operator's
    # joins, not the lineage of however the assignment was first built
    assignment = connected_components(_edges_df(spark, old)).localCheckpoint(
        eager=True
    )
    out = connected_components_incremental(
        assignment, _edges_df(spark, [("c001", "n4"), ("NEW", "c002")])
    )
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_canonicalize_ids(spark):
    nodes = spark.createDataFrame(
        [("A:1", "x"), ("B:1", "y"), ("C:9", "z")], "id string, name string"
    )
    same_as = spark.createDataFrame([("A:1", "B:1")], "src string, dst string")
    for threshold in THRESHOLDS:
        with _driver_threshold(threshold):
            rows = canonicalize_ids(nodes, same_as).collect()
        out = {r["id"]: r["canonical_id"] for r in rows}
        assert out == {"A:1": "A:1", "B:1": "A:1", "C:9": "C:9"}, threshold


def test_incremental_cc_gate_assignment(spark):
    """The kg_incremental_cc gate query constructs the prior assignment
    directly (one groupBy over the customer-nation star) instead of
    re-running the full CC as setup; the two must be byte-identical,
    else the incremental fold starts from wrong labels."""
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    customer = spark.read.parquet(f"{sf}/customer.parquet")
    base = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("dst"),
    )
    full = {
        (r["node"], r["component"])
        for r in connected_components(base).collect()
    }
    per_nation = customer.groupBy("c_nationkey").agg(
        F.min(F.concat(F.lit("C"), F.col("c_custkey"))).alias("_min_c")
    )
    comp = F.least(
        F.col("_min_c"), F.concat(F.lit("N"), F.col("c_nationkey"))
    ).alias("component")
    direct = {
        (r["node"], r["component"])
        for r in customer.join(F.broadcast(per_nation), "c_nationkey")
        .select(F.concat(F.lit("C"), F.col("c_custkey")).alias("node"), comp)
        .unionByName(
            per_nation.select(
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("node"), comp
            )
        )
        .collect()
    }
    assert direct == full
