"""Connected components over a ``same_as`` edge DataFrame.

Large inputs run the alternating large-star / small-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14),
as pure DataFrame joins/aggregations — no GraphX/GraphFrames dependency.
This replaces the reference's in-memory whole-graph merge
(kg_microbe_merge/merge.py:50-60 delegating to kgx/networkx): cross-source
ID reconciliation becomes label propagation that converges in
O(log^2 n) rounds regardless of component diameter, so a 10^12-node
graph with a continent-sized component still terminates.

Two entry points share one solve path (``_solve``):
:func:`connected_components` over ``(src, dst)`` edges, and
:func:`alias_group_components` over ``(alias, entity_id)`` rows, where
the entities sharing an alias are ``same_as``. The groups are never expanded
into pairs: on the driver each member is unioned with the first member
of its group, and above the cap each member → its group's min member is
one edge of the star rounds. An alias shared by k entities thus costs
k−1 edges instead of k(k−1)/2; one generic alias over 1,415 entities
was enough to push the pairwise graph past the driver cap (MinoanER,
EDBT'19, resolves entities from blocks the same way).

Scale notes
-----------
* One bounded probe, ``limit(_DRIVER_THRESHOLD + 1).collect()``, picks
  the solve: up to 1M edges (or dictionary rows), one driver-side
  union-find over the collected rows (no second pass, no per-round jobs;
  6.5x faster than the rounds at 1M edges on 4 vCPUs). Its result is
  built from an Arrow table (``workerenv.local_relation``), so under
  48 MB it is a ``LocalRelation`` that the stage write scans in the JVM,
  with no Python worker. The cap bounds driver memory:
  ~0.6 KB of Python heap per edge, and the probe's rows count against
  ``spark.driver.maxResultSize`` (1 GB default, enough for ids up to
  ~500 bytes). Measurements: PLANS.md, "Connected components at scale".
* Larger inputs run the star rounds (the probe adds the read of ~1M
  rows); the result is checkpointed eagerly so a caller reading it
  twice never repeats the rounds.
* Each round is two shuffles (groupBy min-neighbor + re-emit edges);
  AQE handles the heavy skew of hub nodes (a hub's neighbor list is
  aggregated with ``min``, which is partially aggregable map-side —
  no reducer ever materializes the full adjacency list).
* A LAZY ``localCheckpoint`` EVERY round truncates lineage so the plan
  doesn't grow unboundedly; the round's convergence-check aggregation
  is the action that materializes it, so the check and the next round
  share one stored copy at a cost of ONE job per round (on a real
  cluster use ``spark.sparkContext.setCheckpointDir`` + ``checkpoint``
  for fault-tolerant truncation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..workerenv import local_relation


def _canonical_edges(e: DataFrame) -> DataFrame:
    """Symmetrize, drop self-loops, dedup."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return sym.filter(F.col("src") != F.col("dst")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: emit both orientations, group by u, and connect
    every strictly-larger neighbor v > u to m = min(N(u) ∪ {u})."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = m.select("src", F.least(F.col("_mn"), F.col("src")).alias("mn"))
    big = sym.filter(F.col("dst") > F.col("src"))
    return (
        big.join(m, "src")
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient each edge (max, min), group by u over its
    smaller neighbors N⁻(u), m = min(N⁻(u)); connect every v ∈
    N⁻(u) ∪ {u} except m to m."""
    le = e.select(
        F.greatest(F.col("src"), F.col("dst")).alias("src"),
        F.least(F.col("src"), F.col("dst")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    m = le.groupBy("src").agg(F.min("dst").alias("mn"))
    nbrs = le.join(m, "src").select(
        F.col("dst").alias("src"), F.col("mn").alias("dst")
    )
    selfe = m.select(F.col("src"), F.col("mn").alias("dst"))
    return (
        nbrs.union(selfe)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


# Largest edge count solved on the driver; see "Scale notes".
_DRIVER_THRESHOLD = 1_000_000
# Bound on the star rounds of the distributed solve.
_MAX_ROUNDS = 50


def _union_find(pairs) -> list[tuple]:
    """Min-id ``(node, component)`` rows of a driver-held edge list. A
    null endpoint yields one ``(None, None)`` row, as the star rounds do."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    has_null = False
    for a, b in pairs:
        has_null = has_null or a is None or b is None
        for x in (a, b):
            if x is not None:
                parent.setdefault(x, x)
        if a is not None and b is not None:
            ra, rb = find(a), find(b)
            # the smaller root wins, so every root is its set's minimum
            parent[max(ra, rb)] = min(ra, rb)
    return [(x, find(x)) for x in parent] + ([(None, None)] if has_null else [])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Return ``(node, component)`` where ``component`` is the minimum
    node id in each connected component.

    Works for any orderable node type (string CURIEs included — min is
    lexicographic, which is all canonicalization needs: a stable,
    deterministic representative).

    At most ``_DRIVER_THRESHOLD`` edges are solved on the driver, more
    by up to ``_MAX_ROUNDS`` star rounds; both return the same rows,
    and the result is materialized either way.
    """
    probe = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    return _solve(probe, lambda rows: rows, lambda e: e)


def alias_group_components(aliases: DataFrame) -> DataFrame:
    """:func:`connected_components` of the ``same_as`` graph in which the
    ``entity_id``s sharing an ``alias`` are linked, solved from the groups
    without expanding them into pairs. Only members of groups with at
    least two distinct non-null members get a row; null aliases and
    members link nothing.

    At most ``_DRIVER_THRESHOLD`` dictionary rows are solved on the
    driver (each member is unioned with its group's first member);
    above that, each member → its group's min member is one edge of the
    star rounds, so a group of k members costs k−1 edges, not k(k−1)/2.
    """
    probe = aliases.select("alias", F.col("entity_id").alias("node")).filter(
        F.col("alias").isNotNull() & F.col("node").isNotNull()
    )
    return _solve(probe, _group_edges, _group_star_edges)


def _group_edges(rows):
    """Driver edges of collected ``(alias, node)`` rows: each member to
    the first member of its alias group."""
    first: dict = {}
    for a, x in rows:
        head = first.setdefault(a, x)
        if x != head:
            yield head, x


def _group_star_edges(groups: DataFrame) -> DataFrame:
    """``(src, dst)`` edges of ``(alias, node)`` groups: each member to
    its group's min member (a one-member group yields none)."""
    heads = groups.groupBy("alias").agg(F.min("node").alias("dst"))
    return (
        groups.join(heads, "alias")
        .select(F.col("node").alias("src"), "dst")
        .filter(F.col("src") != F.col("dst"))
    )


def _solve(probe: DataFrame, driver_edges, star_edges) -> DataFrame:
    """The one solve path: one bounded collect of ``probe``; up to
    ``_DRIVER_THRESHOLD`` rows run ``_union_find(driver_edges(rows))``
    on the driver and come back as a ``LocalRelation``, more run the
    star rounds over ``star_edges(probe)``. Both are typed like the
    ``(src, dst)`` edges the star rounds would take."""
    rows = probe.limit(_DRIVER_THRESHOLD + 1).collect()
    edges = star_edges(probe)
    if len(rows) > _DRIVER_THRESHOLD:
        return _star_components(edges).localCheckpoint(eager=True)
    t, nullable = edges.schema["src"].dataType, any(f.nullable for f in edges.schema)
    fields = [T.StructField(c, t, nullable) for c in ("node", "component")]
    return local_relation(
        probe.sparkSession, _union_find(driver_edges(rows)), T.StructType(fields)
    )


def _star_components(raw: DataFrame) -> DataFrame:
    """Distributed path of :func:`connected_components` over ``(src, dst)``:
    large-star / small-star rounds until the edge set stops changing."""
    # node universe from the RAW edge list (before self-loop removal) so
    # nodes appearing only in self-loops still get a component (themselves)
    all_nodes = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = _canonical_edges(raw)

    prev_checksum = None
    for i in range(_MAX_ROUNDS):
        e = _small_star(_large_star(e))
        # Checkpoint EVERY round, but LAZILY: the convergence-check
        # action below is what materializes it, so each round runs ONE
        # job instead of two (eager ckpt + checksum) — measured 1.3×
        # on the sf0.1 CC gate queries with identical results. The
        # checksum aggregates over every partition of the checkpointed
        # plan, so the materialization guarantee is the same as eager;
        # the next round and the convergence check still share one
        # stored copy. (Checkpoint INTERVAL remains every-round: a
        # 1.5M-edge measurement showed every-3-rounds recomputing star
        # rounds at 2× total cost — eagerness, not cadence, is what
        # this optimizes.)
        e = e.localCheckpoint(eager=False)
        # Converged when the edge multiset is stable: compare an
        # order-insensitive checksum (one aggregation, no join).
        # bit_xor (not sum) — overflow-free under ANSI mode at any scale.
        checksum = e.select(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).first()
        checksum = (checksum["n"], checksum["h"])
        if checksum == prev_checksum:
            break
        prev_checksum = checksum

    # After convergence every edge points directly at the component root.
    assign = e.groupBy("src").agg(F.min("dst").alias("component"))
    assign = assign.select(
        F.col("src").alias("node"),
        F.least(F.col("component"), F.col("node")).alias("component"),
    )
    roots = (
        all_nodes.join(assign, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )
    # Roots themselves appear only as dst after convergence; ensure they
    # are present and map to themselves.
    missing_roots = (
        roots.select(F.col("component").alias("node"))
        .distinct()
        .join(roots.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return roots.unionByName(missing_roots).distinct()


def connected_components_incremental(
    assignment: DataFrame,
    delta_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fold a batch of NEW ``same_as`` edges into an existing
    ``(node, component)`` assignment without recomputing over the full
    edge set — the connected-components half of incremental KG
    maintenance (``operators/upsert.py`` folds the node/edge tables;
    this folds the canonicalization mapping).

    Equivalence invariant (tested in ``tests/test_components.py`` and
    driver-gated as ``kg_incremental_cc``)::

        connected_components_incremental(connected_components(E0), E1)
          ≡ connected_components(E0 ∪ E1)

    Preconditions: ``assignment`` uses min-id representatives and has a
    row for every node of E0 — exactly what :func:`connected_components`
    returns. Nodes in ``delta_edges`` never seen before are admitted and
    rooted correctly (they appear in the quotient graph as themselves).

    Scale design (the reason this exists): at 10^12 nodes a daily
    same-as delta is ~10^6 edges. The full assignment is touched by
    exactly TWO broadcast-hash joins (always the streamed side, never
    shuffled): (1) look up the old roots of the delta endpoints,
    (2) remap the components that merged. Everything else — the
    quotient graph (old roots of delta endpoints + brand-new ids) and
    the CC run over it — is proportional to the DELTA, not the graph.
    The quotient goes through :func:`connected_components`, so a
    daily delta of up to 10^6 edges is solved on the driver.
    Correctness of min-id composition: each old root is the minimum of
    its old component, so the quotient minimum equals the global minimum
    of the merged component.
    """
    raw = (
        delta_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    )
    endpoints = (
        raw.select(F.col("src").alias("node"))
        .union(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Broadcast join #1: old roots of the delta endpoints. `assignment`
    # is the stream side; only the (small) endpoint set is broadcast.
    seen = assignment.join(F.broadcast(endpoints), "node").select(
        "node", "component"
    )
    # The remaining joins are all delta-sized on BOTH sides; explicit
    # broadcast hints keep the static plan sort-merge-free.
    root_of = (
        endpoints.join(F.broadcast(seen), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("root"),
        )
    )
    # Quotient graph over old roots + brand-new ids. Self-loops are kept
    # (connected_components admits their nodes via its raw node universe).
    qe = (
        raw.join(
            F.broadcast(
                root_of.select(
                    F.col("node").alias("src"), F.col("root").alias("_sr")
                )
            ),
            "src",
        )
        .join(
            F.broadcast(
                root_of.select(
                    F.col("node").alias("dst"), F.col("root").alias("_dr")
                )
            ),
            "dst",
        )
        .select(F.col("_sr").alias("src"), F.col("_dr").alias("dst"))
    )
    # Delta-sized, read by the probe and (above the threshold) the star
    # rounds: materialize once and truncate the lineage.
    qe = qe.localCheckpoint(eager=True)
    qcc = connected_components(qe)
    # Broadcast join #2: remap merged components across the full
    # assignment. `moved` is at most one row per quotient node.
    moved = qcc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("component"), F.col("component").alias("_new")
    )
    updated = assignment.join(F.broadcast(moved), "component", "left").select(
        "node", F.coalesce(F.col("_new"), F.col("component")).alias("component")
    )
    # Brand-new nodes: quotient nodes with no prior assignment row.
    new_rows = (
        endpoints.join(F.broadcast(seen.select("node")), "node", "left_anti")
        .join(F.broadcast(qcc), "node")
        .select("node", "component")
    )
    return updated.unionByName(new_rows)


def canonicalize_ids(
    nodes: DataFrame,
    same_as_edges: DataFrame,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Rewrite node ids to their component-canonical representative.

    Nodes not mentioned in any ``same_as`` edge keep their own id. The
    mapping join is an equi-join on id; the mapping side is usually much
    smaller than the node table (only nodes participating in equivalences)
    — Catalyst/AQE broadcasts it when it fits.
    """
    mapping = connected_components(same_as_edges, src=src, dst=dst).withColumnRenamed(
        "node", id_col
    )
    return (
        nodes.join(mapping, id_col, "left")
        .withColumn(
            "canonical_id", F.coalesce(F.col("component"), F.col(id_col))
        )
        .drop("component")
    )
