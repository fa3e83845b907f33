"""Densest-subgraph extraction by distributed greedy peeling.

Bahmani, Kumar, Vassilvitskii (VLDB 2012): repeatedly remove EVERY
node whose degree is at most (1+eps) times the current average degree
2E/V; the densest of the intermediate subgraphs is a 2(1+eps)-approx
of the maximum-density subgraph (density = |E|/|V|). Unlike Charikar's
one-node-at-a-time peel (inherently sequential, O(V) rounds), each
round here is ONE partially-aggregated degree count + a join, and the
surviving node set shrinks geometrically — at most
log_{1+eps}(V) rounds, ~25 even at 10^12 nodes for eps=0.5.

Why this operator in a KG engine: the densest subgraph of a same_as /
similarity pair graph is the classic over-merge smell — a boilerplate
token or hub alias gluing thousands of entities into one near-clique.
k-core (operators/kcore.py) answers "who survives a uniform degree
threshold"; densest-subgraph answers "where is the single worst
blob", with a density certificate.

Exact cross-engine protocol: with eps = 1/2 the removal test
``deg(v) * V <= 3 * E`` and the best-round selection
``density_micro = (1_000_000*E + V/2) / V`` (integer division) are
pure BIGINT arithmetic — no floats anywhere, so the DuckDB twin
(:func:`densest_sql`, generated by this module with the rounds
unrolled as chained CTEs) matches bit for bit. Ties between rounds
break toward the EARLIER round (larger subgraph).

Scale notes: the edge relation is symmetrized/deduped once and only
shrinks; per round one map-side-partial degree aggregation, one
(count, sum) driver action for (V, 2E), one removal join; eager
``localCheckpoint`` truncates lineage (swap for reliable
``checkpoint`` on a real cluster). Removal labels accumulate as
(node, round) rows — O(V) total across all rounds, never per-round
copies of the graph.

Reference scope: beyond the reference (its merge has no graph
analytics); part of the same family as operators/kcore.py /
operators/truss.py. No reference code consulted for this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..workerenv import local_relation


class PeelDepthExceeded(RuntimeError):
    """Peeling did not exhaust the graph within max_rounds."""


def _simple_undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected simple edges (a < b): symmetrize by
    ordering endpoints, drop self-loops, dedup."""
    a, b = F.col(src).cast("string"), F.col(dst).cast("string")
    return (
        edges.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def densest_subgraph(
    edges: DataFrame,
    src: str = "subject",
    dst: str = "object",
    max_rounds: int = 64,
) -> DataFrame:
    """Greedy-peeling densest subgraph (eps = 1/2 → 3-approximation).

    Returns one row per node of the densest intermediate subgraph with
    its exact integer density certificate::

        (node string, density_micro bigint, n_nodes bigint,
         n_edges bigint)

    ``density_micro`` = (1_000_000 * E + V div 2) div V of the
    selected subgraph — constant across rows, exact integer rounding
    of 10^6 * |E|/|V|.
    """
    g = _simple_undirected(edges, src, dst).localCheckpoint(eager=True)

    # (node, last_round) accumulator: the LAST round each node was
    # still edge-incident; survivors of round r = last_round >= r.
    # Labeling by presence-diff (in round i's node set, gone from
    # round i+1's) covers BOTH threshold-removed nodes and nodes that
    # became isolated because every neighbor was removed — the latter
    # leave the edge-induced subgraph without ever failing the
    # threshold test.
    removed: DataFrame | None = None
    prev_nodes: DataFrame | None = None
    stats: list[tuple[int, int, int]] = []  # (round, V, E)
    spark = edges.sparkSession
    rnd = 0
    while True:
        degs = (
            g.select(F.col("a").alias("n"))
            .unionByName(g.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        ).localCheckpoint(eager=True)
        if prev_nodes is not None:
            gone = prev_nodes.join(
                degs.select("n"), "n", "left_anti"
            ).select("n", F.lit(rnd - 1).alias("removed_round"))
            removed = (
                gone if removed is None
                else removed.unionByName(gone)
            ).localCheckpoint(eager=True)
        row = degs.agg(
            F.count(F.lit(1)).alias("v"), F.sum("deg").alias("twoe")
        ).first()
        v = int(row["v"] or 0)
        if v == 0:
            break
        e = int(row["twoe"]) // 2
        stats.append((rnd, v, e))
        if rnd >= max_rounds:
            raise PeelDepthExceeded(
                f"peeling still has {v} nodes after {max_rounds} rounds"
            )
        # remove all nodes with deg * V <= 3 * E  (eps = 1/2); the set
        # is provably non-empty (min degree <= average degree 2E/V)
        drop = degs.filter(
            F.col("deg") * F.lit(v) <= F.lit(3 * e)
        ).select("n")
        prev_nodes = degs.select("n")
        g = (
            g.join(drop.select(F.col("n").alias("a")), "a", "left_anti")
            .join(drop.select(F.col("n").alias("b")), "b", "left_anti")
            .localCheckpoint(eager=True)
        )
        rnd += 1

    if not stats:
        return local_relation(
            spark,
            [],
            "node string, density_micro bigint, n_nodes bigint, "
            "n_edges bigint",
        )
    best_rnd, best_v, best_e = max(
        stats,
        key=lambda s: ((1_000_000 * s[2] + s[1] // 2) // s[1], -s[0]),
    )
    micro = (1_000_000 * best_e + best_v // 2) // best_v
    return (
        removed.filter(F.col("removed_round") >= best_rnd)
        .select(
            F.col("n").alias("node"),
            F.lit(micro).cast("bigint").alias("density_micro"),
            F.lit(best_v).cast("bigint").alias("n_nodes"),
            F.lit(best_e).cast("bigint").alias("n_edges"),
        )
    )


def densest_sql(edges_sql: str, rounds: int = 40) -> str:
    """DuckDB twin: the identical peel recurrence with ``rounds``
    rounds unrolled as chained CTEs (the kcore/ktruss oracle pattern —
    callers must pin actual peel depth <= rounds in pytest).

    ``edges_sql`` must yield columns (src, dst). Emits the same
    (node, density_micro, n_nodes, n_edges) relation, selected by the
    same integer (density_micro DESC, round ASC) rule.
    """
    parts = [
        f"raw AS MATERIALIZED ({edges_sql})",
        """g0 AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM raw WHERE src <> dst)""",
    ]
    for i in range(rounds + 1):
        parts.append(f"""d{i} AS MATERIALIZED (
            SELECT n, count(*) AS deg FROM (
                SELECT a AS n FROM g{i} UNION ALL SELECT b FROM g{i})
            GROUP BY n)""")
        if i == rounds:
            break
        parts.append(f"""s{i} AS MATERIALIZED (
            SELECT {i} AS rnd,
                   (SELECT count(*) FROM d{i}) AS v,
                   (SELECT coalesce(sum(deg), 0) // 2 FROM d{i}) AS e)""")
        parts.append(f"""t{i} AS MATERIALIZED (
            SELECT n FROM d{i}
            WHERE deg * (SELECT v FROM s{i}) <= 3 * (SELECT e FROM s{i}))""")
        parts.append(f"""g{i + 1} AS MATERIALIZED (
            SELECT a, b FROM g{i}
            WHERE a NOT IN (SELECT n FROM t{i})
              AND b NOT IN (SELECT n FROM t{i}))""")
    for i in range(rounds):
        # last-round-present label: in round i's node set, gone from
        # round i+1's (threshold-removed OR isolated by removals)
        parts.append(f"""r{i} AS MATERIALIZED (
            SELECT n, {i} AS removed_round FROM d{i}
            WHERE n NOT IN (SELECT n FROM d{i + 1}))""")
    stats_union = " UNION ALL ".join(
        f"SELECT rnd, v, e FROM s{i}" for i in range(rounds)
    )
    removed_union = " UNION ALL ".join(
        f"SELECT n, removed_round FROM r{i}" for i in range(rounds)
    )
    parts.append(f"stats AS MATERIALIZED ({stats_union})")
    parts.append(f"removed AS MATERIALIZED ({removed_union})")
    parts.append("""best AS MATERIALIZED (
            SELECT rnd, v, e,
                   (1000000 * e + v // 2) // v AS density_micro
            FROM stats WHERE v > 0
            ORDER BY density_micro DESC, rnd ASC LIMIT 1)""")
    return f"""
        WITH {', '.join(parts)}
        SELECT r.n AS node,
               CAST(b.density_micro AS BIGINT) AS density_micro,
               CAST(b.v AS BIGINT) AS n_nodes,
               CAST(b.e AS BIGINT) AS n_edges
        FROM removed r CROSS JOIN best b
        WHERE r.removed_round >= b.rnd
    """
