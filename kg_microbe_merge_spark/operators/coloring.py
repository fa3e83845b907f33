"""Distributed greedy graph coloring by iterated Luby MIS.

Color classes are conflict-free BATCHES: nodes sharing a color have no
edge between them, so a whole class can be processed concurrently —
the scheduling face of the conflict machinery (``operators/mis.py``
picks ONE maximal conflict-free set; coloring partitions the entire
conflict graph into such sets). KG uses: batching entity-merge updates
whose same_as/similarity edges forbid concurrent application, update
waves over a dependency graph, and deadlock-free per-class locks.

Algorithm (Luby-based iterated MIS — the classic distributed
coloring): repeat on the residual graph of uncolored nodes: take the
deterministic hash-priority MIS (``maximal_independent_set``), give
every winner the current color, remove them; uncolored nodes that
became isolated (every neighbor already colored) are mutually
independent within the round they appear and join that color class.
Each round colors at least the MIS — non-empty while edges remain —
so rounds are bounded by a small multiple of the degeneracy (≤ Δ+1
colors for any graph, typically far fewer).

Shuffle shape per color round: the MIS rounds (edge⋈active joins +
map-side-partial ``min(struct)`` — see operators/mis.py's audit), one
endpoint semi-join to shrink the residual, one anti join for the
isolated set; eager ``localCheckpoint`` per round keeps O(1) lineage.
Hash priorities make every round reproducible bit-for-bit across
engines, so the DuckDB twin (:func:`coloring_sql` — color rounds ×
MIS rounds unrolled as materialized CTEs) re-derives identical
colors.

Reference scope: beyond the reference (no graph algorithms there);
sibling of mis/labelprop/kcore. No reference code consulted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash60_sql
from ..workerenv import local_relation
from .mis import _und, maximal_independent_set


class ColoringDepthExceeded(RuntimeError):
    """Residual graph still has uncolored nodes after max_colors."""


def greedy_coloring(
    edges: DataFrame,
    src: str = "subject",
    dst: str = "object",
    max_colors: int = 16,
    mis_rounds: int = 40,
) -> DataFrame:
    """``(node, color)`` — a valid coloring (no edge joins two nodes
    of one color) of every node incident to ``edges``. Colors are
    1-based ints; class 1 is the first MIS. Deterministic for a fixed
    node universe (hash priorities, no RNG)."""
    und = _und(edges, src, dst).localCheckpoint(eager=True)
    uncolored = und.select(F.col("a").alias("node")).distinct()
    uncolored = uncolored.localCheckpoint(eager=True)
    residual = und
    out: DataFrame | None = None
    for color in range(1, max_colors + 1):
        if uncolored.isEmpty():
            break
        if residual.isEmpty():
            winners = uncolored
        else:
            mis = maximal_independent_set(
                residual, src="a", dst="b", max_rounds=mis_rounds
            )
            mis_win = mis.filter(F.col("in_mis") == 1).select("node")
            isolated = uncolored.join(
                residual.select(F.col("a").alias("node")).distinct(),
                "node",
                "left_anti",
            )
            winners = mis_win.unionByName(isolated)
        winners = winners.localCheckpoint(eager=True)
        colored = winners.select(
            "node", F.lit(color).cast("int").alias("color")
        )
        out = (
            colored if out is None else out.unionByName(colored)
        ).localCheckpoint(eager=True)
        uncolored = uncolored.join(winners, "node", "left_anti")
        uncolored = uncolored.localCheckpoint(eager=True)
        residual = (
            residual.join(
                uncolored.select(F.col("node").alias("a")), "a", "left_semi"
            )
            .join(
                uncolored.select(F.col("node").alias("b")), "b", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
    if not uncolored.isEmpty():
        raise ColoringDepthExceeded(
            f"{uncolored.count()} nodes uncolored after {max_colors} colors"
        )
    if out is None:
        # empty / all-self-loop edge relation: no node is incident to
        # an undirected edge, so the coloring is the empty relation —
        # not None, which would crash callers that .show()/.collect()
        return local_relation(edges.sparkSession, [], "node string, color int")
    return out


def coloring_sql(
    edges_sql: str,
    colors: int = 6,
    mis_rounds: int = 12,
    node_cast: str = "::VARCHAR",
) -> str:
    """DuckDB twin: ``colors`` color rounds × ``mis_rounds`` MIS
    rounds unrolled as MATERIALIZED CTEs — identical hash priorities,
    row-tuple comparisons, isolated-node rule and residual shrink.
    Callers pin actual depth ≤ (colors, mis_rounds) in pytest; extra
    rounds are no-ops on empty sets."""
    h = hash60_sql("node")
    parts = [
        f"""und AS MATERIALIZED (
    SELECT DISTINCT a, b FROM (
        SELECT src{node_cast} AS a, dst{node_cast} AS b FROM ({edges_sql})
        UNION ALL
        SELECT dst{node_cast} AS a, src{node_cast} AS b FROM ({edges_sql}))
    WHERE a <> b)""",
        """u1 AS MATERIALIZED (SELECT DISTINCT a AS node FROM und)""",
        """g1 AS MATERIALIZED (SELECT a, b FROM und)""",
    ]
    selects = []
    for c in range(1, colors + 1):
        # MIS over g{c} with priorities, unrolled
        parts.append(
            f"""act{c}_0 AS MATERIALIZED (
    SELECT node, {h} AS prio
    FROM (SELECT DISTINCT a AS node FROM g{c}))"""
        )
        win_unions = []
        for r in range(1, mis_rounds + 1):
            p = r - 1
            parts.append(
                f"""win{c}_{r} AS MATERIALIZED (
    SELECT v.node, v.prio FROM act{c}_{p} v
    LEFT JOIN (
        SELECT e.a, min(ROW(u.prio, u.node)) AS m
        FROM g{c} e
        JOIN act{c}_{p} va ON va.node = e.a
        JOIN act{c}_{p} u ON u.node = e.b
        GROUP BY e.a) nm ON nm.a = v.node
    WHERE nm.m IS NULL OR ROW(v.prio, v.node) < nm.m)"""
            )
            parts.append(
                f"""elim{c}_{r} AS MATERIALIZED (
    SELECT DISTINCT e.b AS node FROM g{c} e
    JOIN win{c}_{r} w ON w.node = e.a
    JOIN act{c}_{p} va ON va.node = e.b
    WHERE e.b NOT IN (SELECT node FROM win{c}_{r}))"""
            )
            parts.append(
                f"""act{c}_{r} AS MATERIALIZED (
    SELECT * FROM act{c}_{p}
    WHERE node NOT IN (SELECT node FROM win{c}_{r})
      AND node NOT IN (SELECT node FROM elim{c}_{r}))"""
            )
            win_unions.append(f"SELECT node FROM win{c}_{r}")
        parts.append(
            f"""misw{c} AS MATERIALIZED ({' UNION ALL '.join(win_unions)})"""
        )
        # winners = MIS winners + residual-isolated uncolored nodes
        parts.append(
            f"""col{c} AS MATERIALIZED (
    SELECT node FROM misw{c}
    UNION
    SELECT node FROM u{c}
    WHERE node NOT IN (SELECT a FROM g{c}))"""
        )
        selects.append(
            f"SELECT node, {c}::INTEGER AS color FROM col{c}"
        )
        parts.append(
            f"""u{c + 1} AS MATERIALIZED (
    SELECT node FROM u{c}
    WHERE node NOT IN (SELECT node FROM col{c}))"""
        )
        parts.append(
            f"""g{c + 1} AS MATERIALIZED (
    SELECT a, b FROM g{c}
    WHERE a IN (SELECT node FROM u{c + 1})
      AND b IN (SELECT node FROM u{c + 1}))"""
        )
    union = "\nUNION ALL\n".join(selects)
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM (\n{union}\n)"


def coloring_py(edge_list, max_colors: int = 16):
    """Python twin over [(a, b), ...] pairs (tests): identical
    iterated-MIS recurrence via mis_py on the residual graph."""
    from .mis import mis_py

    und = set()
    for a, b in edge_list:
        a, b = str(a), str(b)
        if a != b:
            und.add((a, b))
            und.add((b, a))
    uncolored = {a for a, _ in und}
    residual = set(und)
    out = {}
    for color in range(1, max_colors + 1):
        if not uncolored:
            break
        if not residual:
            winners = set(uncolored)
        else:
            mis = mis_py([(a, b) for a, b in residual if a < b])
            winners = {n for n, (in_mis, _) in mis.items() if in_mis}
            endpoints = {a for a, _ in residual}
            winners |= uncolored - endpoints
        for n in winners:
            out[n] = color
        uncolored -= winners
        residual = {
            (a, b) for a, b in residual
            if a in uncolored and b in uncolored
        }
    if uncolored:
        raise ColoringDepthExceeded(f"{len(uncolored)} uncolored")
    return out
