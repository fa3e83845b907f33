"""Incremental KG snapshot upsert — merge a delta of raw node rows into
an already-merged snapshot WITHOUT re-aggregating the whole graph.

The reference re-runs its whole-table group-merge on every load
(utils/duckdb_utils.py:319-342 executes over the full union of sources
each time).  At 100 TB that is a full shuffle of the world to absorb a
0.1 % delta.  This module exploits the algebraic structure of the merge
(the reference's A3 semantics are a commutative, associative fold):

- sorted-distinct pipe-joins are set unions → a merged value can be
  split back into its element set and unioned with the delta's set;
- the priority-name rule ``COALESCE(max(prio-source name), max(name))``
  is foldable given ONE extra bit per snapshot row: whether the stored
  ``name`` came from a priority source (``_name_from_priority``).  If it
  did, the stored name IS max(prio names) over the old rows and the old
  non-priority names can never win again; if it did not, no old row had
  a priority name and the stored name IS max(all old names).

Scale shape (the whole point): the snapshot — the 100 TB side — is
never shuffled.  The delta is aggregated (one shuffle over the delta
only), its distinct ids are broadcast, and the snapshot splits into an
untouched stream (broadcast anti join, passthrough) and an affected
stream (broadcast semi join + broadcast equi join with the aggregated
delta).  Total cost: one scan of the snapshot + O(delta) shuffle.

Caveat (inherited from the reference's KGX format): multi-valued
columns are pipe-joined strings, so element values must not themselves
contain ``|``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..constants import EDGE_KEY_COLUMNS, EDGE_PAYLOAD_COLUMNS, MULTIVALUE_SEP
from .merge import pipe_agg, priority_name

#: boolean sidecar column carried by incremental-capable snapshots
NAME_STATE_COLUMN = "_name_from_priority"


def nodes_merge_with_state(
    nodes: DataFrame,
    priority_sources: list[str],
    sort_output: bool = True,
) -> DataFrame:
    """A3 group-merge (identical values to ``nodes_merge``) plus the
    :data:`NAME_STATE_COLUMN` sidecar that makes the snapshot
    incrementally updatable by :func:`nodes_merge_incremental`.

    The sidecar is true iff the group had a non-null name from a
    priority ``provided_by`` source — i.e. iff the emitted ``name`` is
    ``max(priority names)`` rather than the ``max(name)`` fallback.
    """
    other_cols = [c for c in nodes.columns if c not in ("id", "name")]
    has_pb = "provided_by" in nodes.columns
    if priority_sources and has_pb:
        prio = F.max(
            F.when(F.col("provided_by").isin(priority_sources), F.col("name"))
        )
    else:
        prio = F.max(F.lit(None).cast("string"))
    out = nodes.groupBy("id").agg(
        priority_name(priority_sources, has_provided_by=has_pb),
        *[pipe_agg(c) for c in other_cols],
        prio.isNotNull().alias(NAME_STATE_COLUMN),
    )
    out = out.select(*nodes.columns, NAME_STATE_COLUMN)
    return out.orderBy("id") if sort_output else out


def _split_pipes(col: str) -> F.Column:
    """Merged pipe-joined string back to its element array ([] for NULL).

    Exact inverse of ``pipe_agg`` output (which never emits NULL
    elements and is NULL only for the empty set)."""
    return F.coalesce(
        F.split(F.col(col), "\\" + MULTIVALUE_SEP), F.array().cast("array<string>")
    )


def _merged_pipe(c: str) -> F.Column:
    """Set-union of a snapshot pipe-joined column with the delta's
    ``collect_set`` twin ``_d_<c>`` — the exact output shape of
    ``pipe_agg`` (shared by the node and edge incremental folds; the
    fold ≡ re-merge invariants both depend on this matching pipe_agg
    character-for-character)."""
    comb = F.array_sort(
        F.array_distinct(
            F.concat(
                _split_pipes(c),
                F.coalesce(F.col(f"_d_{c}"), F.array().cast("array<string>")),
            )
        )
    )
    return F.when(F.size(comb) > 0, F.array_join(comb, MULTIVALUE_SEP)).alias(c)


def nodes_merge_incremental(
    snapshot: DataFrame,
    delta: DataFrame,
    priority_sources: list[str],
    sort_output: bool = True,
) -> DataFrame:
    """Fold raw ``delta`` node rows into a merged ``snapshot`` produced
    by :func:`nodes_merge_with_state`, returning the new snapshot
    (with an updated :data:`NAME_STATE_COLUMN`).

    Invariant (tested + driver-gated as ``kg_incremental_upsert``)::

        nodes_merge_incremental(nodes_merge_with_state(old, p), new, p)
          ==  nodes_merge_with_state(old UNION ALL new, p)

    The delta is assumed small next to the snapshot: broadcast joins
    are pinned so the snapshot side is never shuffled.

    Schema alignment mirrors the KGX union-of-columns load semantics
    (``unionByName(allowMissingColumns=True)``): columns the delta lacks
    are NULL-padded, and columns the delta introduces are grown onto the
    snapshot (NULL for untouched rows), so folding a delta whose source
    file has a different header is identical to re-merging the aligned
    raw union.
    """
    snap_cols = [c for c in snapshot.columns if c != NAME_STATE_COLUMN]
    cols = snap_cols + [c for c in delta.columns if c not in snap_cols]
    other_cols = [c for c in cols if c not in ("id", "name")]
    for c in cols:
        if c not in delta.columns:
            delta = delta.withColumn(c, F.lit(None).cast("string"))
        if c not in snapshot.columns:
            snapshot = snapshot.withColumn(c, F.lit(None).cast("string"))
    has_pb = "provided_by" in delta.columns
    use_priority = bool(priority_sources) and has_pb

    d_prio = (
        F.max(F.when(F.col("provided_by").isin(priority_sources), F.col("name")))
        if use_priority
        else F.max(F.lit(None).cast("string"))
    )
    delta_agg = delta.groupBy("id").agg(
        d_prio.alias("_d_prio"),
        F.max("name").alias("_d_max"),
        *[F.collect_set(F.col(c)).alias(f"_d_{c}") for c in other_cols],
    )
    delta_ids = delta_agg.select("id")

    untouched = snapshot.join(F.broadcast(delta_ids), "id", "left_anti")

    flag = F.coalesce(F.col(NAME_STATE_COLUMN), F.lit(False))
    old_prio = F.when(flag, F.col("name"))
    old_max = F.when(~flag, F.col("name"))
    new_prio = F.greatest(old_prio, F.col("_d_prio"))
    new_max = F.greatest(old_max, F.col("_d_max"))

    # delta_agg drives the join: affected ids are exactly the delta's
    # ids (brand-new ids have no snapshot row → NULL old columns).
    # Spark cannot broadcast the STREAM side of an outer join, so a
    # direct broadcast(delta_agg) LEFT OUTER snapshot would fall back to
    # a sort-merge join and shuffle the snapshot — instead the affected
    # snapshot rows are carved out first with a broadcast semi join
    # (snapshot unshuffled), leaving an O(delta)-sized outer join.
    affected_old = snapshot.join(F.broadcast(delta_ids), "id", "left_semi")
    affected = (
        delta_agg.join(F.broadcast(affected_old), "id", "left_outer")
        .select(
            "id",
            F.coalesce(new_prio, new_max).alias("name"),
            *[_merged_pipe(c) for c in other_cols],
            new_prio.isNotNull().alias(NAME_STATE_COLUMN),
        )
    )
    out = untouched.select(*cols, NAME_STATE_COLUMN).unionByName(
        affected.select(*cols, NAME_STATE_COLUMN)
    )
    return out.orderBy("id") if sort_output else out


def edges_merge_incremental(
    snapshot: DataFrame,
    delta: DataFrame,
    sort_output: bool = True,
) -> DataFrame:
    """Fold raw ``delta`` edge rows into a merged (s,p,o)-keyed snapshot
    produced by ``merge.edges_merge_provenance`` (or ``edges_merge``
    when there are no payload columns), returning the new snapshot.

    Invariant (tested + gated as ``kg_incremental_edges``)::

        edges_merge_incremental(edges_merge_provenance(old), new)
          ==  edges_merge_provenance(old UNION ALL new)

    Unlike nodes, edges need NO sidecar state: pipe-joined payloads are
    set unions and the key is the whole identity — the fold is pure
    set algebra. Scale shape is the nodes pattern: delta aggregated
    (one O(delta) shuffle), its keys broadcast, snapshot split into an
    untouched passthrough (broadcast anti) and an O(delta) affected
    stream (broadcast semi + broadcast outer join) — the snapshot is
    scanned once and never shuffled."""
    keys = [c for c in EDGE_KEY_COLUMNS]
    for k in keys:
        if k not in snapshot.columns or k not in delta.columns:
            raise ValueError(f"both sides need edge key column {k!r}")
    # mirror edges_merge_provenance exactly: only EDGE_PAYLOAD_COLUMNS
    # are aggregated; any other raw delta columns (per-row uuid id,
    # extra annotations) are dropped, never grafted onto the snapshot —
    # otherwise the snapshot schema would depend on batch arrival order
    # and the fold ≡ re-merge invariant would break on real KGX inputs
    payload = [
        c
        for c in EDGE_PAYLOAD_COLUMNS
        if c in snapshot.columns or c in delta.columns
    ]
    snapshot = snapshot.select(*keys, *[c for c in payload if c in snapshot.columns])
    delta = delta.select(*keys, *[c for c in payload if c in delta.columns])
    for c in payload:
        if c not in delta.columns:
            delta = delta.withColumn(c, F.lit(None).cast("string"))
        if c not in snapshot.columns:
            snapshot = snapshot.withColumn(c, F.lit(None).cast("string"))

    if not payload:
        new_edges = delta.select(*keys).distinct()
        existing = snapshot.join(F.broadcast(new_edges), keys, "left_semi")
        fresh = new_edges.join(F.broadcast(existing), keys, "left_anti")
        out = snapshot.unionByName(fresh)
        return out.orderBy(*keys) if sort_output else out

    delta_agg = delta.groupBy(*keys).agg(
        *[F.collect_set(F.col(c)).alias(f"_d_{c}") for c in payload]
    )
    delta_keys = delta_agg.select(*keys)
    untouched = snapshot.join(F.broadcast(delta_keys), keys, "left_anti")
    affected_old = snapshot.join(F.broadcast(delta_keys), keys, "left_semi")

    affected = delta_agg.join(F.broadcast(affected_old), keys, "left_outer").select(
        *keys, *[_merged_pipe(c) for c in payload]
    )
    out = untouched.select(*keys, *payload).unionByName(affected)
    return out.orderBy(*keys) if sort_output else out
