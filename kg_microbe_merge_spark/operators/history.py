"""SCD2 attribute history: validity-interval versioning of KG rows.

The history half of incremental maintenance: operators/upsert.py folds
deltas into the CURRENT snapshot (old attribute values are gone after
the fold), streaming/maintain.py keeps whole-snapshot versions (time
travel at snapshot granularity, one full copy per version). This module
keeps ROW-level history — the warehouse "slowly changing dimension
type 2" / Iceberg-MERGE-with-history pattern: each key carries one row
per distinct attribute state, stamped ``[valid_from, valid_to)`` in
batch time, with ``valid_to IS NULL`` marking the current row. That
answers the audit questions snapshot versioning cannot at scale
("when did this entity's category change, and what was it before?")
without storing a full snapshot copy per version — storage is
O(changes), not O(versions · snapshot).

Semantics of one fold (:func:`scd2_apply` at ``batch_id`` b):

* new key                → insert (valid_from=b, valid_to=NULL)
* key with changed attrs → close the current row (valid_to=b) and
  insert the new state (valid_from=b, valid_to=NULL)
* key with equal attrs   → untouched (no spurious versions)
* key absent from delta  → untouched (no tombstones; deletions are an
  upstream filter decision, matching the upsert contract)

Change detection is null-safe struct equality over the tracked
columns. ``delta`` must carry one row per key (the upsert contract).

Scale notes (the upsert.py discipline, reference merge.py:68 batching
replaced by set algebra):

* The history table is SCANNED but never shuffled: the delta's keys are
  broadcast, splitting history into an untouched stream (broadcast anti
  join on current rows + all closed rows, pure passthrough) and an
  affected stream (broadcast equi join, O(delta) rows). Work per fold
  is O(delta), independent of history size.
* The INVARIANT (tested, and the gate oracle): folding deltas
  one-by-one produces exactly the table derived from the full change
  log in one pass — per key, keep events whose attrs differ from the
  previous event's (lag), stamp valid_from = batch, valid_to = next
  kept event's batch (lead). The DuckDB twin uses that window
  formulation — an independent derivation of the same table.

:func:`scd2_asof` reads the snapshot as of any batch from the same
table with one row-local filter — no join, no rebuild.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def scd2_init(delta: DataFrame, key_col: str, tracked_cols: Sequence[str],
              batch_id: int) -> DataFrame:
    """History table from the first batch: every row current."""
    return delta.select(
        key_col,
        *tracked_cols,
        F.lit(batch_id).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )


def scd2_apply(
    history: DataFrame,
    delta: DataFrame,
    key_col: str,
    tracked_cols: Sequence[str],
    batch_id: int,
) -> DataFrame:
    """Fold ``delta`` (one row per key, columns ``key_col`` +
    ``tracked_cols``) into the SCD2 ``history`` at ``batch_id``.
    Returns the new history table (same schema as :func:`scd2_init`).

    ``history`` MUST be a materialized relation (a written snapshot,
    a checkpoint, or at least persisted): this fold reads it through
    five streams (closed / untouched / kept / closing / reopening), so
    chaining folds over raw lineage re-derives the previous fold five
    times per level — 5^n plan blowup. Real deployments naturally
    satisfy this (each batch's history is written before the next is
    folded, the streaming/maintain.py versioned-publish pattern).
    """
    cols = [key_col, *tracked_cols]
    d = delta.select(*cols)
    keys = F.broadcast(d.select(key_col).distinct())

    closed = history.filter(F.col("valid_to").isNotNull())
    current = history.filter(F.col("valid_to").isNull())

    untouched_current = current.join(keys, key_col, "left_anti")
    affected = current.join(F.broadcast(d.withColumnsRenamed(
        {c: f"_new_{c}" for c in tracked_cols}
    )), key_col, "inner")

    same = None
    for c in tracked_cols:
        eq = F.col(c).eqNullSafe(F.col(f"_new_{c}"))
        same = eq if same is None else (same & eq)

    kept_same = affected.filter(same).select(
        key_col, *tracked_cols, "valid_from", "valid_to"
    )
    now_closed = affected.filter(~same).select(
        key_col,
        *tracked_cols,
        "valid_from",
        F.lit(batch_id).cast("long").alias("valid_to"),
    )
    reopened = affected.filter(~same).select(
        key_col,
        *[F.col(f"_new_{c}").alias(c) for c in tracked_cols],
        F.lit(batch_id).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    # brand-new keys = delta keys minus the keys the current rows
    # matched; the affected key set is O(delta), so the anti join's
    # build side stays delta-sized (never the history-sized current
    # key set, which would force a shuffle join at scale)
    brand_new = d.join(
        F.broadcast(affected.select(key_col)), key_col, "left_anti"
    ).select(
        key_col,
        *tracked_cols,
        F.lit(batch_id).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    return (
        closed.unionByName(untouched_current)
        .unionByName(kept_same)
        .unionByName(now_closed)
        .unionByName(reopened)
        .unionByName(brand_new)
    )


def scd2_asof(history: DataFrame, batch_id: int) -> DataFrame:
    """Snapshot as of ``batch_id`` (inclusive): one row-local filter,
    no join — rows live in [valid_from, valid_to)."""
    return history.filter(
        (F.col("valid_from") <= batch_id)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > batch_id))
    ).drop("valid_from", "valid_to")


def scd2_from_log(
    events: DataFrame,
    key_col: str,
    tracked_cols: Sequence[str],
    batch_col: str = "batch_id",
) -> DataFrame:
    """One-pass derivation of the SCD2 table from a full change log
    (one row per key per batch it appeared in) — the window formulation
    the fold invariant is tested against: per key ordered by batch,
    keep events whose attrs differ (null-safe) from the previous
    event's; valid_from = batch, valid_to = next KEPT event's batch.

    One window shuffle on the key; used for backfills and as the
    cross-engine oracle twin of chained :func:`scd2_apply` folds.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(batch_col)
    state = F.struct(*[F.col(c) for c in tracked_cols])
    prev = F.lag(state).over(w)
    marked = events.withColumn(
        "_chg",
        prev.isNull() | ~state.eqNullSafe(prev),
    )
    kept = marked.filter(F.col("_chg"))
    w2 = Window.partitionBy(key_col).orderBy(batch_col)
    return kept.select(
        key_col,
        *tracked_cols,
        F.col(batch_col).cast("long").alias("valid_from"),
        F.lead(F.col(batch_col).cast("long")).over(w2).alias("valid_to"),
    )
