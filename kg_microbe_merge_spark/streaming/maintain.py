"""Continuous KG snapshot maintenance: streaming deltas folded into the
merged snapshot with the incremental upsert operators.

The production pattern for a KG that never stops ingesting: raw node
(or edge) deltas arrive as append-only files (file source standing in
for an Iceberg/queue source), and each micro-batch is folded into the
merged snapshot via ``operators/upsert`` inside ``foreachBatch`` — the
snapshot side is never shuffled (the upsert's broadcast carve-out), so
a micro-batch costs O(delta), not O(KG).

Correctness under streaming semantics:

* **exactly-once effect without sink transactions**: the fold is
  IDEMPOTENT — pipe-joined columns are set-unions and the name rule is
  a max, so re-folding a replayed micro-batch (Spark's foreachBatch
  at-least-once contract after a failure) converges to the same
  snapshot. Tested as ``fold(fold(S, d), d) == fold(S, d)``.
* **crash-safe atomic publish**: each fold commits through the
  package's one table commit (``plans/pipeline.publish``): the snapshot
  dir holds immutable versions ``v<N>`` plus a one-entry JSON manifest
  naming the live one; a batch writes the NEXT version in full, then
  flips the manifest with one ``os.replace``, and deletes older versions
  only AFTER the flip, so there is no instant at which the accumulated
  state exists nowhere on disk (a plain rmtree-then-rename swap has
  exactly that window — a crash inside it silently truncates the KG to
  whatever the replayed micro-batch contains). Readers (and the next
  fold) always resolve through ``plans/pipeline.read_snapshot``.
* **the batch-equivalence invariant** (driver-gated for the operators
  themselves as ``kg_incremental_upsert`` / ``kg_incremental_edges``)
  extends to streams: after draining any prefix of the delta stream,
  the snapshot equals the one-shot batch merge of all rows seen so far.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.merge import edges_merge_provenance
from ..operators.upsert import (
    edges_merge_incremental,
    nodes_merge_incremental,
    nodes_merge_with_state,
)
from ..plans.pipeline import live_snapshot, publish, read_snapshot


def fold_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_dir: str,
    priority_sources: list[str],
    keep_versions: int = 1,
) -> None:
    """Fold one node-delta batch into the versioned snapshot. Safe to
    call again with the same batch — the fold is idempotent.
    ``keep_versions`` retains older versions for time travel."""
    if not batch.take(1):
        return
    snapshot = read_snapshot(spark, snapshot_dir)
    if snapshot is not None:
        new_snap = nodes_merge_incremental(
            snapshot, batch, priority_sources, sort_output=False
        )
    else:
        new_snap = nodes_merge_with_state(
            batch, priority_sources, sort_output=False
        )
    publish(new_snap, snapshot_dir, keep_versions=keep_versions)


def fold_edges_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_dir: str,
    keep_versions: int = 1,
) -> None:
    """Edge twin of :func:`fold_batch`: fold one raw edge delta into the
    provenance-merged (s,p,o) snapshot. Same guarantees — idempotent
    (set-union payloads), crash-safe versioned publish, O(delta) per
    batch with the snapshot never shuffled."""
    if not batch.take(1):
        return
    snapshot = read_snapshot(spark, snapshot_dir)
    if snapshot is not None:
        new_snap = edges_merge_incremental(snapshot, batch, sort_output=False)
    else:
        new_snap = edges_merge_provenance(batch, sort_output=False)
    publish(new_snap, snapshot_dir, keep_versions=keep_versions)


def run_kg_maintenance_stream(
    spark: SparkSession,
    delta_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    priority_sources: list[str],
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    keep_versions: int = 1,
):
    """Launch the delta-stream → snapshot maintenance query.

    ``available_now=True`` drains what is currently in ``delta_dir``
    and stops (the incremental-batch mode); resuming later from
    ``checkpoint_dir`` folds only files added since. ``keep_versions``
    retains that many snapshot versions for time-travel reads."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deltas = reader.parquet(delta_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        fold_batch(
            spark, batch, snapshot_dir, priority_sources,
            keep_versions=keep_versions,
        )

    writer = (
        deltas.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fold_cc_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_dir: str,
    src: str = "src",
    dst: str = "dst",
) -> None:
    """Fold one ``same_as`` edge-delta batch into the versioned
    ``(node, component)`` canonicalization snapshot — the streaming face
    of :func:`operators.components.connected_components_incremental`.

    Exactly-once effect by IDEMPOTENCE (no ledger needed): re-folding an
    already-applied delta finds every endpoint sharing a root, so the
    quotient graph contains only self-loops — no component moves, no new
    nodes, and the republished snapshot is identical (tested). Cost is
    O(delta) per micro-batch: the full assignment is only ever the
    stream side of two broadcast joins, never shuffled."""
    from ..operators.components import (
        connected_components,
        connected_components_incremental,
    )

    if not batch.take(1):
        return
    snapshot = read_snapshot(spark, snapshot_dir)
    if snapshot is not None:
        new_snap = connected_components_incremental(
            snapshot, batch, src=src, dst=dst
        )
    else:
        new_snap = connected_components(batch, src=src, dst=dst)
    publish(new_snap, snapshot_dir)


def run_cc_stream(
    spark: SparkSession,
    delta_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    src: str = "src",
    dst: str = "dst",
):
    """Maintain the canonicalization mapping over an append-only
    ``same_as`` edge stream, completing continuous KG maintenance:
    nodes and edges fold via upsert, sketches via register merges, and
    the cross-source id mapping via incremental connected components.
    Same invariant shape as :func:`run_kg_maintenance_stream`: after
    draining any stream prefix the snapshot equals the one-shot
    :func:`connected_components` over all edges seen so far."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deltas = reader.parquet(delta_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        fold_cc_batch(spark, batch, snapshot_dir, src=src, dst=dst)

    writer = (
        deltas.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- continuous sketch maintenance (operators/sketches.py) ----------------
#
# The sketches are semigroups, so a stream folds them the same way the
# KG folds: sketch(batch) merged into the published sketch snapshot,
# O(sketch state) per micro-batch — the stream itself is never re-read.
# The exactly-once-effect argument differs per sketch and is encoded
# here explicitly:
#
# * HLL register merge is ``max`` — IDEMPOTENT. Re-folding a replayed
#   micro-batch (foreachBatch's at-least-once contract) converges, the
#   same argument as the KG node fold. No extra state needed.
# * Count-Min merge is ``sum`` — NOT idempotent; a replay would double
#   count. The fold therefore keeps an epoch high-water mark as a
#   sidecar that travels atomically with each published version:
#   foreachBatch replays reuse the SAME epoch_id, so a batch whose
#   epoch is <= the snapshot's mark is skipped. At-least-once delivery
#   + ledger = exactly-once effect.
#
# Both folds also persist their sketch PARAMETERS in the sidecar and
# refuse to fold a batch sketched with different ones — merging
# registers built at different p (or counters at different depth/
# width/family) is well-typed and silently garbage.

_META_FILE = "_META"


def _read_meta(base_dir: str) -> dict | None:
    cur = live_snapshot(base_dir)
    if cur is None or not os.path.exists(os.path.join(cur, _META_FILE)):
        return None
    with open(os.path.join(cur, _META_FILE)) as f:
        return json.load(f)


def _meta_marker(meta: dict) -> tuple[str, str]:
    return (_META_FILE, json.dumps(meta, sort_keys=True))


def _check_params(stored: dict | None, current: dict, what: str) -> None:
    if stored is None:
        return
    mismatched = {
        k: (stored.get(k), v)
        for k, v in current.items()
        if stored.get(k) != v
    }
    if mismatched:
        raise ValueError(
            f"{what} snapshot was built with different sketch parameters "
            f"{mismatched} — merging across parameters is silently "
            f"meaningless; use a fresh sketch_dir"
        )


def fold_hll_batch(
    spark: SparkSession,
    batch: DataFrame,
    sketch_dir: str,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    p: int | None = None,
) -> None:
    """Fold one micro-batch into the published HLL register snapshot.
    Safe to call again with the same batch — register max is
    idempotent. Raises if the snapshot was built at a different ``p``
    or grouping."""
    from ..operators.sketches import HLL_P, hll_merge, hll_registers

    pp = p or HLL_P
    meta = {"sketch": "hll", "p": pp, "groups": list(group_cols)}
    _check_params(_read_meta(sketch_dir), meta, "HLL")
    if not batch.take(1):
        return
    regs = hll_registers(batch, item_col, group_cols, pp)
    cur = read_snapshot(spark, sketch_dir)
    if cur is not None:
        regs = hll_merge(cur, regs, group_cols)
    publish(regs, sketch_dir, marker=_meta_marker(meta))


def fold_cms_batch(
    spark: SparkSession,
    batch: DataFrame,
    sketch_dir: str,
    item_col: str,
    epoch_id: int,
    depth: int | None = None,
    width: int | None = None,
    family: str = "cms",
) -> None:
    """Fold one micro-batch into the published Count-Min counter
    snapshot. Replays of an already-applied epoch are skipped via the
    epoch ledger (cell-wise sum is not idempotent). Raises if the
    snapshot was built with different depth/width/family."""
    from ..operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_counters,
        cms_merge,
    )

    d, w = depth or CMS_DEPTH, width or CMS_WIDTH
    params = {"sketch": "cms", "depth": d, "width": w, "family": family}
    stored = _read_meta(sketch_dir)
    _check_params(
        stored,
        params,
        "Count-Min",
    )
    last = stored.get("epoch") if stored else None
    if last is not None and epoch_id <= last:
        return
    if not batch.take(1):
        return
    c = cms_counters(batch, item_col, d, w, family)
    cur = read_snapshot(spark, sketch_dir)
    if cur is not None:
        c = cms_merge(cur, c)
    publish(
        c, sketch_dir, marker=_meta_marker({**params, "epoch": epoch_id})
    )


def run_sketch_stream(
    spark: SparkSession,
    delta_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    item_col: str,
    hll_dir: str | None = None,
    cms_dir: str | None = None,
    group_cols: tuple[str, ...] = (),
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Maintain HLL and/or Count-Min sketch snapshots over an
    append-only delta stream (file source standing in for Iceberg/
    queue, like :func:`run_kg_maintenance_stream`)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deltas = reader.parquet(delta_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        if hll_dir is not None:
            fold_hll_batch(spark, batch, hll_dir, item_col, group_cols)
        if cms_dir is not None:
            fold_cms_batch(spark, batch, cms_dir, item_col, epoch_id)

    writer = (
        deltas.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_snapshot(
    spark: SparkSession,
    base_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    keep_versions: int = 1,
) -> dict:
    """Small-file compaction — the Iceberg ``rewrite_data_files``
    maintenance action for the version store: every incremental fold
    writes one part file per shuffle partition, so a long-running
    maintenance stream accumulates thousands of KB-sized files and
    scan planning (file listing, footer reads, task scheduling)
    eventually dominates the read path. Compaction republishes the
    live snapshot as ``ceil(on_disk_bytes / target_file_bytes)``
    files through the same crash-safe version flip the folds use —
    readers never see a half-compacted snapshot, retention follows
    ``keep_versions`` exactly as fold publishes do, and a crash
    mid-compaction leaves the uncompacted version live.

    Sizing uses the snapshot's ACTUAL on-disk parquet bytes (one
    driver-side directory walk — O(files), no data scan), not an
    in-memory estimate: compressed+encoded size is what the next
    version's files will weigh. The rewrite itself is one
    ``repartition`` round-robin exchange — no keys, no skew.

    Returns ``{files_before, files_after, bytes, partitions}``.
    """
    cur = live_snapshot(base_dir)
    if cur is None:
        raise ValueError(f"no published snapshot under {base_dir}")
    sizes = [
        os.path.getsize(os.path.join(cur, f))
        for f in os.listdir(cur)
        if f.endswith(".parquet")
    ]
    total = sum(sizes)
    n = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(cur)
    new_cur = publish(df.repartition(int(n)), base_dir, keep_versions=keep_versions)
    files_after = sum(
        1 for f in os.listdir(new_cur) if f.endswith(".parquet")
    )
    return {
        "files_before": len(sizes),
        "files_after": files_after,
        "bytes": total,
        "partitions": int(n),
    }


def fold_scd2_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_dir: str,
    key_col: str,
    tracked_cols: list[str],
    batch_id: int,
    keep_versions: int = 1,
) -> None:
    """Fold one attribute-delta batch into the versioned SCD2 HISTORY
    snapshot — the streaming face of :func:`operators.history.scd2_apply`
    (row-level version audit maintained continuously, completing the
    fold family: nodes/edges via upsert, the id mapping via incremental
    CC, sketches via register merges, and now attribute history).

    Exactly-once effect by IDEMPOTENCE (no ledger): re-folding an
    already-applied delta at the SAME ``batch_id`` finds every key's
    current row already carrying the delta's attrs (valid_from ==
    batch_id), so change detection reports no change and the
    republished history is identical (tested). The versioned store
    satisfies scd2_apply's materialized-history contract — each fold
    reads the previous fold's written parquet, never raw lineage.

    ``batch`` must carry one row per key (the upsert contract); in
    :func:`run_scd2_stream` the foreachBatch ``epoch_id`` is the
    batch_id, so valid_from/valid_to intervals are epoch-stamped.
    """
    from ..operators.history import scd2_apply, scd2_init

    if not batch.take(1):
        return
    batch = batch.select(key_col, *tracked_cols)
    snapshot = read_snapshot(spark, snapshot_dir)
    if snapshot is None:
        new = scd2_init(batch, key_col, tracked_cols, batch_id)
    else:
        new = scd2_apply(snapshot, batch, key_col, tracked_cols, batch_id)
    publish(new, snapshot_dir, keep_versions=keep_versions)


def run_scd2_stream(
    spark: SparkSession,
    delta_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    key_col: str,
    tracked_cols: list[str],
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    keep_versions: int = 1,
):
    """Maintain the SCD2 attribute-history table over an append-only
    delta stream. Invariant (tested): after draining any stream prefix
    the snapshot equals :func:`operators.history.scd2_from_log` over
    the event log of (epoch, key, attrs) seen so far."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deltas = reader.parquet(delta_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        fold_scd2_batch(
            spark, batch, snapshot_dir, key_col, tracked_cols,
            int(epoch_id), keep_versions=keep_versions,
        )

    writer = (
        deltas.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fold_kmv_batch(
    spark: SparkSession,
    batch: DataFrame,
    sketch_dir: str,
    item_col: str,
    group_cols: tuple[str, ...] = (),
    k: int | None = None,
) -> None:
    """Fold one micro-batch into the published KMV bottom-k snapshot —
    the set-INTERSECTION-capable sketch maintained continuously
    (operators/kmv.py; HLL streams answer per-group distinct, a KMV
    stream additionally answers overlap/Jaccard between any two groups
    or snapshots at read time). Safe to call again with the same batch:
    union-distinct-truncate is idempotent, the HLL-register-max
    argument. Raises if the snapshot was built at a different ``k`` or
    grouping."""
    from ..operators.kmv import KMV_K, kmv_merge, kmv_sketch

    kk = k or KMV_K
    meta = {"sketch": "kmv", "k": kk, "groups": list(group_cols)}
    _check_params(_read_meta(sketch_dir), meta, "KMV")
    if not batch.take(1):
        return
    sk = kmv_sketch(batch, item_col, group_cols, kk)
    cur = read_snapshot(spark, sketch_dir)
    if cur is not None:
        sk = kmv_merge(cur, sk, group_cols, kk)
    publish(sk, sketch_dir, marker=_meta_marker(meta))


def fold_entailment_batch(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_dir: str,
    tbox: DataFrame,
    keep_versions: int = 1,
) -> None:
    """Fold one ABox triple-delta batch into the versioned MATERIALIZED
    ENTAILMENT snapshot — streaming reasoning maintenance
    (operators/entailment.incremental_entailment; RDFS + OWL-lite
    property semantics). The first batch materializes from scratch;
    every later batch folds in O(delta new-path work) with the
    snapshot joined but never re-derived. Idempotent (an
    already-entailed delta is a no-op — monotone rules), so the
    at-least-once foreachBatch contract yields exactly-once effect,
    the same argument as :func:`fold_batch`. The TBox is a parameter:
    reasoning schemas version independently of the data stream — a
    TBox change means re-materializing, not folding."""
    from ..operators.entailment import (
        incremental_entailment,
        rdfs_owl_entailment,
    )

    if not batch.take(1):
        return
    snapshot = read_snapshot(spark, snapshot_dir)
    if snapshot is not None:
        new_snap = incremental_entailment(snapshot, batch, tbox)
    else:
        new_snap = rdfs_owl_entailment(batch, tbox)
    publish(new_snap, snapshot_dir, keep_versions=keep_versions)


def run_entailment_stream(
    spark: SparkSession,
    delta_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    tbox: DataFrame,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    keep_versions: int = 1,
):
    """Launch the ABox-delta stream → entailed-snapshot maintenance
    query (file source standing in for an Iceberg/queue source, the
    :func:`run_kg_maintenance_stream` pattern). After draining any
    prefix of the stream, the snapshot equals the one-shot
    ``rdfs_owl_entailment`` over all rows seen so far."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deltas = reader.parquet(delta_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        fold_entailment_batch(
            spark, batch, snapshot_dir, tbox, keep_versions=keep_versions
        )

    writer = (
        deltas.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fold_alias_batch(
    spark: SparkSession,
    batch: DataFrame,
    alias_dir: str,
    epoch_id: int,
    html_col: str = "html",
    url_col: str = "url",
    min_len: int = 2,
    max_len: int = 64,
) -> None:
    """Fold one crawl micro-batch into the published anchor-alias
    pair-count snapshot (the continuously maintained entity-linking
    dictionary — ``functions/links.anchor_pair_counts`` is the
    mergeable state, ``finalize_alias_dict`` the read path).

    Counts merge by union + groupBy-SUM, which is exact but not
    idempotent, so replays of an already-applied epoch are skipped via
    the epoch ledger riding the version marker (the Count-Min
    precedent). Normalization bounds travel in the sidecar; folds with
    different bounds refuse — a dictionary mixing normalization rules
    is silently wrong."""
    from ..functions.links import anchor_pair_counts

    params = {
        "store": "alias_counts", "min_len": min_len, "max_len": max_len,
    }
    stored = _read_meta(alias_dir)
    _check_params(stored, params, "alias dictionary")
    last = stored.get("epoch") if stored else None
    if last is not None and epoch_id <= last:
        return
    if not batch.take(1):
        return
    counts = anchor_pair_counts(
        batch, html_col=html_col, url_col=url_col,
        min_len=min_len, max_len=max_len,
    )
    cur = read_snapshot(spark, alias_dir)
    if cur is not None:
        counts = (
            cur.unionByName(counts)
            .groupBy("alias", "entity_id")
            .agg(F.sum("n_links").alias("n_links"))
        )
    publish(
        counts, alias_dir,
        marker=_meta_marker({**params, "epoch": epoch_id}),
    )


def read_alias_dict(
    spark: SparkSession, alias_dir: str, min_count: int = 2
) -> DataFrame | None:
    """Current alias dictionary from the maintained pair-count
    snapshot: min_count + totals + micro priors, ready for
    ``functions/linking.link_mentions``."""
    from ..functions.links import finalize_alias_dict

    cur = read_snapshot(spark, alias_dir)
    return None if cur is None else finalize_alias_dict(cur, min_count)


def run_alias_stream(
    spark: SparkSession,
    delta_dir: str,
    checkpoint_dir: str,
    schema: StructType,
    alias_dir: str,
    html_col: str = "html",
    url_col: str = "url",
    min_len: int = 2,
    max_len: int = 64,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Maintain the anchor-alias dictionary over an append-only crawl
    delta stream (file source standing in for Iceberg/queue, like
    :func:`run_kg_maintenance_stream`)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    deltas = reader.parquet(delta_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        fold_alias_batch(
            spark, batch, alias_dir, epoch_id,
            html_col=html_col, url_col=url_col,
            min_len=min_len, max_len=max_len,
        )

    writer = (
        deltas.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
