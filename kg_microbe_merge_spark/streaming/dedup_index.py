"""Incremental near-duplicate dedup against a versioned MinHash index
— dedup-on-ingest for a corpus that never stops growing.

The batch near-dup family (``operators/dedup``) answers "which of
these N documents duplicate each other" in one shot. A continuously
ingesting pipeline asks a different question per micro-batch: "which
of these NEW documents duplicate anything ALREADY ACCEPTED" — without
re-scanning, re-shingling, or re-pairing the accumulated corpus. This
module maintains the accepted corpus's MinHash index as a versioned
snapshot (the ``plans/pipeline.py`` commit protocol) and folds each
micro-batch in two stages:

1. **index probe** — the batch's banded signatures are BROADCAST and
   hash-joined against the index's stored band buckets: the index is
   scanned (projection + explode only, no exchange) but never
   shuffled, the same stream-side-small discipline as the KG upsert
   fold. Candidates sharing a bucket are verified with the
   signature-estimated Jaccard; a batch doc matching any accepted doc
   ≥ threshold is rejected with the best match recorded.
2. **within-batch resolution** — survivors of stage 1 are paired
   against each other (band self-join on the batch only) and resolved
   with connected components + min-id canonical, exactly the
   :func:`~..operators.dedup.near_dup_clusters` semantics, so a batch
   containing its own duplicate cluster admits one representative.

Accepted docs enter the next index version as ``(doc_id, sig,
bands)`` — bands are precomputed at accept time so later folds never
re-band the index. Signature/banding parameters travel in the version
sidecar and a fold with different parameters refuses (probing an index
banded differently is silently meaningless).

Exactly-once under foreachBatch's at-least-once replay contract:

* the **index fold** keeps an epoch high-water ledger in the sidecar
  (the Count-Min pattern) — a replayed epoch is skipped whole. (The
  fold is *also* idempotent by doc_id — already-accepted ids can never
  be re-accepted — the ledger just makes replays free and keeps the
  rejection log exactly-once too.)
* the **rejection log** (who was dropped, what it matched, the
  estimated Jaccard) is written per-epoch with ``overwrite`` into
  ``rejects_dir/epoch=<id>`` — a replay that does run (crash between
  log write and publish flip) overwrites its own directory rather than
  appending duplicates.

Known and documented semantics limit (shared with every greedy/
first-seen dedup, including the reference LSH literature): matching is
only tested against ACCEPTED docs, so doc C that near-matches only a
*rejected* doc B (B ~ A accepted, C ~ B, C !~ A) is admitted. A
transitive chain arriving in ONE batch is collapsed correctly (stage 2
is CC-based); chains split across batches degrade to first-seen.

Scale: per fold the index contributes one scan (no exchange — the
probe is a broadcast hash join against the batch side) plus one
rewrite at publish. The rewrite is the versioned-snapshot trade-off
(see ``plans/pipeline.py`` on parquet-dirs-as-Iceberg); on a real
deployment the index table would be an Iceberg append + periodic
:func:`~.maintain.compact_snapshot`.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.dedup import (
    band_struct_array,
    minhash_signatures,
    sig_est_jaccard,
)
from ..plans.pipeline import publish, read_snapshot
from .maintain import _check_params, _meta_marker, _read_meta


def fold_dedup_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    epoch_id: int,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    rejects_dir: str | None = None,
    keep_versions: int = 1,
) -> dict[str, Any]:
    """Fold one micro-batch of documents into the accepted-corpus
    MinHash index; returns ``{skipped, batch_docs, index_rejected,
    batch_rejected, already_present, accepted}``.

    ``batch`` needs ``(id_col, text_col)``; duplicate ids within the
    batch keep the first row (exact id dedup precedes similarity).
    """
    params = {
        "threshold": threshold,
        "num_hashes": num_hashes,
        "bands": bands,
        "n": n,
    }
    meta = _read_meta(index_dir)
    _check_params(
        {k: v for k, v in meta.items() if k in params} if meta else None,
        params,
        "dedup index",
    )
    last = meta.get("epoch") if meta else None
    if last is not None and epoch_id <= last:
        return {"skipped": True, "epoch": epoch_id}

    index = read_snapshot(spark, index_dir)

    sig = minhash_signatures(
        batch.dropDuplicates([id_col]).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ),
        num_hashes,
        n,
    ).withColumn("bands", band_struct_array(num_hashes, bands))
    # the batch frame feeds 3+ downstream jobs (probe, pair graph,
    # publish) — pin it once, micro-batch-sized
    sig = sig.localCheckpoint(eager=True)

    # already-accepted ids can never re-enter (idempotence independent
    # of the ledger); resolve presence via an index-side scan against
    # the broadcast batch-id set — the index is never shuffled
    if index is not None:
        present = F.broadcast(
            index.join(
                F.broadcast(sig.select("doc_id")), "doc_id", "left_semi"
            ).select("doc_id")
        )
        sig = sig.join(present, "doc_id", "left_anti")

        # stage 1: probe the index band buckets with the broadcast batch
        idx_b = index.select(
            F.col("doc_id").alias("match_id"),
            F.col("sig").alias("sig_m"),
            F.explode("bands").alias("bb"),
        ).select("match_id", "sig_m", "bb.band", "bb.bucket")
        probe = sig.select(
            "doc_id", "sig", F.explode("bands").alias("bb")
        ).select("doc_id", "sig", "bb.band", "bb.bucket")
        est = sig_est_jaccard(F.col("sig"), F.col("sig_m"), num_hashes)
        hits = (
            idx_b.join(F.broadcast(probe), ["band", "bucket"])
            .withColumn("est_jaccard", est)
            .filter(F.col("est_jaccard") >= threshold)
            # best match per batch doc: max estimate, deterministic
            # (lexicographically greatest match_id) on estimate ties
            .groupBy("doc_id")
            .agg(
                F.max(
                    F.struct(F.col("est_jaccard"), F.col("match_id"))
                ).alias("_m")
            )
            .select(
                "doc_id",
                F.col("_m.match_id").alias("match_id"),
                F.col("_m.est_jaccard").alias("est_jaccard"),
            )
            .withColumn("reason", F.lit("index_dup"))
        )
        hits = hits.localCheckpoint(eager=True)
        sig = sig.join(
            F.broadcast(hits.select("doc_id")), "doc_id", "left_anti"
        )
    else:
        hits = None

    # stage 2: within-batch resolution (CC + min-id canonical) over the
    # stage-1 survivors only — all frames here are micro-batch-sized
    bb = sig.select("doc_id", "sig", F.explode("bands").alias("bb")).select(
        "doc_id", "sig", "bb.band", "bb.bucket"
    )
    a = bb.select(
        "band", "bucket", F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    b = bb.select(
        "band", "bucket", F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "est_jaccard",
            sig_est_jaccard(F.col("sig_a"), F.col("sig_b"), num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    batch_rej = (
        cc.filter(F.col("node") != F.col("component"))
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("match_id"),
        )
        # surface the estimate against the canonical when directly
        # paired; transitive members carry NULL (no direct pair exists)
        .join(
            pairs.select(
                F.col("doc_b").alias("doc_id"),
                F.col("doc_a").alias("match_id"),
                "est_jaccard",
            ),
            ["doc_id", "match_id"],
            "left",
        )
        .withColumn("reason", F.lit("batch_dup"))
        .localCheckpoint(eager=True)
    )
    sig = sig.join(
        F.broadcast(batch_rej.select("doc_id")), "doc_id", "left_anti"
    )

    rejected = batch_rej if hits is None else hits.unionByName(batch_rej)
    if rejects_dir is not None:
        rejected.withColumn("epoch", F.lit(int(epoch_id))).coalesce(
            1
        ).write.mode("overwrite").parquet(
            os.path.join(rejects_dir, f"epoch={epoch_id}")
        )

    # pin the accepted rows BEFORE publishing: their lineage reaches
    # through the presence anti-join into the live index version, which
    # the publish below deletes
    accepted = sig.select("doc_id", "sig", "bands").localCheckpoint(eager=True)
    new_index = accepted if index is None else index.unionByName(accepted)
    publish(
        new_index,
        index_dir,
        marker=_meta_marker({**params, "epoch": int(epoch_id)}),
        keep_versions=keep_versions,
    )
    n_batch = batch.dropDuplicates([id_col]).count()
    n_idx_rej = hits.count() if hits is not None else 0
    n_batch_rej = batch_rej.count()
    n_acc = accepted.count()  # checkpointed micro-batch frame — cheap
    return {
        "skipped": False,
        "epoch": int(epoch_id),
        "batch_docs": n_batch,
        "index_rejected": n_idx_rej,
        "batch_rejected": n_batch_rej,
        # re-sent already-accepted ids are silently dropped (neither
        # rejected nor re-accepted)
        "already_present": n_batch - n_idx_rej - n_batch_rej - n_acc,
        "accepted": n_acc,
    }


def read_rejects(spark: SparkSession, rejects_dir: str) -> DataFrame:
    """All rejection-log epochs as one frame
    ``(doc_id, match_id, est_jaccard, reason, epoch)``."""
    return spark.read.parquet(rejects_dir)


def run_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    index_dir: str,
    checkpoint_dir: str,
    rejects_dir: str | None = None,
    available_now: bool = True,
    **fold_params: Any,
):
    """Continuous dedup-on-ingest: new document files under
    ``input_dir`` are folded into the accepted index via
    :func:`fold_dedup_batch` inside ``foreachBatch`` (file source
    standing in for the queue source, as in ``maintain.py``)."""
    stream = spark.readStream.schema(schema).parquet(input_dir)

    def _fold(batch: DataFrame, epoch_id: int) -> None:
        fold_dedup_batch(
            spark,
            batch,
            index_dir,
            epoch_id,
            rejects_dir=rejects_dir,
            **fold_params,
        )

    writer = stream.writeStream.foreachBatch(_fold).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
