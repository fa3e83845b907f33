"""Streaming entailment maintenance (streaming/maintain.py
fold_entailment_batch / run_entailment_stream): drained-prefix folds
equal the one-shot batch entailment, checkpoint resume folds only new
deltas, replayed batches are idempotent, empty batches are no-ops."""

from __future__ import annotations

import os

from pyspark.sql.types import StringType, StructField, StructType

from kg_microbe_merge_spark.operators.entailment import (
    rdfs_owl_entailment,
)
from kg_microbe_merge_spark.plans.pipeline import read_snapshot
from kg_microbe_merge_spark.streaming.maintain import (
    fold_entailment_batch,
    run_entailment_stream,
)

SCHEMA = StructType(
    [
        StructField("subject", StringType()),
        StructField("predicate", StringType()),
        StructField("object", StringType()),
    ]
)

TBOX = [
    ("located_in", "rdfs:subPropertyOf", "part_of"),
    ("part_of", "rdf:type", "owl:TransitiveProperty"),
    ("located_in", "owl:inverseOf", "contains"),
    ("located_in", "rdfs:domain", "Nation"),
    ("Nation", "rdfs:subClassOf", "Place"),
]

D1 = [("N1", "located_in", "R1"), ("R1", "part_of", "ROOT")]
D2 = [("N2", "located_in", "R1"), ("ROOT", "part_of", "ALL")]
D3 = [("N1", "located_in", "R1"), ("R2", "part_of", "ROOT")]  # partial replay


def _tbox(spark):
    return spark.createDataFrame(TBOX, "subject string, predicate string, object string")


def _snap(spark, path):
    return sorted(
        map(tuple, read_snapshot(spark, path).collect())
    )


def _expected(spark, rows):
    return sorted(
        map(
            tuple,
            rdfs_owl_entailment(
                spark.createDataFrame(rows, SCHEMA), _tbox(spark)
            ).collect(),
        )
    )


def test_stream_folds_equal_batch_entailment_and_resume(spark, tmp_path):
    delta_dir = str(tmp_path / "deltas")
    snap_dir = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(delta_dir)
    spark.createDataFrame(D1, SCHEMA).write.parquet(delta_dir + "/d1")
    spark.createDataFrame(D2, SCHEMA).write.parquet(delta_dir + "/d2")

    q = run_entailment_stream(
        spark, delta_dir + "/*", snap_dir, ckpt, SCHEMA, _tbox(spark),
        available_now=True, max_files_per_trigger=1,
    )
    assert q.awaitTermination(180)
    got = _snap(spark, snap_dir)
    assert got == _expected(spark, D1 + D2)
    # the fold genuinely reasons: transitive chain through the delta
    assert ("N1", "part_of", "ALL") in set(got)
    assert ("R1", "contains", "N1") in set(got)

    # resume from checkpoint: only the new delta folds
    spark.createDataFrame(D3, SCHEMA).write.parquet(delta_dir + "/d3")
    q2 = run_entailment_stream(
        spark, delta_dir + "/*", snap_dir, ckpt, SCHEMA, _tbox(spark),
        available_now=True, max_files_per_trigger=1,
    )
    assert q2.awaitTermination(180)
    assert _snap(spark, snap_dir) == _expected(spark, D1 + D2 + D3)


def test_replayed_and_empty_batches(spark, tmp_path):
    snap_dir = str(tmp_path / "snapshot")
    tbox = _tbox(spark)
    fold_entailment_batch(
        spark, spark.createDataFrame(D1, SCHEMA), snap_dir, tbox
    )
    fold_entailment_batch(
        spark, spark.createDataFrame(D2, SCHEMA), snap_dir, tbox
    )
    once = _snap(spark, snap_dir)
    assert once == _expected(spark, D1 + D2)
    # replay (at-least-once) converges
    fold_entailment_batch(
        spark, spark.createDataFrame(D2, SCHEMA), snap_dir, tbox
    )
    assert _snap(spark, snap_dir) == once
    # empty batch is a no-op (no new version published)
    fold_entailment_batch(
        spark, spark.createDataFrame([], SCHEMA), snap_dir, tbox
    )
    assert _snap(spark, snap_dir) == once
