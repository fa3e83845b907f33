"""Continuous SCD2 history maintenance (streaming/maintain.py
fold_scd2_batch / run_scd2_stream): the streamed history equals the
one-pass scd2_from_log derivation over the event log, and replayed
batches are idempotent (exactly-once EFFECT by algebra)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from kg_microbe_merge_spark.operators.history import scd2_from_log
from kg_microbe_merge_spark.plans.pipeline import read_snapshot
from kg_microbe_merge_spark.streaming.maintain import (
    fold_scd2_batch,
    run_scd2_stream,
)

SCHEMA = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("cat", StringType()),
    ]
)
KEY, TRACKED = "id", ["name", "cat"]

BATCHES = [
    [(1, "a", "x"), (2, "b", "y")],
    [(1, "a", "z"), (3, "c", "w")],          # 1 changes, 3 new, 2 absent
    [(1, "a", "z"), (2, "b", "y"), (3, "d", "w")],  # only 3 changes
]


def _delta_df(spark, rows):
    return spark.createDataFrame(
        [Row(id=i, name=n, cat=c) for i, n, c in rows], SCHEMA
    )


def _hist(spark, path):
    return {
        (r["id"], r["name"], r["cat"], r["valid_from"], r["valid_to"])
        for r in read_snapshot(spark, path).collect()
    }


def _expected(spark, batches):
    log = spark.createDataFrame(
        [
            Row(batch_id=b, id=i, name=n, cat=c)
            for b, rows in enumerate(batches)
            for i, n, c in rows
        ],
        "batch_id long, id int, name string, cat string",
    )
    return {
        (r["id"], r["name"], r["cat"], r["valid_from"], r["valid_to"])
        for r in scd2_from_log(log, KEY, TRACKED).collect()
    }


def test_sequential_folds_match_log_derivation(spark, tmp_path):
    snap = str(tmp_path / "hist")
    for b, rows in enumerate(BATCHES):
        fold_scd2_batch(spark, _delta_df(spark, rows), snap, KEY, TRACKED, b)
    assert _hist(spark, snap) == _expected(spark, BATCHES)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    snap = str(tmp_path / "hist")
    for b, rows in enumerate(BATCHES):
        fold_scd2_batch(spark, _delta_df(spark, rows), snap, KEY, TRACKED, b)
    before = _hist(spark, snap)
    # at-least-once replay of the LAST batch with the same batch_id
    fold_scd2_batch(
        spark, _delta_df(spark, BATCHES[-1]), snap, KEY, TRACKED,
        len(BATCHES) - 1,
    )
    assert _hist(spark, snap) == before


def test_empty_batch_is_a_noop(spark, tmp_path):
    snap = str(tmp_path / "hist")
    fold_scd2_batch(spark, _delta_df(spark, BATCHES[0]), snap, KEY, TRACKED, 0)
    before = _hist(spark, snap)
    fold_scd2_batch(spark, _delta_df(spark, []), snap, KEY, TRACKED, 1)
    assert _hist(spark, snap) == before


def test_stream_equals_log_derivation(spark, tmp_path):
    delta_dir = str(tmp_path / "deltas")
    snap = str(tmp_path / "hist")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(delta_dir)
    # one file per batch; maxFilesPerTrigger=1 -> epoch b folds batch b
    for b, rows in enumerate(BATCHES):
        _delta_df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{b}")
        )
        # move the part file in with a monotone name so listing order
        # matches batch order
        stage = tmp_path / f"stage{b}"
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(stage / part, tmp_path / "deltas" / f"b{b}.parquet")
    q = run_scd2_stream(
        spark, delta_dir, snap, ckpt, SCHEMA, KEY, TRACKED,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert _hist(spark, snap) == _expected(spark, BATCHES)
