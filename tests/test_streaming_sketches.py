"""Continuous sketch maintenance (streaming/maintain.py sketch folds):
stream folds equal the one-shot batch sketch, checkpoint resume folds
only new deltas, HLL replay is idempotent (max merge), and Count-Min
replay is exactly-once via the epoch ledger (sum merge is not
idempotent — the ledger makes the effect exactly-once anyway)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql.types import StringType, StructField, StructType

from kg_microbe_merge_spark.operators.sketches import (
    cms_counters,
    hll_registers,
)
from kg_microbe_merge_spark.plans.pipeline import read_snapshot
from kg_microbe_merge_spark.streaming.maintain import (
    fold_cms_batch,
    fold_hll_batch,
    run_sketch_stream,
)

SCHEMA = StructType([StructField("item", StringType())])


def _rows(tag: str, n: int):
    return [Row(item=f"{tag}-{i % 7}") for i in range(n)]


def _regs(spark, path):
    return {(r.reg, r.rho) for r in read_snapshot(spark, path).collect()}


def _cells(spark, path):
    return {
        (r.row, r.col): r.cnt for r in read_snapshot(spark, path).collect()
    }


def _batch_regs(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return {(r.reg, r.rho) for r in hll_registers(df, "item").collect()}


def _batch_cells(spark, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    return {
        (r.row, r.col): r.cnt for r in cms_counters(df, "item").collect()
    }


def test_sketch_stream_equals_batch_and_resume(spark, tmp_path):
    delta_dir = str(tmp_path / "deltas")
    hll_dir = str(tmp_path / "hll")
    cms_dir = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(delta_dir)

    a, b = _rows("a", 40), _rows("b", 25)
    spark.createDataFrame(a, SCHEMA).write.parquet(delta_dir + "/d1")
    spark.createDataFrame(b, SCHEMA).write.parquet(delta_dir + "/d2")

    q = run_sketch_stream(
        spark, delta_dir + "/*", ckpt, SCHEMA, "item",
        hll_dir=hll_dir, cms_dir=cms_dir,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert _regs(spark, hll_dir) == _batch_regs(spark, a + b)
    assert _cells(spark, cms_dir) == _batch_cells(spark, a + b)

    # resume: a third delta lands; only it is folded
    c = _rows("c", 15)
    spark.createDataFrame(c, SCHEMA).write.parquet(delta_dir + "/d3")
    q2 = run_sketch_stream(
        spark, delta_dir + "/*", ckpt, SCHEMA, "item",
        hll_dir=hll_dir, cms_dir=cms_dir,
        available_now=True, max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert _regs(spark, hll_dir) == _batch_regs(spark, a + b + c)
    assert _cells(spark, cms_dir) == _batch_cells(spark, a + b + c)


def test_hll_fold_replay_idempotent(spark, tmp_path):
    hll_dir = str(tmp_path / "hll")
    batch = spark.createDataFrame(_rows("x", 30), SCHEMA)
    fold_hll_batch(spark, batch, hll_dir, "item")
    once = _regs(spark, hll_dir)
    fold_hll_batch(spark, batch, hll_dir, "item")  # at-least-once replay
    assert _regs(spark, hll_dir) == once


def test_fold_param_mismatch_raises(spark, tmp_path):
    import pytest

    hll_dir = str(tmp_path / "hll")
    cms_dir = str(tmp_path / "cms")
    b = spark.createDataFrame(_rows("x", 10), SCHEMA)
    fold_hll_batch(spark, b, hll_dir, "item", p=9)
    with pytest.raises(ValueError, match="different sketch parameters"):
        fold_hll_batch(spark, b, hll_dir, "item", p=10)
    fold_cms_batch(spark, b, cms_dir, "item", epoch_id=0, width=512)
    with pytest.raises(ValueError, match="different sketch parameters"):
        fold_cms_batch(spark, b, cms_dir, "item", epoch_id=1, width=1024)


def test_cms_fold_epoch_ledger_exactly_once(spark, tmp_path):
    cms_dir = str(tmp_path / "cms")
    b1 = spark.createDataFrame(_rows("x", 30), SCHEMA)
    b2 = spark.createDataFrame(_rows("y", 20), SCHEMA)
    fold_cms_batch(spark, b1, cms_dir, "item", epoch_id=0)
    once = _cells(spark, cms_dir)
    # replay of epoch 0 (foreachBatch reuses the epoch id) — skipped,
    # counters unchanged even though sum-merge is not idempotent
    fold_cms_batch(spark, b1, cms_dir, "item", epoch_id=0)
    assert _cells(spark, cms_dir) == once
    # a genuinely new epoch folds in
    fold_cms_batch(spark, b2, cms_dir, "item", epoch_id=1)
    assert _cells(spark, cms_dir) == _batch_cells(
        spark, _rows("x", 30) + _rows("y", 20)
    )


def test_kmv_fold_stream_equals_batch_and_replay_idempotent(spark, tmp_path):
    from kg_microbe_merge_spark.operators.kmv import kmv_py
    from kg_microbe_merge_spark.streaming.maintain import fold_kmv_batch

    kmv_dir = str(tmp_path / "kmv")
    b1 = _rows("a", 40)
    b2 = _rows("b", 30)
    fold_kmv_batch(
        spark, spark.createDataFrame(b1, SCHEMA), kmv_dir, "item", k=16
    )
    fold_kmv_batch(
        spark, spark.createDataFrame(b2, SCHEMA), kmv_dir, "item", k=16
    )
    got = list(read_snapshot(spark, kmv_dir).collect()[0]["hs"])
    want = kmv_py([r.item for r in b1 + b2], k=16)
    assert got == want
    # at-least-once replay of the last batch: union-distinct-truncate
    # is idempotent
    fold_kmv_batch(
        spark, spark.createDataFrame(b2, SCHEMA), kmv_dir, "item", k=16
    )
    assert list(read_snapshot(spark, kmv_dir).collect()[0]["hs"]) == want


def test_kmv_fold_param_mismatch_raises(spark, tmp_path):
    import pytest

    from kg_microbe_merge_spark.streaming.maintain import fold_kmv_batch

    kmv_dir = str(tmp_path / "kmv")
    b = spark.createDataFrame(_rows("x", 10), SCHEMA)
    fold_kmv_batch(spark, b, kmv_dir, "item", k=16)
    with pytest.raises(ValueError, match="different sketch parameters"):
        fold_kmv_batch(spark, b, kmv_dir, "item", k=32)
