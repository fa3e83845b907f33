"""Continuous anchor-alias dictionary maintenance
(streaming/maintain.fold_alias_batch / run_alias_stream): stream folds
equal the one-shot batch counts, replay is exactly-once via the epoch
ledger (sum merge is not idempotent), the read path equals
anchor_alias_dict over the union, and mismatched normalization bounds
refuse."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from kg_microbe_merge_spark.functions.links import (
    anchor_alias_dict,
    anchor_pair_counts,
)
from kg_microbe_merge_spark.plans.pipeline import read_snapshot
from kg_microbe_merge_spark.streaming.maintain import (
    fold_alias_batch,
    read_alias_dict,
    run_alias_stream,
)

SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("html", BinaryType()),
])


def _pages(tag: str, n: int):
    rows = []
    for i in range(n):
        t = f"https://{tag}{i % 3}.example/"
        html = (
            f'<p>x</p><a href="{t}">{tag} site {i % 3}</a>'
            f'<a href="https://common.example/">Common Hub</a>'
        ).encode()
        rows.append((f"https://src.example/{tag}/{i}", html))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _counts(spark, path):
    return {
        (r.alias, r.entity_id): r.n_links
        for r in read_snapshot(spark, path).collect()
    }


def _batch_counts(spark, rows):
    return {
        (r.alias, r.entity_id): r.n_links
        for r in anchor_pair_counts(_df(spark, rows)).collect()
    }


def test_alias_stream_equals_batch_and_resume(spark, tmp_path):
    delta_dir = str(tmp_path / "deltas")
    alias_dir = str(tmp_path / "alias")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(delta_dir)

    a, b = _pages("a", 12), _pages("b", 9)
    _df(spark, a).write.parquet(delta_dir + "/d1")
    _df(spark, b).write.parquet(delta_dir + "/d2")

    q = run_alias_stream(
        spark, delta_dir + "/*", ckpt, SCHEMA, alias_dir,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    assert _counts(spark, alias_dir) == _batch_counts(spark, a + b)

    # resume: only the new delta folds
    c = _pages("c", 6)
    _df(spark, c).write.parquet(delta_dir + "/d3")
    q2 = run_alias_stream(
        spark, delta_dir + "/*", ckpt, SCHEMA, alias_dir,
        available_now=True, max_files_per_trigger=1,
    )
    q2.awaitTermination(120)
    assert _counts(spark, alias_dir) == _batch_counts(spark, a + b + c)


def test_alias_replay_is_exactly_once_and_read_path(spark, tmp_path):
    alias_dir = str(tmp_path / "alias")
    a, b = _pages("a", 10), _pages("b", 5)
    fold_alias_batch(spark, _df(spark, a), alias_dir, epoch_id=0)
    # replayed epoch: no double counting
    fold_alias_batch(spark, _df(spark, a), alias_dir, epoch_id=0)
    fold_alias_batch(spark, _df(spark, b), alias_dir, epoch_id=1)
    assert _counts(spark, alias_dir) == _batch_counts(spark, a + b)

    # read path ≡ one-shot anchor_alias_dict over the union
    want = {
        (r.alias, r.entity_id): (r.prior, r.n_links, r.alias_total)
        for r in anchor_alias_dict(_df(spark, a + b), min_count=2).collect()
    }
    got = {
        (r.alias, r.entity_id): (r.prior, r.n_links, r.alias_total)
        for r in read_alias_dict(spark, alias_dir, min_count=2).collect()
    }
    assert got == want and got
    # "common hub" appears once per page → dominant alias present
    assert ("common hub", "https://common.example/") in got


def test_alias_fold_param_refusal_and_empty_batch(spark, tmp_path):
    alias_dir = str(tmp_path / "alias")
    a = _pages("a", 4)
    fold_alias_batch(spark, _df(spark, a), alias_dir, epoch_id=0)
    with pytest.raises(ValueError, match="alias dictionary"):
        fold_alias_batch(
            spark, _df(spark, a), alias_dir, epoch_id=1, max_len=32
        )
    before = _counts(spark, alias_dir)
    fold_alias_batch(spark, _df(spark, []), alias_dir, epoch_id=1)
    assert _counts(spark, alias_dir) == before
    assert read_alias_dict(spark, str(tmp_path / "missing")) is None
