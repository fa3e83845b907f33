"""Incremental dedup-on-ingest (streaming/dedup_index.py): index
probes reject cross-batch near-dups, within-batch clusters keep one
canonical, replayed epochs are skipped, re-sent ids are dropped, the
rejection log is exactly-once, and the stream equals sequential folds."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql.types import StringType, StructField, StructType

from kg_microbe_merge_spark.streaming.dedup_index import (
    fold_dedup_batch,
    read_rejects,
    run_dedup_stream,
)
from kg_microbe_merge_spark.plans.pipeline import read_snapshot

SCHEMA = StructType(
    [StructField("doc_id", StringType()), StructField("text", StringType())]
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the rain taps the glass all afternoon"
)
OTHER = (
    "entirely different content about distributed query engines and "
    "columnar storage formats with vectorized execution and late "
    "materialization across scan operators"
)
THIRD = (
    "a third unrelated document concerning fermentation pathways in "
    "anaerobic microbial communities and their measured metabolite "
    "exchange rates under varying ph"
)


def _df(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows], SCHEMA)


def _index_ids(spark, d):
    df = read_snapshot(spark, d)
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_fold_two_batches(spark, tmp_path):
    idx = str(tmp_path / "idx")
    rej = str(tmp_path / "rej")

    # batch 1: d1/d2 identical (within-batch cluster), d3 distinct
    s1 = fold_dedup_batch(
        spark,
        _df(spark, [("d1", BASE), ("d2", BASE), ("d3", OTHER)]),
        idx,
        epoch_id=0,
        rejects_dir=rej,
    )
    assert s1 == {
        "skipped": False,
        "epoch": 0,
        "batch_docs": 3,
        "index_rejected": 0,
        "batch_rejected": 1,
        "already_present": 0,
        "accepted": 2,
    }
    assert _index_ids(spark, idx) == ["d1", "d3"]

    # batch 2: d4 duplicates accepted d1 (index hit), d5 fresh,
    # d6 duplicates d5 (within batch), d1 re-sent (already present)
    s2 = fold_dedup_batch(
        spark,
        _df(
            spark,
            [("d4", BASE), ("d5", THIRD), ("d6", THIRD), ("d1", BASE)],
        ),
        idx,
        epoch_id=1,
        rejects_dir=rej,
    )
    assert s2["index_rejected"] == 1
    assert s2["batch_rejected"] == 1
    assert s2["already_present"] == 1
    assert s2["accepted"] == 1
    assert _index_ids(spark, idx) == ["d1", "d3", "d5"]

    logged = {
        (r.doc_id, r.match_id, r.reason, r.epoch)
        for r in read_rejects(spark, rej).collect()
    }
    assert logged == {
        ("d2", "d1", "batch_dup", 0),
        ("d4", "d1", "index_dup", 1),
        ("d6", "d5", "batch_dup", 1),
    }
    # index hit carries the verified estimate
    hit = read_rejects(spark, rej).filter("doc_id = 'd4'").first()
    assert hit.est_jaccard == 1.0


def test_replay_is_skipped_and_log_stays_exactly_once(spark, tmp_path):
    idx = str(tmp_path / "idx")
    rej = str(tmp_path / "rej")
    b = _df(spark, [("d1", BASE), ("d2", BASE)])
    s1 = fold_dedup_batch(spark, b, idx, epoch_id=0, rejects_dir=rej)
    assert s1["accepted"] == 1
    ids = _index_ids(spark, idx)

    replay = fold_dedup_batch(spark, b, idx, epoch_id=0, rejects_dir=rej)
    assert replay == {"skipped": True, "epoch": 0}
    assert _index_ids(spark, idx) == ids
    assert read_rejects(spark, rej).count() == 1


def test_param_mismatch_refuses(spark, tmp_path):
    idx = str(tmp_path / "idx")
    fold_dedup_batch(spark, _df(spark, [("d1", BASE)]), idx, epoch_id=0)
    with pytest.raises(ValueError, match="parameters"):
        fold_dedup_batch(
            spark, _df(spark, [("d2", OTHER)]), idx, epoch_id=1, bands=8
        )


def test_transitive_chain_in_one_batch_keeps_one(spark, tmp_path):
    # A ~ B and B ~ C by construction (shared shingle mass), A vs C more
    # distant: CC collapses the chain to ONE survivor, which greedy
    # pairwise dropping would not guarantee
    idx = str(tmp_path / "idx")
    a = BASE + " alpha alpha alpha"
    b = BASE + " alpha alpha omega"
    c = BASE + " alpha omega omega"
    s = fold_dedup_batch(
        spark,
        _df(spark, [("dA", a), ("dB", b), ("dC", c)]),
        idx,
        epoch_id=0,
        threshold=0.5,
    )
    assert s["accepted"] == 1 and s["batch_rejected"] == 2
    assert _index_ids(spark, idx) == ["dA"]


def test_stream_equals_sequential_folds(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    idx_s = str(tmp_path / "idx_stream")
    idx_m = str(tmp_path / "idx_manual")
    ck = str(tmp_path / "ck")

    b1 = [("d1", BASE), ("d2", BASE), ("d3", OTHER)]
    b2 = [("d4", BASE), ("d5", THIRD)]
    # two stream runs over the SAME dir + checkpoint: run 1 folds b1,
    # run 2 resumes and folds only the newly arrived b2 files
    _df(spark, b1).coalesce(1).write.mode("append").parquet(in_dir)
    q = run_dedup_stream(spark, in_dir, SCHEMA, idx_s, ck)
    q.awaitTermination(120)
    _df(spark, b2).coalesce(1).write.mode("append").parquet(in_dir)
    q = run_dedup_stream(spark, in_dir, SCHEMA, idx_s, ck)
    q.awaitTermination(120)

    fold_dedup_batch(spark, _df(spark, b1), idx_m, epoch_id=0)
    fold_dedup_batch(spark, _df(spark, b2), idx_m, epoch_id=1)

    assert _index_ids(spark, idx_s) == _index_ids(spark, idx_m)
