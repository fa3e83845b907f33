"""Continuous KG maintenance (streaming/maintain.py): micro-batch folds
equal the one-shot batch merge, checkpoint resume folds only new
deltas, and replayed batches are idempotent (the at-least-once →
exactly-once-effect argument)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

from kg_microbe_merge_spark.operators.upsert import (
    NAME_STATE_COLUMN,
    nodes_merge_with_state,
)
from kg_microbe_merge_spark.plans.pipeline import read_snapshot
from kg_microbe_merge_spark.streaming.maintain import (
    fold_batch,
    run_kg_maintenance_stream,
)

SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("category", StringType()),
        StructField("provided_by", StringType()),
    ]
)
PRIO = ["trusted.tsv"]


def _rows(tag: str, n: int, start: int = 0):
    return [
        Row(
            id=f"X:{start + i}",
            name=f"{tag}{start + i}",
            category="biolink:Gene",
            provided_by="trusted.tsv" if (start + i) % 3 == 0 else f"{tag}.tsv",
        )
        for i in range(n)
    ]


def _snap(spark, path):
    return {
        r["id"]: (r["name"], r["category"], r[NAME_STATE_COLUMN])
        for r in read_snapshot(spark, path).collect()
    }


def _batch_expected(spark, all_rows):
    df = nodes_merge_with_state(
        spark.createDataFrame(all_rows, SCHEMA), PRIO, sort_output=False
    )
    return {
        r["id"]: (r["name"], r["category"], r[NAME_STATE_COLUMN])
        for r in df.collect()
    }


def test_stream_folds_equal_batch_merge_and_resume(spark, tmp_path):
    delta_dir = str(tmp_path / "deltas")
    snap_dir = str(tmp_path / "snapshot")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(delta_dir)

    a = _rows("a", 20)
    b = _rows("b", 20, start=10)  # overlaps ids X:10..X:19
    spark.createDataFrame(a, SCHEMA).write.parquet(delta_dir + "/d1")
    spark.createDataFrame(b, SCHEMA).write.parquet(delta_dir + "/d2")

    q = run_kg_maintenance_stream(
        spark, delta_dir + "/*", snap_dir, ckpt, SCHEMA, PRIO,
        available_now=True, max_files_per_trigger=1,
    )
    assert q.awaitTermination(120)
    assert _snap(spark, snap_dir) == _batch_expected(spark, a + b)

    # resume: a third delta lands; only it is folded, invariant holds
    c = _rows("c", 5, start=15)
    spark.createDataFrame(c, SCHEMA).write.parquet(delta_dir + "/d3")
    q2 = run_kg_maintenance_stream(
        spark, delta_dir + "/*", snap_dir, ckpt, SCHEMA, PRIO,
        available_now=True, max_files_per_trigger=1,
    )
    assert q2.awaitTermination(120)
    assert _snap(spark, snap_dir) == _batch_expected(spark, a + b + c)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    snap_dir = str(tmp_path / "snapshot")
    base = spark.createDataFrame(_rows("a", 15), SCHEMA)
    delta = spark.createDataFrame(_rows("b", 10, start=5), SCHEMA)

    fold_batch(spark, base, snap_dir, PRIO)
    fold_batch(spark, delta, snap_dir, PRIO)
    once = _snap(spark, snap_dir)
    fold_batch(spark, delta, snap_dir, PRIO)  # simulated replay
    assert _snap(spark, snap_dir) == once


def test_empty_batch_is_noop(spark, tmp_path):
    snap_dir = str(tmp_path / "snapshot")
    fold_batch(spark, spark.createDataFrame(_rows("a", 5), SCHEMA), snap_dir, PRIO)
    before = _snap(spark, snap_dir)
    fold_batch(
        spark, spark.createDataFrame([], SCHEMA), snap_dir, PRIO
    )
    assert _snap(spark, snap_dir) == before


def test_edge_fold_equals_batch_and_idempotent(spark, tmp_path):
    from pyspark.sql import Row as R

    from kg_microbe_merge_spark.operators.merge import edges_merge_provenance
    from kg_microbe_merge_spark.streaming.maintain import fold_edges_batch

    def edges(tag, n, start=0):
        return [
            R(
                subject=f"P:{(start + i) % 6}",
                predicate="part_of",
                object=f"S:{(start + i) % 4}",
                relation=f"r_{tag}{i % 2}",
                knowledge_source=f"src_{tag}",
            )
            for i in range(n)
        ]

    snap_dir = str(tmp_path / "esnap")
    a, b = edges("a", 25), edges("b", 15, start=2)
    from kg_microbe_merge_spark.plans.pipeline import read_snapshot as rs

    fold_edges_batch(spark, spark.createDataFrame(a), snap_dir)
    fold_edges_batch(spark, spark.createDataFrame(b), snap_dir)
    got = sorted(map(tuple, rs(spark, snap_dir).collect()))
    want = sorted(
        map(tuple, edges_merge_provenance(spark.createDataFrame(a + b)).collect())
    )
    assert got == want
    fold_edges_batch(spark, spark.createDataFrame(b), snap_dir)  # replay
    assert sorted(map(tuple, rs(spark, snap_dir).collect())) == want


def test_cc_stream_folds_equal_batch_cc_and_resume(spark, tmp_path):
    from kg_microbe_merge_spark.operators.components import (
        connected_components,
    )
    from kg_microbe_merge_spark.streaming.maintain import run_cc_stream

    schema = StructType(
        [StructField("src", StringType()), StructField("dst", StringType())]
    )
    delta_dir = str(tmp_path / "edges")
    snap_dir = str(tmp_path / "ccsnap")
    ckpt = str(tmp_path / "ccckpt")
    os.makedirs(delta_dir)

    # two chains, then a delta that fuses them and attaches new nodes
    d1 = [(f"a{i}", f"a{i + 1}") for i in range(8)]
    d2 = [(f"b{i}", f"b{i + 1}") for i in range(8)]
    d3 = [("a8", "b0"), ("new1", "a0"), ("solo", "solo")]
    spark.createDataFrame(d1, schema).write.parquet(delta_dir + "/d1")
    spark.createDataFrame(d2, schema).write.parquet(delta_dir + "/d2")
    spark.createDataFrame(d3, schema).write.parquet(delta_dir + "/d3")

    q = run_cc_stream(
        spark, delta_dir + "/*", snap_dir, ckpt, schema,
        available_now=True, max_files_per_trigger=1,
    )
    assert q.awaitTermination(180)

    def _cc_snap():
        return {
            r["node"]: r["component"]
            for r in read_snapshot(spark, snap_dir).collect()
        }

    def _batch_cc(edges):
        df = spark.createDataFrame(edges, schema)
        return {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }

    assert _cc_snap() == _batch_cc(d1 + d2 + d3)

    # resume: a fourth delta merges 'solo' in; only it is folded
    d4 = [("solo", "b3")]
    spark.createDataFrame(d4, schema).write.parquet(delta_dir + "/d4")
    q2 = run_cc_stream(
        spark, delta_dir + "/*", snap_dir, ckpt, schema,
        available_now=True, max_files_per_trigger=1,
    )
    assert q2.awaitTermination(180)
    assert _cc_snap() == _batch_cc(d1 + d2 + d3 + d4)


def test_cc_fold_replay_is_idempotent(spark, tmp_path):
    from kg_microbe_merge_spark.streaming.maintain import fold_cc_batch

    snap_dir = str(tmp_path / "ccsnap")
    schema = "src string, dst string"
    base = spark.createDataFrame([("x1", "x2"), ("y1", "y2")], schema)
    delta = spark.createDataFrame([("x2", "y1"), ("z9", "x1")], schema)

    fold_cc_batch(spark, base, snap_dir)
    fold_cc_batch(spark, delta, snap_dir)

    def _cc_snap():
        return {
            r["node"]: r["component"]
            for r in read_snapshot(spark, snap_dir).collect()
        }

    once = _cc_snap()
    fold_cc_batch(spark, delta, snap_dir)  # simulated replay
    assert _cc_snap() == once
    # empty batch is a no-op too
    fold_cc_batch(spark, spark.createDataFrame([], schema), snap_dir)
    assert _cc_snap() == once


def test_half_written_version_never_breaks_readers(spark, tmp_path):
    # crash between version write and pointer flip leaves a stray
    # version dir: readers must keep resolving the old live version, and the
    # next successful fold must still work (and GC the stray)
    snap_dir = str(tmp_path / "snapshot")
    fold_batch(spark, spark.createDataFrame(_rows("a", 10), SCHEMA), snap_dir, PRIO)
    before = _snap(spark, snap_dir)
    os.makedirs(os.path.join(snap_dir, "v99"))  # simulated partial write
    assert _snap(spark, snap_dir) == before
    fold_batch(spark, spark.createDataFrame(_rows("b", 5, start=3), SCHEMA), snap_dir, PRIO)
    assert _snap(spark, snap_dir) == _batch_expected(
        spark, _rows("a", 10) + _rows("b", 5, start=3)
    )
    assert not os.path.exists(os.path.join(snap_dir, "v99"))


def test_time_travel_retention_and_audit(spark, tmp_path):
    from kg_microbe_merge_spark.operators.diff import snapshot_diff
    from kg_microbe_merge_spark.plans.pipeline import list_versions

    snap_dir = str(tmp_path / "snapshot")
    b1 = spark.createDataFrame(_rows("a", 8), SCHEMA)
    b2 = spark.createDataFrame(_rows("b", 6, start=4), SCHEMA)
    b3 = spark.createDataFrame(_rows("c", 3, start=12), SCHEMA)

    fold_batch(spark, b1, snap_dir, PRIO, keep_versions=2)
    fold_batch(spark, b2, snap_dir, PRIO, keep_versions=2)
    fold_batch(spark, b3, snap_dir, PRIO, keep_versions=2)

    # only the newest two versions retained; the live one == the latest
    assert list_versions(snap_dir) == [1, 2]
    cur = _snap(spark, snap_dir)
    v2 = {
        r["id"]: (r["name"], r["category"], r[NAME_STATE_COLUMN])
        for r in read_snapshot(spark, snap_dir, version=2).collect()
    }
    assert cur == v2

    # time travel to v1 == the state after folding b1+b2
    want_v1 = _batch_expected(spark, _rows("a", 8) + _rows("b", 6, start=4))
    v1 = {
        r["id"]: (r["name"], r["category"], r[NAME_STATE_COLUMN])
        for r in read_snapshot(spark, snap_dir, version=1).collect()
    }
    assert v1 == want_v1

    # audit between retained versions: exactly b3's new ids appear
    d = snapshot_diff(
        read_snapshot(spark, snap_dir, version=1),
        read_snapshot(spark, snap_dir, version=2),
    )
    added = {r["id"] for r in d.filter("change = 'added'").collect()}
    assert added == {"X:12", "X:13", "X:14"}  # exactly b3's new ids

    # GC'd version raises with the retained list
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_snapshot(spark, snap_dir, version=0)


def test_compact_snapshot_reduces_files_preserves_rows(spark, tmp_path):
    from kg_microbe_merge_spark.plans.pipeline import (
        list_versions,
        publish,
        read_snapshot,
    )
    from kg_microbe_merge_spark.streaming.maintain import compact_snapshot

    base = str(tmp_path / "snap")
    rows = [Row(id=f"X:{i}", name=f"n{i}") for i in range(200)]
    # publish deliberately fragmented: 16 part files for a tiny table
    publish(spark.createDataFrame(rows).repartition(16), base)
    # materialize pre-compaction rows NOW: compaction GCs v0 under the
    # lazy DataFrame (keep_versions=1), exactly the reader hazard the
    # version flip protects *new* readers from
    before_rows = sorted(map(tuple, read_snapshot(spark, base).collect()))
    n_files_before = sum(
        1
        for f in os.listdir(os.path.join(base, "v0"))
        if f.endswith(".parquet")
    )
    assert n_files_before == 16

    stats = compact_snapshot(spark, base, target_file_bytes=10**9)
    assert stats["files_before"] == 16
    assert stats["partitions"] == 1 and stats["files_after"] == 1
    assert stats["bytes"] > 0

    after = read_snapshot(spark, base)
    assert sorted(map(tuple, after.collect())) == before_rows
    # compaction is a publish: version advanced, old one GC'd (default
    # keep_versions=1)
    assert list_versions(base) == [1]


def test_compact_snapshot_respects_target_and_retention(spark, tmp_path):
    from kg_microbe_merge_spark.plans.pipeline import list_versions, publish
    from kg_microbe_merge_spark.streaming.maintain import compact_snapshot

    base = str(tmp_path / "snap2")
    rows = [Row(id=f"X:{i}", name="y" * 500) for i in range(400)]
    publish(spark.createDataFrame(rows).repartition(8), base)
    # tiny target -> several output files; keep_versions=2 retains the
    # uncompacted version for time travel
    stats = compact_snapshot(
        spark, base, target_file_bytes=8 * 1024, keep_versions=2
    )
    assert stats["partitions"] >= 2
    assert stats["files_after"] == stats["partitions"]
    assert list_versions(base) == [0, 1]
