"""Pipeline checkpoint/resume + lineage metrics + end-to-end KG shape
over the synthetic web corpus.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from kg_microbe_merge_spark.plans.pipeline import (
    LINEAGE_NAME,
    MANIFEST_NAME,
    run_pipeline,
)

N_DOCS = 200


def _live(work_dir, stage):
    """The stage version the work dir's manifest names."""
    with open(os.path.join(work_dir, MANIFEST_NAME)) as f:
        return os.path.join(work_dir, json.load(f)[stage]["version"])


def _lineage(work_dir, stage) -> list[dict]:
    """The lineage rows of the stage version the manifest names (Spark's
    reader skips a ``_`` file even when named, so pyarrow reads it)."""
    return pq.read_table(os.path.join(_live(work_dir, stage), LINEAGE_NAME)).to_pylist()


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    wd = str(tmp_path / "run1")
    out = run_pipeline(spark, wd, n_docs=N_DOCS, seed=42)

    # KG shape: canonical ids, provenance-preserving edges
    edges = out["edges"].collect()
    assert edges
    for r in edges[:20]:
        assert r["predicate"].startswith("biolink:")
        assert r["knowledge_source"]  # pipe-joined urls
    nodes = out["nodes"].collect()
    node_ids = {r["id"] for r in nodes}
    for r in edges[:20]:
        assert r["subject"] in node_ids and r["object"] in node_ids

    # canonicalization collapsed SRCA/SRCB duplicates: linked entity ids
    # resolve to the SRCA (lexicographically smaller) namespace
    assert not [i for i in node_ids if i.startswith("SRCB:")]

    # no over-merge: weak (prior 0.1) ambiguous aliases must NOT chain
    # adjacent entities together — each component is exactly SRCA:i↔SRCB:i,
    # so every SRCA id maps to itself
    mapping = {r["node"]: r["component"] for r in out["mapping"].collect()}
    for node, comp in mapping.items():
        num = node.split(":")[1]
        assert comp == f"SRCA:{num}", f"over-merged: {node} -> {comp}"

    # manifest written, one entry per stage
    manifest = json.load(open(os.path.join(wd, MANIFEST_NAME)))
    for stage in ("corpus", "triples", "linked",
                  "components", "canonical_triples", "kgx_edges", "kgx_nodes"):
        assert stage in manifest and manifest[stage]["rows"] >= 0

    # per-partition lineage metrics exist
    metrics = _lineage(wd, "triples")
    assert metrics and {"partition_id", "rows", "stage"} <= set(metrics[0])

    # edges are materialized partitioned by predicate -> a predicate
    # filter prunes at the file-listing level (PartitionFilters), no
    # data files of other predicates are read
    some_pred = edges[0]["predicate"]
    filtered = out["edges"].filter(out["edges"].predicate == some_pred)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "predicate" in plan

    # resume: mutate manifest wall_sec marker, re-run, stages skipped
    # (same fingerprint -> committed snapshots reused, manifest unchanged)
    before = json.load(open(os.path.join(wd, MANIFEST_NAME)))
    out2 = run_pipeline(spark, wd, n_docs=N_DOCS, seed=42)
    after = json.load(open(os.path.join(wd, MANIFEST_NAME)))
    assert before == after, "resume must not recompute committed stages"
    assert out2["edges"].count() == out["edges"].count()

    # changed fingerprint (different n_docs) recomputes
    out3 = run_pipeline(spark, wd, n_docs=N_DOCS // 2, seed=42)
    after3 = json.load(open(os.path.join(wd, MANIFEST_NAME)))
    assert after3["corpus"]["fingerprint"] != after["corpus"]["fingerprint"]
    assert out3["corpus"].count() == N_DOCS // 2


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under Spark job group ``group``; return its result and
    the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_stage_commit_single_post_write_scan(spark, tmp_path):
    """A fresh stage commit runs the write's Spark jobs and nothing else:
    the snapshot is reopened with its known schema and the row count and
    lineage come from the parquet footers. A resumed stage runs no job."""
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun

    def build():
        return spark.range(100).withColumnRenamed("id", "k")

    _, write_jobs = _jobs_in_group(
        spark, "test-bare-write", lambda: build().write.parquet(str(tmp_path / "bare"))
    )
    assert write_jobs >= 1
    run = PipelineRun(spark, str(tmp_path / "wd"))
    df, jobs = _jobs_in_group(
        spark, "test-fresh-stage", lambda: run.stage("s1", build, "fp1", metrics_key="k")
    )
    assert jobs == write_jobs, f"stage() ran {jobs - write_jobs} jobs after its write"
    assert run.manifest["s1"]["rows"] == 100
    rows = sum(r["rows"] for r in _lineage(run.work_dir, "s1"))
    assert rows == 100
    assert df.columns == ["k"]

    resumed = PipelineRun(spark, str(tmp_path / "wd"))
    again, jobs = _jobs_in_group(
        spark, "test-resumed-stage",
        lambda: resumed.stage("s1", build, "fp1", metrics_key="k"),
    )
    assert jobs == 0, f"a resumed stage() ran {jobs} jobs"
    assert again.columns == df.columns and again.schema == df.schema


def _check_footer_lineage(spark, run, stage, key, check_range=True):
    """Each lineage sidecar row of the live stage version equals a Spark count (and, with
    ``check_range``, min/max of ``key``) over the committed file it names,
    and the manifest rows equal a Spark count of the snapshot. Returns the
    metrics rows in file order."""
    from urllib.parse import unquote

    import pyspark.sql.functions as F

    from kg_microbe_merge_spark.plans.pipeline import _part_files

    snapshot = _live(run.work_dir, stage)
    files = _part_files(snapshot)
    got = {r["partition_id"]: r for r in _lineage(run.work_dir, stage)}
    assert sorted(got) == list(range(len(files)))
    per_file = {  # input_file_name() is a URI: unquote it back to the file path
        unquote(r["f"]): r
        for r in spark.read.parquet(snapshot)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.count("*").alias("n"), F.min(key).alias("lo"), F.max(key).alias("hi"))
        .collect()
    }
    for i, f in enumerate(files):
        want = next((r for u, r in per_file.items() if u.endswith(f)), None)
        n, lo, hi = (want["n"], want["lo"], want["hi"]) if want else (0, None, None)
        assert got[i]["rows"] == n and got[i]["stage"] == stage
        if check_range:
            assert (got[i]["key_min"], got[i]["key_max"]) == (lo, hi), (stage, f)
    total = spark.read.parquet(snapshot).count()
    assert run.manifest[stage]["rows"] == total == sum(r["rows"] for r in got.values())
    return [got[i] for i in range(len(files))]


def test_stage_lineage_from_footers(spark, tmp_path):
    """Footer-built lineage equals Spark's own count/min/max per committed
    file, over several files, a partitioned snapshot, an empty snapshot
    and a key with nulls; a key over 4 KiB records null min/max for its
    file (parquet-java writes no binary statistics that large)."""
    import pyspark.sql.functions as F

    from kg_microbe_merge_spark.plans.pipeline import PipelineRun

    run = PipelineRun(spark, str(tmp_path / "wd"))
    ids = spark.range(0, 1000, numPartitions=4)
    cases = {
        "several": (ids.select(F.format_string("k%04d", "id").alias("k")), None),
        "partitioned": (
            ids.select(F.format_string("k%04d", "id").alias("k"),
                       (F.col("id") % 3).alias("p")),
            ["p"],
        ),
        "empty": (ids.filter("id < 0").select(F.col("id").alias("k")), None),
        "nulls": (
            ids.select(
                F.when((F.col("id") % 5 == 0) | (F.col("id") >= 750), None)
                .otherwise(F.col("id")).alias("k")
            ),
            None,
        ),
    }
    for stage, (df, partition_by) in cases.items():
        fresh = run.stage(stage, lambda df=df: df, "fp", metrics_key="k",
                          partition_by=partition_by)
        _check_footer_lineage(spark, run, stage, "k")
        resumed = run.stage(stage, None, "fp", "k").schema
        assert resumed == fresh.schema
        if stage != "empty":  # no data file to infer a schema from
            inferred = spark.read.parquet(_live(run.work_dir, stage)).schema
            assert resumed.names == inferred.names
            if not partition_by:
                assert resumed == inferred
    # a partition column keeps its written type; inference would guess
    # int from the directory names
    assert run.stage("partitioned", None, "fp", "k").schema["p"].dataType.typeName() == "long"
    # the 'nulls' snapshot's last file holds only null keys
    nulls = _check_footer_lineage(spark, run, "nulls", "k")
    assert nulls[-1]["rows"] == 250 and nulls[-1]["key_min"] is None
    assert len(_check_footer_lineage(spark, run, "several", "k")) == 4
    assert len(_check_footer_lineage(spark, run, "partitioned", "k")) == 12
    assert run.manifest["empty"]["rows"] == 0
    # footers hold no statistics for a partition column
    with pytest.raises(ValueError, match="partition column"):
        run.stage("by_key", lambda: cases["partitioned"][0], "fp",
                  metrics_key="p", partition_by=["p"])

    big = "z" * 5000
    # two files: [big] and ["a", "b"]
    keys = F.array(F.lit(big), F.lit("a"), F.lit("b"))
    two_files = spark.range(0, 3, 1, 2).select(
        F.element_at(keys, F.col("id").cast("int") + 1).alias("k")
    )
    run.stage("big_key", lambda: two_files, "fp", metrics_key="k")
    got = _check_footer_lineage(spark, run, "big_key", "k", check_range=False)
    assert [(r["rows"], r["key_min"], r["key_max"]) for r in got] == [
        (1, None, None), (2, "a", "b")
    ]


def test_manifest_entry_without_schema_is_recomputed(spark, tmp_path):
    """A committed entry that carries no schema (written before schemas
    were kept) is rebuilt, never reopened by guess."""
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun

    wd = str(tmp_path / "wd")
    run = PipelineRun(spark, wd)
    run.stage("s", lambda: spark.range(5).withColumnRenamed("id", "k"), "fp",
              metrics_key="k")
    del run.manifest["s"]["schema"]
    run._save_manifest()

    builds = []

    def rebuild():
        builds.append(1)
        return spark.range(7).selectExpr("cast(id as string) as k", "id as v")

    again = PipelineRun(spark, wd)
    df = again.stage("s", rebuild, "fp", metrics_key="k")
    assert builds == [1]
    assert df.columns == ["k", "v"] and df.count() == 7
    with open(os.path.join(wd, MANIFEST_NAME)) as f:
        entry = json.load(f)["s"]
    assert entry["rows"] == 7 and "schema" in entry


def _boom(*_args, **_kwargs):
    raise RuntimeError("injected fault")


def _one_live_version(work_dir):
    """Each committed stage's directory holds exactly the version its
    manifest entry names."""
    with open(os.path.join(work_dir, MANIFEST_NAME)) as f:
        manifest = json.load(f)
    for stage, entry in manifest.items():
        on_disk = [v for v in os.listdir(os.path.join(work_dir, stage)) if v.startswith("v")]
        assert [os.path.join(stage, v) for v in on_disk] == [entry["version"]], stage


@pytest.mark.parametrize("fault", ["write", "flip", "drop"])
def test_stage_commit_survives_a_fault_at_each_step(spark, tmp_path, monkeypatch, fault):
    """A stage committed under fingerprint A is recomputed under B, with a
    fault inside the version write, between the write and the manifest
    flip, or between the flip and the deletion of the old version. The
    manifest then names a version on disk, a re-run under A returns A's
    rows and a re-run under B returns B's rows."""
    import pyspark.sql.functions as F

    from kg_microbe_merge_spark.plans import pipeline
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun

    wd = str(tmp_path / "wd")

    def old():
        return spark.range(10).withColumnRenamed("id", "k")

    def new():
        return spark.range(100, 103).withColumnRenamed("id", "k")

    def failing():  # the second of two write tasks fails
        k = F.col("id")
        return spark.range(100, 104, 1, 2).select(
            F.when(k == 103, F.raise_error(F.lit("injected fault"))).otherwise(k).alias("k")
        )

    def rerun(build, fingerprint):
        run = PipelineRun(spark, wd)
        rows = sorted(r["k"] for r in run.stage("s", build, fingerprint, metrics_key="k").collect())
        assert run.manifest["s"]["rows"] == len(rows)
        assert os.path.isdir(_live(wd, "s"))
        return rows

    assert rerun(old, "A") == list(range(10))
    with monkeypatch.context() as m:
        if fault == "flip":
            m.setattr(PipelineRun, "_save_manifest", _boom)
        elif fault == "drop":
            m.setattr(pipeline.shutil, "rmtree", _boom)
        build = failing if fault == "write" else new
        with pytest.raises(Exception, match="injected fault"):
            PipelineRun(spark, wd).stage("s", build, "B", metrics_key="k")
    assert os.path.isdir(_live(wd, "s"))
    assert rerun(old, "A") == list(range(10))
    assert rerun(new, "B") == [100, 101, 102]
    _one_live_version(wd)


def test_run_pipeline_recovers_from_a_killed_nodes_flip(spark, tmp_path, monkeypatch):
    """A recompute killed at the ``kgx_nodes`` manifest flip leaves the
    last committed KG live: re-runs with either the old or the killed
    run's parameters return the nodes and edges of uninterrupted runs, and
    after each clean run every stage directory holds one version."""
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun

    def kg(work_dir, seed):
        out = run_pipeline(spark, work_dir, n_docs=30, seed=seed)
        got = tuple(sorted(map(tuple, out[t].collect())) for t in ("nodes", "edges"))
        _one_live_version(work_dir)
        return got

    wd = str(tmp_path / "wd")
    want_old = kg(wd, 1)
    want_new = kg(str(tmp_path / "uninterrupted"), 2)
    old_nodes = PipelineRun(spark, wd).manifest["kgx_nodes"]
    save = PipelineRun._save_manifest

    def kill_nodes_flip(run):
        if run.manifest["kgx_nodes"]["fingerprint"] != old_nodes["fingerprint"]:
            _boom()
        save(run)

    with monkeypatch.context() as m:
        m.setattr(PipelineRun, "_save_manifest", kill_nodes_flip)
        with pytest.raises(RuntimeError, match="injected fault"):
            run_pipeline(spark, wd, n_docs=30, seed=2)
    assert PipelineRun(spark, wd).manifest["kgx_nodes"] == old_nodes
    assert kg(wd, 1) == want_old
    assert kg(wd, 2) == want_new


def test_run_pipeline_manifest_matches_snapshots(spark, tmp_path):
    """For every stage of a run: manifest rows equal a Spark count of the
    snapshot, the reopened schema equals the inferred one, and the
    footer lineage equals Spark's per-file aggregates. The committed
    triples equal the pure-Python reference over the corpus's en docs."""
    from collections import Counter

    from kg_microbe_merge_spark.functions.extract import extract_text_py
    from kg_microbe_merge_spark.functions.triples import extract_triples_py
    from kg_microbe_merge_spark.plans.pipeline import OUTPUT_STAGES, PipelineRun

    wd = str(tmp_path / "run")
    out = run_pipeline(spark, wd, n_docs=60, seed=7)
    run = PipelineRun(spark, wd)
    keys = {"corpus": "url", "triples": "subj", "linked": "subj",
            "components": "node", "canonical_triples": "subj",
            "kgx_edges": "subject", "kgx_nodes": "id"}
    assert set(run.manifest) == set(keys)
    for stage, key in keys.items():
        _check_footer_lineage(spark, run, stage, key)
    for name, stage in OUTPUT_STAGES.items():
        inferred = spark.read.parquet(_live(wd, stage)).schema
        assert out[name].schema == inferred, stage
    want = Counter(
        (d["url"], s, p, o, c)
        for d in out["corpus"].collect()
        if d["lang"] == "en"
        for s, p, o, c in extract_triples_py(
            d["text"] if d["text"] is not None else extract_text_py(d["html"])
        )
    )
    assert Counter(map(tuple, out["triples"].collect())) == want and want


def _leaf_classes(df) -> list[str]:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_stage_frames_scan_no_python_rdd(spark, tmp_path, monkeypatch):
    """No stage plan scans a Python RDD: a ``LogicalRDD`` leaf (what
    ``createDataFrame(<list>)`` builds) runs every task that scans it in a
    Python worker, though the job runs no UDF. The dictionary and a
    driver-solved components result are JVM-scanned local relations."""
    from kg_microbe_merge_spark.operators.components import connected_components
    from kg_microbe_merge_spark.plans.pipeline import PipelineRun
    from kg_microbe_merge_spark.sources.corpus import alias_dictionary

    leaves = {}
    stage = PipelineRun.stage

    def capturing_stage(self, name, build, *args, **kwargs):
        def capture():
            df = build()
            leaves[name] = _leaf_classes(df)
            return df

        return stage(self, name, capture, *args, **kwargs)

    monkeypatch.setattr(PipelineRun, "stage", capturing_stage)
    run_pipeline(spark, str(tmp_path / "wd"), n_docs=40, seed=3)
    assert set(leaves) == {
        "corpus", "triples", "linked", "components",
        "canonical_triples", "kgx_edges", "kgx_nodes",
    }
    assert not {n: ls for n, ls in leaves.items() if "LogicalRDD" in ls}, leaves
    assert leaves["components"] == ["LocalRelation"]

    assert _leaf_classes(alias_dictionary(spark)) == ["LocalRelation"]
    edges = spark.createDataFrame([("a", "b"), ("c", None)], "src string, dst string")
    assert _leaf_classes(connected_components(edges)) == ["LocalRelation"]
