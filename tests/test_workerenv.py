"""The mtime-aware zipimporter patch: skips the re-read when the archive
is unchanged, still re-reads when it changes, and is applied on the
Python workers (not just the driver): a local session forks every worker
from a daemon that already holds the patch."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

import kg_microbe_merge_spark  # noqa: F401  - applies the patch on import
from kg_microbe_merge_spark import session, worker_daemon
from kg_microbe_merge_spark.workerenv import (
    patch_zipimporter_invalidate_caches,
)

HOME = str(Path(kg_microbe_merge_spark.__file__).resolve().parent.parent)


def test_patch_is_applied_and_idempotent():
    assert getattr(
        zipimport.zipimporter.invalidate_caches, "_kg_mtime_aware", False
    )
    # second call is a no-op
    assert patch_zipimporter_invalidate_caches() is False


def _make_zip(path: str, payload: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in payload.items():
            z.writestr(name, body)


def test_unchanged_archive_skips_reread(tmp_path):
    zp = str(tmp_path / "mod.zip")
    _make_zip(zp, {"m_one.py": "X = 1\n"})
    zi = zipimport.zipimporter(zp)
    files_before = zi._files
    zi.invalidate_caches()
    first = zi._files  # first call stamps + re-reads (no stamp yet)
    zi.invalidate_caches()
    zi.invalidate_caches()
    # unchanged archive: the directory dict object is NOT rebuilt
    assert zi._files is first
    assert files_before == first


def test_changed_archive_is_reread(tmp_path):
    zp = str(tmp_path / "mod.zip")
    _make_zip(zp, {"m_one.py": "X = 1\n"})
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    _make_zip(zp, {"m_one.py": "X = 1\n", "m_two.py": "Y = 2\n"})
    # force an mtime difference even on coarse-granularity filesystems
    st = os.stat(zp)
    os.utime(zp, (st.st_atime, st.st_mtime + 2))
    zi.invalidate_caches()
    assert any("m_two.py" in k for k in zi._files)


def test_zip_import_still_works_after_patch(tmp_path):
    zp = str(tmp_path / "lib.zip")
    _make_zip(zp, {"kg_patch_probe_mod.py": "VALUE = 41\n"})
    sys.path.insert(0, zp)
    try:
        importlib.invalidate_caches()
        import kg_patch_probe_mod  # noqa: PLC0415

        assert kg_patch_probe_mod.VALUE == 41
    finally:
        sys.path.remove(zp)
        sys.modules.pop("kg_patch_probe_mod", None)
        importlib.invalidate_caches()


@pytest.mark.usefixtures()
def test_patch_reaches_python_workers(spark):
    """A worker that imports this package reports the patch active."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.BooleanType())
    def patched(s: pd.Series) -> pd.Series:
        import zipimport as _zi  # noqa: PLC0415

        import kg_microbe_merge_spark  # noqa: F401,PLC0415

        flag = getattr(
            _zi.zipimporter.invalidate_caches, "_kg_mtime_aware", False
        )
        return pd.Series([bool(flag)] * len(s))

    out = (
        spark.range(0, 8, 1, 4)
        .select(patched(F.col("id")).alias("ok"))
        .agg(F.min("ok").alias("all_ok"))
        .collect()[0]
        .all_ok
    )
    assert out is True


_FRESH_SESSION = textwrap.dedent("""
    import sys
    sys.path.insert(0, {home!r})

    from kg_microbe_merge_spark.functions.triples import triples_from_corpus
    from kg_microbe_merge_spark.session import get_spark
    from kg_microbe_merge_spark.sources.corpus import generate_corpus

    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={{"spark.driver.memory": "1g"}})

    def probe(_):
        import zipimport

        zips = [
            imp for imp in sys.path_importer_cache.values()
            if isinstance(imp, zipimport.zipimporter)
            and imp.archive.endswith("pyspark.zip")
        ]
        return (
            getattr(zipimport.zipimporter.invalidate_caches,
                    "_kg_mtime_aware", False),
            bool(zips) and all(
                getattr(z, "_kg_zip_stamp", None) is not None for z in zips
            ),
        )

    print("PROBE", spark.sparkContext.parallelize(range(4), 4).map(probe).collect())
    rows = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "n int, k string")
    print("LIST", sorted(tuple(r) for r in rows.groupBy("k").count().collect()))
    print("TRIPLES", triples_from_corpus(generate_corpus(spark, 10, 1)).count())
    spark.stop()
""")


def test_fresh_local_workers_start_patched(tmp_path):
    """A fresh session run from outside the checkout: workers that never
    import the package (a plain Python-RDD map) are patched from their
    first task, with the ``pyspark.zip`` importer already stamped, and
    list-frame scans and package UDFs run. A fresh process, because the
    shared test session reuses workers that have imported the package."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", _FRESH_SESSION.format(home=HOME)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    out = dict(
        line.split(" ", 1) for line in run.stdout.splitlines()
        if line.startswith(("PROBE ", "LIST ", "TRIPLES "))
    )
    assert out.get("PROBE") == str([(True, True)] * 4), run.stderr[-4000:]
    assert out.get("LIST") == str([("a", 2), ("b", 1)]), run.stderr[-4000:]
    assert run.returncode == 0, run.stderr[-4000:]
    assert int(out["TRIPLES"]) > 0
    assert "found in sys.modules" not in run.stderr


def test_only_local_masters_fork_workers_from_the_package_daemon(monkeypatch):
    """No JVM: the builder ``get_spark`` uses sets the daemon module and
    the workers' ``PYTHONPATH`` for local masters only, keeping a
    caller-set ``PYTHONPATH`` ahead of the package's directory."""
    key = "spark.executorEnv.PYTHONPATH"
    caller = {key: os.pathsep.join(["deps/a", "deps/b"])}

    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    opts = session._builder("t", None, None, caller)._options
    assert opts["spark.master"] == "spark://head:7077"
    assert "spark.python.daemon.module" not in opts
    assert opts[key] == caller[key]

    for master in ("local", "local[4]"):
        monkeypatch.setenv("SPARK_MASTER", master)
        opts = session._builder("t", None, None, caller)._options
        assert opts["spark.master"] == master
        assert opts["spark.python.daemon.module"] == worker_daemon.__name__
        assert opts[key].split(os.pathsep) == ["deps/a", "deps/b", HOME]
    opts = session._builder("t", "local[2]", None, None)._options
    assert opts[key] == HOME


def test_local_relation_keeps_rows_types_and_nullability(spark):
    from pyspark.sql import types as T

    from kg_microbe_merge_spark.workerenv import local_relation

    schema = T.StructType([
        T.StructField("id", T.StringType(), False),
        T.StructField("n", T.IntegerType(), True),
        T.StructField("x", T.DoubleType(), True),
    ])
    rows = [("a", 1, 0.5), ("b", None, None), ("a", 1, 0.5)]
    df = local_relation(spark, rows, schema)
    assert df.isLocal() and df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_relation(spark, [], "r string")
    assert empty.isLocal() and empty.collect() == []
    assert empty.schema.simpleString() == "struct<r:string>"


def test_local_relation_above_threshold_is_coalesced(spark):
    """Above ``arrow.localRelationThreshold`` the Arrow table becomes one
    partition per ``maxRecordsPerBatch`` rows; those are coalesced to the
    default parallelism."""
    from kg_microbe_merge_spark.workerenv import local_relation

    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        rows = [(f"n{i:06d}", i) for i in range(50_000)]
        df = local_relation(spark, rows, "node string, i long")
        assert not df.isLocal()
        assert df.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
        assert sorted(tuple(r) for r in df.collect()) == rows
    finally:
        spark.conf.set(key, old)
