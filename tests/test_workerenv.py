"""The mtime-aware zipimporter patch: skips the re-read when the archive
is unchanged, still re-reads when it changes, and is applied on the
Python workers (not just the driver): a local session forks every worker
from a daemon that already holds the patch. Also the local session's
JVM: its conf, the class-data archive it starts from or records, and the
local filesystem it writes tables through."""

from __future__ import annotations

import importlib
import os
import shutil
import subprocess
import sys
import textwrap
import time
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


_CDS_SESSION = textwrap.dedent("""
    import os
    import sys
    from pathlib import Path

    sys.path.insert(0, {home!r})

    from pyspark import SparkContext

    from kg_microbe_merge_spark.session import get_spark


    def tree(root):
        kids = {{}}
        for d in os.listdir("/proc"):
            try:
                stat = Path("/proc", d, "stat").read_text()
            except OSError:
                continue
            if d.isdigit():
                ppid = int(stat.rsplit(")", 1)[1].split()[1])
                kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            out.append(todo.pop())
            todo += kids.get(out[-1], [])
        return out


    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={{"spark.driver.memory": "1g"}})
    print("SUM", spark.sparkContext.parallelize(range(4), 2).map(lambda x: x + 1).sum())
    proc = SparkContext._gateway.proc
    maps = Path(f"/proc/{{proc.pid}}/maps").read_text().split()
    print("MAPPED", sorted({{m for m in maps if m.endswith(".jsa")}}))
    print("PIDS", tree(proc.pid))
    spark.stop()
    proc.stdin.close()
    proc.wait()
    # a shorter class list keeps the dump at exit short
    for classlist in Path.home().glob(".cache/kg_microbe_merge_spark/cds/*.classlist"):
        lines = classlist.read_text().splitlines(keepends=True)
        classlist.write_text("".join(lines[:2000]))
""")


def _cds_session(home: Path) -> dict[str, str]:
    """Run one local session in a fresh interpreter whose home is
    ``home``, check that nothing it started is left running, and return
    what it printed."""
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_CONF_DIR")}
    run = subprocess.run(
        [sys.executable, "-c", _CDS_SESSION.format(home=HOME)],
        cwd=home, env={**env, "HOME": str(home)}, capture_output=True, text=True,
        timeout=600,
    )
    out = dict(
        line.split(" ", 1) for line in run.stdout.splitlines()
        if line.startswith(("SUM ", "MAPPED ", "PIDS "))
    )
    assert run.returncode == 0 and out.get("SUM") == "10", run.stderr[-4000:]
    assert "[cds" not in run.stdout
    # the JVM was waited for; its Python workers exit on their own signal
    left = [int(p) for p in out["PIDS"].strip("[]").split(", ")]
    deadline = time.monotonic() + 10
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _running(p)]
    assert not left
    # nothing else names the home: no JVM and no dump process
    named = []
    for d in os.listdir("/proc"):
        try:
            if d.isdigit() and str(home) in Path("/proc", d, "cmdline").read_text():
                named.append(d)
        except OSError:
            continue
    assert not named
    return out


def _running(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


@pytest.fixture(scope="module")
def cds_home(tmp_path_factory):
    """A home whose cache holds the archive the first session recorded,
    dumped at its exit and published."""
    home = tmp_path_factory.mktemp("cds_home")
    _cds_session(home)
    return home


def test_second_session_starts_from_the_class_data_archive(cds_home):
    """The first session records and publishes; a fresh second one maps
    the archive, prints no ``[cds]`` line, and leaves nothing running."""
    files = sorted(p.name for p in _cds_dir(cds_home).iterdir())
    assert [f.rsplit(".", 1)[1] for f in files] == ["jsa", "lock"], files
    archive = str(_cds_dir(cds_home) / files[0])
    out = _cds_session(cds_home)
    assert out["MAPPED"] == str([archive])


def test_damaged_archive_falls_back_to_a_plain_start(cds_home):
    """A truncated archive is refused by the JVM; one with garbage in its
    core regions kills it before the gateway is up, and the crash log
    stays out of the cwd. Both sessions start and run, and both archives
    are deleted."""
    archive = next(_cds_dir(cds_home).glob("*.jsa"))
    good = archive.read_bytes()
    archive.unlink()
    archive.write_bytes(good[: len(good) // 4])
    out = _cds_session(cds_home)
    assert str(archive) not in out["MAPPED"]
    assert not archive.exists()

    archive.write_bytes(good[:1 << 20] + b"\xff" * (1 << 20) + good[2 << 20:])
    out = _cds_session(cds_home)
    assert str(archive) not in out["MAPPED"]
    assert not archive.exists()
    assert not list(cds_home.glob("hs_err_pid*.log"))


def test_only_local_masters_fork_workers_from_the_package_daemon(monkeypatch):
    """No JVM: the conf ``get_spark`` builds sets the daemon module and
    the workers' ``PYTHONPATH`` for local masters only, keeping a
    caller-set ``PYTHONPATH`` ahead of the package's directory."""
    key = "spark.executorEnv.PYTHONPATH"
    caller = {key: os.pathsep.join(["deps/a", "deps/b"])}

    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    opts = session._conf("t", None, None, caller)
    assert opts["spark.master"] == "spark://head:7077"
    assert "spark.python.daemon.module" not in opts
    assert opts[key] == caller[key]

    for master in ("local", "local[4]"):
        monkeypatch.setenv("SPARK_MASTER", master)
        opts = session._conf("t", None, None, caller)
        assert opts["spark.master"] == master
        assert opts["spark.python.daemon.module"] == worker_daemon.__name__
        assert opts[key].split(os.pathsep) == ["deps/a", "deps/b", HOME]
    opts = session._conf("t", "local[2]", None, None)
    assert opts[key] == HOME


_TABLE_SESSION = textwrap.dedent("""
    import os
    import sys

    sys.path.insert(0, {home!r})

    from kg_microbe_merge_spark.session import get_spark

    os.umask(0o022)
    spark = get_spark(master="local[2]", shuffle_partitions=2,
                      extra_conf={{"spark.driver.memory": "1g"}})
    rows = spark.range(12).selectExpr("id", "char(97 + id % 3) AS k")
    rows.write.partitionBy("k").parquet({out!r})
    back = spark.read.parquet({out!r}).select("id", "k").collect()
    print("ROWS", sorted(tuple(r) for r in back))
    spark.stop()
""")


def test_local_tables_are_written_without_forking_chmod(tmp_path):
    """A fresh local session writes a partitioned table and forks no
    ``chmod`` (one first on ``PATH`` logs every call). The rows read back;
    files are 0644 and directories 0755, the modes Hadoop's default umask
    gives; ``_SUCCESS`` is written and no ``.crc`` file is. A real conf
    file turns class-data sharing off, so no archive is dumped at exit."""
    shim, log, out = tmp_path / "shim", tmp_path / "chmod.log", tmp_path / "table"
    shim.mkdir()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    (shim / "chmod").chmod(0o755)
    (conf := tmp_path / "conf").mkdir()
    (conf / "spark-defaults.conf").write_text("")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(HOME=str(tmp_path), SPARK_CONF_DIR=str(conf),
               PATH=f"{shim}{os.pathsep}{env['PATH']}")
    run = subprocess.run(
        [sys.executable, "-c", _TABLE_SESSION.format(home=HOME, out=str(out))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    rows = [line.split(" ", 1)[1] for line in run.stdout.splitlines()
            if line.startswith("ROWS ")]
    assert rows == [str([(i, "abc"[i % 3]) for i in range(12)])]
    assert not log.exists(), log.read_text()
    written = [out, *out.rglob("*")]
    assert {p.name for p in written if p.suffix == ".parquet"}
    assert (out / "_SUCCESS").is_file()
    assert not [p for p in written if p.name.endswith(".crc")]
    modes = {p.relative_to(tmp_path): oct(p.stat().st_mode & 0o7777) for p in written}
    assert modes == {p.relative_to(tmp_path): "0o755" if p.is_dir() else "0o644"
                     for p in written}


JAVA_OPTS = "spark.driver.extraJavaOptions"
CLASSPATH = "spark.driver.extraClassPath"
FILE_FS = "spark.hadoop.fs.file.impl"


@pytest.fixture
def launched(monkeypatch, tmp_path):
    """No JVM yet, a home under ``tmp_path``, and a ``getOrCreate`` that
    records the options and ``SPARK_CONF_DIR`` of each launch instead of
    starting a JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    seen = []

    def get_or_create(builder):
        seen.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    return seen


@pytest.fixture
def launches(launched, monkeypatch):
    """``launched`` for the class-data tests: no local filesystem jar, and
    every start from an archive reads as sharing it."""
    monkeypatch.setattr(session, "_local_fs_jar", lambda: None)
    monkeypatch.setattr(session._ClassData, "mapped", staticmethod(lambda spark: True))
    return launched


def _cds_dir(home) -> Path:
    return Path(home) / ".cache" / "kg_microbe_merge_spark" / "cds"


@pytest.fixture
def no_cds(launched, monkeypatch):
    """``launched`` with class-data sharing off."""
    monkeypatch.setattr(session._ClassData, "open", classmethod(lambda cls, conf: None))
    return launched


def test_launching_local_sessions_get_the_nio_filesystem(no_cds, tmp_path):
    """A session that launches a local JVM gets the compiled jar after
    the caller's classpath entries, and the filesystem class, unless the
    caller named its own."""
    caller = {CLASSPATH: os.pathsep.join(["deps/a.jar", "deps/b"])}
    conf = session._conf("t", "local[2]", None, caller)
    session._start(conf)
    opts = no_cds[-1][0]
    *head, jar = opts[CLASSPATH].split(os.pathsep)
    assert head == ["deps/a.jar", "deps/b"]
    assert Path(jar).parent == tmp_path / ".cache" / "kg_microbe_merge_spark" / "jvm"
    with zipfile.ZipFile(jar) as z:
        assert "kgspark/NioLocalFileSystem.class" in z.namelist()
    assert opts == {**conf, CLASSPATH: opts[CLASSPATH], FILE_FS: "kgspark.NioLocalFileSystem"}

    own = {**conf, FILE_FS: "org.apache.hadoop.fs.RawLocalFileSystem"}
    session._start(own)
    assert no_cds[-1][0] == {**own, CLASSPATH: opts[CLASSPATH]}


def test_running_jvms_and_cluster_masters_get_no_nio_filesystem(no_cds, tmp_path, monkeypatch):
    """A non-local master, and a session on a JVM that is already up
    (whose classpath is fixed): one this process started, or the one
    ``spark-submit`` started before Python. They start on the conf as
    given."""
    from pyspark import SparkContext

    cluster = session._conf("t", "spark://head:7077", None, None)
    session._start(cluster)
    local = session._conf("t", "local[2]", None, None)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    session._start(local)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    session._start(local)
    assert no_cds == [(cluster, None), (local, None), (local, None)]
    assert not (tmp_path / ".cache").exists()


def test_java_homes_without_javac_get_no_nio_filesystem(no_cds, tmp_path, monkeypatch):
    """A Java home with no ``javac`` (a runtime only) builds no jar, and
    the session starts on the conf as given."""
    (jdk := tmp_path / "jdk" / "bin").mkdir(parents=True)
    (jdk / "java").symlink_to(shutil.which("java"))
    monkeypatch.setenv("JAVA_HOME", str(jdk.parent))
    conf = session._conf("t", "local[2]", None, None)
    session._start(conf)
    assert no_cds == [(conf, None)]


def test_class_data_flags_follow_the_callers_java_options(launches, tmp_path, monkeypatch):
    """No archive: one process records the class list, and a process
    that does not get the key's lock starts without flags. With the
    archive: the JVM starts from it. The caller's options come first."""
    recorded = []
    monkeypatch.setattr(session._ClassData, "dump_at_exit",
                        lambda cds, spark: recorded.append(cds))
    conf = session._conf("t", "local[2]", None,
                         {"spark.driver.memory": "1g", JAVA_OPTS: "-Da=1 -Db=2"})
    key = session._cds_key(conf)
    cds = _cds_dir(tmp_path)
    empty = str(cds.parent / "conf")

    assert session._start(conf) == "session"
    classlist = cds / f"{key}.{os.getpid()}.classlist"
    assert launches[-1] == ({**conf, JAVA_OPTS: (
        f"-Da=1 -Db=2 -Xlog:cds*=off -XX:DumpLoadedClassList={classlist}")}, empty)
    assert [r.classlist for r in recorded] == [classlist]

    session._start(conf)  # the lock is held: a plain start
    assert launches[-1] == (conf, None)
    os.close(recorded[0].lock)

    (cds / f"{key}.jsa").write_bytes(b"")
    session._start(conf)
    assert launches[-1] == ({**conf, JAVA_OPTS: (
        f"-Da=1 -Db=2 -Xlog:cds*=off -XX:SharedArchiveFile={cds / key}.jsa "
        f"-XX:ErrorFile={cds}/hs_err_pid%p.log")}, empty)
    assert len(recorded) == 1


def test_non_local_masters_get_no_class_data_flag(launches, tmp_path):
    conf = session._conf("t", "spark://head:7077", None, {JAVA_OPTS: "-Da=1"})
    (cds := _cds_dir(tmp_path)).mkdir(parents=True)
    (cds / f"{session._cds_key(conf)}.jsa").write_bytes(b"")
    session._start(conf)
    assert launches == [(conf, None)]


def test_real_conf_files_turn_class_data_off(launches, tmp_path, monkeypatch):
    """CDS refuses a non-empty directory on the classpath; a conf
    directory with a real file stays on it, so CDS stays off."""
    real = tmp_path / "conf"
    real.mkdir()
    (real / "spark-env.sh.template").write_text("")
    (real / "spark-defaults.conf").write_text("spark.executor.cores 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(real))
    conf = session._conf("t", "local[2]", None, None)
    session._start(conf)
    assert launches == [(conf, str(real))]
    assert os.environ["SPARK_CONF_DIR"] == str(real)
    assert not _cds_dir(tmp_path).exists()


def test_conf_dir_is_restored_after_launch(launches, tmp_path, monkeypatch):
    """``SPARK_CONF_DIR`` points at the empty cache conf directory only
    while the JVM launches, whether it was set before or not; an archive
    that kills the JVM before its gateway is up is deleted and the
    session launches once more without it."""
    from pyspark.errors import PySparkRuntimeError
    from pyspark.sql import SparkSession

    conf = session._conf("t", "local[2]", None, {"spark.driver.memory": "1g"})
    (cds := _cds_dir(tmp_path)).mkdir(parents=True)
    archive = cds / f"{session._cds_key(conf)}.jsa"
    archive.write_bytes(b"")
    empty = str(cds.parent / "conf")

    session._start(conf)
    assert launches[-1][1] == empty
    assert "SPARK_CONF_DIR" not in os.environ

    templates = tmp_path / "templates"
    templates.mkdir()
    (templates / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))
    session._start(conf)
    assert launches[-1][1] == empty
    assert os.environ["SPARK_CONF_DIR"] == str(templates)

    def exited(builder):
        launches.append((dict(builder._options), os.environ.get("SPARK_CONF_DIR")))
        if "SharedArchiveFile" in builder._options.get(JAVA_OPTS, ""):
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", exited)
    del launches[:]
    assert session._start(conf) == "session"
    assert [JAVA_OPTS in opts for opts, _ in launches] == [True, False]
    assert not archive.exists()
    assert os.environ["SPARK_CONF_DIR"] == str(templates)


def test_class_data_key_covers_heap_and_java_options():
    """A heap over 32 GB turns compressed oops off, and the JVM silently
    rejects an archive dumped with them on or for another classpath: each
    heap, option string and classpath head gets its own key."""
    def key(**extra):
        return session._cds_key(session._conf("t", "local[2]", None, extra))

    one = key(**{"spark.driver.memory": "1g"})
    assert one == key(**{"spark.driver.memory": "1g"})
    assert len({one, key(**{"spark.driver.memory": "48g"}),
                key(**{"spark.driver.memory": "1g", JAVA_OPTS: "-Da=1"}),
                key(**{"spark.driver.memory": "1g", CLASSPATH: "deps/a.jar"})}) == 4


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
