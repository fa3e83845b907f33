"""SparkSession factory.

Local sandbox runs single-JVM ``local[N]``; the same config block is what
we would submit to a 1000-executor cluster — AQE (runtime partition
coalescing + skew-join splitting), Arrow for every pandas UDF, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.

A local session's JVM starts from a static Application Class-Data Sharing
archive (AppCDS, JEP 310) when one exists, which takes about 4.5 s off
each session start: the classes Spark loads at start-up are mapped from
``~/.cache/kg_microbe_merge_spark/cds/<key>.jsa`` instead of being read
from the jars and verified. The key covers the Java home and version, the
Spark version, the ``$SPARK_HOME/jars`` listing (names, sizes, mtimes),
and the session's ``spark.driver.memory``, ``spark.driver.extraJavaOptions``
and ``spark.driver.extraClassPath``: a heap over 32 GB turns compressed
oops off, and the JVM silently rejects an archive dumped with them on or
for another classpath.

The first session per key records the classes its JVM loads
(``-XX:DumpLoadedClassList``, no measurable cost). At interpreter exit,
after its JVM has exited, it runs ``java -Xshare:dump`` (~30 s, output
captured) and publishes the archive with one ``os.replace``. One process
per key records at a time (``flock``); the others start as before. A
dump that fails leaves its output in ``<key>.log``, and that key is not
recorded again. CDS refuses a classpath that holds a non-empty directory,
and the launcher puts the Spark conf directory first, so while the JVM
launches ``SPARK_CONF_DIR`` points at an empty ``<cache>/conf/``. CDS
stays off when the conf directory holds anything but ``*.template``
files, or when the home directory is not writable. An archive that kills
the JVM before its gateway is up is deleted, and the session launches
again without it; such a crash writes its ``hs_err_pid<pid>.log`` into
the cache directory, not the caller's cwd. An archive the JVM refuses
without crashing (a truncated file) leaves it with no class-data sharing
at all: after each start from an archive the session reads the JVM's
``UseSharedSpaces`` flag over py4j (no Spark job) and deletes an archive
it reads ``false`` for, so the next session of the key records a new
one. Deleting ``~/.cache/kg_microbe_merge_spark/cds/`` resets all of it.

A local session that launches its JVM also reads and writes ``file:``
paths through ``kgspark.NioLocalFileSystem`` (``jvm/``). Without
``libhadoop``, which pip ``pyspark`` lacks, Hadoop's local filesystem
forks ``chmod`` (~3 ms of CPU) for each file and directory it creates;
this one sets the same modes through ``java.nio`` and writes no ``.crc``
sidecars (parquet pages carry their own CRCs). ``javac`` builds it once
into ``~/.cache/kg_microbe_merge_spark/jvm/<key>.jar``, keyed by the
source, the Java ``release`` file and the ``hadoop-client-api`` jar's
name and size; a failed build leaves ``<key>.log`` and is not retried.
The jar follows the caller's ``spark.driver.extraClassPath``; a caller's
``spark.hadoop.fs.file.impl`` wins. Without ``javac``, after a failed
build, with an unwritable home, or on a JVM already up (a later session,
``spark-submit``), the session keeps Hadoop's filesystem. Deleting
``~/.cache/kg_microbe_merge_spark/`` resets the jar and the archives.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

#: the driver JVM's options: the caller's, then the class-data flags
_JAVA_OPTS = "spark.driver.extraJavaOptions"
#: the driver JVM's classpath head: the caller's, then the filesystem jar
_CLASSPATH = "spark.driver.extraClassPath"
#: ``[cds]`` warnings otherwise go to the JVM's stdout
_CDS_QUIET = "-Xlog:cds*=off"
#: the flag that starts a JVM from a class-data archive
_ARCHIVE = "-XX:SharedArchiveFile"


def get_spark(
    app_name: str = "kg_microbe_merge_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults.

    At cluster scale the only things that change are ``master`` and the
    shuffle-partition count (≈ 2-3× total cores); every other knob here is
    size-independent policy.
    """
    spark = _start(_conf(app_name, master, shuffle_partitions, extra_conf))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _conf(
    app_name: str,
    master: str | None,
    shuffle_partitions: int | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """The session conf behind :func:`get_spark`; starts nothing."""
    # SPARK_GRAFT_CPUS is a deployment override; by default use the CPUs
    # this process may run on
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cores}]")
    shuffle = shuffle_partitions or cores
    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # File-scan split sizing: guarantee ≥4 waves of scan tasks per
        # core. Spark's default bin-packing targets bytesPerCore =
        # total/defaultParallelism, which at parallelism N packs the
        # whole input into ~N splits — ONE ragged wave whose slowest
        # partition sets the stage wall (measured: local[8] read a
        # 256-file corpus as 11 splits → 5.4/8 cores busy; local[32] as
        # 32 splits → 24.9/32). Four-plus waves give the scheduler room
        # to rebalance, which is also the right shape on a 1000-executor
        # cluster. (Affordable only because workerenv removed the
        # ~0.25 s/task Python-worker zip-rescan tax.)
        "spark.sql.files.minPartitionNum": str(4 * int(shuffle)),
    }
    extra = extra_conf or {}
    if master.startswith("local"):
        extra = _local_worker_conf(extra)
    return {**conf, **extra}


def _local_worker_conf(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the Python-worker settings of a one-host session.

    The workers fork from :mod:`worker_daemon`, which installs the
    ``workerenv`` zip-cache patch before the first fork, so no task
    re-reads ``pyspark.zip``. The daemon and every UDF need the package
    importable in the workers whatever the driver's cwd, so the directory
    holding it is appended to the workers' ``PYTHONPATH`` after any
    caller-set entries. Non-local masters keep ``pyspark.daemon``: their
    workers get the package from ``--py-files`` only once a task runs,
    and are patched when it is imported (``__init__``).
    """
    from kg_microbe_merge_spark import worker_daemon

    key = "spark.executorEnv.PYTHONPATH"
    paths = [p for p in conf.get(key, "").split(os.pathsep) if p]
    home = str(Path(__file__).resolve().parent.parent)
    if home not in paths:
        paths.append(home)
    return {
        "spark.python.daemon.module": worker_daemon.__name__,
        **conf,
        key: os.pathsep.join(paths),
    }


def _start(conf: dict[str, str]) -> SparkSession:
    """``getOrCreate`` on ``conf``. A local session that launches its JVM
    gets the local filesystem jar and starts from its key's class-data
    archive, or records the class list for it (module docstring)."""
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError

    cds = None
    # under spark-submit the JVM is up before Python, and its port is set
    if (conf["spark.master"].startswith("local") and SparkContext._gateway is None
            and "PYSPARK_GATEWAY_PORT" not in os.environ):
        conf = _local_fs_conf(conf)
        cds = _ClassData.open(conf)
    if cds is None:
        return SparkSession.builder.config(map=conf).getOrCreate()
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = str(cds.conf_dir)
    try:
        spark = SparkSession.builder.config(map=cds.conf).getOrCreate()
    except PySparkRuntimeError as e:
        # an archive with corrupt core regions kills the JVM (SIGSEGV or
        # SIGBUS) before the gateway is up, even under -Xshare:auto
        if e.getCondition() != "JAVA_GATEWAY_EXITED" or cds.classlist:
            raise
        cds.archive.unlink(missing_ok=True)
        return SparkSession.builder.config(map=conf).getOrCreate()
    finally:
        if conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = conf_dir
    if cds.classlist:
        cds.dump_at_exit(spark)
    elif not cds.mapped(spark):
        # refused without a crash (a truncated file): the JVM then maps
        # no archive at all, so let the next session record a new one
        cds.archive.unlink(missing_ok=True)
    return spark


def _java_home() -> Path | None:
    """The Java home the launcher runs: ``$JAVA_HOME``, else ``java`` on
    ``PATH``."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return Path(java).resolve().parent.parent if java else None


def _spark_home() -> Path:
    from pyspark.find_spark_home import _find_spark_home

    return Path(_find_spark_home())


def _local_fs_conf(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` with the local filesystem that forks no ``chmod``, if its jar builds."""
    jar = _local_fs_jar()
    if jar is None:
        return conf
    return {"spark.hadoop.fs.file.impl": "kgspark.NioLocalFileSystem", **conf,
            _CLASSPATH: os.pathsep.join(filter(None, [conf.get(_CLASSPATH), str(jar)]))}


def _local_fs_jar() -> Path | None:
    """The jar of ``jvm/NioLocalFileSystem.java``, built on first use;
    ``None`` when it cannot be (module docstring)."""
    java = _java_home()
    jars = _spark_home() / "jars"
    api = next(jars.glob("hadoop-client-api-*.jar"), None)
    if java is None or not (java / "bin" / "javac").is_file() or api is None:
        return None
    src = Path(__file__).with_name("jvm") / "NioLocalFileSystem.java"
    release = java / "release"
    key = hashlib.sha256("\n".join([
        src.read_text(), release.read_text() if release.is_file() else "",
        f"{api.name} {api.stat().st_size}",
    ]).encode()).hexdigest()[:20]
    root = Path.home() / ".cache" / "kg_microbe_merge_spark" / "jvm"
    jar, log = root / f"{key}.jar", root / f"{key}.log"
    if jar.is_file():
        return jar
    if log.exists():
        return None
    try:
        root.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=root) as tmp:
            javac = [java / "bin" / "javac", "-nowarn", "-cp", jars / "*", "-d", tmp, src]
            run = subprocess.run(javac, stdin=subprocess.DEVNULL, capture_output=True, timeout=300)
            if run.returncode != 0:
                log.write_bytes(run.stdout + run.stderr)
                return None
            with zipfile.ZipFile(built := Path(tmp, "fs.jar"), "w") as z:
                for c in Path(tmp).rglob("*.class"):
                    z.write(c, c.relative_to(tmp).as_posix())
            os.replace(built, jar)
    except (OSError, subprocess.SubprocessError):
        return None
    return jar


def _cds_key(conf: dict[str, str]) -> str | None:
    """The hash of what a class-data archive is valid for: the JVM, the
    Spark jars, and the driver's heap size, options and classpath head;
    ``None`` without a Java home."""
    import pyspark

    java = _java_home()
    if java is None:
        return None
    release = java / "release"
    parts = [
        str(java),
        release.read_text() if release.is_file() else "",
        pyspark.__version__,
        conf["spark.driver.memory"],
        conf.get(_JAVA_OPTS, ""),
        conf.get(_CLASSPATH, ""),
    ]
    with os.scandir(_spark_home() / "jars") as jars:
        parts += sorted(
            f"{j.name} {j.stat().st_size} {j.stat().st_mtime_ns}" for j in jars
        )
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:20]


class _ClassData:
    """The class-data archive of one local session's key. ``conf`` is the
    session conf with the JVM flags appended; ``classlist`` is set when
    this process records the class list and holds the key's lock."""

    def __init__(self, conf: dict[str, str], root: Path, key: str) -> None:
        self.root, self.key = root, key
        self.conf_dir = root.parent / "conf"
        self.archive = root / f"{key}.jsa"
        self.java = _java_home() / "bin" / "java"
        self.memory = conf["spark.driver.memory"]
        self.options = conf.get(_JAVA_OPTS, "")
        self.classlist: Path | None = None
        self.lock: int | None = None
        self.pid = os.getpid()
        self.conf = dict(conf)

    def _use(self, flag: str, path: Path) -> None:
        opts = f"{self.options} {_CDS_QUIET} {flag}={shlex.quote(str(path))}"
        if flag == _ARCHIVE:
            # a corrupt archive can crash the JVM; keep its log out of the cwd
            opts += f" -XX:ErrorFile={shlex.quote(str(self.root / 'hs_err_pid%p.log'))}"
        self.conf[_JAVA_OPTS] = opts.strip()

    @staticmethod
    def mapped(spark: SparkSession) -> bool:
        """Whether ``spark``'s JVM shares class data: ``False`` when it
        refused its archive and mapped none. Reads one VM flag, no job."""
        jvm = spark.sparkContext._jvm
        bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
        )
        return bean.getVMOption("UseSharedSpaces").getValue() == "true"

    @classmethod
    def open(cls, conf: dict[str, str]) -> _ClassData | None:
        """The archive to start from, or this process's claim to record
        it; ``None`` when CDS is off for the session or another process
        is recording its key."""
        root = Path.home() / ".cache" / "kg_microbe_merge_spark" / "cds"
        try:
            real = Path(os.environ.get("SPARK_CONF_DIR") or _spark_home() / "conf")
            if real.is_dir() and any(not n.endswith(".template") for n in os.listdir(real)):
                return None
            key = _cds_key(conf)
            if key is None:
                return None
            root.mkdir(parents=True, exist_ok=True)
            (root.parent / "conf").mkdir(exist_ok=True)
            cds = cls(conf, root, key)
            if cds.archive.exists():
                cds._use(_ARCHIVE, cds.archive)
                return cds
            if (root / f"{key}.log").exists():
                return None
            lock = os.open(root / f"{key}.lock", os.O_RDWR | os.O_CREAT, 0o644)
        except OSError:
            return None
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            os.close(lock)
            return None
        if cds.archive.exists():  # published since the check above
            os.close(lock)
            cds._use(_ARCHIVE, cds.archive)
            return cds
        # left by a recording process that died before its dump
        for stale in [*root.glob(f"{key}.*.classlist"), *root.glob(f"{key}.*.tmp")]:
            stale.unlink(missing_ok=True)
        cds.lock = lock
        cds.classlist = root / f"{key}.{cds.pid}.classlist"
        cds._use("-XX:DumpLoadedClassList", cds.classlist)
        return cds

    def dump_at_exit(self, spark: SparkSession) -> None:
        """Dump the archive at interpreter exit, from the classpath of
        ``spark``'s JVM (read now: it runs no Spark job)."""
        classpath = spark.sparkContext._jvm.System.getProperty("java.class.path")
        atexit.register(self._dump, classpath)

    def _dump(self, classpath: str) -> None:
        """Stop the session, wait for its JVM to exit (which completes the
        class list), then dump and publish the archive."""
        from pyspark import SparkContext

        if os.getpid() != self.pid:  # a forked child inherited the hook
            return
        tmp = self.root / f"{self.key}.{self.pid}.tmp"
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
            proc = SparkContext._gateway.proc
            if not proc.stdin.closed:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                return
            cmd = [
                str(self.java), "-Xshare:dump",
                f"-XX:SharedClassListFile={self.classlist}",
                f"-XX:SharedArchiveFile={tmp}",
                f"-Xmx{self.memory}", *shlex.split(self.options),
                "-cp", classpath,
            ]
            run = subprocess.run(
                cmd, cwd=self.root, stdin=subprocess.DEVNULL,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=900,
            )
            if run.returncode == 0:
                os.replace(tmp, self.archive)
            else:
                (self.root / f"{self.key}.log").write_bytes(run.stdout)
        except Exception as e:
            # the interpreter is exiting: report, and leave the key to the
            # next session, which records again
            print(f"kg_microbe_merge_spark: no class-data archive dumped: {e!r}",
                  file=sys.stderr)
        finally:
            tmp.unlink(missing_ok=True)
            self.classlist.unlink(missing_ok=True)
            os.close(self.lock)
