"""Python-worker environment repair: an mtime-aware
``zipimport.zipimporter.invalidate_caches``.

PySpark's worker loop calls ``importlib.invalidate_caches()`` once per
task (``pyspark/worker_util.py`` ``setup_spark_files``). On Python 3.11,
``zipimporter.invalidate_caches`` is UNCONDITIONAL — it re-reads the
whole zip central directory every call — and Spark puts ``pyspark.zip``
(3.5 MB, ~1000 entries) plus ``py4j-*-src.zip`` on every worker's
``sys.path``. The result is a fixed ~0.25 s of pure zip-directory
parsing **per task per worker**, measured with an in-worker stack
sampler on this box: 256 one-row pandas-UDF tasks on local[8] took
9.7 s, with >60 % of worker main-thread samples inside
``zipimport._read_directory``.

That per-task constant is invisible at partitions ≈ cores but makes
fine-grained partitioning (the thing that fixes wave raggedness and
stragglers at scale) pay a ~0.5 s/task tax across the pandas-UDF
stages, which at 4M docs turned a 93 s local[8] pipeline into 215 s
when the scan went from 11 to 256 splits.

Fix: wrap ``zipimporter.invalidate_caches`` so it only falls through to
the real re-read when the archive's (mtime, size) changed — the same
check newer CPython performs natively (the 3.11 behavior is simply the
pre-optimization code). Semantics are preserved: a genuinely updated
archive (new mtime or size) is still re-read; an untouched one is not.
With the patch the same 256-task job runs in 1.8 s (5.4×).

The patch is installed at package import time, and a local session
(``session.get_spark`` with a ``local`` master) starts its Python-worker
daemon from :mod:`kg_microbe_merge_spark.worker_daemon`, which imports
the package and stamps its importers once before the first fork. Every
worker is therefore patched from its first task, including the workers
that never unpickle package code: a frame built with
``spark.createDataFrame(<list>)`` is a ``PythonRDD``
(``sc.parallelize``), and each task that scans it runs in a Python worker
that only deserializes rows. Measured on 4 vCPUs (local[4]), warm, one
``groupBy`` job over a 1,050-row list-built frame, process-tree CPU:
1.4–2.2 CPU-s with the stock daemon, 0.72–1.07 CPU-s with the package
daemon. On the ``kg_incremental`` benchmark, whose folds scan list-built
deltas, ``job_cpu_s`` fell from a median of 5.95 to 3.25 s (10 pairs).

Under a non-local master the workers start from ``pyspark.daemon`` (the
package only arrives with a task, through ``--py-files``), so the patch
lands when a worker first unpickles a UDF defined in this package, which
imports the package. It is idempotent and safe where pyspark itself is only importable from the
zip (real clusters): the zipimporter stays on ``sys.path`` and still
serves imports — only the redundant per-task directory re-read is
skipped.

A patched worker still costs more than no worker: the same rows built
from an Arrow table scan in 0.38–0.57 CPU-s. Driver-built frames
therefore go through :func:`local_relation`: Spark keeps an Arrow-built
frame under ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB)
as a ``LocalRelation`` and scans it in the JVM, with no Python worker.
"""

from __future__ import annotations

import os
import zipimport
from collections.abc import Iterable

_STAMP_ATTR = "_kg_zip_stamp"


def patch_zipimporter_invalidate_caches() -> bool:
    """Install the mtime-aware wrapper. Returns True if newly installed,
    False if it was already in place (idempotent)."""
    zi = zipimport.zipimporter
    if getattr(zi.invalidate_caches, "_kg_mtime_aware", False):
        return False
    orig = zi.invalidate_caches

    def invalidate_caches(self):  # noqa: ANN001 - matches stdlib signature
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime, st.st_size)
        except OSError:
            key = None
        if key is None or getattr(self, _STAMP_ATTR, None) != key:
            # archive changed (or unstat-able): defer to the real re-read
            try:
                setattr(self, _STAMP_ATTR, key)
            except AttributeError:
                pass  # exotic zipimporter subclass with __slots__
            orig(self)

    invalidate_caches._kg_mtime_aware = True  # type: ignore[attr-defined]
    invalidate_caches.__wrapped__ = orig  # type: ignore[attr-defined]
    zi.invalidate_caches = invalidate_caches  # type: ignore[method-assign]
    return True


def local_relation(spark, rows: Iterable[tuple], schema):
    """``spark.createDataFrame(rows, schema)`` built from a ``pyarrow``
    table, so a frame under the local-relation threshold is a
    ``LocalRelation`` scanned in the JVM (see the module docstring).
    ``schema`` is a ``StructType`` or a DDL string; the frame keeps its
    types and nullability. Above the threshold Spark splits the table
    into ``arrow.maxRecordsPerBatch``-row partitions, which are coalesced
    to the default parallelism: 2M two-id rows written to parquet on 4
    vCPUs took 6.2–7.5 s and 14.9–19.2 CPU-s as 200 partitions (200
    files), 2.9–3.0 s and 4.9–5.2 CPU-s as 4."""
    # imported here: every Python worker imports this module
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    df = spark.createDataFrame(table, schema)
    return df if df.isLocal() else df.coalesce(spark.sparkContext.defaultParallelism)
