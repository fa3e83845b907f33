"""End-to-end web-KG construction pipeline with checkpoint/resume and
per-partition lineage metrics.

Stages (BASELINE.json north_star), each committed:
  corpus → triples (fused text extraction + SVO, one Arrow hop) →
  linked → components (same_as CC, solved from the alias groups of the
  prior ≥ 0.5 dictionary) → canonical_triples → kgx_edges / kgx_nodes.

The package's one table commit (:meth:`PipelineRun.commit`; the
``streaming`` folds reach it through :func:`publish`): a table is a
directory of immutable versions ``<table>/v<N>/``, and one entry of the
JSON manifest ``_STAGE_MANIFEST.json`` names the live one. A commit
(1) writes the next version in full, (2) flips the entry with one
``os.replace`` of the manifest, then (3) deletes every other version.
Readers resolve the entry, never the bare directory, so a crash before
(2) leaves the old version live and untouched, and one in (3) leaves
stale versions the next commit deletes: the Iceberg metadata-pointer
swap over parquet directories (no Iceberg jar in this image). Version
names are relative to the manifest's directory, so a copied work dir
resumes.

Checkpoint/resume: a stage's entry holds its version, input fingerprint,
row count, schema and wall seconds, which one flip changes together. A
re-run skips stages whose fingerprint matches. The reference's analogue
is the never-enabled ``checkpoint`` config flag (merge_schema.yaml:28-29).

Lineage metrics: each stage version holds the ``_LINEAGE.parquet``
sidecar (a ``_`` name: Spark's reader skips it, pyarrow reads it) with
one row per ``part-*`` file (``partition_id`` = file ordinal, row count,
min/max of the stage key), read from the parquet footers on the driver.
The manifest's row count is the sum of the footer counts and it keeps
the snapshot's schema, so a commit runs no Spark job after its write and
a resumed stage reopens its snapshot without one. The cost is O(files)
footer reads on the driver, which the commit already assumes local.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.linking import link_mentions
from ..functions.triples import triples_from_corpus
from ..operators.components import alias_group_components
from ..operators.merge import (
    edges_merge_provenance,
    infer_category,
    nodes_merge,
)
from ..sources.corpus import alias_dictionary, generate_corpus

MANIFEST_NAME = "_STAGE_MANIFEST.json"
#: the lineage sidecar inside each stage version
LINEAGE_NAME = "_LINEAGE.parquet"
#: the manifest entry of a directory holding one table (:func:`publish`)
SNAPSHOT = "snapshot"

#: ``run_pipeline`` output name -> the stage that commits it
OUTPUT_STAGES = {
    "corpus": "corpus",
    "triples": "triples",
    "linked": "linked",
    "mapping": "components",
    "edges": "kgx_edges",
    "nodes": "kgx_nodes",
}


@dataclass
class PipelineRun:
    """Orchestrates staged execution under ``work_dir`` with resume."""

    spark: SparkSession
    work_dir: str
    manifest: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        os.makedirs(self.work_dir, exist_ok=True)
        self.manifest = _load_manifest(self.work_dir)

    def _save_manifest(self) -> None:
        """A commit's flip: replace the manifest file in one ``os.replace``."""
        mpath = os.path.join(self.work_dir, MANIFEST_NAME)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, mpath)

    def commit(self, name: str, write, table: str | None = None, keep: int = 1) -> str:
        """Commit the next version of table ``name`` (the module
        docstring's three steps) and return its path. ``write(path)``
        writes the version and returns its manifest entry, which gains
        ``version``. ``table`` is the table's directory relative to the
        work dir (default ``name``); ``keep`` is how many committed
        versions stay, newest first."""
        table = name if table is None else table
        live = self.manifest.get(name, {}).get("version")
        n = _version_number(live) + 1 if live else 0
        version = os.path.join(table, f"v{n}")
        path = os.path.join(self.work_dir, version)
        self.manifest[name] = {**write(path), "version": version}
        self._save_manifest()
        _drop_versions(os.path.join(self.work_dir, table), n, keep)
        return path

    def _write_metrics(self, stage: str, version: str, key: str) -> int:
        """Write the lineage sidecar of a stage version from the footers
        of its ``part-*`` files and return the stage's row count. No
        Spark job: one footer read per file on the driver.

        One row per file: ``partition_id`` (file ordinal in path order),
        ``rows`` and ``key_min``/``key_max`` folded over the row groups'
        statistics of ``key``. Nulls are not counted in min/max. A file
        with non-null keys but no min/max in some row group records null
        for both: parquet-java writes no binary statistics over 4 KiB."""
        files = _part_files(version)
        rows, lows, highs = [], [], []
        key_type = pa.string()  # for a snapshot with no data file
        for f in files:
            md = pq.read_metadata(f)
            key_type = md.schema.to_arrow_schema().field(key).type
            lo, hi = _key_range(md, key)
            rows.append(md.num_rows)
            lows.append(lo)
            highs.append(hi)
        lineage = pa.table({
            "partition_id": pa.array(range(len(files)), pa.int32()),
            "rows": pa.array(rows, pa.int64()),
            "key_min": pa.array(lows, key_type),
            "key_max": pa.array(highs, key_type),
            "stage": pa.array([stage] * len(files), pa.string()),
        })
        pq.write_table(lineage, os.path.join(version, LINEAGE_NAME))
        return sum(rows)

    def stage(
        self,
        name: str,
        build,
        fingerprint: str,
        metrics_key: str,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run ``build() -> DataFrame`` (or return the committed snapshot
        if this (stage, fingerprint) already committed) and commit it as
        the stage's next version. The only Spark jobs are the write's:
        the snapshot is reopened with the schema it was written with, and
        the row count and lineage come from the parquet footers."""
        entry = self.manifest.get(name)
        live = _live_version(self.work_dir, entry)
        if live and entry.get("fingerprint") == fingerprint and "schema" in entry:
            # a crash after a write may have left another version
            _drop_versions(os.path.dirname(live), _version_number(live))
            schema = StructType.fromJson(json.loads(entry["schema"]))
            return self.spark.read.schema(schema).parquet(live)
        if metrics_key in (partition_by or []):
            raise ValueError(
                f"metrics_key {metrics_key!r} is a partition column: "
                "parquet footers hold no statistics for it"
            )
        t0 = time.monotonic()
        df = build()
        committed = None

        def write(version: str) -> dict:
            nonlocal committed
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(version)
            # an explicit schema skips inference; like inference, the
            # reader puts partition columns last and makes every field
            # nullable
            committed = self.spark.read.schema(df.schema).parquet(version)
            return {
                "fingerprint": fingerprint,
                "rows": self._write_metrics(name, version, metrics_key),
                "schema": committed.schema.json(),
                "wall_sec": round(time.monotonic() - t0, 3),
            }

        self.commit(name, write)
        return committed


def _load_manifest(work_dir: str) -> dict:
    path = os.path.join(work_dir, MANIFEST_NAME)
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _live_version(work_dir: str, entry: dict | None) -> str | None:
    """The path of the version a manifest entry names, None if it names
    none on disk."""
    version = (entry or {}).get("version")
    path = os.path.join(work_dir, version) if version else None
    return path if path and os.path.isdir(path) else None


def _version_number(version: str) -> int:
    return int(os.path.basename(version)[1:])


def _drop_versions(table_dir: str, live: int, keep: int = 1) -> None:
    """Step 3 of a commit: delete every version of a table but the newest
    ``keep`` up to the ``live`` one. Versions above it are crash-orphaned
    writes."""
    on_disk = list_versions(table_dir)
    kept = [v for v in on_disk if v <= live][-max(keep, 1):]
    for v in set(on_disk) - set(kept):
        shutil.rmtree(os.path.join(table_dir, f"v{v}"), ignore_errors=True)


def list_versions(base_dir: str) -> list[int]:
    """Version numbers on disk under a table directory (``v<n>`` dirs),
    ascending: the live one, those kept for time travel and any a crash
    orphaned."""
    if not os.path.isdir(base_dir):
        return []
    return sorted(
        int(e[1:]) for e in os.listdir(base_dir) if e.startswith("v") and e[1:].isdigit()
    )


def live_snapshot(base_dir: str) -> str | None:
    """The path of the live version of the table in ``base_dir`` (one
    written by :func:`publish`), None before its first commit."""
    return _live_version(base_dir, _load_manifest(base_dir).get(SNAPSHOT))


def read_snapshot(
    spark: SparkSession, base_dir: str, version: int | None = None
) -> DataFrame | None:
    """Read the table in ``base_dir``: its live version by default, or a
    retained ``version`` number (time travel, the Iceberg ``VERSION AS
    OF`` analogue). Returns None before the first commit; raises for a
    version that was deleted or never existed."""
    if version is None:
        live = live_snapshot(base_dir)
        return spark.read.parquet(live) if live else None
    path = os.path.join(base_dir, f"v{version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"snapshot v{version} not retained in {base_dir}; "
            f"available: {list_versions(base_dir)}"
        )
    return spark.read.parquet(path)


def publish(
    df: DataFrame,
    base_dir: str,
    marker: tuple[str, str] | None = None,
    keep_versions: int = 1,
) -> str:
    """Commit ``df`` as the next version of the table in ``base_dir``
    (versions ``<base_dir>/v<N>/``, a one-entry manifest beside them) and
    return the version's path. ``keep_versions > 1`` retains older
    versions for time travel (:func:`read_snapshot` with ``version=``)
    and snapshot diffs (``operators/diff.py``).

    ``marker=(filename, contents)`` writes a sidecar file into the
    version before the flip (the name must start with ``_`` so Spark's
    reader skips it): state that must travel atomically with the
    snapshot, e.g. the Count-Min epoch ledger."""

    def write(version: str) -> dict:
        df.write.mode("overwrite").parquet(version)
        if marker is not None:
            fname, contents = marker
            with open(os.path.join(version, fname), "w") as f:
                f.write(contents)
        return {}

    run = PipelineRun(df.sparkSession, base_dir)
    return run.commit(SNAPSHOT, write, table="", keep=keep_versions)


def _part_files(snapshot: str) -> list[str]:
    """The snapshot's data files in path order, partition directories
    included."""
    found = []
    for root, dirs, files in os.walk(snapshot):
        dirs.sort()
        found += [os.path.join(root, f) for f in sorted(files) if f.startswith("part-")]
    return found


def _key_range(md: pq.FileMetaData, key: str) -> tuple:
    """(min, max) of column ``key`` over the file's row-group statistics;
    (None, None) if the file holds no non-null key or some row group
    with non-null keys has no min/max."""
    j = next(i for i in range(md.num_columns) if md.schema.column(i).path == key)
    lo = hi = None
    for g in range(md.num_row_groups):
        col = md.row_group(g).column(j)
        st = col.statistics
        if st is not None and st.has_min_max:
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        elif st is None or not st.has_null_count or st.null_count < col.num_values:
            return None, None
    return lo, hi


def run_pipeline(
    spark: SparkSession,
    work_dir: str,
    n_docs: int = 2000,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Full corpus→KG run; resumable from the last committed stage."""
    run = PipelineRun(spark, work_dir)
    fp = f"seed={seed};n={n_docs}"

    corpus = run.stage(
        "corpus", lambda: generate_corpus(spark, n_docs, seed), fp, metrics_key="url"
    )
    triples = run.stage(
        "triples", lambda: triples_from_corpus(corpus), fp, metrics_key="subj"
    )
    aliases = alias_dictionary(spark)
    linked = run.stage(
        "linked",
        lambda: link_mentions(triples, aliases),
        fp,
        metrics_key="subj",
    )
    # The prior >= 0.5 filter gates out low-confidence ambiguous aliases
    # (the corpus fixture plants prior-0.1 cross-entity aliases): without
    # it two distinct entities sharing a weak alias would over-merge into
    # one canonical id.
    same_as = aliases.filter(F.col("prior") >= 0.5).select("alias", "entity_id")
    mapping = run.stage(
        "components",
        lambda: alias_group_components(same_as),
        fp,
        metrics_key="node",
    )

    def canonical() -> DataFrame:
        m = mapping
        out = linked
        for col in ("subj", "obj"):
            side = m.select(
                F.col("node").alias(col), F.col("component").alias(f"_{col}_c")
            )
            out = out.join(F.broadcast(side), col, "left").withColumn(
                col, F.coalesce(F.col(f"_{col}_c"), F.col(col))
            ).drop(f"_{col}_c")
        return out

    canonical_triples = run.stage(
        "canonical_triples", canonical, fp, metrics_key="subj"
    )

    def build_edges() -> DataFrame:
        e = canonical_triples.select(
            F.col("subj").alias("subject"),
            F.concat(F.lit("biolink:"), F.col("pred")).alias("predicate"),
            F.col("obj").alias("object"),
            F.col("pred").alias("relation"),
            F.col("url").alias("knowledge_source"),
        )
        # sort_output=False: the consumer is a predicate-partitioned
        # parquet write — a global total-order exchange would buy nothing
        return edges_merge_provenance(e, sort_output=False)

    # partitioned by predicate: per-predicate directories give partition
    # pruning to downstream queries that filter on edge type (the common
    # KG access pattern) — verified in tests via the scan's PartitionFilters
    edges = run.stage(
        "kgx_edges", build_edges, fp, metrics_key="subject",
        partition_by=["predicate"],
    )

    def build_nodes() -> DataFrame:
        ids = (
            canonical_triples.select(F.col("subj").alias("id"))
            .union(canonical_triples.select(F.col("obj").alias("id")))
            .distinct()
        )
        raw = ids.select(
            "id",
            infer_category(F.col("id")).alias("category"),
            F.col("id").alias("name"),
            F.lit("webkg_pipeline").alias("provided_by"),
        )
        return nodes_merge(raw, [], sort_output=False)

    nodes = run.stage("kgx_nodes", build_nodes, fp, metrics_key="id")

    return {
        "corpus": corpus,
        "triples": triples,
        "linked": linked,
        "mapping": mapping,
        "edges": edges,
        "nodes": nodes,
    }
