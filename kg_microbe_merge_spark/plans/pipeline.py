"""End-to-end web-KG construction pipeline with checkpoint/resume and
per-partition lineage metrics.

Stages (BASELINE.json north_star), each committed:
  corpus → triples (fused text extraction + SVO, one Arrow hop) →
  linked → components (same_as CC, solved from the alias groups of the
  prior ≥ 0.5 dictionary) → canonical_triples → kgx_edges / kgx_nodes.

Checkpoint/resume: each stage commits its output as a parquet snapshot
directory plus a ``_STAGE_MANIFEST.json`` entry (stage name, input
fingerprint, row count, wall seconds). A re-run skips stages whose
manifest entry exists and whose input fingerprint matches — the
parquet-directory analogue of resuming from the last committed Iceberg
snapshot (the Iceberg runtime jar is not in this image; the commit
protocol — write to _tmp, atomic rename, manifest append — mirrors a
table-format commit). The reference's analogue is the never-enabled
``checkpoint`` config flag (merge_schema.yaml:28-29).

Lineage metrics: every stage also writes ``_metrics/<stage>`` with one
row per committed ``part-*`` file (``partition_id`` = file ordinal, row
count, min/max of the stage key), read from the parquet footers on the
driver — queryable provenance without touching the data files. The
manifest's row count is the sum of the footer counts, and the manifest
keeps the snapshot's schema, so a commit runs no Spark job after its
write and a resumed stage reopens its snapshot without one. The cost is
O(files) footer reads on the driver, which the commit protocol already
assumes local (``shutil.rmtree``/``os.replace``).
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
        os.makedirs(os.path.join(self.work_dir, "_metrics"), exist_ok=True)
        mpath = os.path.join(self.work_dir, MANIFEST_NAME)
        if os.path.exists(mpath):
            with open(mpath) as f:
                self.manifest = json.load(f)

    def _save_manifest(self) -> None:
        mpath = os.path.join(self.work_dir, MANIFEST_NAME)
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=2)
        os.replace(tmp, mpath)

    def _write_metrics(self, stage: str, out_dir: str, key: str) -> int:
        """Write the stage's lineage rows from the footers of its
        committed ``part-*`` files and return the stage's row count. No
        Spark job: one footer read per file on the driver.

        One row per file: ``partition_id`` (file ordinal in path order),
        ``rows`` and ``key_min``/``key_max`` folded over the row groups'
        statistics of ``key``. Nulls are not counted in min/max. A file
        with non-null keys but no min/max in some row group records null
        for both: parquet-java writes no binary statistics over 4 KiB."""
        files = _part_files(out_dir)
        rows, lows, highs = [], [], []
        key_type = pa.string()  # for a snapshot with no data file
        for f in files:
            md = pq.read_metadata(f)
            key_type = md.schema.to_arrow_schema().field(key).type
            lo, hi = _key_range(md, key)
            rows.append(md.num_rows)
            lows.append(lo)
            highs.append(hi)
        cols = {
            "partition_id": pa.array(range(len(files)), pa.int32()),
            "rows": pa.array(rows, pa.int64()),
            "key_min": pa.array(lows, key_type),
            "key_max": pa.array(highs, key_type),
            "stage": pa.array([stage] * len(files), pa.string()),
        }

        def write(tmp: str) -> None:
            os.makedirs(tmp)
            pq.write_table(pa.table(cols), os.path.join(tmp, "part-00000.parquet"))

        _replace_dir(os.path.join(self.work_dir, "_metrics", stage), write)
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
        if this (stage, fingerprint) already committed). Commit =
        write-to-tmp + atomic rename + manifest append. The only Spark
        jobs are the write's: the snapshot is reopened with the schema it
        was written with, and the row count and lineage come from the
        parquet footers."""
        out_dir = os.path.join(self.work_dir, name)
        entry = self.manifest.get(name)
        if (
            entry
            and entry.get("fingerprint") == fingerprint
            and "schema" in entry
            and os.path.exists(out_dir)
        ):
            schema = StructType.fromJson(json.loads(entry["schema"]))
            return self.spark.read.schema(schema).parquet(out_dir)
        if metrics_key in (partition_by or []):
            raise ValueError(
                f"metrics_key {metrics_key!r} is a partition column: "
                "parquet footers hold no statistics for it"
            )
        t0 = time.monotonic()
        df = build()

        def write(tmp_dir: str) -> None:
            w = df.write.mode("overwrite")
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.parquet(tmp_dir)

        _replace_dir(out_dir, write)
        # an explicit schema skips inference; like inference, the reader
        # puts partition columns last and makes every field nullable
        committed = self.spark.read.schema(df.schema).parquet(out_dir)
        n = self._write_metrics(name, out_dir, metrics_key)
        self.manifest[name] = {
            "fingerprint": fingerprint,
            "rows": n,
            "schema": committed.schema.json(),
            "wall_sec": round(time.monotonic() - t0, 3),
        }
        self._save_manifest()
        return committed


def _replace_dir(path: str, write) -> None:
    """Commit a directory: ``write(tmp)`` into ``path._tmp``, then swap it
    in for ``path`` with a rename."""
    tmp = path + "._tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


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
