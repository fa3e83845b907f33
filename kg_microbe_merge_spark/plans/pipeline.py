"""End-to-end web-KG construction pipeline with checkpoint/resume and
per-partition lineage metrics.

Stages (BASELINE.json north_star):
  corpus → extract(text) → triples → link(mentions) → same_as CC →
  canonicalize → KGX nodes/edges merge → materialize.

Checkpoint/resume: each stage commits its output as a parquet snapshot
directory plus a ``_STAGE_MANIFEST.json`` entry (stage name, input
fingerprint, row count, wall seconds). A re-run skips stages whose
manifest entry exists and whose input fingerprint matches — the
parquet-directory analogue of resuming from the last committed Iceberg
snapshot (the Iceberg runtime jar is not in this image; the commit
protocol — write to _tmp, atomic rename, manifest append — mirrors a
table-format commit). The reference's analogue is the never-enabled
``checkpoint`` config flag (merge_schema.yaml:28-29).

Lineage metrics: every stage also writes ``_metrics/<stage>.parquet``
with one row per partition: ``F.spark_partition_id()``, row count,
min/max of the stage key — queryable provenance without touching the
data files.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import with_extracted_text
from ..functions.linking import link_mentions, same_as_candidates
from ..functions.triples import with_triples
from ..operators.components import connected_components
from ..operators.merge import (
    edges_merge_provenance,
    infer_category,
    nodes_merge,
)
from ..sources.corpus import alias_dictionary, generate_corpus

MANIFEST_NAME = "_STAGE_MANIFEST.json"


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

    def _write_metrics(self, stage: str, df: DataFrame, key: str) -> int:
        """One post-write scan total: the per-partition metrics
        aggregation is the ONLY pass over the committed snapshot, and the
        stage row count is derived as sum(rows) from the (tiny) written
        metrics table instead of a separate ``count()`` — at 100 TB a
        second full scan per stage is the difference between one and two
        extra reads of the whole dataset."""
        path = os.path.join(self.work_dir, "_metrics", stage)
        metrics = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count("*").alias("rows"),
                F.min(key).alias("key_min"),
                F.max(key).alias("key_max"),
            )
            .withColumn("stage", F.lit(stage))
        )
        metrics.write.mode("overwrite").parquet(path)
        total = (
            self.spark.read.parquet(path).agg(F.sum("rows")).collect()[0][0]
        )
        return int(total or 0)

    def stage(
        self,
        name: str,
        build,
        fingerprint: str,
        metrics_key: str | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run ``build() -> DataFrame`` (or return the committed snapshot
        if this (stage, fingerprint) already committed). Commit =
        write-to-tmp + atomic rename + manifest append."""
        out_dir = os.path.join(self.work_dir, name)
        entry = self.manifest.get(name)
        if entry and entry.get("fingerprint") == fingerprint and os.path.exists(out_dir):
            return self.spark.read.parquet(out_dir)
        t0 = time.monotonic()
        df = build()
        tmp_dir = out_dir + "._tmp"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp_dir)
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)
        os.replace(tmp_dir, out_dir)
        committed = self.spark.read.parquet(out_dir)
        if metrics_key:
            n = self._write_metrics(name, committed, metrics_key)
        else:
            n = committed.count()
        self.manifest[name] = {
            "fingerprint": fingerprint,
            "rows": n,
            "wall_sec": round(time.monotonic() - t0, 3),
        }
        self._save_manifest()
        return committed


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
    extracted = run.stage(
        "extracted",
        lambda: with_extracted_text(corpus).select("url", "warc_ts", "text", "lang"),
        fp,
        metrics_key="url",
    )
    en = extracted.filter(F.col("lang") == "en")
    triples = run.stage(
        "triples",
        lambda: with_triples(en.select("url", "text")).drop("text"),
        fp,
        metrics_key="subj",
    )
    aliases = alias_dictionary(spark)
    linked = run.stage(
        "linked",
        lambda: link_mentions(triples, aliases),
        fp,
        metrics_key="subj",
    )
    # min_prior gates out low-confidence ambiguous aliases (the corpus
    # fixture plants prior-0.1 cross-entity aliases): without it two
    # distinct entities sharing a weak alias would over-merge into one
    # canonical id.
    same_as = same_as_candidates(aliases, min_prior=0.5)
    mapping = run.stage(
        "components",
        lambda: connected_components(same_as),
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
        "extracted": extracted,
        "triples": triples,
        "linked": linked,
        "mapping": mapping,
        "edges": edges,
        "nodes": nodes,
    }
