"""The four workloads. Each drives the package only through its public
entry points and checks every output against an oracle.

A workload object is built once per run; ``setup()`` may be called
several times (the benchmark reports its median), ``op()`` runs one
timed operation of the closed loop and checks its output, ``finish()``
runs end-of-run checks. ``op()`` returns a dict with ``job_s`` (the timed
part), ``job_cpu_s`` (its CPU time, read from the ``cpu`` clock the
workload is built with), ``ok`` and, for ``kg_incremental``,
``fold_s``/``query_s``.
When a tracer is given, ``op()`` records spans around the calls into each
layer, and ``layer_extras()`` reports the layer metrics the spans cannot
see (row counts, ratios).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
from collections import Counter
from unittest import mock

from pyspark.sql import functions as F
from pyspark.sql import types as T

import gen

NULL_TRACER_SPAN = contextlib.nullcontext


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else NULL_TRACER_SPAN()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# --------------------------------------------------------------------------
# webkg_build
# --------------------------------------------------------------------------

# Pipeline stage -> the layer whose code the stage runs.
STAGE_LAYER = {
    "corpus": "sources",
    "extracted": "functions.extract",
    "triples": "functions.triples",
    "linked": "functions.linking",
    "components": "operators.components",
    "canonical_triples": "plans.pipeline",
    "kgx_edges": "operators.merge",
    "kgx_nodes": "operators.merge",
}


class WebKGBuild:
    name = "webkg_build"
    # an op costs mostly per-job and per-commit overhead (components alone
    # runs ~35 jobs), so a larger crawl adds little beyond longer ops
    shape = {"n_docs": 500}
    ops_per_round = 1
    # over five runs the cold op's CPU time (Python worker start-up and
    # interpreted JVM code included) ranged over 25%, the second op's
    # over 7%
    warmup_ops = 1

    def __init__(self, spark, seed: int, work: str, cpu):
        self.spark, self.seed, self.cpu = spark, seed, cpu
        self.work = os.path.join(work, self.name)
        self.n = self.shape["n_docs"]
        self.rows_per_op = self.n
        self.extras = Counter()
        self.pr = []

    def setup(self) -> None:
        from kg_microbe_merge_spark.plans.pipeline import PipelineRun
        from kg_microbe_merge_spark.sources.corpus import (
            generate_corpus,
            ground_truth_triples,
        )

        self.template = _fresh(os.path.join(self.work, "template"))
        run = PipelineRun(self.spark, self.template)
        # run_pipeline's stage fingerprint; op() fails if the stage did
        # not resume, so a change of format cannot go unnoticed
        run.stage(
            "corpus",
            lambda: generate_corpus(self.spark, self.n, self.seed),
            f"seed={self.seed};n={self.n}",
            metrics_key="url",
        )
        self.corpus_entry = dict(run.manifest["corpus"])
        self.truth = Counter(
            tuple(r) for r in ground_truth_triples(self.spark, self.n, self.seed)
            .select("url", "subj", "pred", "obj").collect()
        )

    @contextlib.contextmanager
    def _traced(self, tracer):
        from kg_microbe_merge_spark.plans import pipeline

        if tracer is None:
            yield
            return
        orig_stage = pipeline.PipelineRun.stage
        orig_metrics = pipeline.PipelineRun._write_metrics
        orig_manifest = pipeline.PipelineRun._save_manifest
        extras = self.extras

        def stage(run, name, *a, **kw):
            before = run.manifest.get(name)
            part = {"kgx_edges": "edges", "kgx_nodes": "nodes"}.get(name)
            with tracer.span(STAGE_LAYER.get(name, "plans.pipeline"), stage=name, part=part):
                out = orig_stage(run, name, *a, **kw)
            extras["stages_committed"] += run.manifest.get(name) is not before
            return out

        def write_metrics(run, *a, **kw):
            with tracer.span("plans.pipeline", commit=True):
                return orig_metrics(run, *a, **kw)

        def save_manifest(run, *a, **kw):
            with tracer.span("plans.pipeline", commit=True):
                return orig_manifest(run, *a, **kw)

        with mock.patch.object(pipeline.PipelineRun, "stage", stage), \
                mock.patch.object(pipeline.PipelineRun, "_write_metrics", write_metrics), \
                mock.patch.object(pipeline.PipelineRun, "_save_manifest", save_manifest):
            yield

    def op(self, i: int, tracer=None) -> dict:
        from kg_microbe_merge_spark.operators.merge import coverage_check
        from kg_microbe_merge_spark.plans.pipeline import run_pipeline

        wd = _fresh(os.path.join(self.work, f"run{i}"))
        shutil.copytree(self.template, wd)
        with self._traced(tracer):
            t0, c0 = time.perf_counter(), self.cpu()
            with _span(tracer, "plans.pipeline", root=True):
                out = run_pipeline(self.spark, wd, n_docs=self.n, seed=self.seed)
            job_s, job_cpu_s = time.perf_counter() - t0, self.cpu() - c0

        from kg_microbe_merge_spark.plans.pipeline import PipelineRun

        manifest = PipelineRun(self.spark, wd).manifest
        if manifest["corpus"] != self.corpus_entry:
            raise RuntimeError("run_pipeline did not resume from the committed corpus stage")
        got = Counter(tuple(r) for r in out["triples"].select("url", "subj", "pred", "obj").collect())
        hit = sum((got & self.truth).values())
        precision = hit / max(1, sum(got.values()))
        recall = hit / max(1, sum(self.truth.values()))
        self.pr.append((precision, recall))
        missing = coverage_check(out["nodes"], out["edges"]).count()
        srcb = out["nodes"].filter(F.col("id").startswith("SRCB:")).count()
        ok = precision >= 0.95 and recall >= 0.95 and missing == 0 and srcb == 0
        if tracer is not None:
            lk = out["linked"].agg(
                F.count("*").alias("n"),
                F.sum((~F.col("subj").startswith("surface:")).cast("int")).alias("s"),
                F.sum((~F.col("obj").startswith("surface:")).cast("int")).alias("o"),
            ).first()
            self.extras["mentions"] += 2 * lk["n"]
            self.extras["mentions_linked"] += (lk["s"] or 0) + (lk["o"] or 0)
            self.extras["docs_in"] += self.n
            self.extras["triples_out"] += manifest["triples"]["rows"]
            self.extras["merge_rows_in"] += (
                manifest["canonical_triples"]["rows"] + manifest["kgx_nodes"]["rows"]
            )
            self.extras["merge_rows_out"] += (
                manifest["kgx_edges"]["rows"] + manifest["kgx_nodes"]["rows"]
            )
        shutil.rmtree(wd, ignore_errors=True)
        return {"job_s": job_s, "job_cpu_s": job_cpu_s, "ok": ok}

    def finish(self) -> int:
        return 0

    def layer_extras(self, n_ops: int) -> dict:
        e = self.extras
        return {
            "functions.extract.docs_in": e["docs_in"] / n_ops,
            "functions.triples.triples_out": e["triples_out"] / n_ops,
            "functions.linking.linked_ratio": e["mentions_linked"] / max(1, e["mentions"]),
            "operators.merge.dup_ratio": e["merge_rows_in"] / max(1, e["merge_rows_out"]),
            "plans.pipeline.stages_committed": e["stages_committed"] / n_ops,
        }

    def report(self) -> dict:
        if not self.pr:
            return {}
        return {
            "triple_precision": min(p for p, _ in self.pr),
            "triple_recall": min(r for _, r in self.pr),
        }


# --------------------------------------------------------------------------
# kgx_merge
# --------------------------------------------------------------------------

MERGE_SINK_PART = {
    "merged_kg_nodes": "nodes",
    "merged_kg_edges": "edges",
    "merged_kg_edges_full": "edges",
    "edges_missing_nodes_with_category": "coverage",
}


class KgxMerge:
    name = "kgx_merge"
    shape = gen.KGX_SHAPE
    ops_per_round = 1
    warmup_ops = 2

    def __init__(self, spark, seed: int, work: str, cpu):
        self.spark, self.seed, self.cpu = spark, seed, cpu
        self.work = os.path.join(work, self.name)
        self.extras = Counter()

    def setup(self) -> None:
        self.transform_dir = _fresh(os.path.join(self.work, "transformed"))
        self.oracle = gen.kgx_transform_dir(self.seed, self.transform_dir)
        self.rows_per_op = self.oracle["node_rows_in"] + self.oracle["edge_rows_in"]

    @contextlib.contextmanager
    def _traced(self, tracer):
        from kg_microbe_merge_spark.sources import kgx

        if tracer is None:
            yield
            return
        orig_read, orig_dir, orig_single = kgx.read_kgx_tsv, kgx.write_tsv_dir, kgx.write_tsv_single

        def read_kgx_tsv(*a, **kw):
            with tracer.span("sources"):
                return orig_read(*a, **kw)

        def write_tsv_dir(df, path, *a, **kw):
            part = MERGE_SINK_PART.get(os.path.basename(path.rstrip("/")), "other")
            with tracer.span("operators.merge", part=part):
                return orig_dir(df, path, *a, **kw)

        def write_tsv_single(*a, **kw):
            # the merged_graph_stats sink
            with tracer.span("operators.merge", part="other"):
                return orig_single(*a, **kw)

        with mock.patch.object(kgx, "read_kgx_tsv", read_kgx_tsv), \
                mock.patch.object(kgx, "write_tsv_dir", write_tsv_dir), \
                mock.patch.object(kgx, "write_tsv_single", write_tsv_single):
            yield

    def op(self, i: int, tracer=None) -> dict:
        from kg_microbe_merge_spark import cli

        out = _fresh(os.path.join(self.work, f"out{i}"))
        with self._traced(tracer), contextlib.redirect_stdout(sys.stderr):
            t0, c0 = time.perf_counter(), self.cpu()
            with _span(tracer, "cli"):
                cli.main(["merge", "--transform-dir", self.transform_dir, "--output", out])
            job_s, job_cpu_s = time.perf_counter() - t0, self.cpu() - c0
        o = self.oracle
        nodes = gen.read_tsv_dir(os.path.join(out, "merged_kg_nodes"))
        edges = gen.read_tsv_dir(os.path.join(out, "merged_kg_edges"))
        full = gen.read_tsv_dir(os.path.join(out, "merged_kg_edges_full"))
        missing = gen.read_tsv_dir(os.path.join(out, "edges_missing_nodes_with_category"))
        ok = (
            (len(nodes), gen.table_hash(nodes, o["node_columns"])) == o["nodes"]
            and (len(edges), gen.table_hash(edges, ["subject", "predicate", "object"])) == o["edges"]
            and (len(full), gen.table_hash(
                full, ["subject", "predicate", "object", "relation", "knowledge_source"]
            )) == o["edges_full"]
            and sorted(r["id"] for r in missing) == o["dangling"]
        )
        if tracer is not None:
            self.extras["rows_in"] += o["node_rows_in"] + o["edge_rows_in"]
            self.extras["rows_out"] += o["nodes"][0] + o["edges_full"][0]
        shutil.rmtree(out, ignore_errors=True)
        return {"job_s": job_s, "job_cpu_s": job_cpu_s, "ok": ok}

    def finish(self) -> int:
        return 0

    def layer_extras(self, n_ops: int) -> dict:
        return {"operators.merge.dup_ratio": self.extras["rows_in"] / max(1, self.extras["rows_out"])}

    def report(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# canonicalize
# --------------------------------------------------------------------------


class Canonicalize:
    name = "canonicalize"
    shape = gen.CANON_SHAPE
    ops_per_round = 1
    warmup_ops = 2

    def __init__(self, spark, seed: int, work: str, cpu):
        self.spark, self.seed, self.cpu = spark, seed, cpu
        self.work = os.path.join(work, self.name)

    def setup(self) -> None:
        nodes, edges, self.oracle = gen.canonicalize_inputs(self.seed)
        self.rows_per_op = len(edges)
        inp = _fresh(os.path.join(self.work, "input"))
        self.nodes_path = os.path.join(inp, "nodes")
        self.edges_path = os.path.join(inp, "same_as")
        self.spark.createDataFrame(nodes, "id string, name string").write.parquet(self.nodes_path)
        self.spark.createDataFrame(edges, "src string, dst string").write.parquet(self.edges_path)

    def op(self, i: int, tracer=None) -> dict:
        from kg_microbe_merge_spark.operators.components import canonicalize_ids

        out = _fresh(os.path.join(self.work, f"out{i}"))
        t0, c0 = time.perf_counter(), self.cpu()
        with _span(tracer, "operators.components"):
            canonicalize_ids(
                self.spark.read.parquet(self.nodes_path),
                self.spark.read.parquet(self.edges_path),
            ).write.parquet(out)
        job_s, job_cpu_s = time.perf_counter() - t0, self.cpu() - c0
        got = dict(self.spark.read.parquet(out).select("id", "canonical_id").collect())
        shutil.rmtree(out, ignore_errors=True)
        return {"job_s": job_s, "job_cpu_s": job_cpu_s, "ok": got == self.oracle}

    def finish(self) -> int:
        return 0

    def layer_extras(self, n_ops: int) -> dict:
        return {}

    def report(self) -> dict:
        return {}


# --------------------------------------------------------------------------
# kg_incremental
# --------------------------------------------------------------------------

_NODE_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in gen.INC_NODE_COLUMNS])
_EDGE_SCHEMA = T.StructType([T.StructField(c, T.StringType()) for c in gen.INC_EDGE_COLUMNS])


class KgIncremental:
    name = "kg_incremental"
    shape = gen.INC_SHAPE
    ops_per_round = 2  # one fold, one query
    warmup_ops = 1

    def __init__(self, spark, seed: int, work: str, cpu):
        self.spark, self.seed, self.cpu = spark, seed, cpu
        self.work = os.path.join(work, self.name)
        self.rows_per_op = self.shape["delta_node_rows"] + self.shape["delta_edge_rows"]
        self.extras = Counter()

    def _snap(self, r: int) -> str:
        return os.path.join(self.work, f"snap{r:05d}")

    def setup(self) -> None:
        from kg_microbe_merge_spark.operators.merge import edges_merge_provenance
        from kg_microbe_merge_spark.operators.upsert import nodes_merge_with_state

        shutil.rmtree(self.work, ignore_errors=True)
        self.base_nodes, self.base_edges = gen.inc_base(self.seed)
        snap = self._snap(0)
        nodes_merge_with_state(
            self.spark.createDataFrame(self.base_nodes, _NODE_SCHEMA), gen.INC_PRIORITY,
            sort_output=False,
        ).write.parquet(os.path.join(snap, "nodes"))
        edges_merge_provenance(
            self.spark.createDataFrame(self.base_edges, _EDGE_SCHEMA), sort_output=False,
        ).write.parquet(os.path.join(snap, "edges"))
        self.query = gen.TwoHopOracle(gen.INC_QUERY[0][1], gen.INC_QUERY[1][1])
        for s, p, o, *_ in self.base_edges:
            self.query.add(s, p, o)
        self.round = 0
        self.delta_nodes: list[tuple] = []
        self.delta_edges: list[tuple] = []

    def op(self, i: int, tracer=None) -> dict:
        from kg_microbe_merge_spark.operators.upsert import (
            edges_merge_incremental,
            nodes_merge_incremental,
        )
        from kg_microbe_merge_spark.plans.bgp import bgp_query

        r = self.round + 1
        dn, de = gen.inc_delta(self.seed, r)
        dn_df = self.spark.createDataFrame(dn, _NODE_SCHEMA)
        de_df = self.spark.createDataFrame(de, _EDGE_SCHEMA)
        prev, cur = self._snap(r - 1), self._snap(r)
        t0, c0 = time.perf_counter(), self.cpu()
        with _span(tracer, "operators.upsert"):
            nodes_merge_incremental(
                self.spark.read.parquet(os.path.join(prev, "nodes")), dn_df,
                gen.INC_PRIORITY, sort_output=False,
            ).write.parquet(os.path.join(cur, "nodes"))
            edges_merge_incremental(
                self.spark.read.parquet(os.path.join(prev, "edges")), de_df,
                sort_output=False,
            ).write.parquet(os.path.join(cur, "edges"))
        t1 = time.perf_counter()
        with _span(tracer, "plans.bgp"):
            solutions = bgp_query(
                self.spark.read.parquet(os.path.join(cur, "edges")), gen.INC_QUERY
            ).count()
        t2, c2 = time.perf_counter(), self.cpu()
        self.round = r
        self.delta_nodes.extend(dn)
        self.delta_edges.extend(de)
        for s, p, o, *_ in de:
            self.query.add(s, p, o)
        if r >= 2:
            shutil.rmtree(self._snap(r - 2), ignore_errors=True)
        if tracer is not None:
            self.extras["solutions"] += solutions
        return {
            "job_s": t2 - t0, "job_cpu_s": c2 - c0, "fold_s": t1 - t0, "query_s": t2 - t1,
            "ok": solutions == self.query.count,
        }

    def finish(self) -> int:
        """Fold invariant: the final snapshot equals a full re-merge of all
        rows. Returns the number of folds to count as failed."""
        from kg_microbe_merge_spark.operators.merge import edges_merge_provenance
        from kg_microbe_merge_spark.operators.upsert import nodes_merge_with_state

        def rows(df, cols):
            return Counter(map(tuple, df.select(*cols).collect()))

        cur = self._snap(self.round)
        want_n = nodes_merge_with_state(
            self.spark.createDataFrame(self.base_nodes + self.delta_nodes, _NODE_SCHEMA),
            gen.INC_PRIORITY, sort_output=False,
        )
        want_e = edges_merge_provenance(
            self.spark.createDataFrame(self.base_edges + self.delta_edges, _EDGE_SCHEMA),
            sort_output=False,
        )
        got_n = self.spark.read.parquet(os.path.join(cur, "nodes"))
        got_e = self.spark.read.parquet(os.path.join(cur, "edges"))
        same = (
            rows(got_n, want_n.columns) == rows(want_n, want_n.columns)
            and rows(got_e, want_e.columns) == rows(want_e, want_e.columns)
        )
        return 0 if same else self.round

    def layer_extras(self, n_ops: int) -> dict:
        return {"plans.bgp.solutions": self.extras["solutions"] / n_ops}

    def report(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (WebKGBuild, KgxMerge, Canonicalize, KgIncremental)}
