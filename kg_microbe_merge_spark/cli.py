"""Command-line surface — parity with the reference's ``kg`` CLI
(run.py:92-207 behavior): merge KGX TSV products, run the web-KG
pipeline, QC coverage checks, ad-hoc SQL.

    python -m kg_microbe_merge_spark merge --transform-dir data/transformed \\
        --output out/ [--subsets ontologies,bacdive] [--tar]
    python -m kg_microbe_merge_spark pipeline --work-dir out/run1 --n-docs 5000
    python -m kg_microbe_merge_spark coverage --nodes merged_nodes.tsv \\
        --edges merged_edges.tsv --output missing.tsv
    python -m kg_microbe_merge_spark sql --kg-dir out/ "SELECT count(*) FROM nodes"
    python -m kg_microbe_merge_spark export-rdf --kg-dir out/ --output out/kg_nt

    python -m kg_microbe_merge_spark holdouts --nodes nodes.tsv \\
        --edges edges.tsv --output out/holdouts [--validation]

The reference's SPARQL federation command (query.py) is intentionally
out of scope (network service); its declared-but-unimplemented ML
holdout split (run.py:273 raises NotImplementedError) IS implemented
here — see ``_cmd_holdouts``.
"""

from __future__ import annotations

import argparse
import os

from .session import get_spark


def _read_kg(spark, kg_dir: str, *names: str):
    """Read the first merged-KG table in ``kg_dir`` named one of
    ``names``: the ``--single-file`` TSV (``<name>.tsv``) or the default
    distributed part directory (``<name>/``)."""
    from .sources.kgx import read_kgx_tsv

    for name in names:
        for path in (os.path.join(kg_dir, name + ".tsv"), os.path.join(kg_dir, name)):
            if os.path.exists(path):
                return read_kgx_tsv(spark, [path])
    raise SystemExit(f"no {' or '.join(names)} TSV or part directory in {kg_dir}")


_EDGES = ("merged_kg_edges_full", "merged_kg_edges")


def _cmd_merge(args: argparse.Namespace) -> None:
    from .operators.merge import (
        coverage_check,
        edges_merge,
        edges_merge_provenance,
        nodes_merge,
    )
    from .operators.stats import graph_stats
    from .sources.files import (
        collect_paths_from_directory,
        collect_subset_kg_paths,
        discover_priority_sources,
        tarball_files_in_dir,
        unzip_files_in_dir,
    )
    from .sources.kgx import read_kgx_tsv, write_tsv_dir, write_tsv_single

    spark = get_spark(app_name="kg-merge")

    # --config loads a reference-style merge.yaml (config.py document
    # model); explicit flags override its values.
    cfg = None
    if args.config:
        from .config import load_merge_config

        cfg = load_merge_config(args.config)
        if not args.output and cfg.configuration:
            args.output = cfg.configuration.output_directory
        if cfg.wants_tar():
            args.tar = True
    if not args.output:
        raise SystemExit("--output (or configuration.output_directory) required")

    if args.transform_dir:
        if args.untar:
            unzip_files_in_dir(args.transform_dir)
        if args.subsets:
            nodes_paths, edges_paths = collect_subset_kg_paths(
                args.transform_dir, args.subsets.split(",")
            )
        else:
            nodes_paths, edges_paths = collect_paths_from_directory(
                args.transform_dir
            )
    elif cfg is not None:
        nodes_paths, edges_paths = cfg.node_edge_paths()
    else:
        raise SystemExit("either --transform-dir or --config is required")
    if not nodes_paths:
        raise SystemExit(
            f"no *_nodes.tsv found ({args.transform_dir or args.config})"
        )
    priority = (
        args.priority.split(",") if args.priority
        else discover_priority_sources(nodes_paths)
    )
    os.makedirs(args.output, exist_ok=True)

    # Default sink: DISTRIBUTED TSV directories (scale path — nothing
    # flows through the driver). --single-file switches to the
    # golden-test-compatible one-file sink (sorted, driver-collected) for
    # byte-comparison against the reference's outputs; only then do the
    # merges pay the total-order exchange.
    single = args.single_file
    if single:
        def sink(df, name: str) -> None:
            write_tsv_single(df, os.path.join(args.output, name + ".tsv"))
    elif args.format == "parquet":
        from .sources.kgx import write_parquet

        def sink(df, name: str) -> None:
            write_parquet(df, os.path.join(args.output, name))
    else:
        def sink(df, name: str) -> None:
            write_tsv_dir(df, os.path.join(args.output, name))

    nodes = read_kgx_tsv(spark, nodes_paths)
    merged_nodes = nodes_merge(
        nodes, priority, salt_buckets=args.salt_buckets, sort_output=single
    )
    sink(merged_nodes, "merged_kg_nodes")
    edges = read_kgx_tsv(spark, edges_paths, exclude_columns=["id"])
    sink(edges_merge(edges, sort_output=single), "merged_kg_edges")
    sink(edges_merge_provenance(edges, sort_output=single), "merged_kg_edges_full")
    missing = coverage_check(merged_nodes, edges)
    sink(missing, "edges_missing_nodes_with_category")
    # merged-graph summary report (legacy KGX graph-stats analogue) —
    # small by construction, always a single file
    stats = graph_stats(merged_nodes, edges_merge(edges, sort_output=False))
    write_tsv_single(stats, os.path.join(args.output, "merged_graph_stats.tsv"))
    if args.tar:
        tarball_files_in_dir(
            args.output, os.path.join(args.output, "merged-kg.tar.gz")
        )
    print(f"merged {len(nodes_paths)} node files / {len(edges_paths)} edge files "
          f"-> {args.output} (priority: {priority}, "
          f"{'single-file' if single else 'distributed'} sink)")


def _cmd_pipeline(args: argparse.Namespace) -> None:
    from .plans.pipeline import OUTPUT_STAGES, PipelineRun, run_pipeline

    spark = get_spark(app_name="kg-pipeline")
    run_pipeline(spark, args.work_dir, n_docs=args.n_docs, seed=args.seed)
    # row counts as committed: the manifest, not a re-scan of each output
    manifest = PipelineRun(spark, args.work_dir).manifest
    print({k: manifest[stage]["rows"] for k, stage in OUTPUT_STAGES.items()})


def _cmd_coverage(args: argparse.Namespace) -> None:
    from .operators.merge import coverage_check
    from .sources.kgx import read_kgx_tsv, write_tsv_single

    spark = get_spark(app_name="kg-coverage")
    nodes = read_kgx_tsv(spark, [args.nodes])
    edges = read_kgx_tsv(spark, [args.edges], exclude_columns=["id"])
    missing = coverage_check(nodes, edges)
    write_tsv_single(missing, args.output)
    print(f"{missing.count()} missing endpoints -> {args.output}")


def _cmd_sql(args: argparse.Namespace) -> None:
    from .plans.sqlapi import register_kg_views

    spark = get_spark(app_name="kg-sql")
    if args.kg_dir:
        register_kg_views(
            spark,
            nodes=_read_kg(spark, args.kg_dir, "merged_kg_nodes"),
            edges=_read_kg(spark, args.kg_dir, *_EDGES),
        )
    spark.sql(args.query).show(args.limit, truncate=False)


def _cmd_cypher(args: argparse.Namespace) -> None:
    """Cypher-subset queries over a merged KG — the local analogue of
    the reference's kg-chat Neo4j passthrough (reference
    run.py:276-381) without a Neo4j server."""
    from .plans.cypher import cypher_query

    spark = get_spark(app_name="kg-cypher")
    nodes = _read_kg(spark, args.kg_dir, "merged_kg_nodes")
    edges = _read_kg(spark, args.kg_dir, *_EDGES)
    cypher_query(nodes, edges, args.query).show(args.limit, truncate=False)


def _cmd_sparql(args: argparse.Namespace) -> None:
    """Run a structured SPARQL-subset query from a YAML file against a
    merged KG — the LOCAL analogue of the reference's ``kg query``
    command (reference run.py:182-207 + query.py:26-59: a YAML-driven
    SPARQL query whose result lands in a TSV). The YAML holds the
    query in the engine's structured form::

        form: select           # select|aggregate|construct|ask|describe
        patterns: [["?n", "located_in", "?r"]]
        filters: ["?r <> 'R:0'"]     # optional blocks per form:
        select: ["?n", "?r"]         # optional/union/values/distinct/
        group_by: ["?r"]             # order_by/limit/offset/aggregates/
        aggregates: {n: "COUNT(?n)"} # having/template/describe

    ``--output`` writes the solution table as a single TSV (the
    reference's result_dict_to_tsv analogue); otherwise rows print.
    """
    import yaml

    from .plans.bgp import (
        bgp_aggregate,
        bgp_ask,
        bgp_construct,
        bgp_describe,
        bgp_query,
    )
    from .sources.kgx import write_tsv_single

    with open(args.query_file) as fh:
        q = yaml.safe_load(fh)
    spark = get_spark(app_name="kg-sparql")
    edges = _read_kg(spark, args.kg_dir, *_EDGES)

    def tup(block):
        return [tuple(p) for p in block] if block else None

    common = dict(
        filters=q.get("filters"),
        optional=[tup(g) for g in q["optional"]] if q.get("optional") else None,
        union=[tup(g) for g in q["union"]] if q.get("union") else None,
        values=q.get("values"),
    )
    form = q.get("form", "select")
    if form == "ask":
        print(bgp_ask(edges, tup(q["patterns"]), **common))
        return
    if form == "select":
        out = bgp_query(
            edges, tup(q["patterns"]), select=q.get("select"),
            distinct=bool(q.get("distinct")), order_by=q.get("order_by"),
            limit=q.get("limit"), offset=q.get("offset", 0), **common,
        )
    elif form == "aggregate":
        out = bgp_aggregate(
            edges, tup(q["patterns"]), group_by=q["group_by"],
            aggregates=q["aggregates"], having=q.get("having"),
            order_by=q.get("order_by"), limit=q.get("limit"), **common,
        )
    elif form == "construct":
        out = bgp_construct(
            edges, tup(q["patterns"]), template=tup(q["template"]), **common
        )
    elif form == "describe":
        # DESCRIBE <iri> with no WHERE block is valid SPARQL (and
        # bgp_describe supports it) — patterns are optional here
        out = bgp_describe(
            edges, tup(q.get("patterns") or []), describe=q["describe"],
            **common,
        )
    else:
        raise SystemExit(f"unknown query form: {form!r}")
    if args.output:
        write_tsv_single(out, args.output)
        print(f"wrote {args.output}")
    else:
        out.show(args.limit_rows, truncate=False)


def _cmd_export_rdf(args: argparse.Namespace) -> None:
    """Export a merged KG as RDF N-Triples (sources/rdf.py) — the
    interchange format of the SPARQL world the reference queries
    (reference query.py:9-23)."""
    from .sources.rdf import (
        edges_to_ntriples,
        nodes_to_ntriples,
        write_ntriples,
    )

    spark = get_spark(app_name="kg-export-rdf")
    edges = _read_kg(spark, args.kg_dir, *_EDGES)
    nodes = _read_kg(spark, args.kg_dir, "merged_kg_nodes")
    triples = edges_to_ntriples(edges, args.base).unionByName(
        nodes_to_ntriples(nodes, args.base)
    )
    write_ntriples(triples, args.output, single_file=args.single_file)
    print(f"wrote N-Triples to {args.output}")


def _cmd_entail(args: argparse.Namespace) -> None:
    """Materialize the RDFS(-lite, optionally +OWL property semantics)
    entailment of a merged KG's edge triples (operators/entailment.py).
    Schema rows (subClassOf / subPropertyOf / domain / range / OWL
    property declarations) come from ``--tbox`` when given, else are
    split out of the edge stream itself (mixed data+schema graphs)."""
    from .operators.entailment import (
        rdfs_entailment,
        rdfs_owl_entailment,
        split_tbox,
    )
    from .sources.kgx import read_kgx_tsv, write_tsv_dir, write_tsv_single

    spark = get_spark(app_name="kg-entail")
    triples = _read_kg(spark, args.kg_dir, *_EDGES).select(
        "subject", "predicate", "object"
    )
    if args.tbox:
        tbox = read_kgx_tsv(spark, [args.tbox]).select(
            "subject", "predicate", "object"
        )
        abox = triples
    else:
        tbox, abox = split_tbox(triples)
    fn = rdfs_owl_entailment if args.owl else rdfs_entailment
    out = fn(abox, tbox, include_asserted=not args.derived_only)
    out = out.orderBy("subject", "predicate", "object")
    if args.single_file:
        write_tsv_single(out, args.output)
    else:
        write_tsv_dir(out, args.output)
    print(f"wrote entailed triples to {args.output}")


def _cmd_holdouts(args: argparse.Namespace) -> None:
    """ML holdout split — the surface the reference's ``kg holdouts``
    declares but never implements (reference run.py:210-273 raises
    NotImplementedError; its docstring defines the output contract this
    command honors): given KGX node+edge TSVs, emit positive train/test
    (/valid) edge sets and matching type-consistent negative edge sets.

    Engine semantics (scale-first, deterministic): edges are assigned
    to splits by id-hash bucket (operators/split.holdout_split — no
    RNG state, identical across runs/partitionings/cluster sizes);
    negatives are filtered type-consistent corruptions drawn from the
    same predicate's entity pool (operators/negatives.corrupt_triples),
    split by the same hash protocol. The reference's
    spanning-tree-preserving edge selection is a documented deviation:
    a global MST over 10^12 edges serializes the sampler, while the
    hash split stays shuffle-free; connectivity QC is available
    separately via the coverage / cc machinery."""
    from pyspark.sql import functions as F

    from .operators.negatives import corrupt_triples
    from .operators.split import holdout_split
    from .sources.kgx import read_kgx_tsv, write_tsv_dir, write_tsv_single

    spark = get_spark(app_name="kg-holdouts")
    f = args.train_fraction
    if not 0.0 < f < 1.0:
        raise SystemExit(f"--train-fraction must be in (0, 1): {f}")
    if args.validation:
        rest = (1.0 - f) / 2.0
        weights = {"train": f, "test": rest, "valid": rest}
    else:
        weights = {"train": f, "test": 1.0 - f}

    edges = read_kgx_tsv(spark, [args.edges], exclude_columns=["id"])
    ekey = F.concat_ws("\t", "subject", "predicate", "object")
    pos = holdout_split(
        edges.withColumn("_ek", ekey), id_col="_ek", weights=weights,
        salt=args.salt,
    )
    triples = edges.select("subject", "predicate", "object")
    neg = corrupt_triples(
        triples, k=1, corrupt="object", salt=args.salt
    ).select(
        "subject", "predicate", F.col("negative").alias("object")
    )
    neg = holdout_split(
        neg.withColumn("_ek", ekey), id_col="_ek", weights=weights,
        salt=args.salt + ":neg",
    )

    os.makedirs(args.output, exist_ok=True)
    sink = write_tsv_single if args.single_file else write_tsv_dir

    def emit(df, split: str, name: str) -> None:
        out = df.filter(F.col("split") == split).drop("_ek", "split")
        path = os.path.join(args.output, name)
        sink(out, path + ".tsv" if args.single_file else path)

    emit(pos, "train", "pos_train_edges")
    emit(pos, "test", "pos_test_edges")
    emit(neg, "train", "neg_train")
    emit(neg, "test", "neg_test")
    if args.validation:
        emit(pos, "valid", "pos_valid_edges")
        emit(neg, "valid", "neg_valid")
    n_out = 4 + (2 if args.validation else 0)
    print(f"wrote {n_out} holdout sets to {args.output} "
          f"(weights: {weights})")


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="kg_microbe_merge_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    m = sub.add_parser("merge", help="merge KGX TSV transform products")
    m.add_argument("--transform-dir", default=None)
    m.add_argument("--output", default=None)
    m.add_argument("--subsets", default=None,
                   help="comma-separated subset dir-name filters")
    m.add_argument("--priority", default=None,
                   help="comma-separated priority provided_by sources "
                        "(default: auto-discover from ontologies/ files)")
    m.add_argument("--salt-buckets", type=int, default=1)
    m.add_argument("--single-file", action="store_true",
                   help="write one sorted TSV per output through the "
                        "driver (golden-test compat); default is "
                        "distributed part-file directories")
    m.add_argument("--format", choices=["tsv", "parquet"], default="tsv",
                   help="distributed sink format (parquet = the "
                        "production columnar sink; ignored with "
                        "--single-file)")
    m.add_argument("--config", default=None,
                   help="YAML merge-config file (reference merge.yaml "
                        "document model); flags override its values")
    m.add_argument("--untar", action="store_true")
    m.add_argument("--tar", action="store_true")
    m.set_defaults(fn=_cmd_merge)

    pl = sub.add_parser(
        "pipeline",
        help="run the web-KG construction pipeline; prints the committed row "
        "counts of corpus, triples, linked, mapping, edges and nodes",
    )
    pl.add_argument("--work-dir", required=True)
    pl.add_argument("--n-docs", type=int, default=2000)
    pl.add_argument("--seed", type=int, default=42)
    pl.set_defaults(fn=_cmd_pipeline)

    c = sub.add_parser("coverage", help="edge-endpoint vs nodes QC check")
    c.add_argument("--nodes", required=True)
    c.add_argument("--edges", required=True)
    c.add_argument("--output", required=True)
    c.set_defaults(fn=_cmd_coverage)

    cy = sub.add_parser(
        "cypher", help="Cypher-subset query over a merged KG (no Neo4j)"
    )
    cy.add_argument("query")
    cy.add_argument("--kg-dir", required=True,
                    help="merge output directory: merged_kg_nodes and "
                         "merged_kg_edges[_full], as .tsv files or part "
                         "directories")
    cy.add_argument("--limit", type=int, default=50)
    cy.set_defaults(fn=_cmd_cypher)

    sq = sub.add_parser(
        "sparql",
        help="run a YAML-structured SPARQL-subset query over a merged "
        "KG (local analogue of the reference's `kg query`)",
    )
    sq.add_argument("--kg-dir", required=True)
    sq.add_argument("--query-file", required=True,
                    help="YAML query document (see _cmd_sparql)")
    sq.add_argument("--output", default=None,
                    help="write the result as a single TSV")
    sq.add_argument("--limit-rows", type=int, default=50,
                    help="rows to print when not writing a TSV")
    sq.set_defaults(fn=_cmd_sparql)

    rdf = sub.add_parser(
        "export-rdf", help="export a merged KG as RDF N-Triples"
    )
    rdf.add_argument("--kg-dir", required=True)
    rdf.add_argument("--output", required=True)
    rdf.add_argument("--base", default="https://kg.example/")
    rdf.add_argument("--single-file", action="store_true")
    rdf.set_defaults(fn=_cmd_export_rdf)

    en = sub.add_parser(
        "entail",
        help="materialize RDFS(-lite)/OWL-lite entailment of a merged KG",
    )
    en.add_argument("--kg-dir", required=True)
    en.add_argument("--output", required=True)
    en.add_argument("--tbox", default=None,
                    help="schema-triple TSV; default: split from the edges")
    en.add_argument("--owl", action="store_true",
                    help="also apply owl:inverseOf/Symmetric/Transitive")
    en.add_argument("--derived-only", action="store_true",
                    help="emit only the strictly derived triples")
    en.add_argument("--single-file", action="store_true")
    en.set_defaults(fn=_cmd_entail)

    h = sub.add_parser(
        "holdouts",
        help="ML holdout split: positive + negative train/test(/valid) "
             "edge sets (the reference declares this surface but "
             "raises NotImplementedError)",
    )
    h.add_argument("--nodes", required=True,
                   help="nodes KGX TSV (schema parity with the "
                        "reference surface; splits are edge-driven)")
    h.add_argument("--edges", required=True, help="edges KGX TSV")
    h.add_argument("--output", required=True)
    h.add_argument("--train-fraction", type=float, default=0.8)
    h.add_argument("--validation", action="store_true",
                   help="also emit pos_valid_edges/neg_valid (splits "
                        "the non-train fraction in half)")
    h.add_argument("--salt", default="holdout",
                   help="hash salt — a different salt is a different "
                        "(still deterministic) split")
    h.add_argument("--single-file", action="store_true")
    h.set_defaults(fn=_cmd_holdouts)

    s = sub.add_parser("sql", help="ad-hoc SQL over a merged KG")
    s.add_argument("query")
    s.add_argument("--kg-dir", default=None)
    s.add_argument("--limit", type=int, default=20)
    s.set_defaults(fn=_cmd_sql)

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
