"""CLI + file-utils surface: transform-dir discovery, priority
auto-discovery, end-to-end merge command writing the reference's output
files, tar round-trip, SQL passthrough, multimodal plumbing, and one
end-to-end run of every CLI subcommand.
"""

from __future__ import annotations

import ast
import os
import tarfile

import pytest

from kg_microbe_merge_spark.operators.multimodal import (
    generate_media,
    sample_frames,
    with_media_features,
)
from kg_microbe_merge_spark.sources.files import (
    collect_paths_from_directory,
    collect_subset_kg_paths,
    discover_priority_sources,
    tarball_files_in_dir,
    unzip_files_in_dir,
)

NODES_TSV = (
    "id\tcategory\tname\tprovided_by\n"
    "X:1\tbiolink:A\tname-a\tontology_a.json\n"
    "X:2\tbiolink:B\tname-b\tontology_a.json\n"
)
NODES_TSV_2 = (
    "id\tcategory\tname\tprovided_by\txref\n"
    "X:1\tbiolink:A\tname-priority\tontology_b.json\tPMID:7\n"
)
EDGES_TSV = (
    "subject\tpredicate\tobject\trelation\tknowledge_source\n"
    "X:1\tbiolink:related_to\tX:2\tRO:1\tsrc_a\n"
    "X:1\tbiolink:related_to\tEC:9.9.9.9\tRO:2\tsrc_a\n"
)


def _make_transform_dir(tmp_path):
    base = tmp_path / "transformed"
    onto = base / "ontologies"
    onto.mkdir(parents=True)
    (onto / "onto_nodes.tsv").write_text(NODES_TSV_2)
    (onto / "onto_edges.tsv").write_text(
        "subject\tpredicate\tobject\trelation\tknowledge_source\n"
    )
    other = base / "bacdive"
    other.mkdir()
    (other / "bacdive_nodes.tsv").write_text(NODES_TSV)
    (other / "bacdive_edges.tsv").write_text(EDGES_TSV)
    return str(base)


def test_path_discovery_and_priority(tmp_path):
    base = _make_transform_dir(tmp_path)
    nodes, edges = collect_paths_from_directory(base)
    assert len(nodes) == 2 and len(edges) == 2
    sub_nodes, sub_edges = collect_subset_kg_paths(base, ["bacdive"])
    assert len(sub_nodes) == 1 and "bacdive" in sub_nodes[0]
    prio = discover_priority_sources(nodes)
    assert prio == ["ontology_b.json"]


def test_cli_merge_end_to_end(spark, tmp_path):
    from kg_microbe_merge_spark.cli import main

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "out")
    main(["merge", "--transform-dir", base, "--output", out, "--tar",
          "--single-file"])
    nodes_out = open(os.path.join(out, "merged_kg_nodes.tsv")).read()
    # priority source (auto-discovered ontology_b.json) wins the name
    assert "name-priority" in nodes_out
    lines = nodes_out.strip().split("\n")
    assert len(lines) == 3  # header + X:1 + X:2
    edges_out = open(os.path.join(out, "merged_kg_edges.tsv")).read()
    assert edges_out.startswith("subject\tpredicate\tobject")
    missing = open(
        os.path.join(out, "edges_missing_nodes_with_category.tsv")
    ).read()
    assert "EC:9.9.9.9\tbiolink:Enzyme" in missing
    assert os.path.exists(os.path.join(out, "merged-kg.tar.gz"))
    stats = open(os.path.join(out, "merged_graph_stats.tsv")).read()
    assert "total_nodes\t2" in stats and "total_edges\t2" in stats
    assert "edges_by_predicate\tbiolink:related_to\t2" in stats


def test_cli_merge_distributed_default(spark, tmp_path):
    """The DEFAULT sink must be distributed part-file directories —
    nothing flows through the driver on the production path."""
    from kg_microbe_merge_spark.cli import main

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "out_dist")
    main(["merge", "--transform-dir", base, "--output", out])
    nodes_dir = os.path.join(out, "merged_kg_nodes")
    assert os.path.isdir(nodes_dir), "default sink must be a directory"
    merged = spark.read.options(sep="\t", header=True).csv(nodes_dir)
    rows = {r["id"]: r["name"] for r in merged.collect()}
    assert rows == {"X:1": "name-priority", "X:2": "name-b"}
    # stats report is always a single small file
    assert os.path.isfile(os.path.join(out, "merged_graph_stats.tsv"))


def test_cli_merge_parquet_format(spark, tmp_path):
    """--format parquet writes the production columnar sink."""
    from kg_microbe_merge_spark.cli import main

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "out_pq")
    main(["merge", "--transform-dir", base, "--output", out,
          "--format", "parquet"])
    merged = spark.read.parquet(os.path.join(out, "merged_kg_nodes"))
    rows = {r["id"]: r["name"] for r in merged.collect()}
    assert rows == {"X:1": "name-priority", "X:2": "name-b"}


def test_cli_merge_from_yaml_config(spark, tmp_path):
    """`merge --config merge.yaml` (reference document model) runs the
    same merge as the flag form; round-trip load/dump preserves it."""
    from kg_microbe_merge_spark.cli import main
    from kg_microbe_merge_spark.config import (
        dump_merge_config,
        load_merge_config,
    )

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "out_cfg")
    cfg_path = str(tmp_path / "merge.yaml")
    with open(cfg_path, "w") as f:
        f.write(f"""
configuration:
  output_directory: {out}
  checkpoint: false
merged_graph:
  name: test graph
  source:
    - name: "onto"
      input:
        format: tsv
        filename:
          - {base}/ontologies/onto_nodes.tsv
          - {base}/ontologies/onto_edges.tsv
    - name: "bacdive"
      input:
        format: tsv
        filename:
          - {base}/bacdive/bacdive_nodes.tsv
          - {base}/bacdive/bacdive_edges.tsv
  operations:
    - name: kgx.graph_operations.summarize_graph.generate_graph_stats
      args:
        graph_name: test graph
        filename: merged_graph_stats.yaml
  destination:
    - format: tsv
      compression: tar.gz
      filename: merged-kg
""")
    cfg = load_merge_config(cfg_path)
    assert cfg.merged_graph.name == "test graph"
    nodes, edges = cfg.node_edge_paths()
    assert len(nodes) == 2 and len(edges) == 2
    assert cfg.wants_tar() and cfg.wants_graph_stats()
    # round-trip: dump and reload preserves the document
    rt_path = str(tmp_path / "merge_rt.yaml")
    dump_merge_config(cfg, rt_path)
    assert load_merge_config(rt_path).to_dict() == cfg.to_dict()

    main(["merge", "--config", cfg_path, "--single-file",
          "--priority", "ontology_b.json"])
    nodes_out = open(os.path.join(out, "merged_kg_nodes.tsv")).read()
    assert "name-priority" in nodes_out
    assert os.path.exists(os.path.join(out, "merged-kg.tar.gz"))


def test_tar_roundtrip(tmp_path):
    d = tmp_path / "pack"
    d.mkdir()
    (d / "a.txt").write_text("hello")
    tar = str(tmp_path / "x.tar.gz")
    tarball_files_in_dir(str(d), tar)
    with tarfile.open(tar) as tf:
        assert "a.txt" in tf.getnames()
    d2 = tmp_path / "unpack"
    d2.mkdir()
    import shutil

    shutil.copy(tar, d2 / "x.tar.gz")
    unzip_files_in_dir(str(d2))
    assert (d2 / "a.txt").read_text() == "hello"


def test_cli_merge_distributed_tar_contains_part_dirs(spark, tmp_path):
    """--tar with the default DISTRIBUTED sink: the tarball must carry
    the part-file directories (merged graph), not just the flat stats
    file, and must not recursively include itself."""
    from kg_microbe_merge_spark.cli import main

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "out_dist")
    main(["merge", "--transform-dir", base, "--output", out, "--tar"])
    with tarfile.open(os.path.join(out, "merged-kg.tar.gz")) as tf:
        names = tf.getnames()
    assert any(n.startswith("merged_kg_nodes/") and "part-" in n for n in names), names
    assert any(n.startswith("merged_kg_edges/") and "part-" in n for n in names), names
    assert "merged_graph_stats.tsv" in names
    assert not any(n.endswith(".tar.gz") for n in names)
    assert not any(os.path.basename(n).startswith(".") for n in names)


def test_sql_passthrough(spark):
    from kg_microbe_merge_spark.plans.sqlapi import query, register_kg_views

    nodes = spark.createDataFrame([("X:1", "n")], "id string, name string")
    register_kg_views(spark, nodes=nodes)
    assert query(spark, "SELECT count(*) AS n FROM nodes").first()["n"] == 1


def test_multimodal_plumbing(spark):
    media = generate_media(spark, n=30, seed=7)
    feats = with_media_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows[:5]:
        assert len(r["features"]) == 16
    # determinism: same payload -> same features across runs
    again = {r["media_id"]: r["features"] for r in with_media_features(media).collect()}
    for r in rows:
        assert again[r["media_id"]] == r["features"]
    # frame sampling explodes one row per timestamp step
    vids = media.filter("kind = 'video'")
    frames = sample_frames(vids, every_ms=1000)
    assert frames.count() >= vids.count()
    assert "frame_ms" in frames.columns


def test_media_from_documents_features(spark):
    """sha2-derived media table + byte-fingerprint feature extraction:
    head60 must equal the first-15-hex-chars int of the payload's sha256
    (cross-checked in Python), and payload bytes must be the repeated
    digest."""
    import hashlib

    from kg_microbe_merge_spark.operators.multimodal import (
        extract_media_features,
        media_from_documents,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta"), (2, "epsilon")],
        "doc_id long, text string",
    )
    out = {r["media_id"]: r for r in extract_media_features(
        media_from_documents(docs)).collect()}
    assert len(out) == 3
    for i, text in [(0, "alpha beta"), (1, "gamma delta"), (2, "epsilon")]:
        digest = hashlib.sha256(text.encode()).digest()
        copies = 1 + i % 3
        assert bytes(out[i]["payload"]) == digest * copies
        assert out[i]["n_bytes"] == 32 * copies
        assert out[i]["head60"] == int.from_bytes(digest[:8], "big") >> 4
    assert out[0]["kind"] == "image" and out[0]["width"] is not None
    assert out[1]["kind"] == "audio" and out[1]["duration_ms"] is not None


def test_grouped_read_with_source_labels(spark, tmp_path):
    """Same-header files are read in ONE grouped scan; per-file
    source_table labels still come out right (input_file_name match);
    a different-header file NULL-pads via unionByName."""
    from kg_microbe_merge_spark.sources.kgx import read_kgx_tsv

    a = tmp_path / "a_nodes.tsv"
    b = tmp_path / "b_nodes.tsv"
    c = tmp_path / "c_nodes.tsv"
    a.write_text("id\tname\nX:1\tfrom-a\n")
    b.write_text("id\tname\nX:2\tfrom-b\n")          # same header as a
    c.write_text("id\tname\txref\nX:3\tfrom-c\tP:1\n")  # different header
    df = read_kgx_tsv(
        spark, [str(a), str(b), str(c)],
        source_table_labels=["lab_a", "lab_b", "lab_c"],
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows["X:1"]["source_table"] == "lab_a"
    assert rows["X:2"]["source_table"] == "lab_b"
    assert rows["X:3"]["source_table"] == "lab_c"
    assert rows["X:1"]["xref"] is None and rows["X:3"]["xref"] == "P:1"


def test_priority_dedup_over_labeled_sources(spark, tmp_path):
    """W1 end-to-end over the grouped loader: base-table rows win."""
    from kg_microbe_merge_spark.operators.merge import priority_dedup
    from kg_microbe_merge_spark.sources.kgx import read_kgx_tsv

    base = tmp_path / "base_nodes.tsv"
    sub = tmp_path / "sub_nodes.tsv"
    base.write_text("id\tname\nX:1\tbase-name\n")
    sub.write_text("id\tname\nX:1\tsub-name\nX:9\tonly-sub\n")
    df = read_kgx_tsv(
        spark, [str(base), str(sub)], source_table_labels=["base", "sub"]
    )
    win = priority_dedup(df, keys=["id"], base_table="base", tiebreak_cols=["name"])
    got = {r["id"]: r["name"] for r in win.collect()}
    assert got == {"X:1": "base-name", "X:9": "only-sub"}


def test_cli_export_rdf(spark, tmp_path):
    from kg_microbe_merge_spark.cli import main
    from kg_microbe_merge_spark.sources.rdf import RDF_TYPE, RDFS_LABEL, read_ntriples

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "merged")
    main(["merge", "--transform-dir", base, "--output", out,
          "--single-file"])
    nt = str(tmp_path / "kg_nt")
    main(["export-rdf", "--kg-dir", out, "--output", nt, "--single-file"])
    back = read_ntriples(spark, nt)
    rows = {
        (r["subject"], r["predicate"], r["object"]) for r in back.collect()
    }
    b = "https://kg.example/"
    # edge triple survives, priority name exported as rdfs:label,
    # pipe-joined category exported as rdf:type IRI
    assert (f"{b}X:1", f"{b}biolink:related_to", f"{b}X:2") in rows
    assert (f"{b}X:1", RDFS_LABEL, "name-priority") in rows
    assert any(s == f"{b}X:1" and p == RDF_TYPE for s, p, _ in rows)


def test_cli_entail_end_to_end(spark, tmp_path):
    """`entail` materializes the RDFS/OWL closure of a merged KG's
    edge triples: mixed data+schema TSV in, entailed TSV out — both
    the split-from-edges and --owl paths."""
    from kg_microbe_merge_spark.cli import main

    kg = tmp_path / "kg"
    kg.mkdir()
    (kg / "merged_kg_edges.tsv").write_text(
        "subject\tpredicate\tobject\n"
        "D:1\ttreats\tX:1\n"
        "X:9\ttreated_by\tD:9\n"
        "treats\trdfs:subPropertyOf\taffects\n"
        "treats\trdfs:domain\tDrug\n"
        "treated_by\towl:inverseOf\ttreats\n"
        "Drug\trdfs:subClassOf\tChemical\n"
    )
    out = str(tmp_path / "entailed.tsv")
    main(["entail", "--kg-dir", str(kg), "--output", out,
          "--single-file"])
    rows = {
        tuple(line.split("\t"))
        for line in open(out).read().strip().split("\n")[1:]
    }
    assert ("D:1", "affects", "X:1") in rows  # rdfs7
    assert ("D:1", "rdf:type", "Chemical") in rows  # rdfs2 + rdfs9
    assert ("D:9", "treats", "X:9") not in rows  # owl off by default

    out2 = str(tmp_path / "entailed_owl.tsv")
    main(["entail", "--kg-dir", str(kg), "--output", out2, "--owl",
          "--single-file"])
    rows2 = {
        tuple(line.split("\t"))
        for line in open(out2).read().strip().split("\n")[1:]
    }
    assert ("D:9", "treats", "X:9") in rows2  # inverse
    assert ("D:9", "rdf:type", "Chemical") in rows2  # typed through it
    assert rows < rows2

    # --derived-only excludes every asserted row
    out3 = str(tmp_path / "derived.tsv")
    main(["entail", "--kg-dir", str(kg), "--output", out3,
          "--derived-only", "--single-file"])
    rows3 = {
        tuple(line.split("\t"))
        for line in open(out3).read().strip().split("\n")[1:]
    }
    assert rows3 and ("D:1", "treats", "X:1") not in rows3


def test_cli_sparql_end_to_end(spark, tmp_path, capsys):
    from kg_microbe_merge_spark.cli import main

    base = _make_transform_dir(tmp_path)
    out = str(tmp_path / "kg")
    main(["merge", "--transform-dir", base, "--output", out,
          "--single-file"])

    # SELECT with FILTER → TSV result (the reference `kg query` shape)
    qf = tmp_path / "q.yaml"
    qf.write_text(
        "form: select\n"
        "patterns:\n"
        "  - ['?s', 'biolink:related_to', '?o']\n"
        "filters: [\"?o <> 'X:2'\"]\n"
        "select: ['?s', '?o']\n"
        "order_by: ['?s']\n"
    )
    res = str(tmp_path / "res.tsv")
    main(["sparql", "--kg-dir", out, "--query-file", str(qf),
          "--output", res])
    lines = open(res).read().strip().split("\n")
    assert lines[0] == "s\to"
    assert lines[1:] == ["X:1\tEC:9.9.9.9"]

    # aggregate form prints instead of writing
    qf2 = tmp_path / "q2.yaml"
    qf2.write_text(
        "form: aggregate\n"
        "patterns:\n"
        "  - ['?s', 'biolink:related_to', '?o']\n"
        "group_by: ['?s']\n"
        "aggregates: {n_targets: 'COUNT(DISTINCT ?o)'}\n"
    )
    main(["sparql", "--kg-dir", out, "--query-file", str(qf2)])
    printed = capsys.readouterr().out
    assert "n_targets" in printed and "2" in printed

    # ask form prints a boolean
    qf3 = tmp_path / "q3.yaml"
    qf3.write_text(
        "form: ask\npatterns:\n  - ['X:1', '?p', 'X:2']\n"
    )
    main(["sparql", "--kg-dir", out, "--query-file", str(qf3)])
    assert "True" in capsys.readouterr().out


@pytest.fixture(scope="module")
def merged_kgs(spark, tmp_path_factory):
    """One KG merged twice from the same transform dir: with the default
    distributed sink (part directories) and with ``--single-file``."""
    from kg_microbe_merge_spark.cli import main

    tmp = tmp_path_factory.mktemp("merged_kgs")
    base = _make_transform_dir(tmp)
    out = {"distributed": str(tmp / "kg_dist"), "single": str(tmp / "kg_single")}
    main(["merge", "--transform-dir", base, "--output", out["distributed"]])
    main(["merge", "--transform-dir", base, "--output", out["single"],
          "--single-file"])
    return out


def test_cli_query_subcommands_read_distributed_merge_output(
    spark, tmp_path, capsys, merged_kgs
):
    """Every ``--kg-dir`` subcommand reads the part directories that a
    default (distributed-sink) ``merge`` writes."""
    from kg_microbe_merge_spark.cli import main
    from kg_microbe_merge_spark.sources.rdf import RDFS_LABEL, read_ntriples

    kg = merged_kgs["distributed"]
    assert os.path.isdir(os.path.join(kg, "merged_kg_nodes"))
    capsys.readouterr()

    main(["cypher", "--kg-dir", kg,
          "MATCH (a)-[:related_to]->(b:B) RETURN a.name AS who"])
    assert "name-priority" in capsys.readouterr().out

    main(["sql", "--kg-dir", kg,
          "SELECT concat('n=', count(*)) AS c FROM nodes "
          "UNION ALL SELECT concat('e=', count(*)) FROM edges"])
    printed = capsys.readouterr().out
    assert "n=2" in printed and "e=2" in printed

    qf = tmp_path / "q.yaml"
    qf.write_text("patterns:\n  - ['?s', 'biolink:related_to', '?o']\n"
                  "select: ['?o']\norder_by: ['?o']\n")
    res = str(tmp_path / "res.tsv")
    main(["sparql", "--kg-dir", kg, "--query-file", str(qf), "--output", res])
    assert open(res).read().split() == ["o", "EC:9.9.9.9", "X:2"]

    nt = str(tmp_path / "kg_nt")
    main(["export-rdf", "--kg-dir", kg, "--output", nt, "--single-file"])
    b = "https://kg.example/"
    rows = {(r["subject"], r["predicate"], r["object"])
            for r in read_ntriples(spark, nt).collect()}
    assert (f"{b}X:1", f"{b}biolink:related_to", f"{b}X:2") in rows
    assert (f"{b}X:1", RDFS_LABEL, "name-priority") in rows

    ent = str(tmp_path / "entailed.tsv")
    main(["entail", "--kg-dir", kg, "--output", ent, "--single-file"])
    got = sorted(open(ent).read().strip().split("\n")[1:])
    assert got == ["X:1\tbiolink:related_to\tEC:9.9.9.9",
                   "X:1\tbiolink:related_to\tX:2"]


def test_cli_pipeline_end_to_end(spark, tmp_path, capsys):
    import json

    from kg_microbe_merge_spark.cli import main
    from kg_microbe_merge_spark.plans.pipeline import MANIFEST_NAME

    wd = str(tmp_path / "run")
    main(["pipeline", "--work-dir", wd, "--n-docs", "40", "--seed", "1"])
    counts = ast.literal_eval(capsys.readouterr().out.strip().splitlines()[-1])
    assert counts["corpus"] == 40
    assert counts["nodes"] > 0 and counts["edges"] > 0
    with open(os.path.join(wd, MANIFEST_NAME)) as f:
        committed = set(json.load(f))
    assert {"corpus", "triples", "components", "kgx_nodes"} <= committed


def test_cli_coverage_end_to_end(spark, tmp_path, capsys):
    from kg_microbe_merge_spark.cli import main

    nodes = tmp_path / "nodes.tsv"
    edges = tmp_path / "edges.tsv"
    nodes.write_text(NODES_TSV)
    edges.write_text(EDGES_TSV)
    out = str(tmp_path / "missing.tsv")
    main(["coverage", "--nodes", str(nodes), "--edges", str(edges),
          "--output", out])
    assert "1 missing endpoints" in capsys.readouterr().out
    lines = open(out).read().strip().split("\n")
    assert len(lines) == 2 and "EC:9.9.9.9\tbiolink:Enzyme" in lines[1]


def test_cli_cypher_end_to_end(spark, capsys, merged_kgs):
    from kg_microbe_merge_spark.cli import main

    capsys.readouterr()
    main(["cypher", "--kg-dir", merged_kgs["single"],
          "MATCH (a:A)-[r]->(b) RETURN b.id AS target ORDER BY target"])
    printed = capsys.readouterr().out
    assert printed.index("EC:9.9.9.9") < printed.index("X:2")
    assert "X:1" not in printed


def test_cli_sql_end_to_end(spark, capsys, merged_kgs):
    from kg_microbe_merge_spark.cli import main

    capsys.readouterr()
    main(["sql", "--kg-dir", merged_kgs["single"],
          "SELECT n.name AS who, count(*) AS n_out FROM edges e "
          "JOIN nodes n ON e.subject = n.id GROUP BY n.name"])
    printed = capsys.readouterr().out
    assert "name-priority" in printed and "name-b" not in printed
    row = next(line for line in printed.splitlines() if "name-priority" in line)
    assert row.split("|")[2].strip() == "2"


def test_cli_holdouts_end_to_end(spark, tmp_path):
    """`kg holdouts` e2e — the surface the reference declares but never
    implements (run.py:210-273): positive + negative train/test(/valid)
    edge TSVs, deterministic, disjoint, exhaustive over the input."""
    from kg_microbe_merge_spark.cli import main

    nodes = tmp_path / "nodes.tsv"
    edges = tmp_path / "edges.tsv"
    nodes.write_text(
        "id\tcategory\tname\n"
        + "".join(f"X:{i}\tbiolink:A\tn{i}\n" for i in range(30))
    )
    edges.write_text(
        "subject\tpredicate\tobject\trelation\tknowledge_source\n"
        + "".join(
            f"X:{i}\tbiolink:related_to\tX:{(i * 7 + 1) % 30}\tRO:1\tsrc\n"
            for i in range(30)
        )
    )
    out = str(tmp_path / "holdouts")
    main([
        "holdouts", "--nodes", str(nodes), "--edges", str(edges),
        "--output", out, "--train-fraction", "0.8", "--validation",
        "--single-file",
    ])

    def rows(name):
        txt = open(os.path.join(out, name + ".tsv")).read().strip()
        lines = txt.split("\n")
        assert lines[0].startswith("subject\tpredicate\tobject")
        return {tuple(l.split("\t")[:3]) for l in lines[1:] if l}

    tr = rows("pos_train_edges")
    te = rows("pos_test_edges")
    va = rows("pos_valid_edges")
    # disjoint + exhaustive positive split
    assert not (tr & te) and not (tr & va) and not (te & va)
    assert len(tr) + len(te) + len(va) == 30
    assert len(tr) >= len(te) and len(tr) >= len(va)
    # negatives exist, are type-consistent triples, and never collide
    # with a true edge
    pos_all = tr | te | va
    neg_all = (
        rows("neg_train") | rows("neg_test") | rows("neg_valid")
    )
    assert neg_all and not (neg_all & pos_all)
    assert all(p == "biolink:related_to" for _, p, _o in neg_all)
    # deterministic: a second run reproduces the same train set
    out2 = str(tmp_path / "holdouts2")
    main([
        "holdouts", "--nodes", str(nodes), "--edges", str(edges),
        "--output", out2, "--train-fraction", "0.8", "--validation",
        "--single-file",
    ])
    tr2 = {
        tuple(l.split("\t")[:3])
        for l in open(os.path.join(out2, "pos_train_edges.tsv"))
        .read().strip().split("\n")[1:]
    }
    assert tr2 == tr


def test_image_features_real_codec_guard():
    """image_features prefers the PIL path and falls back to the
    deterministic fake when the codec is absent (this container) or
    the payload is corrupt; decode_image raises a clear guard."""
    import pytest

    from kg_microbe_merge_spark.operators.multimodal import (
        decode_image,
        fake_decode_features,
        image_features,
    )

    assert image_features(None) == [0.0] * 16
    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        assert image_features(b"abc") == fake_decode_features(b"abc")
        with pytest.raises(NotImplementedError, match="pillow"):
            decode_image(b"\xff\xd8\xff")
    else:  # pragma: no cover - PIL absent in CI image
        assert len(image_features(b"not-an-image")) == 16


def _kg_fixture_from_corpus(spark, tmp_path, n_docs):
    """Corpus→KG derived KGX transform dir at a given corpus size: two
    'sources' (hash-split) so the merge exercises multi-file union +
    group-merge, not a passthrough."""
    import pyspark.sql.functions as F

    from kg_microbe_merge_spark.plans.pipeline import run_pipeline
    from kg_microbe_merge_spark.sources.kgx import write_tsv_single

    wd = str(tmp_path / f"pipe_{n_docs}")
    out = run_pipeline(spark, wd, n_docs=n_docs, seed=42)
    base = tmp_path / f"transformed_{n_docs}"
    for src_i in (0, 1):
        d = base / f"src{src_i}"
        d.mkdir(parents=True)
        pick = F.abs(F.xxhash64("id")) % 2 == src_i
        write_tsv_single(
            out["nodes"].filter(pick), str(d / f"src{src_i}_nodes.tsv")
        )
        epick = F.abs(F.xxhash64("subject", "object")) % 2 == src_i
        write_tsv_single(
            out["edges"].filter(epick), str(d / f"src{src_i}_edges.tsv")
        )
    return str(base)


def _tsv_content_hash(path_or_dir):
    """Order-independent content hash: all data lines (headers dropped)
    sorted, md5 — identical content in either sink layout hashes equal."""
    import hashlib

    lines = []
    if os.path.isdir(path_or_dir):
        for fn in sorted(os.listdir(path_or_dir)):
            if fn.startswith(("part-",)) and not fn.endswith(".crc"):
                with open(os.path.join(path_or_dir, fn)) as f:
                    body = f.read().splitlines()
                if body:
                    lines.extend(body[1:])  # per-part header
    else:
        with open(path_or_dir) as f:
            lines = f.read().splitlines()[1:]
    return hashlib.md5("\n".join(sorted(lines)).encode()).hexdigest(), len(lines)


def test_cli_merge_sink_parity_across_scales(spark, tmp_path):
    """Corpus→KG→merge at TWO corpus scales: the distributed default
    sink and the byte-compared --single-file sink must carry identical
    merged-KG content (same line multiset) at both sizes — pins the
    production write path against the golden path as fixtures grow
    (VERDICT r4 item 6)."""
    from kg_microbe_merge_spark.cli import main

    for n_docs in (400, 4000):
        base = _kg_fixture_from_corpus(spark, tmp_path, n_docs)
        out_s = str(tmp_path / f"out_single_{n_docs}")
        out_d = str(tmp_path / f"out_dist_{n_docs}")
        main(["merge", "--transform-dir", base, "--output", out_s,
              "--single-file"])
        main(["merge", "--transform-dir", base, "--output", out_d])
        for fname in ("merged_kg_nodes", "merged_kg_edges"):
            h_single, n_single = _tsv_content_hash(
                os.path.join(out_s, f"{fname}.tsv")
            )
            h_dist, n_dist = _tsv_content_hash(os.path.join(out_d, fname))
            assert n_single == n_dist > 0, (fname, n_docs, n_single, n_dist)
            assert h_single == h_dist, (fname, n_docs)
