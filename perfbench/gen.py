"""Seeded input generators and driver-side oracles for the benchmark.

Every generator is a pure function of the seed and its ``*_SHAPE``: the same seed
always yields the same inputs. The oracles recompute the expected
outputs in plain Python, independently of the Spark code under test.
Values are ASCII without tabs, quotes or empty strings, so a TSV written
by Spark reads back unambiguously (an empty field is NULL).
"""

from __future__ import annotations

import csv
import hashlib
import os
import random
from collections import defaultdict

SEP = "|"

# --------------------------------------------------------------------------
# Order-insensitive table hashing
# --------------------------------------------------------------------------


def row_digest(values) -> int:
    raw = "\x1f".join("\x00" if v is None else v for v in values)
    return int.from_bytes(hashlib.blake2b(raw.encode(), digest_size=8).digest(), "little")


def table_hash(rows, columns: list[str]) -> int:
    """Sum of per-row digests mod 2^64 over dict rows, independent of row
    order and of column order in the source."""
    return sum(row_digest([r.get(c) for c in columns]) for r in rows) % (1 << 64)


def read_tsv_dir(path: str) -> list[dict]:
    """Rows of a Spark-written TSV part-file directory (header per part;
    an empty field is NULL)."""
    rows: list[dict] = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(path, name), newline="") as f:
            for r in csv.DictReader(f, delimiter="\t"):
                rows.append({k: (v if v != "" else None) for k, v in r.items()})
    return rows


def _write_tsv(path: str, header: list[str], rows: list[tuple]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")
    return os.path.getsize(path)


# --------------------------------------------------------------------------
# KGX merge semantics (the oracle side of operators.merge / upsert)
# --------------------------------------------------------------------------


def merge_nodes_oracle(rows: list[dict], columns: list[str], priority: list[str]) -> list[dict]:
    """Per id: name = max(priority-source name) else max(name); every
    other column = sorted distinct non-null values pipe-joined (NULL when
    none)."""
    groups: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        groups[r["id"]].append(r)
    prio = set(priority)
    out = []
    for node_id, grp in groups.items():
        names = [r.get("name") for r in grp if r.get("name") is not None]
        pnames = [
            r["name"] for r in grp
            if r.get("name") is not None and r.get("provided_by") in prio
        ]
        m = {"id": node_id, "name": max(pnames) if pnames else (max(names) if names else None)}
        for c in columns:
            if c in ("id", "name"):
                continue
            vals = sorted({r[c] for r in grp if r.get(c) is not None})
            m[c] = SEP.join(vals) if vals else None
        out.append(m)
    return out


def merge_edges_oracle(rows: list[dict], payload: list[str]) -> list[dict]:
    """One row per (subject, predicate, object) with sorted distinct
    pipe-joined payload columns."""
    groups: dict[tuple, list[dict]] = defaultdict(list)
    for r in rows:
        groups[(r["subject"], r["predicate"], r["object"])].append(r)
    out = []
    for (s, p, o), grp in groups.items():
        m = {"subject": s, "predicate": p, "object": o}
        for c in payload:
            vals = sorted({r[c] for r in grp if r.get(c) is not None})
            m[c] = SEP.join(vals) if vals else None
        out.append(m)
    return out


# --------------------------------------------------------------------------
# kgx_merge: a transform directory of KGX source TSV pairs
# --------------------------------------------------------------------------

KGX_SHAPE = {
    "sources": 6,            # KGX (nodes, edges) TSV pairs
    "priority_sources": 2,   # of them under ontologies/ (name priority)
    "node_rows": 6000,       # raw node rows per source
    "id_pool": 12000,        # distinct ordinary ids -> ~3x duplication
    "hubs": 4,               # hub ids ...
    "hub_width": 400,        # ... each with this many distinct-valued rows
    "edge_rows": 8000,       # raw edge rows per source
    "edge_dup": 0.3,         # share of edge rows repeating an earlier triple
    "dangling": 40,          # planted endpoint ids with no node row
}

_PREFIXES = ["NCBITaxon:", "CHEBI:", "EC:", "medium:", "GO:"]
_CATS = ["biolink:OrganismTaxon", "biolink:ChemicalEntity", "biolink:Enzyme"]
_PREDS = [f"biolink:p{i}" for i in range(6)]


def kgx_transform_dir(seed: int, root: str) -> dict:
    """Write the transform dir and return the oracle: merged node/edge
    counts and hashes, the dangling-id set, and the input sizes."""
    shape = KGX_SHAPE
    rng = random.Random(seed)
    n_src, n_prio = shape["sources"], shape["priority_sources"]
    pool = [f"{_PREFIXES[k % len(_PREFIXES)]}{k:07d}" for k in range(shape["id_pool"])]
    hubs = [f"CHEBI:HUB{h:03d}" for h in range(shape["hubs"])]
    node_rows: list[dict] = []
    edge_rows: list[dict] = []
    priority: list[str] = []
    bytes_in = 0
    per_source_nodes: list[list[dict]] = [[] for _ in range(n_src)]
    for s in range(n_src):
        src = f"infores:src{s}"
        ontology = s < n_prio
        if ontology:
            priority.append(src)
        for _ in range(shape["node_rows"]):
            k = rng.randrange(len(pool))
            r = {
                "id": pool[k],
                "category": _CATS[rng.randrange(len(_CATS))],
                "name": f"n{k}_{rng.randrange(4)}_s{s}",
                "description": f"d{rng.randrange(40)}",
                "provided_by": src,
            }
            if not ontology:
                r["xref"] = f"X:{rng.randrange(2000)}"
            per_source_nodes[s].append(r)
    for h, hub in enumerate(hubs):
        for j in range(shape["hub_width"]):
            s = rng.randrange(n_src)
            r = {
                "id": hub,
                "category": _CATS[1],
                "name": f"hub{h}_{j}_s{s}",
                "description": f"hubdesc{h}_{j}",
                "provided_by": f"infores:src{s}",
            }
            if s >= n_prio:
                r["xref"] = f"HX:{h}_{j}"
            per_source_nodes[s].append(r)
    for s in range(n_src):
        node_rows.extend(per_source_nodes[s])
    node_ids = sorted({r["id"] for r in node_rows})
    dangling = sorted(f"medium:DANGLE{j:05d}_{seed % 1000}" for j in range(shape["dangling"]))
    triples: list[tuple[str, str, str]] = []
    per_source_edges: list[list[dict]] = [[] for _ in range(n_src)]
    for s in range(n_src):
        for i in range(shape["edge_rows"]):
            if triples and rng.random() < shape["edge_dup"]:
                t = triples[rng.randrange(len(triples))]
            else:
                t = (
                    node_ids[rng.randrange(len(node_ids))],
                    _PREDS[rng.randrange(len(_PREDS))],
                    node_ids[rng.randrange(len(node_ids))],
                )
                triples.append(t)
            per_source_edges[s].append({
                "id": f"e{s}_{i}",
                "subject": t[0], "predicate": t[1], "object": t[2],
                "relation": f"RO:{rng.randrange(8):07d}",
                "knowledge_source": f"infores:src{s}",
            })
    # each planted dangling id is the object of one edge in some source
    for j, d in enumerate(dangling):
        s = j % n_src
        per_source_edges[s].append({
            "id": f"dangle{j}",
            "subject": node_ids[rng.randrange(len(node_ids))],
            "predicate": _PREDS[0], "object": d,
            "relation": "RO:0000001",
            "knowledge_source": f"infores:src{s}",
        })
    node_header_onto = ["id", "category", "name", "description", "provided_by"]
    node_header = ["id", "category", "name", "description", "xref", "provided_by"]
    edge_header = ["id", "subject", "predicate", "object", "relation", "knowledge_source"]
    for s in range(n_src):
        sub = "ontologies" if s < n_prio else f"source{s}"
        base = os.path.join(root, sub, f"src{s}")
        header = node_header_onto if s < n_prio else node_header
        bytes_in += _write_tsv(base + "_nodes.tsv", header,
                               [tuple(r[c] for c in header) for r in per_source_nodes[s]])
        bytes_in += _write_tsv(base + "_edges.tsv", edge_header,
                               [tuple(r[c] for c in edge_header) for r in per_source_edges[s]])
        edge_rows.extend(per_source_edges[s])

    merged_nodes = merge_nodes_oracle(node_rows, node_header, priority)
    merged_full = merge_edges_oracle(edge_rows, ["relation", "knowledge_source"])
    return {
        "priority": priority,
        "node_rows_in": len(node_rows),
        "edge_rows_in": len(edge_rows),
        "bytes_in": bytes_in,
        "nodes": (len(merged_nodes), table_hash(merged_nodes, node_header)),
        "edges": (len(merged_full), table_hash(merged_full, ["subject", "predicate", "object"])),
        "edges_full": (
            len(merged_full),
            table_hash(merged_full, ["subject", "predicate", "object", "relation", "knowledge_source"]),
        ),
        "dangling": dangling,
        "node_columns": node_header,
    }


# --------------------------------------------------------------------------
# canonicalize: a same_as graph of chains, a hub star and many pairs
# --------------------------------------------------------------------------

CANON_SHAPE = {
    "chains": 8,          # long chains ...
    "chain_len": 128,     # ... of this many nodes (diameter drives rounds)
    "hub_width": 1500,    # one star: hub + this many spokes
    "pairs": 3000,        # 2-node components
    "singletons": 3000,   # node-table rows in no same_as edge
}


def canonicalize_inputs(seed: int):
    """Return ``(nodes, edges, oracle)``: node rows ``(id, name)``,
    same_as rows ``(src, dst)`` in shuffled order and orientation, and the
    expected ``id -> canonical_id`` map (component minimum)."""
    shape = CANON_SHAPE
    rng = random.Random(seed)
    n_nodes = (
        shape["chains"] * shape["chain_len"] + shape["hub_width"] + 1
        + 2 * shape["pairs"] + shape["singletons"]
    )
    labels = list(range(n_nodes))
    rng.shuffle(labels)  # component minima land anywhere in a component
    ids = [f"E:{x:08d}" for x in labels]
    pos = 0
    edges: list[tuple[str, str]] = []

    def take(n):
        nonlocal pos
        out = ids[pos:pos + n]
        pos += n
        return out

    for _ in range(shape["chains"]):
        c = take(shape["chain_len"])
        edges.extend(zip(c, c[1:]))
    star = take(shape["hub_width"] + 1)
    edges.extend((star[0], v) for v in star[1:])
    for _ in range(shape["pairs"]):
        a, b = take(2)
        edges.append((a, b))
    take(shape["singletons"])
    edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
    rng.shuffle(edges)

    parent = {x: x for x in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    oracle = {x: find(x) for x in ids}
    nodes = [(x, f"name_{x[2:]}") for x in ids]
    return nodes, edges, oracle


# --------------------------------------------------------------------------
# kg_incremental: a base snapshot plus a stream of small deltas
# --------------------------------------------------------------------------

INC_SHAPE = {
    "base_node_rows": 12000,  # raw node rows merged into the base snapshot
    "id_pool": 8000,          # ids of the base graph
    "base_edge_rows": 20000,  # raw edge rows merged into the base snapshot
    "delta_node_rows": 200,   # node rows folded per round
    "delta_edge_rows": 300,   # edge rows folded per round
    "delta_new_share": 0.4,   # share of delta rows touching brand-new ids
}

INC_NODE_COLUMNS = ["id", "category", "name", "provided_by", "xref"]
INC_EDGE_COLUMNS = ["subject", "predicate", "object", "relation", "knowledge_source"]
INC_PRIORITY = ["infores:onto"]
INC_PREDS = ["biolink:p0", "biolink:p1", "biolink:p2", "biolink:p3"]
# two-hop query: ?a p0 ?b . ?b p1 ?c
INC_QUERY = [("?a", "biolink:p0", "?b"), ("?b", "biolink:p1", "?c")]
_SOURCES = ["infores:onto", "infores:a", "infores:b", "infores:c"]


def _inc_node(rng, node_id):
    return (
        node_id,
        _CATS[rng.randrange(len(_CATS))],
        f"nm{rng.randrange(1000)}",
        _SOURCES[rng.randrange(len(_SOURCES))],
        f"X:{rng.randrange(500)}",
    )


def _inc_edge(rng, ids, k):
    return (
        ids[rng.randrange(len(ids))],
        INC_PREDS[rng.randrange(len(INC_PREDS))],
        ids[rng.randrange(len(ids))],
        f"RO:{rng.randrange(4)}",
        _SOURCES[k % len(_SOURCES)],
    )


def inc_base(seed: int):
    """Raw base ``(node_rows, edge_rows)`` tuples in INC_*_COLUMNS order."""
    shape = INC_SHAPE
    rng = random.Random(seed)
    ids = [f"N:{k:07d}" for k in range(shape["id_pool"])]
    nodes = [_inc_node(rng, ids[rng.randrange(len(ids))]) for _ in range(shape["base_node_rows"])]
    edges = [_inc_edge(rng, ids, k) for k in range(shape["base_edge_rows"])]
    return nodes, edges


def inc_delta(seed: int, round_no: int):
    """Delta ``(node_rows, edge_rows)`` of one round; brand-new ids are
    unique to the round."""
    shape = INC_SHAPE
    rng = random.Random(f"{seed}/{round_no}")
    old = [f"N:{k:07d}" for k in range(shape["id_pool"])]
    n_new = max(1, int(shape["delta_node_rows"] * shape["delta_new_share"]))
    new = [f"N:r{round_no:05d}_{k:04d}" for k in range(n_new)]
    nodes = [
        _inc_node(rng, new[rng.randrange(n_new)] if rng.random() < shape["delta_new_share"]
                  else old[rng.randrange(len(old))])
        for _ in range(shape["delta_node_rows"])
    ]
    pool = old + new
    edges = [_inc_edge(rng, pool, k) for k in range(shape["delta_edge_rows"])]
    return nodes, edges


class TwoHopOracle:
    """Maintains the distinct edge set of the snapshot and the solution
    count of ``?a p ?b . ?b q ?c`` (bag semantics over distinct edges)."""

    def __init__(self, p: str, q: str):
        self.p, self.q = p, q
        self.edges: set[tuple[str, str, str]] = set()
        self.in_p: dict[str, int] = defaultdict(int)   # b -> |{a: a p b}|
        self.out_q: dict[str, int] = defaultdict(int)  # b -> |{c: b q c}|
        self.count = 0

    def add(self, s: str, pred: str, o: str) -> None:
        if (s, pred, o) in self.edges:
            return
        self.edges.add((s, pred, o))
        if pred == self.p:
            self.count += self.out_q[o]
            self.in_p[o] += 1
        if pred == self.q:
            self.count += self.in_p[s]
            self.out_q[s] += 1
