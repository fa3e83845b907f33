"""Canonical KGX schema constants.

Parity notes (reference, behavior only):
- Edge key and payload columns: kg_microbe_merge/constants.py:24 and
  tests/data/test_edges_1.tsv:1 (``knowledge_source`` header variant;
  the optional uuid ``id`` column of test_edges_2.tsv is dropped at load,
  cf. utils/duckdb_utils.py:432).
- Prefix→Biolink category map: utils/edge_vs_node_check.py:7-20.
"""

EDGE_KEY_COLUMNS = ["subject", "predicate", "object"]
EDGE_PAYLOAD_COLUMNS = ["relation", "knowledge_source"]

# Ordered prefix → Biolink category inference for edge endpoints missing
# from the node table (reference: utils/edge_vs_node_check.py:8-16).
CATEGORY_PREFIX_MAP = [
    ("EC:", "biolink:Enzyme"),
    ("assay:", "biolink:PhenotypicQuality"),
    ("trophic_type:", "biolink:BiologicalProcess"),
    ("cell_shape:", "biolink:PhenotypicQuality"),
    ("UniprotKB:", "biolink:Enzyme"),
    ("medium:", "biolink:ChemicalEntity"),
    ("carbon_substrates:", "biolink:ChemicalEntity"),
]
UNKNOWN_CATEGORY = "Unknown"

MULTIVALUE_SEP = "|"
