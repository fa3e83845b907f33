"""RDFS-lite entailment (operators/entailment.py): hand-checked rule
semantics, a naive Python fixpoint model oracle, the DuckDB SQL twin,
the derived-only delta, the lite-profile guard, and the broadcast-only
plan shape (ABox never shuffles before the final distinct)."""

from __future__ import annotations

import duckdb
import pytest

from kg_microbe_merge_spark.operators.entailment import (
    DOMAIN_PRED,
    INVERSE_PRED,
    RANGE_PRED,
    SUBCLASS_PRED,
    SUBPROP_PRED,
    SYMMETRIC_CLASS,
    TRANSITIVE_CLASS,
    TYPE_PRED,
    UnsupportedTBoxError,
    entailment_sql,
    owl_entailment_sql,
    rdfs_entailment,
    rdfs_owl_entailment,
    split_tbox,
)

T = "subject string, predicate string, object string"

TBOX = [
    ("treats", SUBPROP_PRED, "affects"),
    ("affects", SUBPROP_PRED, "related_to"),
    ("treats", DOMAIN_PRED, "Drug"),
    ("treats", RANGE_PRED, "Disease"),
    ("affects", DOMAIN_PRED, "Agent"),
    ("Drug", SUBCLASS_PRED, "Chemical"),
    ("Chemical", SUBCLASS_PRED, "Entity"),
    ("Disease", SUBCLASS_PRED, "Condition"),
    ("Syndrome", SUBCLASS_PRED, "Disease"),
]

ABOX = [
    ("d1", "treats", "x1"),
    ("d2", "affects", "x2"),
    ("x3", TYPE_PRED, "Syndrome"),
]


def _model(abox, tbox):
    """Naive fixpoint over the six rules — the independent model."""
    triples = set(abox) | set(tbox)
    changed = True
    while changed:
        changed = False
        new = set()
        for s, p, o in triples:
            if p in (SUBPROP_PRED, SUBCLASS_PRED):
                for s2, p2, o2 in triples:
                    if p2 == p and s2 == o:
                        new.add((s, p, o2))  # rdfs5 / rdfs11
                    if p == SUBPROP_PRED and p2 == s:
                        new.add((s2, o, o2))  # rdfs7
                    if (
                        p == SUBCLASS_PRED
                        and p2 == TYPE_PRED
                        and o2 == s
                    ):
                        new.add((s2, TYPE_PRED, o))  # rdfs9
            if p in (DOMAIN_PRED, RANGE_PRED):
                for s2, p2, o2 in triples:
                    if p2 == s:
                        ent = s2 if p == DOMAIN_PRED else o2
                        new.add((ent, TYPE_PRED, o))  # rdfs2 / rdfs3
        if not new <= triples:
            triples |= new
            changed = True
    return triples


def _triples(df):
    return sorted(
        (r["subject"], r["predicate"], r["object"]) for r in df.collect()
    )


def test_rule_semantics_vs_fixpoint_model(spark):
    abox = spark.createDataFrame(ABOX, T)
    tbox = spark.createDataFrame(TBOX, T)
    got = set(_triples(rdfs_entailment(abox, tbox)))
    assert got == _model(ABOX, TBOX)
    # spot checks: every rule fires
    assert ("d1", "related_to", "x1") in got  # rdfs7 via rdfs5
    assert ("d1", TYPE_PRED, "Entity") in got  # rdfs2+rdfs9 chain
    assert ("x1", TYPE_PRED, "Condition") in got  # rdfs3+rdfs9
    assert ("d2", TYPE_PRED, "Agent") in got  # domain on superprop inst
    assert ("x3", TYPE_PRED, "Condition") in got  # asserted type up 2
    assert ("treats", SUBPROP_PRED, "related_to") in got  # rdfs5
    assert ("Drug", SUBCLASS_PRED, "Entity") in got  # rdfs11
    # rdfs7 lifts d2's affects only upward, never down to treats
    assert ("d2", "treats", "x2") not in got


def test_vs_duckdb_oracle(spark):
    abox = spark.createDataFrame(ABOX, T)
    tbox = spark.createDataFrame(TBOX, T)
    got = _triples(rdfs_entailment(abox, tbox))
    con = duckdb.connect()
    con.execute(f"CREATE TABLE abox ({T.replace(' string', ' VARCHAR')})")
    con.execute(f"CREATE TABLE tbox ({T.replace(' string', ' VARCHAR')})")
    con.executemany("INSERT INTO abox VALUES (?, ?, ?)", ABOX)
    con.executemany("INSERT INTO tbox VALUES (?, ?, ?)", TBOX)
    oracle = sorted(
        map(tuple, con.execute(entailment_sql("abox", "tbox")).fetchall())
    )
    assert got == oracle


def test_split_and_derived_only_delta(spark):
    all_rows = spark.createDataFrame(ABOX + TBOX, T)
    tbox, abox = split_tbox(all_rows)
    assert sorted(map(tuple, tbox.collect())) == sorted(TBOX)
    full = set(_triples(rdfs_entailment(abox, tbox)))
    delta = set(
        _triples(rdfs_entailment(abox, tbox, include_asserted=False))
    )
    assert delta == full - set(ABOX) - set(TBOX)
    assert delta and not delta & (set(ABOX) | set(TBOX))


def test_lite_profile_guard(spark):
    abox = spark.createDataFrame(ABOX, T)
    for bad_row in (
        ("instance_of", SUBPROP_PRED, TYPE_PRED),
        (TYPE_PRED, SUBPROP_PRED, "related_to"),
        (TYPE_PRED, DOMAIN_PRED, "Entity"),
    ):
        tbox = spark.createDataFrame(TBOX + [bad_row], T)
        with pytest.raises(UnsupportedTBoxError):
            rdfs_entailment(abox, tbox)


OWL_TBOX = TBOX + [
    ("treated_by", INVERSE_PRED, "treats"),
    ("interacts_with", TYPE_PRED, SYMMETRIC_CLASS),
    ("part_of", TYPE_PRED, TRANSITIVE_CLASS),
    ("part_of", RANGE_PRED, "Whole"),
]

OWL_ABOX = ABOX + [
    ("x9", "treated_by", "d9"),
    ("d1", "interacts_with", "d2"),
    ("m1", "part_of", "m2"),
    ("m2", "part_of", "m3"),
    ("m3", "part_of", "m4"),
]


def _owl_model(abox, tbox):
    """Naive fixpoint over RDFS + the three OWL property rules."""
    triples = set(abox) | set(tbox)
    changed = True
    while changed:
        base = _model(triples, ())  # RDFS fixpoint over everything
        new = set(base)
        inv = {}
        for s, p, o in base:
            if p == INVERSE_PRED:
                inv[s] = o
                inv[o] = s
        syms = {s for s, p, o in base if p == TYPE_PRED and o == SYMMETRIC_CLASS}
        trs = {s for s, p, o in base if p == TYPE_PRED and o == TRANSITIVE_CLASS}
        for s, p, o in base:
            if p in inv:
                new.add((o, inv[p], s))
            if p in syms:
                new.add((o, p, s))
            if p in trs:
                for s2, p2, o2 in base:
                    if p2 == p and s2 == o:
                        new.add((s, p, o2))
        changed = new != triples
        triples = new
    return triples


def test_owl_rules_vs_fixpoint_model(spark):
    abox = spark.createDataFrame(OWL_ABOX, T)
    tbox = spark.createDataFrame(OWL_TBOX, T)
    got = set(_triples(rdfs_owl_entailment(abox, tbox)))
    assert got == _owl_model(OWL_ABOX, OWL_TBOX)
    # inverse both ways, incl. on rdfs7-lifted instances
    assert ("x1", "treated_by", "d1") in got
    assert ("d9", "treats", "x9") in got
    assert ("d9", "rdf:type", "Drug") in got  # domain through inverse
    # symmetric
    assert ("d2", "interacts_with", "d1") in got
    # transitive closure + its range types
    assert ("m1", "part_of", "m4") in got
    assert ("m4", "rdf:type", "Whole") in got
    # inverse applies to ENTAILED (closure) triples too: none declared
    # for part_of, but treats' closure via subprop must not leak
    assert ("m4", "part_of", "m1") not in got


def test_owl_vs_duckdb_oracle(spark):
    abox = spark.createDataFrame(OWL_ABOX, T)
    tbox = spark.createDataFrame(OWL_TBOX, T)
    got = _triples(rdfs_owl_entailment(abox, tbox))
    con = duckdb.connect()
    con.execute(f"CREATE TABLE abox ({T.replace(' string', ' VARCHAR')})")
    con.execute(f"CREATE TABLE tbox ({T.replace(' string', ' VARCHAR')})")
    con.executemany("INSERT INTO abox VALUES (?, ?, ?)", OWL_ABOX)
    con.executemany("INSERT INTO tbox VALUES (?, ?, ?)", OWL_TBOX)
    oracle = sorted(
        map(tuple, con.execute(owl_entailment_sql("abox", "tbox")).fetchall())
    )
    assert got == oracle


def test_owl_saturate_inverse_of_closure(spark):
    """OWL semantics: inverseOf applies to entailed triples — the
    post-closure inverse pass must emit the inverse of every CLOSURE
    pair, not just asserted ones."""
    tbox_rows = [
        ("anc", TYPE_PRED, TRANSITIVE_CLASS),
        ("desc", INVERSE_PRED, "anc"),
    ]
    abox_rows = [("a", "anc", "b"), ("b", "anc", "c")]
    tbox = spark.createDataFrame(tbox_rows, T)
    abox = spark.createDataFrame(abox_rows, T)
    got = set(_triples(rdfs_owl_entailment(abox, tbox)))
    assert got == _owl_model(abox_rows, tbox_rows)
    assert ("a", "anc", "c") in got
    assert ("c", "desc", "a") in got  # inverse of a DERIVED pair


def _pairs_closure(pairs):
    """Plain reachability over (src, dst) pairs."""
    closed = set(pairs)
    while True:
        new = {(a, d) for a, b in closed for c, d in closed if b == c}
        if new <= closed:
            return closed
        closed |= new


def test_transitive_closure_keyed_per_predicate(spark):
    """Two transitive predicates over shared nodes, one with an
    inverse: each closes over its own edges only — no path chains
    across predicates — the full result matches the fixpoint model,
    and a fold that bridges both chains matches the full result."""
    from kg_microbe_merge_spark.operators.entailment import (
        incremental_entailment,
    )

    tbox_rows = [
        ("part_of", TYPE_PRED, TRANSITIVE_CLASS),
        ("located_in", TYPE_PRED, TRANSITIVE_CLASS),
        ("has_part", INVERSE_PRED, "part_of"),
    ]
    base = [
        ("a", "part_of", "b"),
        ("b", "located_in", "c"),
        ("a", "located_in", "e"),
    ]
    delta = [
        ("c", "part_of", "d"),
        ("d", "part_of", "a"),
        ("e", "located_in", "d"),
    ]
    tbox = spark.createDataFrame(tbox_rows, T)
    full = rdfs_owl_entailment(spark.createDataFrame(base + delta, T), tbox)
    got = set(_triples(full))
    assert got == _owl_model(base + delta, tbox_rows)

    def edges(pred):
        return {(s, o) for s, p, o in base + delta if p == pred}

    def rows(pred):
        return {(s, o) for s, p, o in got if p == pred}

    part_of = _pairs_closure(edges("part_of"))
    assert rows("part_of") == part_of
    assert rows("located_in") == _pairs_closure(edges("located_in"))
    assert rows("has_part") == {(o, s) for s, o in part_of}
    # a part_of b located_in c chains across predicates: never derived
    assert ("a", "part_of", "c") not in got
    assert ("a", "located_in", "c") not in got

    prev = rdfs_owl_entailment(spark.createDataFrame(base, T), tbox)
    folded = incremental_entailment(
        prev, spark.createDataFrame(delta, T), tbox
    )
    assert set(_triples(folded)) == got


def test_owl_subprop_interplay_complete(spark):
    """The lattice handles every interleaving of subPropertyOf with
    inverse/symmetric — including OWL-derived triples that then need
    lifting (the case a naive lift-then-saturate stratification
    misses): treated_by's inverse output lands on treats, which has
    superproperties; a symmetric predicate's mirror lifts too."""
    abox = spark.createDataFrame(OWL_ABOX, T)
    tbox_rows = OWL_TBOX + [("interacts_with", SUBPROP_PRED, "related_to")]
    tbox = spark.createDataFrame(tbox_rows, T)
    got = set(_triples(rdfs_owl_entailment(abox, tbox)))
    assert got == _owl_model(OWL_ABOX, tbox_rows)
    # inverse-derived treats-edge lifted through its superproperties
    assert ("d9", "affects", "x9") in got
    assert ("d9", "related_to", "x9") in got
    # symmetric mirror lifted through the new superproperty
    assert ("d2", "related_to", "d1") in got
    # and typed through the lifted superproperty's domain (affects)
    assert ("d9", TYPE_PRED, "Agent") in got


def test_owl_type_guard(spark):
    abox = spark.createDataFrame(OWL_ABOX, T)
    tbox = spark.createDataFrame(
        OWL_TBOX + [(TYPE_PRED, SUBPROP_PRED, "related_to")], T
    )
    with pytest.raises(UnsupportedTBoxError):
        rdfs_owl_entailment(abox, tbox)


def test_owl_split_tbox(spark):
    all_rows = spark.createDataFrame(OWL_ABOX + OWL_TBOX, T)
    tbox, abox = split_tbox(all_rows)
    assert sorted(map(tuple, tbox.collect())) == sorted(OWL_TBOX)
    assert sorted(map(tuple, abox.collect())) == sorted(OWL_ABOX)


def test_incremental_fold_equals_full(spark):
    """Fold ≡ full re-entailment across a delta that exercises every
    stratum: a new edge on a transitive chain (extends the closure), a
    new inverse-generating edge, a new symmetric edge, and a new typed
    instance — plus chained folds (snapshot validity)."""
    tbox = spark.createDataFrame(OWL_TBOX, T)
    base = OWL_ABOX[:4]  # through (x9, treated_by, d9)
    delta1 = OWL_ABOX[4:6]  # interacts_with + first part_of
    delta2 = OWL_ABOX[6:]  # rest of the part_of chain
    from kg_microbe_merge_spark.operators.entailment import (
        incremental_entailment,
    )

    prev = rdfs_owl_entailment(spark.createDataFrame(base, T), tbox)
    s1 = incremental_entailment(
        prev, spark.createDataFrame(delta1, T), tbox
    )
    want1 = rdfs_owl_entailment(
        spark.createDataFrame(base + delta1, T), tbox
    )
    assert sorted(map(tuple, s1.collect())) == sorted(
        map(tuple, want1.collect())
    )
    s2 = incremental_entailment(
        s1, spark.createDataFrame(delta2, T), tbox
    )
    want2 = rdfs_owl_entailment(
        spark.createDataFrame(OWL_ABOX, T), tbox
    )
    assert sorted(map(tuple, s2.collect())) == sorted(
        map(tuple, want2.collect())
    )
    # already-entailed delta is a no-op
    s3 = incremental_entailment(
        s2, spark.createDataFrame(OWL_ABOX[:2], T), tbox
    )
    assert sorted(map(tuple, s3.collect())) == sorted(
        map(tuple, want2.collect())
    )


def test_incremental_closure_extension(spark):
    """A delta edge that BRIDGES two previously-closed transitive
    chains must produce all cross pairs — the snapshot's closed pairs
    compose with the new edge on both sides."""
    from kg_microbe_merge_spark.operators.entailment import (
        incremental_entailment,
    )

    tbox = spark.createDataFrame(
        [("part_of", TYPE_PRED, TRANSITIVE_CLASS)], T
    )
    base = [
        ("a1", "part_of", "a2"),
        ("a2", "part_of", "a3"),
        ("b1", "part_of", "b2"),
        ("b2", "part_of", "b3"),
    ]
    prev = rdfs_owl_entailment(spark.createDataFrame(base, T), tbox)
    out = incremental_entailment(
        prev, spark.createDataFrame([("a3", "part_of", "b1")], T), tbox
    )
    got = set(_triples(out))
    assert ("a1", "part_of", "b3") in got
    assert ("a2", "part_of", "b2") in got


def test_plan_broadcast_only(spark):
    """Every rule join is a broadcast hash join: no SortMergeJoin and
    no ShuffledHashJoin anywhere in the physical plan — the only wide
    ops are the final distinct's exchange(s)."""
    abox = spark.createDataFrame(ABOX, T)
    tbox = spark.createDataFrame(TBOX, T)
    plan = (
        rdfs_entailment(abox, tbox)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


# --- rule provenance -------------------------------------------------


def test_provenance_rule_tags_hand_checked(spark):
    from kg_microbe_merge_spark.operators.entailment import (
        rdfs_entailment_provenance,
    )

    abox = spark.createDataFrame(ABOX, T)
    tbox = spark.createDataFrame(TBOX, T)
    got = {
        (r["subject"], r["predicate"], r["object"]): r["rules"]
        for r in rdfs_entailment_provenance(abox, tbox).collect()
    }
    # asserted triple, re-derived by nothing
    assert got[("d1", "treats", "x1")] == "asserted"
    # subproperty lift
    assert got[("d1", "affects", "x1")] == "rdfs7"
    assert got[("d1", "related_to", "x1")] == "rdfs7"
    # domain typing of the ASSERTED predicate
    assert got[("d1", TYPE_PRED, "Drug")] == "rdfs2"
    # d1 type Agent: domain of 'affects' reached via the lift — tag is
    # rdfs2 (the typing rule fired on the lifted triple)
    assert got[("d1", TYPE_PRED, "Agent")] == "rdfs2"
    # range typing
    assert got[("x1", TYPE_PRED, "Disease")] == "rdfs3"
    # class inheritance over a derived type
    assert got[("x1", TYPE_PRED, "Condition")] == "rdfs9"
    # asserted type inherited up
    assert got[("x3", TYPE_PRED, "Disease")] == "rdfs9"
    assert got[("x3", TYPE_PRED, "Syndrome")] == "asserted"
    # materialized TBox closure rows: asserted edges tag both ways,
    # strictly-transitive edges tag rdfs5/rdfs11 only
    assert got[("treats", SUBPROP_PRED, "affects")] == "asserted|rdfs5"
    assert got[("treats", SUBPROP_PRED, "related_to")] == "rdfs5"
    assert got[("Drug", SUBCLASS_PRED, "Entity")] == "rdfs11"


def test_provenance_triple_set_matches_entailment(spark):
    from kg_microbe_merge_spark.operators.entailment import (
        rdfs_entailment_provenance,
    )

    abox = spark.createDataFrame(ABOX, T)
    tbox = spark.createDataFrame(TBOX, T)
    prov = rdfs_entailment_provenance(abox, tbox)
    assert _triples(prov.select("subject", "predicate", "object")) == (
        _triples(rdfs_entailment(abox, tbox))
    )
    # derived-only delta == rows whose tag set lacks 'asserted'
    derived = set(
        _triples(rdfs_entailment(abox, tbox, include_asserted=False))
    )
    got_derived = {
        (r["subject"], r["predicate"], r["object"])
        for r in prov.collect()
        if "asserted" not in r["rules"].split("|")
    }
    assert got_derived == derived


def test_provenance_vs_duckdb_twin(spark):
    from kg_microbe_merge_spark.operators.entailment import (
        entailment_provenance_sql,
        rdfs_entailment_provenance,
    )

    abox = spark.createDataFrame(ABOX, T)
    tbox = spark.createDataFrame(TBOX, T)
    got = {
        (r["subject"], r["predicate"], r["object"], r["rules"])
        for r in rdfs_entailment_provenance(abox, tbox).collect()
    }
    avals = ", ".join(f"('{a}','{b}','{c}')" for a, b, c in ABOX)
    tvals = ", ".join(f"('{a}','{b}','{c}')" for a, b, c in TBOX)
    sql = entailment_provenance_sql(
        "abox", "tbox",
        prelude_ctes=(
            f"abox AS (SELECT * FROM (VALUES {avals}) "
            "t(subject, predicate, object)),"
            f"tbox AS (SELECT * FROM (VALUES {tvals}) "
            "t(subject, predicate, object)),"
        ),
    )
    want = set(map(tuple, duckdb.sql(sql).fetchall()))
    assert got == want and got
