"""OWL-NETS decode tests (M4) — one fixture per decode rule, with expected
outputs derived from the published OWL-NETS 2.0 semantics (reference
tests/test_owlnets.py:652-965 assertion style, re-derived not copied)."""

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBO,
    OWL_AXIOM,
    OWL_CLASS,
    OWL_OBJECT_PROPERTY,
    OWL_RESTRICTION,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
)
from pheknowlator_spark.operators.owlnets import (
    BFO_ROOT,
    RO_0000086,
    assign_forests,
    decode_roots,
    make_graph_connected,
    purify_graph,
    run_owlnets,
)

OWL_NS = "http://www.w3.org/2002/07/owl#"
GO1, GO2, GO3 = OBO + "GO_0000785", OBO + "GO_0110165", OBO + "GO_0005694"
PART_OF = OBO + "BFO_0000050"
A, B, X, Y = OBO + "A_1", OBO + "B_1", OBO + "X_1", OBO + "Y_1"
C, D, E = OBO + "C_1", OBO + "D_1", OBO + "E_1"
PATO = OBO + "PATO_0000587"


def t(s, p, o, lit=False):
    return (s, p, o, lit, None, None)


TRIPLE_SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)


def make_triples(spark, rows):
    base = [
        t(PART_OF, RDF_TYPE, OWL_OBJECT_PROPERTY),
        t(RO_0000086, RDF_TYPE, OWL_OBJECT_PROPERTY),
    ]
    return spark.createDataFrame(base + rows, TRIPLE_SCHEMA)


def decoded_set(spark, rows, approach="subclass"):
    out = run_owlnets(make_triples(spark, rows), approach=approach)
    return {(r.s, r.p, r.o) for r in out["owlnets"].collect()}, out


def test_restriction_decode(spark):
    rows = [
        t(GO1, RDF_TYPE, OWL_CLASS),
        t(GO2, RDF_TYPE, OWL_CLASS),
        t(GO3, RDF_TYPE, OWL_CLASS),
        t(GO1, RDFS_SUBCLASSOF, GO2),
        t(GO1, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", PART_OF),
        t("bnode:r1", OWL_NS + "someValuesFrom", GO3),
    ]
    got, _ = decoded_set(spark, rows)
    assert (GO1, PART_OF, GO3) in got  # the decoded restriction
    assert (GO1, RDFS_SUBCLASSOF, GO2) in got  # plain triple survives


def test_intersection_decode(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "intersectionOf", "bnode:l1"),
        t("bnode:l1", RDF_FIRST, A),
        t("bnode:l1", RDF_REST, "bnode:l2"),
        t("bnode:l2", RDF_FIRST, B),
        t("bnode:l2", RDF_REST, RDF_NIL),
    ]
    got, _ = decoded_set(spark, rows)
    # intersection: node → member (owlnets.py:534-535)
    assert (X, RDFS_SUBCLASSOF, A) in got
    assert (X, RDFS_SUBCLASSOF, B) in got


def test_union_decode_reversed(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "unionOf", "bnode:l1"),
        t("bnode:l1", RDF_FIRST, A),
        t("bnode:l1", RDF_REST, "bnode:l2"),
        t("bnode:l2", RDF_FIRST, B),
        t("bnode:l2", RDF_REST, RDF_NIL),
    ]
    got, _ = decoded_set(spark, rows)
    # union: member → node (owlnets.py:528-529)
    assert (A, RDFS_SUBCLASSOF, X) in got
    assert (B, RDFS_SUBCLASSOF, X) in got


def test_has_self_decode(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", PART_OF),
        t("bnode:r1", OWL_NS + "hasSelf", "true", lit=True),
    ]
    got, _ = decoded_set(spark, rows)
    assert (X, PART_OF, X) in got


def test_pato_property_selection(spark):
    # union members that are PATO terms from a non-PATO node → RO_0000086
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(PATO, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "intersectionOf", "bnode:l1"),
        t("bnode:l1", RDF_FIRST, PATO),
        t("bnode:l1", RDF_REST, RDF_NIL),
    ]
    got, _ = decoded_set(spark, rows)
    assert (X, RO_0000086, PATO) in got


def test_negation_dropped(spark):
    lacks = OBO + "pr#lacks_part"
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(Y, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", lacks),
        t("bnode:r1", OWL_NS + "someValuesFrom", Y),
    ]
    got, out = decoded_set(spark, rows)
    assert not any(p == lacks for _, p, _ in got)
    stats = {r.status for r in out["decode_status"].collect()}
    assert "negation" in stats


def test_complement_of_dropped(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(Y, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:c1"),
        t("bnode:c1", RDF_TYPE, OWL_CLASS),
        t("bnode:c1", OWL_NS + "complementOf", Y),
    ]
    got, out = decoded_set(spark, rows)
    assert (X, RDFS_SUBCLASSOF, Y) not in got
    stats = {r.status for r in out["decode_status"].collect()}
    assert "complementOf" in stats


def test_axiom_direct_decode(spark):
    rows = [
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t("bnode:ax1", RDF_TYPE, OWL_AXIOM),
        t("bnode:ax1", OWL_NS + "annotatedSource", A),
        t("bnode:ax1", OWL_NS + "annotatedTarget", B),
        t("bnode:ax1", OWL_NS + "annotatedProperty", RDFS_SUBCLASSOF),
    ]
    triples = make_triples(spark, rows)
    roots = {r.root for r in decode_roots(triples).collect()}
    assert "bnode:ax1" in roots
    got, _ = decoded_set(spark, rows)
    assert (A, RDFS_SUBCLASSOF, B) in got


SRC, TGT = OWL_NS + "annotatedSource", OWL_NS + "annotatedTarget"
NI, U = OWL_NS + "NamedIndividual", OBO + "U_1"  # U_1: no rdf:type row
# one axiom per case: (case, its rows, whether it is a decode root)
AXIOM_CASES = [
    ("both_sides_class", [(SRC, A), (TGT, B)], True),
    ("individual_untyped_sources_class_target", [(SRC, C), (SRC, U), (TGT, B)], True),
    ("class_untyped_sources_untyped_target", [(SRC, A), (SRC, U), (TGT, U)], True),
    ("class_untyped_sources_individual_target", [(SRC, A), (SRC, U), (TGT, C)], False),
    ("missing_source_class_target", [(TGT, B)], True),
    ("missing_source_untyped_target", [(TGT, U)], False),
    ("missing_target_class_source", [(SRC, A)], True),
    ("missing_target_individual_source", [(SRC, C)], False),
    ("target_typed_not_class", [(SRC, A), (TGT, C)], False),
    ("no_sides", [], False),
]


def _roots_model(rows):
    """Decode roots by the pair rule: a non-anonymous owl:Class subject, or
    an owl:Axiom with some (annotatedSource, annotatedTarget) pair where
    both sides are Classes, or one is and the other is untyped; a missing
    side is an untyped, non-Class None."""
    types = {}
    for s, p, o, *_ in rows:
        if p == RDF_TYPE:
            types.setdefault(s, set()).add(o)

    def cls(n):
        return OWL_CLASS in types.get(n, ())

    def side(ax, p):
        return [o for s, q, o, *_ in rows if s == ax and q == p] or [None]

    roots = {s for s in types if cls(s) and not s.startswith("bnode:")}
    for ax in (s for s, ts in types.items() if OWL_AXIOM in ts):
        if any(
            (cls(a) and cls(b))
            or (cls(a) and b not in types)
            or (cls(b) and a not in types)
            for a in side(ax, SRC)
            for b in side(ax, TGT)
        ):
            roots.add(ax)
    return roots


def test_decode_roots_axiom_rule(spark):
    """N1's axiom rule, case by case, against the pair-rule model; a
    Class-typed blank node and a non-axiom with annotatedSource/Target
    rows are no roots."""
    rows = [
        t(A, RDF_TYPE, OWL_CLASS), t(B, RDF_TYPE, OWL_CLASS),
        t(C, RDF_TYPE, NI),
        t("bnode:cls", RDF_TYPE, OWL_CLASS),
        t("bnode:plain", SRC, A), t("bnode:plain", TGT, B),
    ]
    for case, sides, _ in AXIOM_CASES:
        rows += [t("bnode:" + case, RDF_TYPE, OWL_AXIOM)]
        rows += [t("bnode:" + case, p, o) for p, o in sides]
    roots = {r.root for r in decode_roots(make_triples(spark, rows)).collect()}
    assert roots == _roots_model(rows)
    assert {case for case, _, _ in AXIOM_CASES if "bnode:" + case in roots} == {
        case for case, _, is_root in AXIOM_CASES if is_root
    }
    assert {A, B} <= roots and not {"bnode:cls", "bnode:plain"} & roots


def test_cardinality_captured_not_decoded(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(Y, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:r1"),
        t("bnode:r1", RDF_TYPE, OWL_RESTRICTION),
        t("bnode:r1", OWL_NS + "onProperty", PART_OF),
        t("bnode:r1", OWL_NS + "qualifiedCardinality", "2", lit=True),
        t("bnode:r1", OWL_NS + "onClass", Y),
    ]
    got, out = decoded_set(spark, rows)
    assert (X, PART_OF, Y) in got  # onClass target still decoded
    stats = {r.status for r in out["decode_status"].collect()}
    assert "cardinality" in stats


def test_disjoint_with_removed(spark):
    rows = [
        t(A, RDF_TYPE, OWL_CLASS),
        t(B, RDF_TYPE, OWL_CLASS),
        t(A, OWL_NS + "disjointWith", B),
        t(A, RDFS_SUBCLASSOF, B),
    ]
    got, _ = decoded_set(spark, rows)
    assert (A, OWL_NS + "disjointWith", B) not in got
    assert (A, RDFS_SUBCLASSOF, B) in got


def test_make_graph_connected(spark):
    triples = spark.createDataFrame(
        [(A, RDFS_SUBCLASSOF, B), (X, PART_OF, Y)], "s string, p string, o string"
    )
    out = make_graph_connected(triples, "subclass")
    got = {(r.s, r.p, r.o) for r in out.collect()}
    # B is rootless (no subClassOf ancestor) → attached to BFO root
    assert (B, RDFS_SUBCLASSOF, BFO_ROOT) in got
    # A has an ancestor (B) → not attached directly
    assert (A, RDFS_SUBCLASSOF, BFO_ROOT) not in got

    # X is rootless with an out-neighbor A whose ancestors B, C, D tie
    # (one path each): X's root is the lexicographic min, B — attached
    # though B itself has an ancestor. Y's neighbors A and E (E ⊑ C) count
    # C twice, so Y's root is C by count, though B sorts first. C's
    # self-loop gives it no ancestor.
    rows = [
        (X, PART_OF, A), (A, RDFS_SUBCLASSOF, B), (A, RDFS_SUBCLASSOF, C),
        (B, RDFS_SUBCLASSOF, D), (Y, PART_OF, A), (Y, RO_0000086, E),
        (E, RDFS_SUBCLASSOF, C), (C, RDFS_SUBCLASSOF, C),
    ]
    for approach, rel in (("subclass", RDFS_SUBCLASSOF), ("instance", RDF_TYPE)):
        out = make_graph_connected(
            spark.createDataFrame(rows, "s string, p string, o string"), approach
        )
        got = {(r.s, r.p, r.o) for r in out.collect()}
        assert got == _connected_model(rows, rel)
        assert {s for s, p, o in got if o == BFO_ROOT and p == rel} == {B, C, D}
        assert not any(o == BFO_ROOT and p != rel for s, p, o in got)


def _connected_model(rows, rel):
    """Connectivity repair in plain Python: a node with no subClassOf edge
    to another node is rootless; its root is the most frequent ancestor
    over its out-edges' objects (lexicographic min on a tie), else itself."""
    from collections import Counter

    parents = {}
    for s, p, o in rows:
        if p == RDFS_SUBCLASSOF and s != o:
            parents.setdefault(s, set()).add(o)

    def ancestors(n):
        seen, todo = set(), [n]
        while todo:
            for a in parents.get(todo.pop(), ()):
                if a not in seen:
                    seen.add(a)
                    todo.append(a)
        return seen - {n}

    roots = set()
    for x in {n for s, _, o in rows for n in (s, o)} - set(parents):
        ancs = Counter(a for s, _, o in rows if s == x for a in ancestors(o))
        roots.add(min(ancs, key=lambda a: (-ancs[a], a)) if ancs else x)
    return set(rows) | {(r, rel, BFO_ROOT) for r in roots - {BFO_ROOT}}


def test_make_graph_connected_builds_closure_only_for_rootless_subjects(
    spark, caplog
):
    """The subclass closure serves only the neighbors of rootless nodes
    with out-edges: without such a node no closure round runs (its DEBUG
    lines are absent), with one the closure runs once."""
    import logging

    def closures(rows):
        caplog.clear()
        df = spark.createDataFrame(rows, "s string, p string, o string")
        with caplog.at_level(logging.DEBUG, logger="pheknowlator_spark"):
            make_graph_connected(df).collect()
        return [
            r.getMessage() for r in caplog.records
            if r.getMessage().startswith("transitive_closure: ")
        ]

    # C is the only rootless node and has no out-edge
    assert closures([
        (A, RDFS_SUBCLASSOF, B), (B, RDFS_SUBCLASSOF, C), (A, PART_OF, B),
    ]) == []
    # X is rootless and has an out-edge
    assert len(closures([
        (X, PART_OF, A), (A, RDFS_SUBCLASSOF, B), (A, RDFS_SUBCLASSOF, C),
    ])) == 1


def test_purify_subclass(spark):
    triples = spark.createDataFrame(
        [
            (X, RDF_TYPE, A),
            (A, RDFS_SUBCLASSOF, B),
        ],
        "s string, p string, o string",
    )
    out = purify_graph(triples, "subclass")
    got = {(r.s, r.p, r.o) for r in out.collect()}
    # rdf:type rewritten to subClassOf and expanded to object ancestors
    assert (X, RDFS_SUBCLASSOF, A) in got
    assert (X, RDFS_SUBCLASSOF, B) in got
    assert (X, RDF_TYPE, A) not in got


def test_forest_assignment_depth(spark):
    rows = [
        t(X, RDF_TYPE, OWL_CLASS),
        t(X, RDFS_SUBCLASSOF, "bnode:1"),
        t("bnode:1", OWL_NS + "intersectionOf", "bnode:2"),
        t("bnode:2", RDF_FIRST, A),
        t("bnode:2", RDF_REST, "bnode:3"),
        t("bnode:3", RDF_FIRST, B),
        t("bnode:3", RDF_REST, RDF_NIL),
    ]
    triples = make_triples(spark, rows)
    forests = assign_forests(triples, decode_roots(triples))
    x_forest = {
        (r.s, r.p, r.o) for r in forests.filter(F.col("root") == X).collect()
    }
    assert ("bnode:3", RDF_FIRST, B) in x_forest  # depth-3 bnode reached


def test_long_union_list_fully_decoded(spark):
    """A 13-member owl:unionOf list is a chain of 13 blank nodes below the
    union node: the forest walk must follow it to rdf:nil, so every
    member yields (member, subClassOf, union)."""
    members = [OBO + f"M_{i:02d}" for i in range(13)]
    cells = [f"bnode:l{i:02d}" for i in range(13)]
    rows = [t(X, RDF_TYPE, OWL_CLASS)]
    rows += [t(m, RDF_TYPE, OWL_CLASS) for m in members]
    rows += [
        t(X, RDFS_SUBCLASSOF, "bnode:u"),
        t("bnode:u", RDF_TYPE, OWL_CLASS),
        t("bnode:u", OWL_NS + "unionOf", cells[0]),
    ]
    for i, (cell, m) in enumerate(zip(cells, members)):
        rows.append(t(cell, RDF_FIRST, m))
        rows.append(t(cell, RDF_REST, cells[i + 1] if i + 1 < 13 else RDF_NIL))
    got, _ = decoded_set(spark, rows)
    decoded = {m for m in members if (m, RDFS_SUBCLASSOF, X) in got}
    assert decoded == set(members)


def _union_rows(n):
    """X ⊑ (M_000 ⊔ … ⊔ M_{n-1}) as an n-cell rdf:List."""
    members = [OBO + f"M_{i:03d}" for i in range(n)]
    cells = [f"bnode:l{i:03d}" for i in range(n)] + [RDF_NIL]
    rows = [t(X, RDF_TYPE, OWL_CLASS)]
    rows += [t(m, RDF_TYPE, OWL_CLASS) for m in members]
    rows += [
        t(X, RDFS_SUBCLASSOF, "bnode:u"),
        t("bnode:u", RDF_TYPE, OWL_CLASS),
        t("bnode:u", OWL_NS + "unionOf", cells[0]),
    ]
    for i, m in enumerate(members):
        rows += [t(cells[i], RDF_FIRST, m), t(cells[i], RDF_REST, cells[i + 1])]
    return members, rows


def _forest_jobs(spark, rows):
    """Spark jobs one ``assign_forests`` run issues, by statusTracker id."""
    triples = make_triples(spark, rows).localCheckpoint(eager=True)
    roots = decode_roots(triples).localCheckpoint(eager=True)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assign_forests(triples, roots).collect()
    return len(set(tracker.getJobIdsForGroup()) - before)


def test_forest_walk_jobs_do_not_grow_with_list_length(spark):
    """The doubling walk covers a 64-member union in ⌈log₂ 64⌉ + 1 closure
    rounds: it decodes every member, and costs at most 20 Spark jobs more
    than an 8-member union (a level-by-level walk costs 56 more rounds)."""
    members, rows = _union_rows(64)
    got, _ = decoded_set(spark, rows)
    assert {m for m in members if (m, RDFS_SUBCLASSOF, X) in got} == set(members)
    short = _forest_jobs(spark, _union_rows(8)[1])
    assert _forest_jobs(spark, rows) <= short + 20
