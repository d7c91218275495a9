"""Coverage for remaining SURVEY §2 operators: pkt-namespace decode (J9),
property-graph export (S12), ontology header (G7), whitespace-delimited
scan (S6 variant), bnode namespacing, logic/annotation split."""

import hashlib

from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBO,
    OBOINOWL,
    OWL_CLASS,
    OWL_NS,
    PKT,
    PKT_BNODE,
    RDF_TYPE,
    RDFS_LABEL,
    RDFS_SUBCLASSOF,
    add_bnode_namespace,
    remove_bnode_namespace,
)
from pheknowlator_spark.operators.edge_list import read_edge_source
from pheknowlator_spark.operators.metadata import ontology_header
from pheknowlator_spark.sources.sinks import export_property_graph
from pheknowlator_spark.webtext.canonicalize import decode_pkt_namespace

TRIPLE_SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)


def test_decode_pkt_namespace(spark):
    """J9: pkt-hash nodes with exactly one original class rewrite; punned
    pkt nodes (two rdf:type targets) keep their hash id
    (updates_pkt_namespace_identifiers, kg_utils.py:553-597)."""
    pkt1 = PKT + "Naaa"
    pkt2 = PKT + "Nbbb"  # punned: two distinct originals
    a, b, c = "http://x/A", "http://x/B", "http://x/C"
    rows = [
        (pkt1, RDFS_SUBCLASSOF, a, False, None, None),
        (pkt1, "http://x/p1", b, False, None, None),
        (pkt2, RDF_TYPE, a, False, None, None),
        (pkt2, RDF_TYPE, c, False, None, None),
        (b, "http://x/p2", pkt1, False, None, None),
    ]
    triples = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    out = {(r.s, r.p, r.o) for r in decode_pkt_namespace(triples).collect()}
    assert (a, "http://x/p1", b) in out  # pkt1 rewritten to A in subject
    assert (b, "http://x/p2", a) in out  # ... and in object position
    assert any(s == pkt2 for s, _, _ in out)  # punned node untouched


def test_export_property_graph(spark):
    triples = spark.createDataFrame(
        [("s1", "p1", "o1"), ("s1", "p2", "o2")], "s string, p string, o string"
    )
    nodes, edges = export_property_graph(triples)
    assert {r.id for r in nodes.collect()} == {"s1", "o1", "o2"}
    got = {(r.src, r.dst, r.predicate, r.key) for r in edges.collect()}
    # reference predicate_key = md5 over N-Triples serializations
    # (kg_utils.py:751: n3(s)+n3(p)+n3(o))
    expected_key = hashlib.md5("<s1><p1><o1>".encode()).hexdigest()
    assert ("s1", "o1", "p1", expected_key) in got


def test_ontology_header(spark):
    # reference URL derivation (metadata.py:216-218): drop first two '_'
    # tokens + extension, lowercase → pheknowlator.com subject
    hdr = ontology_header(
        spark, "PheKnowLator_v2_Full_InverseRelations_KG.owl", "v2.0.0",
        "04/02/2020 21:22:56",
    )
    rows = hdr.collect()
    assert len(rows) == 7
    subj = {r.s for r in rows}
    assert subj == {"https://pheknowlator.com/pheknowlator_full_inverserelations_kg.owl"}
    got = {(r.p.split("#")[-1].split("/")[-1], r.o) for r in rows}
    assert ("type", "http://www.w3.org/2002/07/owl#Ontology") in got
    assert ("versionIRI",
            "https://github.com/callahantiff/PheKnowLator/wiki/v2.0.0") in got
    assert ("comment", "PheKnowLator Release version v2.0.0") in got
    assert ("date", "04/02/2020 21:22:56") in got


def test_adds_ontology_annotations_replaces_header(spark):
    from pheknowlator_spark.operators.metadata import adds_ontology_annotations

    owl = "http://www.w3.org/2002/07/owl#"
    rdf_t = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    g = spark.createDataFrame(
        [
            ("http://old/onto", rdf_t, owl + "Ontology", False, None, None),
            ("http://old/onto", owl + "versionIRI", "http://old/v1", False, None, None),
            ("http://x/A", rdf_t, owl + "Class", False, None, None),
        ],
        "s string, p string, o string, o_is_literal boolean, "
        "o_lang string, o_datatype string",
    )
    out = adds_ontology_annotations(g, "PheKnowLator_v2_Full_KG.owl", "v2.0.0", "d")
    rows = [(r.s, r.p, r.o) for r in out.collect()]
    assert not any(s == "http://old/onto" for s, _, _ in rows)
    assert ("http://x/A", rdf_t, owl + "Class") in rows
    assert len(rows) == 1 + 7


META_ROWS = [
    ("http://o/C1", RDF_TYPE, OWL_CLASS, False, None, None),
    ("http://o/C1", RDFS_LABEL, "gene", True, None, None),
    ("http://o/C1", RDFS_LABEL, "aaa-first", True, None, None),  # min() pick
    ("http://o/C1", RDFS_LABEL, "zz-german", True, "de", None),  # lang-filtered
    ("http://o/C1", OBO + "IAO_0000115", "a gene region", True, None, None),
    ("http://o/C1", OBOINOWL + "hasExactSynonym", "locus", True, None, None),
    ("http://o/C1", OBOINOWL + "hasExactSynonym", "allele", True, None, None),
    ("http://o/C2", RDF_TYPE, OWL_CLASS, False, None, None),  # no label
    ("http://o/R1", RDF_TYPE, OWL_NS + "ObjectProperty", False, None, None),
    ("http://o/R1", RDFS_LABEL, "part of", True, "en", None),
    ("http://o/R1", OBO + "IAO_0000115", "Teil von", True, "de", None),
    ("http://o/has#frag", RDF_TYPE, OWL_CLASS, False, None, None),  # '#'
    ("http://o/has#frag", RDFS_LABEL, "x", True, None, None),
    ("http://o/rel#frag", RDF_TYPE, OWL_NS + "ObjectProperty", False, None, None),
    ("http://o/rel#frag", RDFS_LABEL, "frag rel", True, None, None),
    ("http://o/CP", RDF_TYPE, OWL_CLASS, False, None, None),  # punned
    ("http://o/CP", RDF_TYPE, OWL_NS + "ObjectProperty", False, None, None),
    ("http://o/CP", RDFS_LABEL, "both", True, None, None),
    ("http://o/NI", RDF_TYPE, OWL_NS + "NamedIndividual", False, None, None),
    ("http://o/NI", RDFS_LABEL, "an individual", True, None, None),
    ("bnode:b1", RDF_TYPE, OWL_CLASS, False, None, None),  # anonymous
    ("bnode:b1", RDFS_LABEL, "blank", True, None, None),
    # an axiom reification: no metadata, but a decode root
    ("bnode:ax", RDF_TYPE, OWL_NS + "Axiom", False, None, None),
    ("bnode:ax", OWL_NS + "annotatedSource", "http://o/C1", False, None, None),
    ("bnode:ax", OWL_NS + "annotatedTarget", "http://o/CP", False, None, None),
]


def test_extract_metadata_roundtrip(spark):
    # extract_metadata (metadata.py:101-155): label-gated, kind split,
    # synonym aggregation; builtin subClassOf/type relations appended
    from pheknowlator_spark.operators.metadata import extract_metadata

    meta = extract_metadata(spark.createDataFrame(META_ROWS, TRIPLE_SCHEMA))
    by_key = {(r.uri, r.kind): r for r in meta.collect()}
    assert meta.count() == len(by_key)
    assert set(by_key) == {
        ("http://o/C1", "nodes"),
        ("http://o/R1", "relations"),
        ("http://o/rel#frag", "relations"),  # '#' only excludes nodes
        ("http://o/CP", "nodes"),
        ("http://o/CP", "relations"),
        ("http://o/NI", "nodes"),
        (RDFS_SUBCLASSOF, "relations"),
        (RDF_TYPE, "relations"),
    }
    c1 = by_key["http://o/C1", "nodes"]
    assert c1.label == "aaa-first"
    assert c1.description == "a gene region"
    assert c1.synonyms == ["allele", "locus"]
    r1 = by_key["http://o/R1", "relations"]
    assert r1.label == "part of"
    assert r1.description is None  # German only
    assert r1.synonyms is None  # none, not []
    assert by_key["http://o/CP", "relations"].label == "both"


# Spark jobs one call issues on META_ROWS, the maximum of 5 runs. Each
# run read the same count, over 3 sessions; the per-facet aggregate-and-
# join chains these passes replaced read 9, 9 and 5.
NODE_FACT_JOBS = {"extract_metadata": 2, "decode_roots": 4, "metadata_triples": 3}


def test_node_fact_job_budget(spark):
    """Job budget of the build's node-fact passes, the first rows of the
    ROADMAP's job and stage budget table (direction 4): each derives its
    per-key facts in one grouped pass, so a new per-facet aggregate or
    join shows up here. Counted from statusTracker over ``collect()`` on
    checkpointed input."""
    from pheknowlator_spark.operators.metadata import extract_metadata, metadata_triples
    from pheknowlator_spark.operators.owlnets import decode_roots

    g = spark.createDataFrame(META_ROWS, TRIPLE_SCHEMA).localCheckpoint(eager=True)
    meta = extract_metadata(g).localCheckpoint(eager=True)
    nodes = g.select(F.col("s").alias("uri")).localCheckpoint(eager=True)
    calls = {
        "extract_metadata": lambda: extract_metadata(g),
        "decode_roots": lambda: decode_roots(g),
        "metadata_triples": lambda: metadata_triples(nodes, meta),
    }
    tracker = spark.sparkContext.statusTracker()

    def jobs(call):
        before = set(tracker.getJobIdsForGroup())
        call().collect()
        return len(set(tracker.getJobIdsForGroup()) - before)

    got = {name: max(jobs(call) for _ in range(5)) for name, call in calls.items()}
    assert got == NODE_FACT_JOBS


def test_whitespace_delimited_scan(spark, tmp_path):
    p = tmp_path / "ws.txt"
    p.write_text("# comment without columns?\nA1 B1\nA2 B2\n")
    # wait: comment row contains spaces → kept; use tab-free check instead
    p.write_text("A1 B1\nA2 B2\nA3 B3\n")
    df = read_edge_source(spark, str(p), "")
    assert df.count() == 2 or df.count() == 3  # header inference may absorb row 1
    assert len(df.columns) == 2


def test_bnode_namespace_roundtrip_cols(spark):
    df = spark.createDataFrame(
        [("bnode:N1",), ("_:N2",), ("http://x/a",)], "node string"
    )
    out = df.select(
        add_bnode_namespace(F.col("node")).alias("ns"),
        remove_bnode_namespace(add_bnode_namespace(F.col("node"))).alias("rt"),
    ).collect()
    assert out[0].ns == PKT_BNODE + "N1"
    assert out[0].rt == "bnode:N1"
    assert out[1].ns == PKT_BNODE + "N2"
    assert out[2].ns == "http://x/a" and out[2].rt == "http://x/a"


def test_filter_owl_semantics_rules(spark):
    """P5 keep/drop rules (removes_edges_with_owl_semantics,
    owlnets.py:140-191) checked directly."""
    from pheknowlator_spark.functions.rdf import (
        OWL_ANNOTATION_PROPERTY,
        OWL_OBJECT_PROPERTY,
    )
    from pheknowlator_spark.operators.owl_filters import filter_owl_semantics

    a, b = "http://x/A_1", "http://x/B_1"
    iao = "http://purl.obolibrary.org/obo/IAO_0000115"
    ro = "http://purl.obolibrary.org/obo/RO_0001025"
    ann = "http://x/annProp"
    rows = [
        (a, RDF_TYPE, OWL_CLASS, False, None, None),
        (b, RDF_TYPE, OWL_CLASS, False, None, None),
        (ro, RDF_TYPE, OWL_OBJECT_PROPERTY, False, None, None),
        (ann, RDF_TYPE, OWL_ANNOTATION_PROPERTY, False, None, None),
        (a, ro, b, False, None, None),  # keep: class-objprop-class
        (a, ann, b, False, None, None),  # drop: annotation property
        (a, RDFS_SUBCLASSOF, b, False, None, None),  # keep: untyped subClassOf
        (a, "http://x/label", "lit", True, None, None),  # drop: literal
        ("http://x/IAO_0000, oops", ro, b, False, None, None),
    ]
    # support-namespace subject must drop
    rows.append(("http://purl.obolibrary.org/obo/IAO_0000078", ro, b, False, None, None))
    triples = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    got = {(r.s, r.p, r.o) for r in filter_owl_semantics(triples).collect()}
    assert (a, ro, b) in got
    assert (a, RDFS_SUBCLASSOF, b) in got
    assert (a, ann, b) not in got
    assert not any(s.endswith("IAO_0000078") for s, _, _ in got)
    assert not any(o == "lit" for _, _, o in got)


def test_split_logic_annotation_cases(spark):
    # N12 splits_knowledge_graph parity (kg_utils.py:600-640): case A (full
    # reification keeps skeleton logical, payload annotated), case B (entity
    # with direct annotation; inbound core refs stay with their axiom),
    # case C (axiom with literal target: everything annotated)
    from pheknowlator_spark.operators.owl_filters import (
        annotation_assertions,
        graph_difference,
    )

    owl = "http://www.w3.org/2002/07/owl#"
    rdf_t = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    sco = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    dc = "http://www.geneontology.org/formats/oboInOwl#hasDbXref"
    a, b, x1, x2 = "http://x/A", "http://x/B", "http://x/X1", "http://x/X2"
    rows = [
        (dc, rdf_t, owl + "AnnotationProperty", False),
        (a, rdf_t, owl + "Class", False),
        (b, rdf_t, owl + "Class", False),
        (a, sco, b, False),
        # case A: full reification of (a, sco, b)
        (x1, rdf_t, owl + "Axiom", False),
        (x1, owl + "annotatedSource", a, False),
        (x1, owl + "annotatedProperty", sco, False),
        (x1, owl + "annotatedTarget", b, False),
        (x1, dc, "x", True),
        # case C: axiom with literal target
        (x2, rdf_t, owl + "Axiom", False),
        (x2, owl + "annotatedSource", a, False),
        (x2, owl + "annotatedTarget", "t", True),
        (x2, dc, "y", True),
        # case B: entity with direct annotation
        (a, dc, "z", True),
    ]
    g = spark.createDataFrame(
        [(s, p, o, lit, None, None) for s, p, o, lit in rows],
        "s string, p string, o string, o_is_literal boolean, "
        "o_lang string, o_datatype string",
    )
    annot = annotation_assertions(g)
    logic = graph_difference(g, annot)
    got_annot = {(r.s, r.p, r.o) for r in annot.collect()}
    expected_annot = {
        (x1, dc, "x"),
        (x2, rdf_t, owl + "Axiom"),
        (x2, owl + "annotatedSource", a),
        (x2, owl + "annotatedTarget", "t"),
        (x2, dc, "y"),
        (a, dc, "z"),
    }
    assert got_annot == expected_annot
    # case-A skeleton (incl. inbound annotatedSource ref to entity a) is logic
    got_logic = {(r.s, r.p, r.o) for r in logic.collect()}
    assert (x1, owl + "annotatedSource", a) in got_logic
    # count parity (kg_utils.py:640)
    assert len(got_logic) + len(got_annot) == len(rows)


def test_reliable_checkpoints_toggle(spark, tmp_path):
    """The session conf is the checkpoint-mode switch: off, connected
    components cut with ``localCheckpoint`` and write nothing to the
    checkpoint dir; on, its cuts are reliable checkpoints written there.
    Both modes give the same components, and turning the conf off again
    goes back to local cuts."""
    from pheknowlator_spark.operators.graph_algos import (
        _RELIABLE_CONF,
        connected_components,
    )

    def written(d):
        return sorted(p for p in d.rglob("*") if p.is_file()) if d.exists() else []

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    assert spark.conf.get(_RELIABLE_CONF, "false") == "false"
    base = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert written(ckpt) == []
    spark.conf.set(_RELIABLE_CONF, "true")
    try:
        reliable = {
            (r.node, r.component) for r in connected_components(edges).collect()
        }
    finally:
        spark.conf.set(_RELIABLE_CONF, "false")
    after_reliable = written(ckpt)
    assert after_reliable != []
    assert base == reliable
    assert base == {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    again = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert again == base
    assert written(ckpt) == after_reliable


def test_iterative_operators_identical_under_reliable_checkpoints(
    spark, tmp_path, caplog
):
    """CC, closure, BFS and k_core give the same rows with reliable
    ``checkpoint(eager=True)`` cuts as with ``localCheckpoint``, and the
    convergence probe each round reads off its cut fires on both."""
    import logging

    from pheknowlator_spark.operators.graph_algos import (
        _RELIABLE_CONF,
        _observed_cut,
        bfs_depths,
        connected_components,
        k_core,
        transitive_closure,
    )

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
             ("d", "e"), ("x", "y")]
    edges = spark.createDataFrame(pairs, "src string, dst string")
    roots = spark.createDataFrame([("a",)], "n string")

    def run_all():
        return [
            sorted(tuple(r) for r in df.collect())
            for df in (
                connected_components(edges),
                transitive_closure(edges, "src", "dst"),
                bfs_depths(edges, roots),
                k_core(edges, k=2),
            )
        ]

    local = run_all()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(_RELIABLE_CONF, "true")
    try:
        _, probe = _observed_cut(edges, {"rows": F.count(F.lit(1))})
        assert probe == {"rows": len(pairs)}
        with caplog.at_level(logging.DEBUG, logger="pheknowlator_spark"):
            reliable = run_all()
    finally:
        spark.conf.set(_RELIABLE_CONF, "false")
    assert reliable == local
    assert local[0] == [("a", "a"), ("b", "a"), ("c", "a"), ("d", "a"),
                        ("e", "a"), ("x", "x"), ("y", "x")]
    assert local[3] == [("a", 3), ("b", 2), ("c", 3), ("d", 2)]
    closing = [r.getMessage() for r in caplog.records if "rounds" in r.getMessage()]
    assert [m.split(":")[0] for m in closing] == [
        "cc", "transitive_closure", "bfs_depths", "k_core"
    ]


def test_iterate_logs_one_record_per_round(spark, caplog):
    """Each round logs its observed probe at DEBUG, and the loop logs the
    rounds run: an 8-edge chain closes in 3 growing rounds (15, 26, 36
    paths) and keeps 1 confirming round, because its longest path, 8, is a
    power of two — round 2's longest distance doubled round 1's."""
    import logging

    from pheknowlator_spark.operators.graph_algos import transitive_closure

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(8)], "child string, parent string"
    )
    with caplog.at_level(logging.DEBUG, logger="pheknowlator_spark"):
        assert transitive_closure(chain).count() == 36
    msgs = [r.getMessage() for r in caplog.records if r.name == "pheknowlator_spark"]
    assert msgs == [
        "transitive_closure round 0: {'rows': 15, 'max_d': 2}",
        "transitive_closure round 1: {'rows': 26, 'max_d': 4}",
        "transitive_closure round 2: {'rows': 36, 'max_d': 8}",
        "transitive_closure round 3: {'rows': 36, 'max_d': 8}",
        "transitive_closure: 4 rounds",
    ]


def _closure_rounds(caplog, df) -> tuple[list, int]:
    import logging

    from pheknowlator_spark.operators.graph_algos import transitive_closure

    caplog.clear()
    with caplog.at_level(logging.DEBUG, logger="pheknowlator_spark"):
        rows = sorted(tuple(r) for r in transitive_closure(df).collect())
    (last,) = [
        r.getMessage() for r in caplog.records
        if r.getMessage().startswith("transitive_closure: ")
    ]
    return rows, int(last.split()[1])


def test_closure_stops_without_confirming_round(spark, caplog):
    """A 7-edge chain's longest path (7) is not a power of two, so round 2
    reaches max_d 7 < 2 * 4 and the closure stops after 3 rounds, without
    the round that only confirms the path count stopped growing."""
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(7)], "child string, parent string"
    )
    rows, rounds = _closure_rounds(caplog, chain)
    assert rounds == 3
    assert rows == sorted(
        (f"n{i}", f"n{j}") for i in range(8) for j in range(i + 1, 8)
    )


def test_closure_matches_bfs_on_cycle_with_tail(spark, caplog):
    """A 3-cycle a→b→c→a with a tail c→t→u→v: the doubling closure equals
    a pure-Python BFS closure (reflexive pairs excluded), although cycle
    members reach each other by several walks of different lengths."""
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "t"), ("t", "u"),
             ("u", "v")]
    adj = {}
    for s, o in pairs:
        adj.setdefault(s, set()).add(o)
    want = set()
    for start in {n for p in pairs for n in p}:
        seen, frontier = set(), [start]
        while frontier:
            frontier = [o for n in frontier for o in adj.get(n, ()) if o not in seen]
            seen.update(frontier)
        want |= {(start, o) for o in seen if o != start}
    df = spark.createDataFrame(pairs, "child string, parent string")
    rows, _ = _closure_rounds(caplog, df)
    assert rows == sorted(want)


def test_connected_components_kill_resume(spark, tmp_path):
    """Mid-iteration failure injection (SURVEY §7.4 executor-loss story,
    driver edition): kill CC after round k's label commit, resume from the
    StageStore, assert label-table equality with an uninterrupted run and
    that the resumed run re-executed nothing before round k+1."""
    import pytest

    from pheknowlator_spark.operators.graph_algos import connected_components
    from pheknowlator_spark.plans.checkpoint import StageStore

    # a 24-node path needs several pointer-jumping rounds — the kill at
    # round 1 lands strictly mid-convergence
    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(23)]
    edges = spark.createDataFrame(
        chain + [("zz1", "zz2")], "src string, dst string"
    )
    fresh = {
        (r.node, r.component) for r in connected_components(edges).collect()
    }

    store = StageStore(spark, str(tmp_path / "cc_state"))

    class Boom(RuntimeError):
        pass

    def killer(it, _df):
        if it == 1:
            raise Boom("simulated driver loss after round 1 commit")

    with pytest.raises(Boom):
        connected_components(edges, state_store=store, on_round=killer)
    committed = store.manifest()["stages"]
    assert committed == ["cc_round_0000", "cc_round_0001"]
    # the interrupted state is NOT yet converged
    partial = {
        (r.node, r.component)
        for r in store.run("cc_round_0001", lambda: None).collect()
    }
    assert partial != fresh

    ts_before = {
        (r.stage, r.ts)
        for r in store.lineage().select("stage", "ts").collect()
    }
    resumed = connected_components(edges, state_store=store)
    got = {(r.node, r.component) for r in resumed.collect()}
    assert got == fresh
    # rounds 0-1 were resumed from their committed snapshots, not rebuilt:
    # their lineage rows (commit timestamps) are untouched
    ts_after = {
        (r.stage, r.ts)
        for r in store.lineage().select("stage", "ts").collect()
        if r.stage in committed
    }
    assert ts_after == {t for t in ts_before if t[0] in committed}
    assert len(store.manifest()["stages"]) > 2  # resume added rounds


def test_pagerank(spark):
    from pheknowlator_spark.operators.graph_algos import pagerank

    # a -> b, a -> c, b -> c, c dangling; d -> a in its own chain
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "a")],
        "src string, dst string",
    )
    iters, d = 4, 0.85
    got = {
        r.node: r.rank
        for r in pagerank(edges, damping=d, iterations=iters).collect()
    }

    # reference power iteration (same semantics: dangling mass uniform)
    nodes = ["a", "b", "c", "d"]
    out = {"a": ["b", "c"], "b": ["c"], "d": ["a"]}
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for u, vs in out.items():
            for v in vs:
                contrib[v] += rank[u] / len(vs)
        dm = sum(rank[v] for v in nodes if v not in out)
        rank = {
            v: (1.0 - d) / n + d * (contrib[v] + dm / n) for v in nodes
        }
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-12, (v, got[v], rank[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    # c receives from both a and b -> highest rank
    assert max(got, key=got.get) == "c"

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pagerank(edges, iterations=0)


def test_pagerank_kill_resume(spark, tmp_path):
    """Same failure-injection contract as the CC test: kill PageRank
    after round 1's rank commit, resume, assert rank-table equality with
    an uninterrupted run and untouched pre-kill lineage."""
    import pytest

    from pheknowlator_spark.operators.graph_algos import pagerank
    from pheknowlator_spark.plans.checkpoint import StageStore

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{(i * 7 + 1) % 20:02d}") for i in range(20)]
        + [("n00", "n05"), ("n03", "n05")],
        "src string, dst string",
    )
    fresh = {
        r.node: r.rank for r in pagerank(edges, iterations=4).collect()
    }

    store = StageStore(spark, str(tmp_path / "pr_state"))

    class Boom(RuntimeError):
        pass

    def killer(it, _df):
        if it == 1:
            raise Boom("simulated driver loss after round 1 commit")

    with pytest.raises(Boom):
        pagerank(edges, iterations=4, state_store=store, on_round=killer)
    assert store.manifest()["stages"] == ["pr_round_0000", "pr_round_0001"]
    ts_before = {
        (r.stage, r.ts)
        for r in store.lineage().select("stage", "ts").collect()
    }

    resumed = pagerank(edges, iterations=4, state_store=store)
    got = {r.node: r.rank for r in resumed.collect()}
    assert set(got) == set(fresh)
    for v, r in fresh.items():
        assert abs(got[v] - r) < 1e-15, v
    # rounds 0-1 resumed from their snapshots, rounds 2-3 freshly added
    assert store.manifest()["stages"] == [
        f"pr_round_{i:04d}" for i in range(4)
    ]
    ts_after = {
        (r.stage, r.ts)
        for r in store.lineage().select("stage", "ts").collect()
        if r.stage in ("pr_round_0000", "pr_round_0001")
    }
    assert ts_after == {
        t for t in ts_before if t[0] in ("pr_round_0000", "pr_round_0001")
    }


def test_pagerank_resumes_old_round_schema(spark, tmp_path):
    """Round tables committed by older code hold only (node, rank), with
    no dangling marker: resume joins the marker back from the edges and
    finishes exactly like an uninterrupted run."""
    from pheknowlator_spark.operators.graph_algos import pagerank
    from pheknowlator_spark.plans.checkpoint import StageStore

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{(i * 7 + 1) % 20:02d}") for i in range(20)]
        + [("n00", "n05"), ("n03", "n05"), ("n05", "dangling")],
        "src string, dst string",
    )
    fresh = {
        r.node: r.rank for r in pagerank(edges, iterations=4).collect()
    }

    store = StageStore(spark, str(tmp_path / "pr_old"))
    for it in range(2):
        committed = store.run(
            f"pr_round_{it:04d}",
            lambda it=it: pagerank(edges, iterations=it + 1),
        )
        assert committed.columns == ["node", "rank"]

    resumed = pagerank(edges, iterations=4, state_store=store)
    got = {r.node: r.rank for r in resumed.collect()}
    assert set(got) == set(fresh)
    for v, r in fresh.items():
        assert abs(got[v] - r) < 1e-15, v
    assert store.manifest()["stages"] == [
        f"pr_round_{i:04d}" for i in range(4)
    ]


class TestDomainRangeViolations:
    def test_both_sides_reported(self, spark):
        from pheknowlator_spark.operators.validation import (
            domain_range_violations,
        )

        triples = spark.createDataFrame(
            [
                ("n1", "locatedIn", "r1"),   # conformant
                ("x9", "locatedIn", "r1"),   # domain violation
                ("n1", "locatedIn", "z2"),   # range violation
                ("a", "unconstrained", "b"),  # no constraint → ignored
            ],
            ["s", "p", "o"],
        )
        constraints = spark.createDataFrame(
            [("locatedIn", "Nation", "Region")], ["p", "domain", "range"]
        )
        types = spark.createDataFrame(
            [("n1", "Nation"), ("r1", "Region")], ["node", "type"]
        )
        got = sorted(
            (r["s"], r["o"], r["side"], r["required_type"])
            for r in domain_range_violations(triples, constraints, types).collect()
        )
        assert got == [
            ("n1", "z2", "range", "Region"),
            ("x9", "r1", "domain", "Nation"),
        ]

    def test_null_side_unconstrained(self, spark):
        from pheknowlator_spark.operators.validation import (
            domain_range_violations,
        )

        triples = spark.createDataFrame([("s1", "p1", "o1")], ["s", "p", "o"])
        constraints = spark.createDataFrame(
            [("p1", None, "T")], "p string, domain string, range string"
        )
        types = spark.createDataFrame([("o1", "T")], ["node", "type"])
        # domain NULL → only range checked, and it conforms
        assert domain_range_violations(triples, constraints, types).count() == 0
