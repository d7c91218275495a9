"""Full-build driver test (FullBuild.construct_knowledge_graph parity,
knowledge_graph.py:540-641): reference OWL fixture in → staged, resumable
build out, with the class-membership gate, metadata enrichment, header
replacement, and OWL-NETS decode all exercised end-to-end. Tests that need
the reference checkout skip without it; the partial and post-closure
builds also run on a small in-memory ontology."""

import os

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.plans.checkpoint import StageStore
from pheknowlator_spark.plans.full_build import (
    apply_inverse_relations,
    full_build,
    load_relation_maps,
    merge_ontologies,
)

REF = "/root/reference/tests/data"

RDF_T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL = "http://www.w3.org/2002/07/owl#"
OBO = "http://purl.obolibrary.org/obo/"
# generated classes a warm post-closure build of small_ontology compiles
# with AQE off: 0 in each of 5 runs of this test alone and 2 runs of this
# file, 335–340 with Spark's default 100-entry cache. With AQE on,
# run-time re-planning spread the count over 4–48.
MAX_WARM_COMPILES = 8


@pytest.fixture(scope="module")
def ref_dir():
    if not os.path.exists(f"{REF}/PheKnowLator_Closed.owl"):
        pytest.skip(f"reference fixtures not present in {REF}")
    return REF


@pytest.fixture(scope="module")
def ontology(spark, ref_dir):
    from pheknowlator_spark.sources.rdfxml import read_rdfxml

    return read_rdfxml(spark, f"{ref_dir}/PheKnowLator_Closed.owl")


@pytest.fixture(scope="module")
def small_ontology(spark):
    """Five SO classes in a subClassOf chain, an owl:Axiom reification of
    one chain link with a dbXref payload, a declared annotation property
    with a direct assertion, and a 3-member owl:unionOf."""
    rdfs = "http://www.w3.org/2000/01/rdf-schema#"
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    xref = "http://www.geneontology.org/formats/oboInOwl#hasDbXref"
    sco = rdfs + "subClassOf"
    so = [f"{OBO}SO_000000{i}" for i in range(1, 6)]
    uri = [
        *[(c, RDF_T, OWL + "Class") for c in so],
        (so[1], sco, so[0]), (so[2], sco, so[1]), (so[3], sco, so[2]),
        (xref, RDF_T, OWL + "AnnotationProperty"),
        (OBO + "RO_0004004", RDF_T, OWL + "ObjectProperty"),
        ("bnode:ax1", RDF_T, OWL + "Axiom"),
        ("bnode:ax1", OWL + "annotatedSource", so[1]),
        ("bnode:ax1", OWL + "annotatedProperty", sco),
        ("bnode:ax1", OWL + "annotatedTarget", so[0]),
        (so[4], sco, "bnode:u"),
        ("bnode:u", RDF_T, OWL + "Class"),
        ("bnode:u", OWL + "unionOf", "bnode:l0"),
        ("bnode:l0", rdf + "first", so[1]), ("bnode:l0", rdf + "rest", "bnode:l1"),
        ("bnode:l1", rdf + "first", so[2]), ("bnode:l1", rdf + "rest", "bnode:l2"),
        ("bnode:l2", rdf + "first", so[3]), ("bnode:l2", rdf + "rest", rdf + "nil"),
    ]
    lit = [
        (so[0], rdfs + "label", "first class"),
        (so[1], rdfs + "label", "second class"),
        ("bnode:ax1", xref, "ref:1"),
        (so[0], xref, "ref:2"),
    ]
    return spark.createDataFrame(
        [(s, p, o, False, None, None) for s, p, o in uri]
        + [(s, p, o, True, None, None) for s, p, o in lit],
        "s string, p string, o string, o_is_literal boolean, "
        "o_lang string, o_datatype string",
    )


@pytest.fixture(params=["reference", "in_memory"])
def any_ontology(request):
    return request.getfixturevalue(
        "ontology" if request.param == "reference" else "small_ontology"
    )


def test_load_relation_maps(spark, ref_dir):
    inv, labels = load_relation_maps(
        spark, f"{REF}/INVERSE_RELATIONS.txt", f"{REF}/RELATIONS_LABELS.txt"
    )
    pairs = {(r.relation, r.inverse) for r in inv.collect()}
    assert ("RO_0004004", "RO_0004014") in pairs
    assert labels.count() > 0


def test_apply_inverse_relations(spark):
    inv = spark.createDataFrame(
        [("RO_0004004", "RO_0004014")], "relation string, inverse string"
    )
    edges = spark.createDataFrame(
        [("t", "class", "class", "A", "B", OBO, OBO, "RO_0004004", None),
         ("t", "class", "class", "A", "B", OBO, OBO, "RO_0009999", None),
         ("t", "class", "class", "A", "B", OBO, OBO, "RO_0004004", "RO_X")],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    got = {(r.rel, r.inv_rel) for r in apply_inverse_relations(edges, inv).collect()}
    assert got == {("RO_0004004", "RO_0004014"), ("RO_0009999", None),
                   ("RO_0004004", "RO_X")}


def test_full_build_stages_and_resume(spark, tmp_path, ontology):
    # two SO classes that exist in the fixture ontology
    classes = [
        r.node for r in
        ontology.filter((F.col("p") == RDF_T) & (F.col("o") == OWL + "Class"))
        .select(F.col("s").alias("node")).distinct()
        .filter(F.col("node").startswith(OBO + "SO_"))
        .orderBy("node").limit(2).collect()
    ]
    assert len(classes) == 2
    c1, c2 = (c.replace(OBO, "") for c in classes)
    edges = spark.createDataFrame(
        [
            ("so-so", "class", "class", c1, c2, OBO, OBO, "RO_0004004", None),
            # class side missing from the ontology → P9 gate drops the edge
            ("so-so", "class", "class", "DOID_999999", c2, OBO, OBO,
             "RO_0004004", None),
        ],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    inv, _ = load_relation_maps(
        spark, f"{REF}/INVERSE_RELATIONS.txt", f"{REF}/RELATIONS_LABELS.txt"
    )
    # the Closed fixture ships label-free; a second "ontology" contributes
    # labels so metadata harvest + G6 enrichment are non-trivial
    labels_ont = spark.createDataFrame(
        [(classes[0], "http://www.w3.org/2000/01/rdf-schema#label",
          "first so class", True, None, None)],
        "s string, p string, o string, o_is_literal boolean, "
        "o_lang string, o_datatype string",
    )
    store = StageStore(spark, str(tmp_path / "build"))
    out = full_build(
        spark, store, [ontology, labels_ont], edges,
        inverse_relations=inv, approach="subclass",
        date_full="04/02/2020 21:22:56",
    )
    # gate dropped the bogus edge; inverse filled from the map → 18 core
    # triples for the surviving class-class edge
    cons = {(r.s, r.p, r.o) for r in out["constructed_edges"].collect()}
    assert len(cons) >= 15  # 18 minus overlaps with duplicate typing triples
    assert not any("DOID_999999" in s or "DOID_999999" in o for s, _, o in cons)
    # inverse applied: subclass mode puts it as the backward restriction's
    # owl:onProperty object
    assert any(o == OBO + "RO_0004014" for _, _, o in cons)

    fg = out["full_graph"]
    # old ontology header stripped, new 7-triple header present
    assert fg.filter(
        F.col("s").startswith("https://pheknowlator.com/")
    ).count() == 7
    # metadata enrichment put labels back for graph nodes
    assert fg.filter(
        F.col("p") == "http://www.w3.org/2000/01/rdf-schema#label"
    ).count() > 0
    assert out["owlnets"].count() > 0
    # split parity: logic + annotation == merged
    assert (
        out["logic_subset"].count() + out["annotation_subset"].count()
        == out["merged_ontology"].count()
    )

    # resume: every stage reads back committed parquet — fn never invoked
    store2 = StageStore(spark, str(tmp_path / "build"))
    out2 = full_build(
        spark, store2, [ontology, labels_ont], edges,
        inverse_relations=inv, approach="subclass",
        date_full="DIFFERENT — must not matter on resume",
    )
    assert out2["full_graph"].count() == fg.count()
    manifest = store2.manifest()
    assert set(manifest["stages"]) >= {
        "merged_ontology", "metadata", "logic_subset", "annotation_subset",
        "constructed_edges", "full_graph", "owlnets",
    }


def test_merge_ontologies_set_semantics(spark):
    a = spark.createDataFrame(
        [("s", "p", "o", False, None, None)],
        "s string, p string, o string, o_is_literal boolean, "
        "o_lang string, o_datatype string",
    )
    assert merge_ontologies([a, a, a]).count() == 1


def test_post_closure_build(spark, tmp_path, any_ontology):
    # PostClosureBuild: reasoner-closed graph in, no edge construction
    from pheknowlator_spark.plans.full_build import post_closure_build

    store = StageStore(spark, str(tmp_path / "pc"))
    out = post_closure_build(
        spark, store, any_ontology, date_full="04/02/2020 21:22:56"
    )
    assert out["constructed_edges"].count() == 0
    assert out["full_graph"].count() > 0
    assert out["owlnets"].count() > 0


def test_repeated_build_reuses_compiled_classes(spark, tmp_path, small_ontology):
    """A second post-closure build, into a fresh store, compiles almost no
    new generated classes: the session's codegen cache holds the build's
    working set, so its plans hit classes the first build compiled. With
    Spark's default cache of 100 entries the second build recompiles
    nearly all of them. Both builds run with AQE off: its run-time
    re-planning depends on which query stages finish first, so the set of
    plans it compiles differs from build to build."""
    from pheknowlator_spark.plans.full_build import post_closure_build

    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def build(name):
        post_closure_build(
            spark, StageStore(spark, str(tmp_path / name)), small_ontology,
            date_full="04/02/2020 21:22:56",
        )

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        build("first")
        before = compiles.getCount()
        build("second")
        warm = compiles.getCount() - before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert warm <= MAX_WARM_COMPILES


def test_partial_build_contract(spark, tmp_path, any_ontology):
    """PartialBuild output contract (reference
    tests/test_knowledge_graph_partial.py:124-137): logic-with-edges,
    annotations-only, and merged partial graph stages exist; annotation
    merge/metadata/header/decode are DEFERRED for the external reasoner.
    The stages it shares with FullBuild hold the same rows."""
    from pyspark.sql import functions as F2

    from pheknowlator_spark.plans.full_build import partial_build

    ontology = any_ontology
    classes = [
        r.node for r in
        ontology.filter((F.col("p") == RDF_T) & (F.col("o") == OWL + "Class"))
        .select(F.col("s").alias("node")).distinct()
        .filter(F.col("node").startswith(OBO + "SO_"))
        .orderBy("node").limit(2).collect()
    ]
    c1, c2 = (c.replace(OBO, "") for c in classes)
    edges = spark.createDataFrame(
        [("so-so", "class", "class", c1, c2, OBO, OBO, "RO_0004004", None)],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    store = StageStore(spark, str(tmp_path / "partial"))
    out = partial_build(spark, store, [ontology], edges, approach="subclass")

    # the three reference output files map to these committed stages
    assert set(store.manifest()["stages"]) >= {
        "logic_with_edges", "annotation_subset", "partial_graph",
    }
    # deferred: NO decode stage, NO provenance header beyond what the input
    # ontology already carried (full_build strips+re-adds; partial must not)
    assert "owlnets" not in store.manifest()["stages"]
    pre_existing = out["merged_ontology"].filter(
        F2.col("s").startswith("https://pheknowlator.com/")
    ).count()
    assert out["partial_graph"].filter(
        F2.col("s").startswith("https://pheknowlator.com/")
    ).count() == pre_existing

    # logic_with_edges = logic subset + constructed edges, annotations apart
    lw = out["logic_with_edges"]
    assert lw.count() == lw.select("s", "p", "o").distinct().count()
    assert (
        out["logic_subset"].count() + out["annotation_subset"].count()
        == out["merged_ontology"].count()
    )
    cons = out["constructed_edges"]
    assert cons.count() > 0
    assert lw.join(cons, ["s", "p", "o"], "left_semi").count() == cons.count()

    # merged partial graph = annotations ∪ logic_with_edges with pkt bnode
    # namespacing stripped (knowledge_graph.py:436-438)
    pg = out["partial_graph"]
    assert pg.filter(
        F2.col("s").startswith(
            "https://github.com/callahantiff/PheKnowLator/pkt/bnode/"
        )
    ).count() == 0
    merged_ct = (
        out["annotation_subset"].select("s", "p", "o")
        .unionByName(lw.select("s", "p", "o"))
        .withColumn("s", F2.regexp_replace(
            "s", "https://github.com/callahantiff/PheKnowLator/pkt/bnode/",
            "bnode:"))
        .withColumn("o", F2.regexp_replace(
            "o", "https://github.com/callahantiff/PheKnowLator/pkt/bnode/",
            "bnode:"))
        .distinct().count()
    )
    assert pg.count() == merged_ct

    full = full_build(
        spark, StageStore(spark, str(tmp_path / "full")), [ontology], edges,
        approach="subclass", decode_owl=False,
    )
    for stage in ("merged_ontology", "metadata", "annotation_subset",
                  "constructed_edges", "logic_subset"):
        assert sorted(map(repr, out[stage].collect())) == sorted(
            map(repr, full[stage].collect())
        ), stage


def test_full_build_output_file_contract(spark, tmp_path, ontology):
    """The reference's end-to-end file contract
    (tests/test_knowledge_graph_full.py:138-189): one build must be able to
    emit LogicOnly.nt / AnnotationsOnly.nt / full .nt, the integer-triple
    set + identifier map JSON, NodeLabels.txt, and the property-graph
    export — composed from full_build stages + the sink operators."""
    import json as _json

    from pheknowlator_spark.sources.sinks import (
        export_property_graph,
        read_ntriples,
        write_integer_triples,
        write_node_labels,
        write_ntriples,
    )

    classes = [
        r.node for r in
        ontology.filter((F.col("p") == RDF_T) & (F.col("o") == OWL + "Class"))
        .select(F.col("s").alias("node")).distinct()
        .filter(F.col("node").startswith(OBO + "SO_"))
        .orderBy("node").limit(2).collect()
    ]
    c1, c2 = (c.replace(OBO, "") for c in classes)
    edges = spark.createDataFrame(
        [("so-so", "class", "class", c1, c2, OBO, OBO, "RO_0004004", None)],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    store = StageStore(spark, str(tmp_path / "contract"))
    out = full_build(spark, store, [ontology], edges, approach="subclass")

    kg = str(tmp_path / "kg")
    os.makedirs(kg)
    write_ntriples(out["annotation_subset"], kg + "/PheKnowLator_AnnotationsOnly.nt")
    logic_with_edges = (
        out["logic_subset"].select("s", "p", "o", "o_is_literal",
                                   "o_lang", "o_datatype")
        .unionByName(out["constructed_edges"])
        .distinct()
    )
    write_ntriples(logic_with_edges, kg + "/PheKnowLator_LogicOnly.nt")
    write_ntriples(out["full_graph"], kg + "/PheKnowLator_Full.nt")

    uri_triples = out["full_graph"].filter(~F.col("o_is_literal"))
    id_map = write_integer_triples(uri_triples, kg)
    write_node_labels(out["metadata"], id_map, kg + "/NodeLabels.txt")
    nodes, pg_edges = export_property_graph(out["full_graph"])

    # existence (the reference's assertTrue(os.path.exists(...)) block)
    for artifact in [
        "PheKnowLator_AnnotationsOnly.nt", "PheKnowLator_LogicOnly.nt",
        "PheKnowLator_Full.nt", "Triples_Integers", "Triples_Identifiers",
        "Triples_Integer_Identifier_Map",
        "Triples_Integer_Identifier_Map.json", "NodeLabels.txt",
    ]:
        assert os.path.exists(os.path.join(kg, artifact)), artifact

    # readback sanity: full .nt round-trips, integer map is a bijection
    back = read_ntriples(spark, kg + "/PheKnowLator_Full.nt")
    assert back.count() == out["full_graph"].count()
    with open(kg + "/Triples_Integer_Identifier_Map.json") as f:
        mapping = _json.load(f)
    assert len(mapping) == id_map.count()
    assert len(set(mapping.values())) == len(mapping)
    assert nodes.count() > 0 and pg_edges.count() > 0
    # logic + annotations cover the pre-header full graph
    hdr = out["full_graph"].filter(
        F.col("s").startswith("https://pheknowlator.com/")
    ).count()
    assert hdr == 7


def test_partial_then_post_closure_composition(spark, tmp_path, ontology):
    """The deferred-annotation build flavor end-to-end (builds/README.md:
    124-134): PartialBuild emits the logic-with-edges graph for an external
    reasoner; PostClosureBuild then consumes the (here: identity-) closed
    graph PLUS the deferred annotations and produces the full KG with
    metadata, header, and decode — no triple lost across the handoff."""
    from pheknowlator_spark.plans.full_build import (
        partial_build,
        post_closure_build,
    )

    classes = [
        r.node for r in
        ontology.filter((F.col("p") == RDF_T) & (F.col("o") == OWL + "Class"))
        .select(F.col("s").alias("node")).distinct()
        .filter(F.col("node").startswith(OBO + "SO_"))
        .orderBy("node").limit(2).collect()
    ]
    c1, c2 = (c.replace(OBO, "") for c in classes)
    edges = spark.createDataFrame(
        [("so-so", "class", "class", c1, c2, OBO, OBO, "RO_0004004", None)],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    p_store = StageStore(spark, str(tmp_path / "flavor_partial"))
    partial = partial_build(spark, p_store, [ontology], edges,
                            approach="subclass")

    # external-reasoner stand-in: the closure of the logic graph is itself
    # (ELK on an already-closed fixture); merge the deferred annotations
    # back exactly as the reference's post-closure inputs do
    closed = (
        partial["logic_with_edges"]
        .unionByName(partial["annotation_subset"])
        .distinct()
    )
    pc_store = StageStore(spark, str(tmp_path / "flavor_pc"))
    out = post_closure_build(
        spark, pc_store, closed, date_full="04/02/2020 21:22:56"
    )
    fg = out["full_graph"]
    # the full KG carries the provenance header and decodes
    assert fg.filter(
        F.col("s").startswith("https://pheknowlator.com/")
    ).count() == 7
    assert out["owlnets"].count() > 0
    # nothing lost across the handoff: every constructed edge triple and
    # every annotation assertion survives into the full graph (minus the
    # stripped old header)
    cons = partial["constructed_edges"].select("s", "p", "o")
    assert fg.join(cons, ["s", "p", "o"], "left_semi").count() == cons.count()
    annot = partial["annotation_subset"].select("s", "p", "o").filter(
        ~F.col("s").startswith("https://pheknowlator.com/")
    )
    assert (
        fg.join(annot, ["s", "p", "o"], "left_semi").count() == annot.count()
    )
