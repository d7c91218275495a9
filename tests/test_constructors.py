"""Parity tests for the subclass/instance constructors (G1-G4).

Assertions mirror reference tests/test_construction_approaches.py:171-342:
exact triple counts (9/18 subclass, 6/8 instance, 11/20 class-entity,
distinct 17/15) and byte-exact pkt md5 node ids. The expected triples are
derived here *independently* with hashlib from the published semantics
(md5 over N-Triples term serializations), not by running the reference.
"""

import hashlib

from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBO,
    OWL_CLASS,
    OWL_NAMED_INDIVIDUAL,
    OWL_OBJECT_PROPERTY,
    OWL_ON_PROPERTY,
    OWL_RESTRICTION,
    OWL_SOME_VALUES_FROM,
    PKT,
    PKT_BNODE,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
)
from pheknowlator_spark.operators.constructors import construct_edges

DOID = OBO + "DOID_3075"
DOID2 = OBO + "DOID_1080"
REL = OBO + "RO_0003302"
GENE = "https://www.ncbi.nlm.nih.gov/gene/2"
HP = OBO + "HP_0110035"


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def expected_subclass_core(n1, n2, rel, inv):
    core = f"<{n1}><{rel}><{n2}>"
    u1 = PKT + "N" + md5(core)
    u2 = PKT_BNODE + "N" + md5(core + f"<{OWL_RESTRICTION}>")
    out = [
        (n1, RDF_TYPE, OWL_CLASS),
        (u1, RDFS_SUBCLASSOF, n1),
        (u1, RDF_TYPE, OWL_CLASS),
        (u1, RDFS_SUBCLASSOF, u2),
        (u2, RDF_TYPE, OWL_RESTRICTION),
        (u2, OWL_SOME_VALUES_FROM, n2),
        (n2, RDF_TYPE, OWL_CLASS),
        (u2, OWL_ON_PROPERTY, rel),
        (rel, RDF_TYPE, OWL_OBJECT_PROPERTY),
    ]
    if inv:
        out += expected_subclass_core(n2, n1, inv, None)
    return out


def expected_instance_core(n1, n2, rel, inv):
    hash_rel = min(rel, inv) if inv else rel
    core = f"<{n1}><{hash_rel}><{n2}>"
    u1 = PKT + "N" + md5(core + "subject")
    u2 = PKT + "N" + md5(core + "object")
    out = [
        (u1, RDF_TYPE, n1),
        (u1, RDF_TYPE, OWL_NAMED_INDIVIDUAL),
        (u2, RDF_TYPE, n2),
        (u2, RDF_TYPE, OWL_NAMED_INDIVIDUAL),
        (u1, rel, u2),
        (rel, RDF_TYPE, OWL_OBJECT_PROPERTY),
    ]
    if inv:
        out += [(u2, inv, u1), (inv, RDF_TYPE, OWL_OBJECT_PROPERTY)]
    return out


def class_class_edge(spark, inv_rel):
    return spark.createDataFrame(
        [("disease-disease", "class", "class", "DOID_3075", "DOID_1080", OBO, OBO,
          "RO_0003302", inv_rel)],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )


def rows_to_triples(df):
    return [(r.s, r.p, r.o) for r in df.select("s", "p", "o").collect()]


def test_subclass_class_class_no_inverse(spark):
    triples, errors = construct_edges(class_class_edge(spark, None), approach="subclass")
    got = rows_to_triples(triples)
    assert len(got) == 9
    assert sorted(got) == sorted(expected_subclass_core(DOID, DOID2, REL, None))
    assert errors.count() == 0


def test_subclass_class_class_inverse(spark):
    triples, _ = construct_edges(class_class_edge(spark, "RO_0003302"), approach="subclass")
    got = rows_to_triples(triples)
    assert len(got) == 18
    assert len(set(got)) == 15  # ref test_construction_approaches.py:305-306
    assert sorted(got) == sorted(expected_subclass_core(DOID, DOID2, REL, REL))


def test_instance_class_class_no_inverse(spark):
    triples, _ = construct_edges(class_class_edge(spark, None), approach="instance")
    got = rows_to_triples(triples)
    assert len(got) == 6
    assert sorted(got) == sorted(expected_instance_core(DOID, DOID2, REL, None))


def test_instance_class_class_inverse(spark):
    triples, _ = construct_edges(class_class_edge(spark, "RO_0003304"), approach="instance")
    got = rows_to_triples(triples)
    assert len(got) == 8
    assert sorted(got) == sorted(
        expected_instance_core(DOID, DOID2, REL, OBO + "RO_0003304")
    )


def entity_class_edge(spark, inv_rel):
    # gene-phenotype: n1 entity (gene id namespace), n2 class — mirrors
    # ref tests/test_construction_approaches.py:273-306
    return spark.createDataFrame(
        [("gene-phenotype", "entity", "class", "2", "HP_0110035",
          "https://www.ncbi.nlm.nih.gov/gene/", OBO, "RO_0003302", inv_rel)],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )


def subclass_map(spark):
    return spark.createDataFrame(
        [("2", "SO_0001217")], "entity_id string, class_id string"
    )


def test_subclass_entity_class_no_inverse(spark):
    triples, errors = construct_edges(
        entity_class_edge(spark, None), subclass_map(spark), approach="subclass"
    )
    got = rows_to_triples(triples)
    # 2 map triples + 9 core = 11 (ref :287)
    assert len(got) == 11
    exp = [
        (GENE, RDFS_SUBCLASSOF, OBO + "SO_0001217"),
        (OBO + "SO_0001217", RDF_TYPE, OWL_CLASS),
    ] + expected_subclass_core(GENE, HP, REL, None)  # original (n1, n2) order
    assert sorted(got) == sorted(exp)
    assert errors.count() == 0


def test_subclass_entity_class_inverse(spark):
    triples, _ = construct_edges(
        entity_class_edge(spark, "RO_0003302"), subclass_map(spark), approach="subclass"
    )
    got = rows_to_triples(triples)
    assert len(got) == 20  # ref :305
    assert len(set(got)) == 17  # ref :306


def test_instance_entity_class_no_inverse(spark):
    triples, _ = construct_edges(
        entity_class_edge(spark, None), subclass_map(spark), approach="instance"
    )
    got = rows_to_triples(triples)
    # 3 map triples + 6 core = 9... ref instance map adds ent type Class
    assert len(got) == 9
    exp = [
        (GENE, RDFS_SUBCLASSOF, OBO + "SO_0001217"),
        (OBO + "SO_0001217", RDF_TYPE, OWL_CLASS),
        (GENE, RDF_TYPE, OWL_CLASS),
    ] + expected_instance_core(GENE, HP, REL, None)
    assert sorted(got) == sorted(exp)


def test_subclass_bad_map_drops_edge_and_logs(spark):
    # entity missing from subclass map → no triples, error row
    # (ref tests/test_construction_approaches.py:246-270)
    triples, errors = construct_edges(
        entity_class_edge(spark, None),
        spark.createDataFrame([("999", "X_1")], "entity_id string, class_id string"),
        approach="subclass",
    )
    assert triples.count() == 0
    errs = [(r.edge_type, r.entity_id) for r in errors.collect()]
    assert errs == [("gene-phenotype", "2")]


def test_entity_entity_both_mapped(spark):
    edges = spark.createDataFrame(
        [("gene-gene", "entity", "entity", "2", "3",
          "https://www.ncbi.nlm.nih.gov/gene/", "https://www.ncbi.nlm.nih.gov/gene/",
          "RO_0002435", "RO_0002435")],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    smap = spark.createDataFrame(
        [("2", "SO_0001217"), ("3", "SO_0001217")], "entity_id string, class_id string"
    )
    triples, errors = construct_edges(edges, smap, approach="subclass")
    # 2 map triples per side + 18 core (inverse) = 22
    assert triples.count() == 22
    assert errors.count() == 0
    # entity-entity keeps original order (no swap)
    g2 = "https://www.ncbi.nlm.nih.gov/gene/2"
    g3 = "https://www.ncbi.nlm.nih.gov/gene/3"
    exp_core = expected_subclass_core(g2, g3, OBO + "RO_0002435", OBO + "RO_0002435")
    got = set(rows_to_triples(triples))
    assert set(exp_core) <= got


def test_plan_has_no_python_udf(spark):
    triples, _ = construct_edges(class_class_edge(spark, "RO_X"), approach="subclass")
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
