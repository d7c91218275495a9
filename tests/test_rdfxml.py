"""RDF/XML ingestion (S7) tests: parser correctness on hand-built documents
covering every supported construct, structural checks against the
reference's own OWL fixture, and integration into the triple-table flow
(reference parity: pkt_kg/knowledge_graph.py:384 rdflib Graph().parse).
The ingestion tests also run on the in-file ``DOC``, so they hold without
the reference checkout."""

import os

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.sources.rdfxml import parse_rdfxml, read_rdfxml

REF_OWL = "/root/reference/tests/data/PheKnowLator_Closed.owl"
needs_ref_owl = pytest.mark.skipif(
    not os.path.exists(REF_OWL), reason=f"reference fixture not present: {REF_OWL}"
)

DOC = b"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:obo="http://purl.obolibrary.org/obo/"
         xml:base="http://example.org/base">
  <owl:Class rdf:about="http://purl.obolibrary.org/obo/SO_1">
    <rdfs:label xml:lang="en">gene</rdfs:label>
    <rdfs:subClassOf rdf:resource="http://purl.obolibrary.org/obo/SO_0"/>
    <rdfs:subClassOf>
      <owl:Restriction>
        <owl:onProperty rdf:resource="http://purl.obolibrary.org/obo/BFO_50"/>
        <owl:someValuesFrom rdf:resource="http://purl.obolibrary.org/obo/SO_2"/>
      </owl:Restriction>
    </rdfs:subClassOf>
    <owl:equivalentClass>
      <owl:Class>
        <owl:intersectionOf rdf:parseType="Collection">
          <rdf:Description rdf:about="http://purl.obolibrary.org/obo/SO_3"/>
          <rdf:Description rdf:about="http://purl.obolibrary.org/obo/SO_4"/>
        </owl:intersectionOf>
      </owl:Class>
    </owl:equivalentClass>
    <obo:IAO_0000115 rdf:datatype="http://www.w3.org/2001/XMLSchema#string">a region</obo:IAO_0000115>
  </owl:Class>
  <rdf:Description rdf:ID="frag">
    <rdfs:comment>fragment id</rdfs:comment>
  </rdf:Description>
  <rdf:Description rdf:nodeID="b7">
    <rdfs:seeAlso rdf:nodeID="b8"/>
  </rdf:Description>
  <owl:Axiom rdf:about="http://example.org/ax1">
    <owl:annotatedSource rdf:parseType="Resource">
      <rdfs:comment>inner</rdfs:comment>
    </owl:annotatedSource>
  </owl:Axiom>
</rdf:RDF>
"""

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"


@pytest.fixture(params=["doc", pytest.param("reference", marks=needs_ref_owl)])
def owl_path(request, tmp_path):
    if request.param == "reference":
        return REF_OWL
    path = tmp_path / "doc.owl"
    path.write_bytes(DOC)
    return str(path)


def test_parse_constructs():
    ts = parse_rdfxml(DOC)
    tset = {(s, p, o) for s, p, o, *_ in ts}
    so1 = "http://purl.obolibrary.org/obo/SO_1"
    # typed node element
    assert (so1, RDF + "type", OWL + "Class") in tset
    # plain resource object
    assert (so1, RDFS + "subClassOf", "http://purl.obolibrary.org/obo/SO_0") in tset
    # nested restriction bnode
    rest = [o for s, p, o in tset
            if s == so1 and p == RDFS + "subClassOf" and o.startswith("bnode:")]
    assert len(rest) == 1
    assert (rest[0], OWL + "onProperty", "http://purl.obolibrary.org/obo/BFO_50") in tset
    # language-tagged literal
    lab = [t for t in ts if t[1] == RDFS + "label"]
    assert lab[0][2:] == ("gene", True, "en", None)
    # datatyped literal
    defn = [t for t in ts if t[1].endswith("IAO_0000115")]
    assert defn[0][2:] == (
        "a region", True, None, "http://www.w3.org/2001/XMLSchema#string"
    )
    # rdf:parseType="Collection" → well-formed rdf list of SO_3, SO_4
    firsts = [(s, o) for s, p, o in tset if p == RDF + "first"]
    rests = [(s, o) for s, p, o in tset if p == RDF + "rest"]
    assert sorted(o for _, o in firsts) == [
        "http://purl.obolibrary.org/obo/SO_3", "http://purl.obolibrary.org/obo/SO_4"
    ]
    assert len(rests) == 2 and sum(o == RDF + "nil" for _, o in rests) == 1
    # rdf:ID resolves against xml:base
    assert ("http://example.org/base#frag", RDFS + "comment", "fragment id") in tset
    # rdf:nodeID on node and property elements
    assert ("bnode:b7", RDFS + "seeAlso", "bnode:b8") in tset
    # parseType="Resource" implicit bnode
    ax = [o for s, p, o in tset
          if s == "http://example.org/ax1" and p == OWL + "annotatedSource"]
    assert len(ax) == 1 and ax[0].startswith("bnode:")
    assert (ax[0], RDFS + "comment", "inner") in tset
    # deterministic bnode labels
    assert ts == parse_rdfxml(DOC)


@needs_ref_owl
def test_parse_reference_owl_structure():
    ts = parse_rdfxml(REF_OWL)
    assert len(ts) == 10007
    preds = [t[1] for t in ts]
    # every rdf:first has exactly one rdf:rest (well-formed lists)
    assert preds.count(RDF + "first") == preds.count(RDF + "rest") == 454
    # 220 parseType="Collection" occurrences in the document → 220 nil ends
    assert sum(1 for t in ts if t[2] == RDF + "nil") == 220
    types = [t[2] for t in ts if t[1] == RDF + "type"]
    assert types.count(OWL + "Class") == 2808
    assert types.count(OWL + "Restriction") == 825
    # deterministic bnode labels
    assert ts == parse_rdfxml(REF_OWL)


def test_read_rdfxml_spark_roundtrip(spark, tmp_path, owl_path):
    # DataFrame ingestion + N-Triples round-trip through the engine's sink
    from pheknowlator_spark.sources.sinks import read_ntriples, write_ntriples

    df = read_rdfxml(spark, owl_path)
    assert df.count() == len(set(parse_rdfxml(owl_path)))
    nt_path = str(tmp_path / "ont_nt")
    write_ntriples(df, nt_path)
    back = read_ntriples(spark, nt_path)
    a = {tuple(r) for r in df.select("s", "p", "o", "o_is_literal").collect()}
    b = {tuple(r) for r in back.select("s", "p", "o", "o_is_literal").collect()}
    assert a == b


def test_rdfxml_feeds_owlnets(spark, owl_path):
    # ingested ontology drives the OWL-NETS decode end-to-end
    from pheknowlator_spark.operators.owlnets import run_owlnets

    df = read_rdfxml(spark, owl_path)
    out = run_owlnets(df, approach="subclass")
    decoded = out["owlnets"]
    assert decoded.count() > 0
    # decoded graph has no bnodes left
    assert decoded.filter(
        F.col("s").startswith("bnode:") | F.col("o").startswith("bnode:")
    ).count() == 0
