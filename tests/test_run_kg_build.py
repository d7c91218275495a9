"""End-to-end build-matrix CLI test (reference Main.py:17-116 +
tests/test_knowledge_graph_full.py:138-189 file contract): drive
scripts/run_kg_build.py over the reference's own fixture inputs for two
build flavors and assert the output-file contract, the reference filename
convention (knowledge_graph.py:140), edge-list parity with the
reference-emitted Master_Edge_List_Dict.json, and stage resume."""

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

REF = "/root/reference/tests/data"
pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{REF}/Master_Edge_List_Dict.json"),
    reason=f"reference fixtures not present in {REF}",
)

OBO = "http://purl.obolibrary.org/obo/"
RDF_T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OWL_CLASS = "http://www.w3.org/2002/07/owl#Class"


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """Reference fixtures re-staged for the CLI: the Closed ontology plus a
    tiny .nt contributing the DOID classes the gene-disease edges target
    (so the P9 class-membership gate admits them), and a subclass map TSV
    for the gene entities."""
    root = tmp_path_factory.mktemp("kg_cli")
    onts = root / "ontologies"
    onts.mkdir()
    shutil.copy(f"{REF}/PheKnowLator_Closed.owl", onts / "closed.owl")

    with open(f"{REF}/Master_Edge_List_Dict.json") as f:
        master = json.load(f)
    gd = master["gene-disease"]
    doids = sorted({o for _, o in gd["edge_list"]})
    genes = sorted({s for s, _ in gd["edge_list"]})
    with open(onts / "doid_classes.nt", "w") as f:
        for d in doids:
            f.write(f"<{OBO}{d}> <{RDF_T}> <{OWL_CLASS}> .\n")

    sub = root / "subclass_map.tsv"
    with open(sub, "w") as f:
        for g in genes:
            f.write(f"{g}\tSO_0001217\n")
    return root


def _args(fixture_dir, out, **overrides):
    from run_kg_build import build_parser

    argv = [
        "--res", f"{REF}/resource_info.txt",
        "--edg", f"{REF}/edge_data",
        "--onts", str(fixture_dir / "ontologies"),
        "--maps", REF,
        "--rel-data", REF,
        "--sub", str(fixture_dir / "subclass_map.tsv"),
        "--out", str(out),
        "--app", overrides.pop("app", "subclass"),
        "--kg", overrides.pop("kg", "full"),
        "--rel", overrides.pop("rel", "yes"),
        "--owl", overrides.pop("owl", "yes"),
    ]
    for k, v in overrides.items():
        argv += [f"--{k.replace('_', '-')}", v]
    return build_parser().parse_args(argv)


def test_full_flavor_file_contract(spark, fixture_dir, tmp_path):
    from run_kg_build import run

    args = _args(fixture_dir, tmp_path / "full")
    args.spark = spark
    out = run(args)

    name = "PheKnowLator_v3.1.2_full_subclass_inverseRelations_noOWL"
    kg = str(tmp_path / "full")
    for artifact in [
        f"{name}.nt", f"{name}_LogicOnly.nt", f"{name}_AnnotationsOnly.nt",
        f"{name}_OWLNETS.nt", "Triples_Integers", "Triples_Identifiers",
        "Triples_Integer_Identifier_Map.json", "NodeLabels.txt",
        "PropertyGraph_Nodes", "PropertyGraph_Edges",
        "Master_Edge_List_Dict.json", "Master_Edge_List",
    ]:
        assert os.path.exists(os.path.join(kg, artifact)), artifact

    # edge-list parity with the reference-emitted master dict
    with open(os.path.join(kg, "Master_Edge_List_Dict.json")) as f:
        got = json.load(f)
    with open(f"{REF}/Master_Edge_List_Dict.json") as f:
        expected = json.load(f)
    assert sorted(map(tuple, got["gene-disease"]["edge_list"])) == sorted(
        map(tuple, expected["gene-disease"]["edge_list"])
    )
    # chemical-disease emits zero edges in the reference fixture too
    assert got["chemical-disease"]["edge_list"] == []

    # real triples were constructed (subclass map + DOID classes admitted)
    assert out["constructed_edges"].count() > 0
    assert out["owlnets"].count() > 0
    hdr = out["full_graph"].filter(
        out["full_graph"].s.startswith("https://pheknowlator.com/")
    ).count()
    assert hdr == 7


def test_full_flavor_resume(spark, fixture_dir, tmp_path):
    # same --out twice: second run resumes every committed stage
    from run_kg_build import run

    args = _args(fixture_dir, tmp_path / "resume")
    args.spark = spark
    first = run(args)
    n = first["full_graph"].count()
    again = run(args)
    assert again["full_graph"].count() == n


def test_partial_flavor_contract(spark, fixture_dir, tmp_path):
    from run_kg_build import run

    args = _args(fixture_dir, tmp_path / "partial", kg="partial", rel="no",
                 owl="no")
    args.spark = spark
    out = run(args)

    name = "PheKnowLator_v3.1.2_partial_subclass_relationsOnly_OWL"
    kg = str(tmp_path / "partial")
    for artifact in [
        f"{name}.nt", f"{name}_LogicOnly.nt", f"{name}_AnnotationsOnly.nt",
        "Triples_Integers", "Master_Edge_List_Dict.json",
    ]:
        assert os.path.exists(os.path.join(kg, artifact)), artifact
    # partial defers decode — no OWLNETS output, no decode stage
    assert not os.path.exists(os.path.join(kg, f"{name}_OWLNETS.nt"))
    assert "partial_graph" in out
    assert out["constructed_edges"].count() > 0


def test_instance_flavor_constructs_individuals(spark, fixture_dir, tmp_path):
    # instance approach (G2/G4): gene entities become NamedIndividuals
    # typed by their subclass-map classes instead of subclass restrictions
    from run_kg_build import run

    args = _args(fixture_dir, tmp_path / "inst", app="instance", rel="no",
                 owl="no")
    args.spark = spark
    out = run(args)
    name = "PheKnowLator_v3.1.2_full_instance_relationsOnly_OWL"
    assert os.path.exists(os.path.join(str(tmp_path / "inst"), f"{name}.nt"))
    cons = {(r.s, r.p, r.o) for r in out["constructed_edges"].collect()}
    assert len(cons) > 0
    named_ind = "http://www.w3.org/2002/07/owl#NamedIndividual"
    assert any(o == named_ind for _, _, o in cons)
    # no decode requested -> no owlnets stage
    assert "owlnets" not in out


def test_post_closure_flavor(spark, fixture_dir, tmp_path):
    # third build type through the CLI: reasoner-closed graph in, edge
    # construction skipped, full output contract out
    from run_kg_build import run

    args = _args(fixture_dir, tmp_path / "pc", kg="post-closure", rel="no",
                 owl="yes", closed=f"{REF}/PheKnowLator_Closed.owl")
    args.spark = spark
    out = run(args)
    name = "PheKnowLator_v3.1.2_post-closure_subclass_relationsOnly_noOWL"
    kg = str(tmp_path / "pc")
    for artifact in [f"{name}.nt", f"{name}_OWLNETS.nt", "Triples_Integers"]:
        assert os.path.exists(os.path.join(kg, artifact)), artifact
    assert out["constructed_edges"].count() == 0
    assert out["full_graph"].count() > 0
    assert out["owlnets"].count() > 0


def test_kg_filename_matrix():
    from run_kg_build import kg_filename

    assert (
        kg_filename("v3.1.2", "full", "subclass", True, True)
        == "PheKnowLator_v3.1.2_full_subclass_inverseRelations_noOWL"
    )
    assert (
        kg_filename("v3.1.2", "post-closure", "instance", False, False)
        == "PheKnowLator_v3.1.2_post-closure_instance_relationsOnly_OWL"
    )
