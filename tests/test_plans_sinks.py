"""StageStore checkpoint/resume, sinks round-trips, metadata operators and
the P9/P10 edge gate."""

import os

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.operators.metadata import metadata_triples
from pheknowlator_spark.operators.owl_filters import gate_edges
from pheknowlator_spark.plans.checkpoint import StageStore
from pheknowlator_spark.sources.sinks import (
    read_ntriples,
    write_integer_triples,
    write_node_labels,
    write_ntriples,
)

TRIPLES = [
    ("http://x/a", "http://x/p", "http://x/b", False, None, None),
    ("http://x/a", "http://www.w3.org/2000/01/rdf-schema#label",
     'say "hi"\nworld', True, "en", None),
]
SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)


def test_stage_store_resume_and_lineage(spark, tmp_path):
    store = StageStore(spark, str(tmp_path / "stages"))
    calls = []

    def stage_fn():
        calls.append(1)
        return spark.createDataFrame(TRIPLES, SCHEMA)

    df1 = store.run("triples", stage_fn)
    assert df1.count() == 2 and calls == [1]
    # resume: fn not re-invoked
    df2 = store.run("triples", stage_fn)
    assert df2.count() == 2 and calls == [1]
    lineage = store.lineage()
    assert lineage.filter(F.col("stage") == "triples").count() >= 1
    assert store.manifest()["stages"] == ["triples"]
    # force recomputes
    store.run("triples", stage_fn, force=True)
    assert calls == [1, 1]


def test_ntriples_round_trip(spark, tmp_path):
    df = spark.createDataFrame(TRIPLES, SCHEMA)
    path = str(tmp_path / "nt")
    write_ntriples(df, path)
    back = read_ntriples(spark, path)
    got = {
        (r.s, r.p, r.o, r.o_is_literal, r.o_lang) for r in back.collect()
    }
    assert ("http://x/a", "http://x/p", "http://x/b", False, None) in got
    assert (
        "http://x/a",
        "http://www.w3.org/2000/01/rdf-schema#label",
        'say "hi"\nworld',
        True,
        "en",
    ) in got


def test_integer_triples_export(spark, tmp_path):
    df = spark.createDataFrame(TRIPLES, SCHEMA)
    out = str(tmp_path / "ints")
    id_map = write_integer_triples(df, out)
    assert id_map.count() == 5  # a, p, label-pred, b, literal
    assert os.path.exists(os.path.join(out, "Triples_Integer_Identifier_Map.json"))
    ints = spark.read.text(os.path.join(out, "Triples_Integers"))
    assert ints.count() == 2


def test_metadata_gate_and_triples(spark, tmp_path):
    metadata = spark.createDataFrame(
        [("http://x/e1", "nodes", "Entity One", "desc", ["syn one", "syn  two"])],
        "uri string, kind string, label string, description string, synonyms array<string>",
    )
    edges = spark.createDataFrame(
        [("http://x/e1", "http://x/c1", "entity-class"),
         ("http://x/e2", "http://x/c1", "entity-class"),
         ("http://x/c2", "http://x/c1", "class-class")],
        "n1_uri string, n2_uri string, data_type string",
    )
    # P10: entity sides need metadata, class sides pass unchecked
    kind = F.split(F.col("data_type"), "-")
    gated = gate_edges(
        edges,
        metadata.select("uri").distinct(),
        kind.getItem(0) != "class",
        kind.getItem(1) != "class",
    )
    kept = {(r.n1_uri, r.data_type) for r in gated.collect()}
    assert ("http://x/e1", "entity-class") in kept  # has metadata
    assert ("http://x/c2", "class-class") in kept  # class-class always passes
    assert not any(u == "http://x/e2" for u, _ in kept)  # no metadata → dropped

    nodes = spark.createDataFrame([("http://x/e1",)], "uri string")
    triples = metadata_triples(nodes, metadata)
    got = {(r.p.split("#")[-1].split("/")[-1], r.o) for r in triples.collect()}
    assert ("label", "Entity One") in got
    assert ("hasExactSynonym", "syn one") in got
    assert ("hasExactSynonym", "syn two") in got  # whitespace tidied
    # id-map + NodeLabels round trip
    id_map, _ = __import__(
        "pheknowlator_spark.operators.graph_algos", fromlist=["assign_integer_ids"]
    ).assign_integer_ids(
        spark.createDataFrame(
            [("http://x/e1", "p", "o")], "s string, p string, o string"
        )
    )
    path = str(tmp_path / "labels")
    write_node_labels(metadata, id_map, path)
    lines = spark.read.text(path).collect()
    assert any("Entity One" in r.value for r in lines)


def test_gate_edges_checks_class_sides(spark):
    # P9: a class side must be in the ontology's classes; an entity side
    # is never looked up
    classes = spark.createDataFrame([("http://x/c1",), ("http://x/c2",)], "node string")
    edges = spark.createDataFrame(
        [("http://x/c2", "http://x/c1", "class", "class"),
         ("http://x/c2", "http://x/gone", "class", "class"),
         ("http://x/gone", "http://x/c1", "class", "class"),
         ("http://x/e1", "http://x/c1", "entity", "class"),
         ("http://x/c1", "http://x/e2", "class", "entity")],
        "n1_uri string, n2_uri string, n1_kind string, n2_kind string",
    )
    gated = gate_edges(
        edges, classes, F.col("n1_kind") == "class", F.col("n2_kind") == "class"
    )
    assert sorted(gated.columns) == sorted(edges.columns)
    assert sorted((r.n1_uri, r.n2_uri) for r in gated.collect()) == [
        ("http://x/c1", "http://x/e2"),
        ("http://x/c2", "http://x/c1"),
        ("http://x/e1", "http://x/c1"),
    ]


def test_stage_store_format_routing(spark, tmp_path):
    # the "one-line Iceberg swap" claim, executable: a non-parquet format
    # string routes both the stage writer and the resume reader (orc is a
    # built-in stand-in for any registered DataSource, incl. iceberg)
    import glob

    store = StageStore(spark, str(tmp_path / "stages"), format="orc")
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    out = store.run("s1", lambda: df)
    assert out.count() == 10
    files = glob.glob(str(tmp_path / "stages" / "s1" / "*.orc"))
    assert files, "stage data not written through the orc DataSource"
    # resume path reads through the same format (fn must not be invoked)
    resumed = store.run("s1", lambda: (_ for _ in ()).throw(AssertionError))
    assert resumed.count() == 10
    assert {r.v for r in resumed.collect()} == {2 * i for i in range(10)}
