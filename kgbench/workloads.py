"""The two workloads: how each reads its inputs, what one op is, and how
the traced run splits that op into layer spans.

An op calls only the public functions of ``pheknowlator_spark``, the way
a user would. The traced variants call the same functions one layer at a
time, each on its predecessor's materialized output, so the layer spans do
not overlap.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgbench import checks, gen
from kgbench.trace import Tracer, parquet_rows, traced_store_class
from pheknowlator_spark.operators import owl_filters, owlnets
from pheknowlator_spark.operators.constructors import construct_edges
from pheknowlator_spark.operators.dedup import embedding_near_duplicates
from pheknowlator_spark.operators.similarity import semantic_dedup
from pheknowlator_spark.plans.checkpoint import StageStore
from pheknowlator_spark.plans.full_build import full_build
from pheknowlator_spark.sources.sinks import write_ntriples
from pheknowlator_spark.webtext.canonicalize import build_canonical_map
from pheknowlator_spark.webtext.linking import link_mentions
from pheknowlator_spark.webtext.mentions import extract_and_detect
from pheknowlator_spark.webtext.pipeline import (
    derive_comention_edges,
    edges_for_construction,
    run_pipeline,
)

TABLES = {
    "kg_build": ("ontology", "edges", "inverse"),
    "corpus_kg": ("pages", "dictionary", "same_as", "vectors"),
}
QUALITY_THRESHOLD = 0.4
MIN_PAGES = 2


def load(spark: SparkSession, workload: str, input_dir: str) -> tuple[dict[str, DataFrame], int]:
    """Read the workload's parquet inputs; returns them and their total
    row count (the count is part of set-up: it forces the first scan)."""
    inputs = {name: spark.read.parquet(os.path.join(input_dir, f"{name}.parquet"))
              for name in TABLES[workload]}
    return inputs, sum(df.count() for df in inputs.values())


# ---------------------------------------------------------------------------
# kg_build
# ---------------------------------------------------------------------------

def kg_build(spark, inp, out_dir, tracer: Tracer | None = None) -> str:
    store_dir = os.path.join(out_dir, "store")
    store_cls = StageStore if tracer is None else traced_store_class(tracer)
    full_build(spark, store_cls(spark, store_dir), [inp["ontology"]], inp["edges"],
               inverse_relations=inp["inverse"], approach="subclass")
    return store_dir


def owlnets_steps(spark, store_dir: str, tracer: Tracer) -> None:
    """The OWL-NETS decode of the committed ``full_graph``, one public step
    at a time (the same sequence ``run_owlnets`` composes)."""
    full_graph = spark.read.parquet(os.path.join(store_dir, "full_graph"))
    t = owl_filters.remove_disjoint_with(full_graph)
    with tracer.span("owlnets.decode_roots"):
        roots = owlnets.decode_roots(t).localCheckpoint(eager=True)
    with tracer.span("owlnets.assign_forests"):
        forests = owlnets.assign_forests(t, roots).localCheckpoint(eager=True)
    with tracer.span("owlnets.decode_forests"):
        decoded, _status = owlnets.decode_forests(forests)
        decoded = decoded.localCheckpoint(eager=True)
    tracer.rows("owlnets.decode_forests", decoded)
    with tracer.span("owlnets.assemble"):
        plain = owl_filters.filter_owl_semantics(t).select("s", "p", "o")
        cleaned = owl_filters.clean_decoded_graph(decoded.select(
            "s", "p", "o", F.lit(False).alias("o_is_literal"))).select("s", "p", "o")
        combined = plain.unionByName(cleaned).distinct().localCheckpoint(eager=True)
    with tracer.span("owlnets.make_graph_connected"):
        owlnets.make_graph_connected(combined).localCheckpoint(eager=True)


def deep_list_probe(spark, seed: int, tracer: Tracer) -> list[str]:
    """Decode a seeded ontology whose unions outrun the forest walk, through
    ``run_owlnets``; records the members it drops (the known depth-cap
    defect) and returns problems with the members it must keep."""
    rows, unions = gen.deep_unions(seed)
    df = spark.createDataFrame(rows, "s string, p string, o string, o_is_literal boolean, "
                                     "o_lang string, o_datatype string")
    with tracer.span("owlnets.deep_list_probe"):
        out = owlnets.run_owlnets(df)["owlnets"].collect()
    problems, dropped = checks.check_unions({(r.s, r.p, r.o) for r in out}, unions)
    tracer.counts["owlnets.union_members_dropped"] = dropped
    return problems


# ---------------------------------------------------------------------------
# corpus_kg: pages → KG triples, then embedding near-duplicates
# ---------------------------------------------------------------------------

def corpus_kg(spark, inp, out_dir, tracer: Tracer | None = None) -> str:
    webtext_kg(spark, inp, os.path.join(out_dir, "triples.nt"), tracer)
    vector_dedup(spark, inp, out_dir, tracer)
    return out_dir


def webtext_kg(spark, inp, path: str, tracer: Tracer | None = None) -> None:
    if tracer is None:
        res = run_pipeline(inp["pages"], inp["dictionary"], same_as=inp["same_as"],
                           re_extract=True, quality_threshold=QUALITY_THRESHOLD,
                           min_pages=MIN_PAGES)
        write_ntriples(res["triples"], path)
        return
    # run_pipeline(re_extract=True) split at its layer boundaries
    with tracer.span("mentions.extract_and_detect"):
        mentions = extract_and_detect(
            inp["pages"].filter(F.col("lang") == "en"), inp["dictionary"],
            min_quality=QUALITY_THRESHOLD, resolve_spans=True,
        ).localCheckpoint(eager=True)
    tracer.rows("mentions.extract_and_detect", mentions)
    with tracer.span("canonicalize.build_canonical_map"):
        canonical = build_canonical_map(inp["same_as"]).localCheckpoint(eager=True)
    with tracer.span("linking.link_mentions"):
        linked = link_mentions(mentions, canonical).localCheckpoint(eager=True)
    with tracer.span("pipeline.derive_comention_edges"):
        comentions = derive_comention_edges(linked, min_pages=MIN_PAGES).localCheckpoint(eager=True)
    tracer.rows("pipeline.derive_comention_edges", comentions)
    with tracer.span("constructors.construct_edges"):
        triples, _errors = construct_edges(edges_for_construction(comentions), approach="subclass")
        triples = triples.distinct().localCheckpoint(eager=True)
    tracer.rows("constructors.construct_edges", triples)
    with tracer.span("sinks.write_ntriples"):
        write_ntriples(triples, path)
    tracer.output_bytes("sinks.write_ntriples", path)


def vector_dedup(spark, inp, out_dir, tracer: Tracer | None = None) -> None:
    vectors = inp["vectors"]
    pairs_dir = os.path.join(out_dir, "vec_pairs")
    with tracer.span("dedup.embedding_near_duplicates") if tracer else nullcontext():
        embedding_near_duplicates(vectors, dim=gen.CD_DIM).write.parquet(pairs_dir)
    with tracer.span("similarity.semantic_dedup") if tracer else nullcontext():
        semantic_dedup(vectors).write.parquet(os.path.join(out_dir, "semantic_dedup"))
    if tracer:
        tracer.counts["dedup.embedding_near_duplicates.rows"] = parquet_rows(pairs_dir)


OPS = {"kg_build": kg_build, "corpus_kg": corpus_kg}


def check(workload: str, output: str, expect: dict, reference: str) -> tuple[list[str], dict]:
    """``reference`` is the file that pins this seed's corpus_kg output."""
    if workload == "kg_build":
        return checks.check_kg_build(output, expect)
    problems, facts = checks.check_webtext_kg(
        os.path.join(output, "triples.nt"), expect, reference)
    more, more_facts = checks.check_vector_dedup(output, expect)
    return problems + more, {**facts, **more_facts}
