"""Full knowledge-graph build driver — the Spark-first re-expression of
``FullBuild.construct_knowledge_graph`` (reference
pkt_kg/knowledge_graph.py:540-641, SURVEY §3.2):

1. relations processing        (knowledge_graph.py:142-160)
2. ontology merge              (kg_utils.py:226-251 → union + distinct; the
                                OWLTools subprocess is out of scope per
                                SURVEY §2.1 — inputs are parsed triples)
3. metadata harvest            (metadata.py:101-155 → extract_metadata)
4. logic/annotation split      (kg_utils.py:600-650 → annotation_assertions,
                                then graph_difference)
5. edge construction           (G3-G5; class-membership gate P9,
                                knowledge_graph.py:248-267; ray-actor LPT
                                sharding replaced by Spark partitioning)
6. OWL-NETS decode             (owlnets.py:775-834 → run_owlnets)
7. outputs                     (S8 N-Triples, S13 integer maps, S15 node
                                labels, S12 property graph)

Every stage is a ``StageStore`` commit: re-running the build with the same
store resumes from the last committed stage (idempotent, per-partition
lineage rows) — the Spark twin of the reference's file-per-stage IR.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    FULL_TRIPLE_COLS,
    remove_bnode_namespace,
)
from pheknowlator_spark.operators.constructors import construct_edges
from pheknowlator_spark.operators.metadata import (
    adds_ontology_annotations,
    extract_metadata,
    metadata_triples,
)
from pheknowlator_spark.operators.owl_filters import (
    annotation_assertions,
    class_nodes,
    gate_edges,
    graph_difference,
    remove_self_loops,
)
from pheknowlator_spark.operators.owlnets import run_owlnets
from pheknowlator_spark.plans.checkpoint import StageStore


def load_relation_maps(
    spark: SparkSession, inverse_path: str, labels_path: str
) -> tuple[DataFrame, DataFrame]:
    """Relations processing (knowledge_graph.py:142-160): the
    INVERSE_RELATIONS and RELATIONS_LABELS TSVs → two dimension tables
    ``[relation, inverse]`` / ``[label, relation]`` (broadcast-sized)."""
    def tsv2(path: str, c1: str, c2: str) -> DataFrame:
        # the reference's relation files have space-separated HEADER rows
        # over tab-separated data — keep only genuine 2-field rows
        lines = spark.read.text(path).filter(F.col("value").contains("\t"))
        parts = F.split("value", "\t")
        return lines.select(
            F.trim(parts.getItem(0)).alias(c1),
            F.trim(parts.getItem(1)).alias(c2),
        ).filter((F.col(c1) != "") & (F.col(c2) != ""))

    return (
        tsv2(inverse_path, "relation", "inverse"),
        tsv2(labels_path, "label", "relation"),
    )


def apply_inverse_relations(edges: DataFrame, inverse_map: DataFrame) -> DataFrame:
    """Fill ``inv_rel`` from the inverse-relations dimension when the build
    runs with inverse relations enabled (checks_for_inverse_relations,
    knowledge_graph.py:162-184; J4). Explicit inv_rel on an edge wins."""
    m = inverse_map.select(
        F.col("relation").alias("rel"), F.col("inverse").alias("__inv")
    )
    return (
        edges.join(F.broadcast(m), "rel", "left")
        .withColumn("inv_rel", F.coalesce("inv_rel", "__inv"))
        .drop("__inv")
    )


def merge_ontologies(parts: list[DataFrame]) -> DataFrame:
    """Ontology merge (kg_utils.py:226-251): set-union of the parsed
    ontology triple tables (rdflib Graph += semantics)."""
    out = parts[0].select(*FULL_TRIPLE_COLS)
    for p in parts[1:]:
        out = out.unionByName(p.select(*FULL_TRIPLE_COLS))
    return out.distinct()


def _construct_gated_edges(
    merged: DataFrame,
    edges: DataFrame,
    subclass_map: DataFrame | None,
    inverse_relations: DataFrame | None,
    approach: str,
) -> DataFrame:
    """Inverse-relation fill + P9 class-membership gate + G3-G5 construction."""
    e = edges
    if inverse_relations is not None:
        e = apply_inverse_relations(e, inverse_relations)
    # P9 class-membership gate (knowledge_graph.py:248-267): class
    # sides must exist in the merged ontology; entity sides skip
    resolved = e.withColumn(
        "n1_uri", F.concat("uri1", "sub_id")
    ).withColumn("n2_uri", F.concat("uri2", "obj_id"))
    gated = gate_edges(
        resolved,
        class_nodes(merged),
        F.col("n1_kind") == "class",
        F.col("n2_kind") == "class",
    ).drop("n1_uri", "n2_uri")
    triples, _errors = construct_edges(gated, subclass_map, approach)
    return triples.select(
        "s", "p", "o",
        F.lit(False).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    ).distinct()


def _build_prefix(
    store: StageStore,
    ontologies: list[DataFrame],
    edges: DataFrame,
    subclass_map: DataFrame | None,
    inverse_relations: DataFrame | None,
    approach: str,
) -> dict[str, DataFrame]:
    """The stages FullBuild and PartialBuild share (knowledge_graph.py:
    354-442 and 540-641): merged_ontology; then metadata,
    annotation_subset and constructed_edges; then logic_subset."""
    merged = store.run("merged_ontology", lambda: merge_ontologies(ontologies))

    # metadata / annotation classification / edge construction depend only
    # on the COMMITTED merged snapshot — submit them concurrently (guide
    # §2.6: Spark happily runs several jobs in one application; the next
    # stage's tasks back-fill executors freed by the current stage's tail).
    # Each store.run still commits its own directory atomically, so resume
    # semantics are unchanged whatever order they land in.
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = {
            "metadata": pool.submit(
                store.run, "metadata", lambda: extract_metadata(merged)
            ),
            # the classification joins run ONCE: commit the annotation
            # subset, then logic is the anti-join difference against the
            # COMMITTED parquet (kg_utils.py:640 computes logic = full −
            # annotations the same way)
            "annotation_subset": pool.submit(
                store.run, "annotation_subset",
                lambda: annotation_assertions(merged),
            ),
            "constructed_edges": pool.submit(
                store.run, "constructed_edges",
                lambda: _construct_gated_edges(
                    merged, edges, subclass_map, inverse_relations, approach
                ),
            ),
        }
        out = {"merged_ontology": merged}
        out.update((name, f.result()) for name, f in futures.items())

    out["logic_subset"] = store.run(
        "logic_subset",
        lambda: graph_difference(merged, out["annotation_subset"]),
    )
    return out


def partial_build(
    spark: SparkSession,
    store: StageStore,
    ontologies: list[DataFrame],
    edges: DataFrame,
    subclass_map: DataFrame | None = None,
    inverse_relations: DataFrame | None = None,
    approach: str = "subclass",
) -> dict[str, DataFrame]:
    """PartialBuild (reference pkt_kg/__init__.py:22-34,
    knowledge_graph.py:354-442): construct the edge-extended LOGIC graph
    and keep the annotation subset SEPARATE for the external-reasoner step
    — no metadata enrichment, no ontology header, no OWL-NETS decode.

    Output contract mirrors tests/test_knowledge_graph_partial.py:124-137:
    three committed stages standing in for the reference's three files —
    ``logic_with_edges`` (*_LogicOnly.nt: logic subset + constructed
    edges), ``annotation_subset`` (*_AnnotationsOnly.nt), and
    ``partial_graph`` (*_OWL.nt: their merge with pkt bnode namespaces
    stripped, knowledge_graph.py:436-438). ``post_closure_build`` consumes
    the reasoner-closed result afterwards (the 8-flavor build matrix,
    builds/README.md:124-134).
    """
    out = _build_prefix(
        store, ontologies, edges, subclass_map, inverse_relations, approach
    )
    logic_full = store.run(
        "logic_with_edges",
        lambda: out["logic_subset"].select(*FULL_TRIPLE_COLS)
        .unionByName(out["constructed_edges"].select(*FULL_TRIPLE_COLS))
        .distinct(),
    )

    def merge_partial() -> DataFrame:
        full = out["annotation_subset"].select(*FULL_TRIPLE_COLS).unionByName(
            logic_full.select(*FULL_TRIPLE_COLS)
        )
        # the merged partial graph strips pkt bnode namespacing; the logic/
        # annotation subsets keep it (knowledge_graph.py:435-438)
        return full.withColumn(
            "s", remove_bnode_namespace(F.col("s"))
        ).withColumn("o", remove_bnode_namespace(F.col("o"))).distinct()

    out["logic_with_edges"] = logic_full
    out["partial_graph"] = store.run("partial_graph", merge_partial)
    store.write_manifest()
    return out


def post_closure_build(
    spark: SparkSession,
    store: StageStore,
    closed_graph: DataFrame,
    **kwargs,
) -> dict[str, DataFrame]:
    """PostClosureBuild (knowledge_graph.py:452-530): same flow as
    ``full_build`` but the input is an externally reasoner-closed graph
    (ELK/HermiT output, parsed via ``sources.rdfxml``) and edge
    construction is skipped — edges are already in the closed graph."""
    empty_edges = spark.createDataFrame(
        [],
        "edge_type string, n1_kind string, n2_kind string, sub_id string, "
        "obj_id string, uri1 string, uri2 string, rel string, inv_rel string",
    )
    return full_build(spark, store, [closed_graph], empty_edges, **kwargs)


def full_build(
    spark: SparkSession,
    store: StageStore,
    ontologies: list[DataFrame],
    edges: DataFrame,
    subclass_map: DataFrame | None = None,
    inverse_relations: DataFrame | None = None,
    approach: str = "subclass",
    filename: str = "PheKnowLator_v2_Full_KG.owl",
    kg_version: str = "v2.0.0",
    date_full: str = "01/01/2026 00:00:00",
    decode_owl: bool = True,
    purify: bool = False,
) -> dict[str, DataFrame]:
    """Run the full build through checkpointed stages; returns the named
    stage DataFrames (all committed parquet snapshots)."""
    out = _build_prefix(
        store, ontologies, edges, subclass_map, inverse_relations, approach
    )

    def assemble() -> DataFrame:
        graph = out["logic_subset"].select(*FULL_TRIPLE_COLS).unionByName(
            out["constructed_edges"].select(*FULL_TRIPLE_COLS)
        )
        graph = remove_self_loops(graph).distinct()
        # G6 node-metadata enrichment over nodes actually in the graph
        nodes = (
            graph.select(F.col("s").alias("uri"))
            .unionByName(graph.select(F.col("o").alias("uri")))
            .distinct()
        )
        meta_t = metadata_triples(nodes, out["metadata"]).select(
            "s", "p", "o",
            F.lit(True).alias("o_is_literal"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("string").alias("o_datatype"),
        )
        # the final full KG merges the annotation assertions back with the
        # logic subset (knowledge_graph.py:636: merges_files(annot, logic,
        # full)) — axiom payloads/dbXrefs are not re-derivable from
        # extract_metadata, so dropping them here would silently lose them
        combined = (
            graph.unionByName(meta_t)
            .unionByName(out["annotation_subset"].select(*FULL_TRIPLE_COLS))
            .distinct()
        )
        # G7: strip old ontology header(s), add the 7 provenance triples
        return adds_ontology_annotations(combined, filename, kg_version, date_full)

    out["full_graph"] = store.run("full_graph", assemble)
    if decode_owl:
        # run_owlnets' graphs already end in a distinct over (s, p, o)
        out["owlnets"] = store.run(
            "owlnets",
            lambda: run_owlnets(
                out["full_graph"], approach=approach, purify=purify
            )["purified" if purify else "owlnets"],
        )
    store.write_manifest()
    return out
