"""Instance- and subclass-based triple constructors (G1-G4).

Re-expresses reference pkt_kg/construction_approaches.py as pure Catalyst
column expressions: each input edge row expands to a generated array of
triple structs which is exploded — no UDF, no Python row loop, fully
whole-stage-codegen'd and embarrassingly parallel (a 100 TB edge table
expands map-side with zero shuffle).

Edge-row input contract (one row per (edge_type, subject, object) pair)::

    edge_type : string
    n1_kind   : 'class' | 'entity'   (entity == subclass/instance node)
    n2_kind   : 'class' | 'entity'
    sub_id    : string   raw subject identifier (e.g. 'CHEBI_81395', '19')
    obj_id    : string   raw object identifier
    uri1      : string   namespace prefix for subject ids
    uri2      : string   namespace prefix for object ids
    rel       : string   relation CURIE (e.g. 'RO_0002606')
    inv_rel   : string?  inverse-relation CURIE or null

Node-type resolution mirrors ``finds_node_type``
(reference pkt_kg/utils/kg_utils.py:337-371) composed with ``ent_order``
(construction_approaches.py:187,262): for every edge kind the composition
resolves back to the ORIGINAL (n1, n2) order — when n1 is the class,
(cls1, ent1) = (n1, n2); when n2 is the class, (ent1, cls1) = (n1, n2) —
so the core constructor always receives (n1, n2) as written.

Subclass-map misses are captured to an error DataFrame (mirrors
``subclass_error``, construction_approaches.py:95-99) and the edge emits
no triples (tests/test_construction_approaches.py:246-270 parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBO,
    OWL_CLASS,
    OWL_NAMED_INDIVIDUAL,
    OWL_OBJECT_PROPERTY,
    OWL_ON_PROPERTY,
    OWL_RESTRICTION,
    OWL_SOME_VALUES_FROM,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    pkt_bnode_hash,
    pkt_instance_hash,
    pkt_subject_hash,
    uri_triple,
)

def _subclass_core_triples(n1: Column, n2: Column, rel: Column, inv: Column) -> Column:
    """Array of 9 (+9 with inverse) triple structs.

    Parity: construction_approaches.py:104-154 (counts asserted 9/18 by
    tests/test_construction_approaches.py:171-189, 209-227).
    """
    u1 = pkt_subject_hash(n1, rel, n2)
    u2 = pkt_bnode_hash(n1, rel, n2)
    fwd = F.array(
        uri_triple(n1, RDF_TYPE, OWL_CLASS),
        uri_triple(u1, RDFS_SUBCLASSOF, n1),
        uri_triple(u1, RDF_TYPE, OWL_CLASS),
        uri_triple(u1, RDFS_SUBCLASSOF, u2),
        uri_triple(u2, RDF_TYPE, OWL_RESTRICTION),
        uri_triple(u2, OWL_SOME_VALUES_FROM, n2),
        uri_triple(n2, RDF_TYPE, OWL_CLASS),
        uri_triple(u2, OWL_ON_PROPERTY, rel),
        uri_triple(rel, RDF_TYPE, OWL_OBJECT_PROPERTY),
    )
    u3 = pkt_subject_hash(n2, inv, n1)
    u4 = pkt_bnode_hash(n2, inv, n1)
    bwd = F.array(
        uri_triple(n2, RDF_TYPE, OWL_CLASS),
        uri_triple(u3, RDFS_SUBCLASSOF, n2),
        uri_triple(u3, RDF_TYPE, OWL_CLASS),
        uri_triple(u3, RDFS_SUBCLASSOF, u4),
        uri_triple(u4, RDF_TYPE, OWL_RESTRICTION),
        uri_triple(u4, OWL_SOME_VALUES_FROM, n1),
        uri_triple(n1, RDF_TYPE, OWL_CLASS),
        uri_triple(u4, OWL_ON_PROPERTY, inv),
        uri_triple(inv, RDF_TYPE, OWL_OBJECT_PROPERTY),
    )
    # concat(fwd, CASE inv) instead of CASE over two full arrays: the
    # former duplicated the 9-struct fwd subtree in both branches,
    # doubling the expression tree Catalyst re-optimizes on every plan
    # build (per-rep driver time at bench scale, planning memory at any)
    empty = F.array().cast(
        "array<struct<s:string,p:string,o:string,o_is_literal:boolean,"
        "o_lang:string,o_datatype:string>>"
    )
    return F.concat(fwd, F.when(inv.isNotNull(), bwd).otherwise(empty))


def _instance_core_triples(n1: Column, n2: Column, rel: Column, inv: Column) -> Column:
    """Array of 6 (+2 with inverse) triple structs.

    Hash relation = alphabetically first of {rel, inv}
    (construction_approaches.py:222 ``sorted([relation, inv_relation])[0]``
    over full URIs → ``F.least``). Counts 6/8 per
    tests/test_construction_approaches.py:190-208, 228-246.
    """
    hash_rel = F.when(inv.isNotNull(), F.least(rel, inv)).otherwise(rel)
    u1 = pkt_instance_hash(n1, hash_rel, n2, "subject")
    u2 = pkt_instance_hash(n1, hash_rel, n2, "object")
    fwd = F.array(
        uri_triple(u1, RDF_TYPE, n1),
        uri_triple(u1, RDF_TYPE, OWL_NAMED_INDIVIDUAL),
        uri_triple(u2, RDF_TYPE, n2),
        uri_triple(u2, RDF_TYPE, OWL_NAMED_INDIVIDUAL),
        uri_triple(u1, rel, u2),
        uri_triple(rel, RDF_TYPE, OWL_OBJECT_PROPERTY),
    )
    bwd = F.array(
        uri_triple(u2, inv, u1),
        uri_triple(inv, RDF_TYPE, OWL_OBJECT_PROPERTY),
    )
    empty = F.array().cast(
        "array<struct<s:string,p:string,o:string,o_is_literal:boolean,"
        "o_lang:string,o_datatype:string>>"
    )
    return F.concat(fwd, F.when(inv.isNotNull(), bwd).otherwise(empty))


def _resolved(edges: DataFrame) -> DataFrame:
    """Resolve full URIs + core-constructor node order.

    ``core_n1``/``core_n2`` are the ORIGINAL (n1, n2) in all cases: the
    reference's ``ent_order`` (construction_approaches.py:187,262) composed
    with ``finds_node_type``'s labeling (kg_utils.py:358-365) always maps
    back to original subject/object order — ['cls1','ent1'] when n1 is the
    class resolves to (n1, n2), and ['ent1','cls1'] when n2 is the class
    also resolves to (n1, n2).
    """
    n1_uri = F.concat(F.col("uri1"), F.col("sub_id"))
    n2_uri = F.concat(F.col("uri2"), F.col("obj_id"))
    n1_is_cls = F.col("n1_kind") == "class"
    n2_is_cls = F.col("n2_kind") == "class"
    return (
        edges.withColumn("n1_uri", n1_uri)
        .withColumn("n2_uri", n2_uri)
        .withColumn("rel_uri", F.concat(F.lit(OBO), F.col("rel")))
        .withColumn(
            "inv_rel_uri",
            F.when(
                F.col("inv_rel").isNotNull(), F.concat(F.lit(OBO), F.col("inv_rel"))
            ),
        )
        .withColumn("core_n1", n1_uri)
        .withColumn("core_n2", n2_uri)
        .withColumn("n_entities", (~n1_is_cls).cast("int") + (~n2_is_cls).cast("int"))
    )


def _map_triple_array(entity_uri, classes, approach: str):
    """Per-entity map triples: ``ent rdfs:subClassOf obo:cls`` + class
    typing (+ ``ent rdf:type owl:Class`` for instance builds) for every
    mapped class (construction_approaches.py:185-186, 259-261)."""

    def per_class(cls_id):
        cls_uri = F.concat(F.lit(OBO), cls_id)
        structs = [
            uri_triple(entity_uri, RDFS_SUBCLASSOF, cls_uri),
            uri_triple(cls_uri, RDF_TYPE, OWL_CLASS),
        ]
        if approach == "instance":
            structs.append(uri_triple(entity_uri, RDF_TYPE, OWL_CLASS))
        return F.array(*structs)

    return F.flatten(F.transform(classes, per_class))


def construct_edges(
    edges: DataFrame,
    subclass_map: DataFrame | None = None,
    approach: str = "subclass",
) -> tuple[DataFrame, DataFrame]:
    """G3/G4 dispatch: expand an edge table into KG triples in ONE pass.

    Args:
        edges: DataFrame with the edge-row columns of the module
            docstring.
        subclass_map: ``[entity_id, class_id]`` exploded map (dimension
            table); required when any edge has an entity side.
        approach: ``'subclass'`` or ``'instance'``.

    Returns:
        (triples, errors): triples has FULL_TRIPLE_COLS + edge_type;
        errors has (edge_type, entity_id) — entities missing from the
        subclass map (parity: subclass_error dict,
        construction_approaches.py:95-99). Edges with any unmapped entity
        side emit no triples (construction_approaches.py:184,192).

    Scale: the subclass map is grouped to ``entity -> array(classes)`` and
    broadcast; the whole expansion is then per-row column math + a single
    explode — zero shuffles, no persist, no multi-consumer subtrees. A
    100 TB edge table streams through map-side.
    """
    if approach not in ("subclass", "instance"):
        raise ValueError(f"unknown construction approach: {approach}")
    resolved = _resolved(edges)

    n1_is_ent = F.col("n1_kind") == "entity"
    n2_is_ent = F.col("n2_kind") == "entity"
    if subclass_map is None:
        # no map at all: same semantics as an empty map (every entity side
        # is unmapped → error row, no triples) WITHOUT the two broadcast
        # exchanges — the all-class fast path is join-free
        null_classes = F.lit(None).cast("array<string>")
        joined = resolved.withColumn(
            "__cls1", F.when(n1_is_ent, null_classes)
        ).withColumn("__cls2", F.when(n2_is_ent, null_classes))
    else:
        grouped = subclass_map.groupBy("entity_id").agg(
            F.sort_array(F.collect_set("class_id")).alias("__classes")
        )
        joined = (
            resolved.join(
                F.broadcast(
                    grouped.select(
                        F.col("entity_id").alias("sub_id"),
                        F.col("__classes").alias("__cls1_raw"),
                    )
                ),
                "sub_id",
                "left",
            )
            .join(
                F.broadcast(
                    grouped.select(
                        F.col("entity_id").alias("obj_id"),
                        F.col("__classes").alias("__cls2_raw"),
                    )
                ),
                "obj_id",
                "left",
            )
            .withColumn("__cls1", F.when(n1_is_ent, F.col("__cls1_raw")))
            .withColumn("__cls2", F.when(n2_is_ent, F.col("__cls2_raw")))
        )
    good = (~n1_is_ent | F.col("__cls1").isNotNull()) & (
        ~n2_is_ent | F.col("__cls2").isNotNull()
    )

    empty = F.array().cast(
        "array<struct<s:string,p:string,o:string,o_is_literal:boolean,"
        "o_lang:string,o_datatype:string>>"
    )
    core_fn = (
        _subclass_core_triples if approach == "subclass" else _instance_core_triples
    )
    core = core_fn(
        F.col("core_n1"), F.col("core_n2"), F.col("rel_uri"), F.col("inv_rel_uri")
    )
    map1 = F.when(
        n1_is_ent & good,
        _map_triple_array(F.col("n1_uri"), F.col("__cls1"), approach),
    ).otherwise(empty)
    map2 = F.when(
        n2_is_ent & good,
        _map_triple_array(F.col("n2_uri"), F.col("__cls2"), approach),
    ).otherwise(empty)
    all_triples = F.concat(map1, map2, F.when(good, core).otherwise(empty))

    triples = joined.select(
        "edge_type", F.explode(all_triples).alias("t")
    ).select("edge_type", "t.*")

    # second (lazy) pass over the edge table, evaluated only if the caller
    # inspects errors — mirrors the reference's subclass_error side channel
    err1 = joined.filter(n1_is_ent & F.col("__cls1").isNull()).select(
        "edge_type", F.col("sub_id").alias("entity_id")
    )
    err2 = joined.filter(n2_is_ent & F.col("__cls2").isNull()).select(
        "edge_type", F.col("obj_id").alias("entity_id")
    )
    errors = err1.unionByName(err2).distinct()
    return triples, errors
