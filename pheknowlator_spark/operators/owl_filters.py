"""OWL-semantics triple filtering + graph set ops (P5-P10, U1-U5, A10).

Re-expresses reference pkt_kg/owlnets.py:122-225 and
pkt_kg/utils/kg_utils.py graph-set utilities as joins/filters over the
triple DataFrame. The reference probes ``graph.triples((x, RDF.type, None))``
per row (its hottest nested loop, owlnets.py:168-173); here one grouped
pass over the rdf:type rows (:func:`type_flags`) says what every node is,
and callers join that one dimension where they need it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OWL_ANNOTATED_PROPERTY,
    OWL_ANNOTATED_SOURCE,
    OWL_ANNOTATED_TARGET,
    OWL_ANNOTATION_PROPERTY,
    OWL_AXIOM,
    OWL_CLASS,
    OWL_DEPRECATED,
    OWL_DISJOINT_WITH,
    OWL_NAMED_INDIVIDUAL,
    OWL_NS,
    OWL_OBJECT_PROPERTY,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    is_bnode,
)

# namespace prefix filters (owlnets.py:92-94)
TOP_LEVEL_NS = ("ISO", "SUMO", "BFO")
SUPPORT_NS = ("IAO", "SWO", "OBI", "UBPROP")
RELATIONS_NS = ("RO",)


def remove_disjoint_with(triples: DataFrame) -> DataFrame:
    """Drop triples with owl:disjointWith as predicate or object
    (owlnets.py:122-138)."""
    return triples.filter(
        (F.col("p") != OWL_DISJOINT_WITH) & (F.col("o") != OWL_DISJOINT_WITH)
    )


def type_flags(triples: DataFrame) -> DataFrame:
    """What a node's rdf:type rows say about it, one row per typed node:
    ``[node, is_class, is_cls, is_op]``. ``is_class``: typed owl:Class;
    ``is_cls``: typed owl:Class or owl:NamedIndividual and no '#' in the
    node; ``is_op``: typed owl:ObjectProperty. A node with no rdf:type row
    has no row here."""
    o = F.col("o")
    return (
        triples.filter(F.col("p") == RDF_TYPE)
        .groupBy(F.col("s").alias("node"))
        .agg(
            F.max(o == OWL_CLASS).alias("is_class"),
            F.max(
                o.isin([OWL_CLASS, OWL_NAMED_INDIVIDUAL]) & ~F.col("s").contains("#")
            ).alias("is_cls"),
            F.max(o == OWL_OBJECT_PROPERTY).alias("is_op"),
        )
    )


def _ns_pred(col, namespaces: tuple[str, ...]):
    """True if the OBO CURIE of ``col`` starts with any of the given prefixes."""
    curie = F.element_at(F.split(col, "/"), -1)
    pred = F.lit(False)
    for ns in namespaces:
        pred = pred | curie.startswith(ns + "_")
    return pred


def _exclusion_ok(triples: DataFrame) -> DataFrame:
    """Namespace-exclusion predicate shared by P5 and the relaxed variant
    (owlnets.py:159,209-212): subject/object may not be in top-level,
    relations, or support namespaces; predicate may not be in support."""
    excl = TOP_LEVEL_NS + RELATIONS_NS + SUPPORT_NS
    return triples.filter(
        (~_ns_pred(F.col("s"), excl))
        & (~_ns_pred(F.col("o"), excl))
        & (~_ns_pred(F.col("p"), SUPPORT_NS))
    )


def filter_owl_semantics(triples: DataFrame) -> DataFrame:
    """P5: the reference's removes_edges_with_owl_semantics
    (owlnets.py:140-191), re-expressed as broadcast left joins of one
    :func:`type_flags` dimension instead of a per-triple
    ``graph.triples((x, RDF.type, None))`` probe loop.

    Keep a URI-URI-URI triple when, after namespace exclusions, either:
    * s and o are typed owl:Class/owl:NamedIndividual (and contain no '#'),
      and p is typed with owl:ObjectProperty among its types; or
    * s and o are typed as above, p has NO rdf:type triples at all, and p is
      rdfs:subClassOf or rdf:type; or
    * p is rdfs:subClassOf and o is outside the OWL namespace and is not
      an ObsoleteClass (regardless of s/o typing).
    """
    uri_triples = _exclusion_ok(
        triples.filter(
            (~F.col("o_is_literal")) & (~is_bnode(F.col("s"))) & (~is_bnode(F.col("o")))
        )
    )
    flags = type_flags(triples)
    flagged = (
        uri_triples.join(
            F.broadcast(
                flags.select(F.col("node").alias("s"), F.col("is_cls").alias("__s_cls"))
            ),
            "s", "left")
        .join(
            F.broadcast(
                flags.select(F.col("node").alias("o"), F.col("is_cls").alias("__o_cls"))
            ),
            "o", "left")
        .join(
            F.broadcast(
                flags.select(
                    F.col("node").alias("p"),
                    F.col("is_op").alias("__p_obj"),
                    F.lit(True).alias("__p_typed"),
                )
            ),
            "p", "left")
    )
    s_cls = F.coalesce("__s_cls", F.lit(False))
    o_cls = F.coalesce("__o_cls", F.lit(False))
    p_obj = F.coalesce("__p_obj", F.lit(False))
    p_typed = F.coalesce("__p_typed", F.lit(False))
    keep = (
        (s_cls & o_cls & p_obj)
        | (s_cls & o_cls & ~p_typed & F.col("p").isin([RDFS_SUBCLASSOF, RDF_TYPE]))
        | (
            (F.col("p") == RDFS_SUBCLASSOF)
            & (~F.col("o").startswith(OWL_NS))
            & (~F.col("o").contains("ObsoleteClass"))
        )
    )
    return flagged.filter(keep).drop("__s_cls", "__o_cls", "__p_obj", "__p_typed").distinct()


def clean_decoded_graph(triples: DataFrame) -> DataFrame:
    """Relaxed post-decode filter (cleans_decoded_graph, owlnets.py:193-225):
    URI-URI-URI triples passing namespace exclusions whose subject and
    object are outside the OWL and XMLSchema namespaces."""
    return _exclusion_ok(
        triples.filter(
            (~F.col("o_is_literal"))
            & (~is_bnode(F.col("s")))
            & (~is_bnode(F.col("o")))
            & (~F.col("s").startswith(OWL_NS))
            & (~F.col("o").startswith(OWL_NS))
            & (~F.col("s").contains("XMLSchema"))
            & (~F.col("o").contains("XMLSchema"))
        )
    )


def remove_self_loops(triples: DataFrame) -> DataFrame:
    return triples.filter(F.col("s") != F.col("o"))


def deprecated_classes(triples: DataFrame) -> DataFrame:
    """P8: subjects with owl:deprecated 'true' (kg_utils.py:105-117)."""
    return (
        triples.filter(
            (F.col("p") == OWL_DEPRECATED) & (F.lower(F.col("o")) == "true")
        )
        .select(F.col("s").alias("node"))
        .distinct()
    )


def gate_edges(edges: DataFrame, nodes: DataFrame, check_n1, check_n2) -> DataFrame:
    """Admit an edge only if each endpoint it checks is in ``nodes``. P9
    checks the class sides against the merged ontology's classes
    (knowledge_graph.py:248-267); P10 checks the entity sides against the
    node-metadata URIs (knowledge_graph.py:336-339).

    ``nodes``: one-column DataFrame of distinct node URIs (broadcast).
    ``check_n1``/``check_n2``: boolean Columns over ``edges`` saying
    whether the ``n1_uri``/``n2_uri`` side must be in ``nodes``.
    """
    ids = nodes.select(F.col(nodes.columns[0]).alias("node"))
    out = edges
    for side, check, ok in (("n1_uri", check_n1, "__s_ok"), ("n2_uri", check_n2, "__o_ok")):
        flagged = out.join(
            F.broadcast(ids.select(F.col("node").alias(side), F.lit(True).alias(ok))),
            side, "left",
        )
        out = flagged.filter(F.col(ok) | ~check).drop(ok)
    return out


def graph_difference(all_triples: DataFrame, subset: DataFrame) -> DataFrame:
    """U2: logic = all − annotation (kg_utils.py:640)."""
    return all_triples.join(subset.select("s", "p", "o"), ["s", "p", "o"], "left_anti")


_CORE_ANNOT = [OWL_ANNOTATED_SOURCE, OWL_ANNOTATED_PROPERTY, OWL_ANNOTATED_TARGET]


def annotation_assertions(triples: DataFrame) -> DataFrame:
    """N12: the annotation-assertion subset of a graph
    (splits_knowledge_graph, kg_utils.py:600-640; OWL2 Annotation_Assertion).

    Entities of interest are owl:Axiom reifications plus URI subjects with a
    declared-annotation-property out-edge. Per entity, triples touching it
    (either direction) are classified:

    * both annotatedSource and annotatedTarget present with URI objects →
      triples whose predicate is a DECLARED annotation property (the
      annotation payload; the reification skeleton stays logical);
    * exactly one present → triples whose predicate is any annotation
      property (declared ∪ core annotated{Source,Property,Target}) or whose
      object is owl:Axiom;
    * neither → the same, except inbound core annotated{Source,Target}
      references to the entity, which belong to the referencing axiom.

    The reference iterates a Python set and consults the accumulating
    result inside the loop (kg_utils.py:636-638), making the pathological
    overlap case iteration-order-dependent; this operator is the
    DETERMINISTIC fixpoint equivalent to processing every axiom-cased
    entity before every unreferenced one (a triple excluded for one entity
    is still emitted if any other entity legitimately contributes it — set
    union, like the reference's ``|=``).

    All joins are on node ids; the annotation-property set is dimension-
    sized (broadcast), entity classification is two aggregations — no
    all-pairs work, scales to ontology-union graphs of any size.
    """
    flagged = annotation_flags(triples)
    cols = [c for c in triples.columns]
    return flagged.filter(F.col("__annot")).select(*cols).distinct()


def annotation_flags(triples: DataFrame) -> DataFrame:
    """The classification pass behind :func:`annotation_assertions`: the
    input triples with one extra boolean ``__annot`` (true iff the row is
    an annotation assertion under the case rules above). Row-level and
    deterministic — ``filter(__annot)`` is the annotation subset and, when
    (s, p, o) is a key of the input, ``filter(~__annot)`` is set-equal to
    the :func:`graph_difference` anti-join, so a caller needing BOTH sides
    classifies once instead of evaluating the whole subtree per side.

    Classification is per row, not per (s, p, o): two rows sharing
    (s, p, o) but differing in o_is_literal/o_lang/o_datatype can get
    different flags, and then ``filter(~__annot)`` keeps a row that the
    (s, p, o)-keyed anti-join drops."""
    not_bnode_o = ~is_bnode(F.col("o"))
    uri_o = (~F.col("o_is_literal")) & not_bnode_o

    annot_props = (
        triples.filter(
            (F.col("p") == RDF_TYPE)
            & (F.col("o") == OWL_ANNOTATION_PROPERTY)
            & (F.col("s") != RDF_TYPE)
        )
        .select(F.col("s").alias("prop"))
        .distinct()
    )

    flagged = triples.join(
        F.broadcast(annot_props.select(F.col("prop").alias("p"), F.lit(True).alias("__declared"))),
        "p",
        "left",
    )

    # entity classification in ONE aggregation over the flagged triples:
    # per subject — is it an owl:Axiom, does it carry a declared-annot-
    # property out-edge, and which of annotatedSource/Target (URI objects
    # only) are present. The former shape derived the same facts through
    # four separate distinct/semi-/anti-join subtrees plus a union.
    is_src_tgt = F.col("p").isin([OWL_ANNOTATED_SOURCE, OWL_ANNOTATED_TARGET])
    ents = (
        flagged.groupBy(F.col("s").alias("ent"))
        .agg(
            F.max(
                ((F.col("p") == RDF_TYPE) & (F.col("o") == OWL_AXIOM)).cast("int")
            ).alias("__is_ax"),
            F.max(F.coalesce("__declared", F.lit(False)).cast("int")).alias(
                "__has_decl"
            ),
            F.max(
                (is_src_tgt & uri_o & (F.col("p") == OWL_ANNOTATED_SOURCE)).cast(
                    "int"
                )
            ).alias("__has_src"),
            F.max(
                (is_src_tgt & uri_o & (F.col("p") == OWL_ANNOTATED_TARGET)).cast(
                    "int"
                )
            ).alias("__has_tgt"),
        )
        .filter(
            (F.col("__is_ax") == 1)
            | ((F.col("__has_decl") == 1) & ~is_bnode(F.col("ent")))
        )
        .select(
            "ent",
            F.when(
                (F.col("__has_src") == 1) & (F.col("__has_tgt") == 1), "A"
            )
            .when(
                (F.col("__has_src") == 0) & (F.col("__has_tgt") == 0), "B"
            )
            .otherwise("C")
            .alias("case"),
        )
    )
    is_declared = F.coalesce("__declared", F.lit(False))
    is_all_annot = is_declared | F.col("p").isin(_CORE_ANNOT)
    wide = is_all_annot | (F.col("o") == OWL_AXIOM)

    # ONE pass: both entity sides attach as left joins and a triple
    # contributes if EITHER side's case-rule fires — the former
    # s-side/o-side inner joins + union + distinct duplicated the whole
    # upstream subtree (scans, splits) once per side; the fused plan walks
    # it once (set-equal because each input triple is emitted at most once)
    s_case = F.col("__s_case")
    o_case = F.col("__o_case")
    both = (
        flagged.join(
            ents.select(F.col("ent").alias("s"), F.col("case").alias("__s_case")),
            "s", "left",
        )
        .join(
            ents.select(F.col("ent").alias("o"), F.col("case").alias("__o_case")),
            "o", "left",
        )
    )
    contrib_s = ((s_case == "A") & is_declared) | (
        s_case.isNotNull() & (s_case != "A") & wide
    )
    contrib_o = ((o_case == "A") & is_declared) | (
        (o_case == "C") & wide
    ) | (
        (o_case == "B")
        & wide
        & ~F.col("p").isin([OWL_ANNOTATED_SOURCE, OWL_ANNOTATED_TARGET])
    )
    cols = [c for c in triples.columns]
    return both.select(
        *cols, F.coalesce(contrib_s | contrib_o, F.lit(False)).alias("__annot")
    )


def resolve_duplicate_predicates(triples: DataFrame) -> DataFrame:
    """A10: per (s,o) group with >1 predicate where one is rdfs:subClassOf,
    keep the non-subClassOf predicate (verifies_cleaned_classes,
    owlnets.py:591-619). Window top-1 with subClassOf sorted last."""
    from pyspark.sql import Window

    w = Window.partitionBy("s", "o").orderBy(
        (F.col("p") == RDFS_SUBCLASSOF).cast("int").asc(), F.col("p").asc()
    )
    return (
        triples.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def class_nodes(triples: DataFrame) -> DataFrame:
    return type_flags(triples).filter("is_class").select("node")
