"""RDF term handling as native Column expressions.

Replicates the reference's N-Triples serialization (`n3()`,
reference pkt_kg/utils/kg_utils.py:702-718) and deterministic pkt node-id
hashing (reference pkt_kg/construction_approaches.py:125-127, 222-225)
byte-exactly, but as JVM-side Catalyst expressions (md5/concat/regexp) —
no Python in the hot path.

Triple schema used engine-wide::

    s: string, p: string, o: string,
    o_is_literal: boolean, o_lang: string (nullable),
    o_datatype: string (nullable)

BNodes are plain strings in the reserved pkt/bnode namespace — the
reference itself proves this model (adds_namespace_to_bnodes,
kg_utils.py:488-517).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- namespaces (public W3C/OBO URIs + the reference's pkt namespaces) ---
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"
OBO = "http://purl.obolibrary.org/obo/"
OBOINOWL = "http://www.geneontology.org/formats/oboInOwl#"
PKT = "https://github.com/callahantiff/PheKnowLator/pkt/"
PKT_BNODE = "https://github.com/callahantiff/PheKnowLator/pkt/bnode/"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDFS_SUBCLASSOF = RDFS_NS + "subClassOf"
RDFS_LABEL = RDFS_NS + "label"
OWL_CLASS = OWL_NS + "Class"
OWL_RESTRICTION = OWL_NS + "Restriction"
OWL_OBJECT_PROPERTY = OWL_NS + "ObjectProperty"
OWL_ANNOTATION_PROPERTY = OWL_NS + "AnnotationProperty"
OWL_NAMED_INDIVIDUAL = OWL_NS + "NamedIndividual"
OWL_SOME_VALUES_FROM = OWL_NS + "someValuesFrom"
OWL_ON_PROPERTY = OWL_NS + "onProperty"
OWL_DISJOINT_WITH = OWL_NS + "disjointWith"
OWL_AXIOM = OWL_NS + "Axiom"
OWL_ANNOTATED_SOURCE = OWL_NS + "annotatedSource"
OWL_ANNOTATED_PROPERTY = OWL_NS + "annotatedProperty"
OWL_ANNOTATED_TARGET = OWL_NS + "annotatedTarget"
OWL_ONTOLOGY = OWL_NS + "Ontology"
OWL_DEPRECATED = OWL_NS + "deprecated"

FULL_TRIPLE_COLS = ("s", "p", "o", "o_is_literal", "o_lang", "o_datatype")


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def is_bnode(col: Column) -> Column:
    """True for an anonymous-node id: ``_:x`` or ``bnode:x``."""
    return col.startswith("_:") | col.startswith("bnode:")


def n3_uri(col: Column | str) -> Column:
    """``<uri>`` — N-Triples serialization of a URI term (kg_utils.py:714)."""
    return F.concat(F.lit("<"), _c(col), F.lit(">"))


def n3_literal(
    lex: Column | str,
    lang: Column | str,
    datatype: Column | str,
) -> Column:
    """RDF 1.1 N-Triples literal serialization with escaping.

    Mirrors rdflib's ``_quoteLiteral`` (used by the reference's n3(),
    kg_utils.py:702-718): backslash, quote, LF, CR escaped; then
    ``@lang`` or ``^^<datatype>`` suffix.
    """
    lex = _c(lex)
    esc = F.regexp_replace(lex, r"\\", r"\\\\")
    esc = F.regexp_replace(esc, '"', '\\\\"')
    esc = F.regexp_replace(esc, "\n", "\\\\n")
    esc = F.regexp_replace(esc, "\r", "\\\\r")
    quoted = F.concat(F.lit('"'), esc, F.lit('"'))
    lang_c, dt_c = _c(lang), _c(datatype)
    return F.when(lang_c.isNotNull(), F.concat(quoted, F.lit("@"), lang_c)).when(
        dt_c.isNotNull(), F.concat(quoted, F.lit("^^<"), dt_c, F.lit(">"))
    ).otherwise(quoted)


def n3_term(
    o: Column | str,
    o_is_literal: Column | str = "o_is_literal",
) -> Column:
    """Serialize an object term that may be a URI or a literal."""
    return F.when(_c(o_is_literal), n3_literal(o, "o_lang", "o_datatype")).otherwise(
        n3_uri(o)
    )


def nt_line(
    s: Column | str = "s",
    p: Column | str = "p",
    o: Column | str = "o",
    o_is_literal: Column | str | None = None,
) -> Column:
    """One N-Triples line ``<s> <p> <o|"lit"> .`` (kg_utils.py:762-780)."""
    if o_is_literal is None:
        obj = n3_uri(o)
    else:
        obj = n3_term(o, o_is_literal)
    return F.concat_ws(" ", n3_uri(s), n3_uri(p), obj, F.lit("."))


def pkt_subject_hash(n1: Column, rel: Column, n2: Column) -> Column:
    """``pkt:N<md5(n3(n1)+n3(rel)+n3(n2))>`` — subclass-core subject id.

    Byte-exact vs reference construction_approaches.py:125-126.
    """
    core = F.concat(n3_uri(n1), n3_uri(rel), n3_uri(n2))
    return F.concat(F.lit(PKT + "N"), F.md5(core.cast("binary")))


def pkt_bnode_hash(n1: Column, rel: Column, n2: Column) -> Column:
    """``pkt/bnode:N<md5(core + n3(owl:Restriction))>`` (line 127)."""
    core = F.concat(
        n3_uri(n1), n3_uri(rel), n3_uri(n2), F.lit("<" + OWL_RESTRICTION + ">")
    )
    return F.concat(F.lit(PKT_BNODE + "N"), F.md5(core.cast("binary")))


def pkt_instance_hash(n1: Column, rel: Column, n2: Column, role: str) -> Column:
    """``pkt:N<md5(core + 'subject'|'object')>`` — instance-core node ids.

    Byte-exact vs reference construction_approaches.py:223-225.
    """
    core = F.concat(n3_uri(n1), n3_uri(rel), n3_uri(n2), F.lit(role))
    return F.concat(F.lit(PKT + "N"), F.md5(core.cast("binary")))


def add_bnode_namespace(col: Column | str) -> Column:
    """Map anonymous-node ids into the reserved bnode namespace
    (adds_namespace_to_bnodes, kg_utils.py:488-517): ``bnode:x``/``_:x`` →
    ``<PKT_BNODE>x``; everything else passes through."""
    c = _c(col)
    local = F.when(c.startswith("bnode:"), F.substring(c, 7, 1 << 20)).when(
        c.startswith("_:"), F.substring(c, 3, 1 << 20)
    )
    return F.when(local.isNotNull(), F.concat(F.lit(PKT_BNODE), local)).otherwise(c)


def remove_bnode_namespace(col: Column | str) -> Column:
    """Inverse of :func:`add_bnode_namespace`
    (removes_namespace_from_bnodes, kg_utils.py:520-550): ``<PKT_BNODE>x`` →
    ``bnode:x``."""
    c = _c(col)
    return F.when(
        c.startswith(PKT_BNODE),
        F.concat(F.lit("bnode:"), F.element_at(F.split(c, "/"), -1)),
    ).otherwise(c)


def uri_triple(s: Column, p: Column | str, o: Column | str) -> Column:
    """Struct literal for an all-URI triple (non-literal object)."""
    p_c = F.lit(p) if isinstance(p, str) else p
    o_c = F.lit(o) if isinstance(o, str) else o
    return F.struct(
        s.alias("s"),
        p_c.alias("p"),
        o_c.alias("o"),
        F.lit(False).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    )


def literal_triple(
    s: Column,
    p: Column | str,
    o: Column,
) -> Column:
    """Struct literal for a triple with a literal object."""
    p_c = F.lit(p) if isinstance(p, str) else p
    return F.struct(
        s.alias("s"),
        p_c.alias("p"),
        o.alias("o"),
        F.lit(True).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    )
