"""RDF/XML ontology ingestion (S7 — the reference parses every ontology as
RDF/XML: pkt_kg/knowledge_graph.py:384,388,433, pkt_kg/owlnets.py:104 via
rdflib; this container has no rdflib, so this is a from-scratch stdlib
``xml.etree`` parser for the RDF/XML subset OWL tooling emits).

Supported (everything Protégé/OWL-API/robot output uses):

* node elements — ``rdf:Description`` or typed (``owl:Class`` …), with
  ``rdf:about`` / ``rdf:ID`` / ``rdf:nodeID`` or anonymous (fresh bnode);
* property attributes on node elements (literal shorthand);
* property elements with ``rdf:resource`` / ``rdf:nodeID`` objects, nested
  node elements, text literals (``xml:lang`` inherited, ``rdf:datatype``),
  ``rdf:parseType`` ``Collection`` / ``Resource`` / ``Literal``;
* ``xml:base`` + relative-URI resolution.

Scale: ontology documents are dimension-sized (MBs–low GBs) next to the
page corpus, so this parse is a one-time DRIVER-side step whose output is
written to parquet and joined/broadcast from there — mirroring the
reference's one-time rdflib parse. Corpus-scale RDF arrives as N-Triples
(``sources.sinks.read_nt``), which parallelizes line-wise.

Bnode labels are deterministic (document order), so repeated ingestion of
the same file yields identical triples — required for resumable stage
checkpoints.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XML_NS = "http://www.w3.org/XML/1998/namespace"

_RDF_RDF = f"{{{RDF_NS}}}RDF"
_RDF_DESCRIPTION = f"{{{RDF_NS}}}Description"
_RDF_ABOUT = f"{{{RDF_NS}}}about"
_RDF_ID = f"{{{RDF_NS}}}ID"
_RDF_NODEID = f"{{{RDF_NS}}}nodeID"
_RDF_RESOURCE = f"{{{RDF_NS}}}resource"
_RDF_DATATYPE = f"{{{RDF_NS}}}datatype"
_RDF_PARSETYPE = f"{{{RDF_NS}}}parseType"
_XML_LANG = f"{{{XML_NS}}}lang"
_XML_BASE = f"{{{XML_NS}}}base"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
XML_LITERAL = RDF_NS + "XMLLiteral"

# attrs on node/property elements that are syntax, not property attributes
_SYNTAX_ATTRS = {
    _RDF_ABOUT, _RDF_ID, _RDF_NODEID, _RDF_RESOURCE, _RDF_DATATYPE,
    _RDF_PARSETYPE, _XML_LANG, _XML_BASE,
}

TRIPLE_SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)

Triple = tuple[str, str, str, bool, str | None, str | None]


def _tag_uri(tag: str) -> str:
    """'{ns}local' → 'nslocal' (concatenation is the RDF/XML mapping)."""
    if tag.startswith("{"):
        ns, local = tag[1:].split("}", 1)
        return ns + local
    return tag


class _Parser:
    def __init__(self, base: str | None):
        self.base = base or ""
        self.triples: list[Triple] = []
        self._bnode_n = 0

    def _bnode(self) -> str:
        self._bnode_n += 1
        return f"bnode:Ngen{self._bnode_n}"

    def _resolve(self, uri: str, base: str) -> str:
        if "://" in uri or uri.startswith("urn:"):
            return uri
        return urljoin(base or self.base, uri)

    def _emit(self, s: str, p: str, o: str, lit: bool = False,
              lang: str | None = None, dtype: str | None = None) -> None:
        self.triples.append((s, p, o, lit, lang, dtype))

    # -- node elements ------------------------------------------------
    def node(self, el: ET.Element, base: str, lang: str | None) -> str:
        base = el.get(_XML_BASE, base)
        lang = el.get(_XML_LANG, lang)
        about = el.get(_RDF_ABOUT)
        rid = el.get(_RDF_ID)
        nodeid = el.get(_RDF_NODEID)
        if about is not None:
            subj = self._resolve(about, base)
        elif rid is not None:
            subj = self._resolve("#" + rid, base)
        elif nodeid is not None:
            subj = f"bnode:{nodeid}"
        else:
            subj = self._bnode()
        if el.tag != _RDF_DESCRIPTION:
            self._emit(subj, RDF_TYPE, _tag_uri(el.tag))
        for attr, val in el.attrib.items():
            if attr in _SYNTAX_ATTRS or attr.startswith(f"{{{XML_NS}}}"):
                continue
            self._emit(subj, _tag_uri(attr), val, lit=True, lang=lang)
        for child in el:
            self.property(subj, child, base, lang)
        return subj

    # -- property elements --------------------------------------------
    def property(self, subj: str, el: ET.Element, base: str,
                 lang: str | None) -> None:
        base = el.get(_XML_BASE, base)
        lang = el.get(_XML_LANG, lang)
        pred = _tag_uri(el.tag)
        parse_type = el.get(_RDF_PARSETYPE)
        resource = el.get(_RDF_RESOURCE)
        nodeid = el.get(_RDF_NODEID)
        dtype = el.get(_RDF_DATATYPE)

        if parse_type == "Collection":
            items = [self.node(c, base, lang) for c in el]
            prev_pred = pred
            prev_subj = subj
            for item in items:
                cell = self._bnode()
                self._emit(prev_subj, prev_pred, cell)
                self._emit(cell, RDF_FIRST, item)
                prev_subj, prev_pred = cell, RDF_REST
            self._emit(prev_subj, prev_pred, RDF_NIL)
        elif parse_type == "Resource":
            b = self._bnode()
            self._emit(subj, pred, b)
            for child in el:
                self.property(b, child, base, lang)
        elif parse_type == "Literal":
            inner = (el.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in el
            )
            self._emit(subj, pred, inner, lit=True, dtype=XML_LITERAL)
        elif resource is not None:
            self._emit(subj, pred, self._resolve(resource, base))
        elif nodeid is not None:
            self._emit(subj, pred, f"bnode:{nodeid}")
        elif len(el):
            children = list(el)
            obj = self.node(children[0], base, lang)
            self._emit(subj, pred, obj)
        else:
            text = el.text or ""
            self._emit(
                subj, pred, text, lit=True,
                lang=None if dtype else lang, dtype=dtype,
            )


def parse_rdfxml(source: str | bytes) -> list[Triple]:
    """Parse an RDF/XML document (path or bytes) into 6-tuple triples.

    Bnodes get deterministic ``bnode:NgenK`` labels in document order
    (``functions.rdf.add_bnode_namespace`` composes on top, mirroring the
    reference's BNode namespacing, kg_utils.py:488-550).
    """
    root = (
        ET.fromstring(source)
        if isinstance(source, (bytes, bytearray))
        else ET.parse(source).getroot()
    )
    p = _Parser(root.get(_XML_BASE))
    root_lang = root.get(_XML_LANG)
    if root.tag == _RDF_RDF:
        for child in root:
            p.node(child, p.base, root_lang)
    else:
        p.node(root, p.base, root_lang)
    return p.triples


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """Driver-side RDF/XML parse → triples DataFrame (TRIPLE_SCHEMA).

    Deduplicated, like the reference's set-semantics Graph().parse().
    """
    return spark.createDataFrame(parse_rdfxml(path), TRIPLE_SCHEMA).distinct()
