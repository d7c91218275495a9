"""Node-metadata operators (J8, G6, G7, F5; the P10 metadata gate is
``owl_filters.gate_edges`` over the metadata URIs).

Metadata table contract (FIXTURES.md §9, mirrors the reference's pickled
node_metadata_dict, metadata.py:43-56)::

    uri: string, kind: 'nodes'|'relations', label: string?,
    description: string?, synonyms: array<string>
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBOINOWL,
    OWL_CLASS,
    OWL_NAMED_INDIVIDUAL,
    OWL_OBJECT_PROPERTY,
    OWL_ONTOLOGY,
    RDF_TYPE,
    RDFS_LABEL,
    is_bnode,
    literal_triple,
)

IAO_DEFINITION = "http://purl.obolibrary.org/obo/IAO_0000115"
HAS_SYNONYM = OBOINOWL + "hasExactSynonym"


def tidy_text(col):
    """F5: newline/extra-whitespace tidy (metadata.py:94-95)."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(col, r"[\n\r]", " "), r"\s\s+", " ")
    )


def metadata_triples(nodes: DataFrame, metadata: DataFrame) -> DataFrame:
    """G6/J8: label/description/synonym annotation triples per node
    (creates_node_metadata, metadata.py:157-196).

    ``nodes``: one-column [uri] of nodes present in the graph. Broadcast
    join, then one explode over each node's (predicate, text) pairs.
    """
    m = nodes.select("uri").distinct().join(F.broadcast(metadata), "uri", "inner")

    def po(p, o):
        return F.struct(F.lit(p).alias("p"), o.alias("o"))

    pairs = F.concat(
        F.array(
            po(RDFS_LABEL, F.col("label")), po(IAO_DEFINITION, F.col("description"))
        ),
        F.transform(
            F.coalesce("synonyms", F.array()), lambda syn: po(HAS_SYNONYM, syn)
        ),
    )
    return (
        m.select("uri", F.explode(pairs).alias("po"))
        .filter(F.col("po.o").isNotNull())
        .select(
            literal_triple(
                F.col("uri"), F.col("po.p"), tidy_text(F.col("po.o"))
            ).alias("t")
        )
        .select("t.*")
        .distinct()
    )


PKT_AUTHORS = (
    "Authors: Tiffany J. Callahan, William A. Baumgartner, Ignacio Tripodi, "
    "Adrianne L. Stefanski, Lawrence E. Hunter"
)
PKT_URL = "https://github.com/callahantiff/PheKnowLator"
TRIPLE_SCHEMA = (
    "s string, p string, o string, o_is_literal boolean, "
    "o_lang string, o_datatype string"
)


def ontology_header(
    spark,
    filename: str,
    version: str,
    date_full: str,
) -> DataFrame:
    """G7: the reference's 7 provenance triples (adds_ontology_annotations,
    metadata.py:198-233), byte-matching its URL derivation: the subject is
    ``https://pheknowlator.com/pheknowlator_<filename-tail>.owl`` where the
    tail drops the first two ``_``-separated tokens and the extension.

    ``date_full`` is a parameter (the reference stamps ``datetime.now()``,
    metadata.py:214) so header emission stays deterministic/resumable —
    callers stamp once per build.
    """
    owl = "http://www.w3.org/2002/07/owl#"
    rdfs_comment = "http://www.w3.org/2000/01/rdf-schema#comment"
    parsed = "_".join(filename.lower().split("/")[-1].split("_")[2:])
    url = "https://pheknowlator.com/pheknowlator_" + parsed[:-4] + ".owl"
    rows = [
        (url, RDF_TYPE, OWL_ONTOLOGY, False, None, None),
        (url, OBOINOWL + "default-namespace", filename, True, None, None),
        (url, owl + "versionIRI", PKT_URL + "/wiki/" + version, False, None, None),
        (url, rdfs_comment, "PheKnowLator Release version " + version, True, None, None),
        (url, OBOINOWL + "date", date_full, True, None, None),
        (url, rdfs_comment, PKT_AUTHORS, True, None, None),
        (url, rdfs_comment, "For more information visit: " + PKT_URL, True, None, None),
    ]
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def adds_ontology_annotations(
    graph: DataFrame, filename: str, version: str, date_full: str
) -> DataFrame:
    """G7 full semantics: strip the existing ``owl:Ontology`` header node's
    triples and append the 7 new provenance triples
    (adds_ontology_annotations, metadata.py:198-233).

    The reference removes triples of the FIRST ontology node in rdflib set
    order (metadata.py:221); removing triples of EVERY ontology-typed
    subject is the deterministic equivalent (real builds have exactly one).
    """
    ont_nodes = (
        graph.filter((F.col("p") == RDF_TYPE) & (F.col("o") == OWL_ONTOLOGY))
        .select(F.col("s").alias("__ont"))
        .distinct()
    )
    stripped = graph.join(
        F.broadcast(ont_nodes.withColumnRenamed("__ont", "s")), "s", "left_anti"
    )
    header = ontology_header(graph.sparkSession, filename, version, date_full)
    return stripped.unionByName(header.select(*graph.columns))


BUILTIN_RELATIONS = [
    (
        "http://www.w3.org/2000/01/rdf-schema#subClassOf",
        "relations",
        "subClassOf",
        "The subject is a subclass of a class.",
    ),
    (
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "relations",
        "type",
        "The subject is an instance of a class.",
    ),
]


def extract_metadata(graph: DataFrame) -> DataFrame:
    """Harvest the metadata table FROM a graph (extract_metadata,
    metadata.py:101-155): labels/definitions/synonyms for every owl:Class /
    owl:NamedIndividual subject (kind='nodes', subjects containing '#'
    excluded per metadata.py:119-121) and owl:ObjectProperty subject
    (kind='relations'). Only entities carrying at least one rdfs:label are
    emitted (metadata.py:134); the language filter keeps untagged or
    English literals (metadata.py:130-132).

    The reference takes the FIRST label/description in rdflib iteration
    order (nondeterministic); here the lexicographic minimum is the
    deterministic pick, and synonyms (any predicate containing 'synonym',
    metadata.py:133) are a sorted distinct array, null when there are
    none. One ``groupBy`` over the non-anonymous subjects derives every
    fact with conditional aggregates; a subject that is both a node and a
    relation gets one row per kind.
    """
    p, o = F.col("p"), F.col("o")
    lang_ok = F.col("o_lang").isNull() | (F.col("o_lang") == "en")
    is_type = p == RDF_TYPE
    is_label = (p == RDFS_LABEL) & lang_ok
    is_desc = (p == IAO_DEFINITION) & lang_ok
    is_syn = F.lower(p).contains("synonym")
    facts = (
        graph.filter(~is_bnode(F.col("s")) & (is_type | is_label | is_desc | is_syn))
        .groupBy(F.col("s").alias("uri"))
        .agg(
            F.max(
                is_type
                & (o.contains(OWL_CLASS) | o.contains(OWL_NAMED_INDIVIDUAL))
                & ~F.col("s").contains("#")
            ).alias("node"),
            F.max(is_type & (o == OWL_OBJECT_PROPERTY)).alias("relation"),
            F.min(F.when(is_label, o)).alias("label"),
            F.min(F.when(is_desc, o)).alias("description"),
            F.sort_array(F.collect_set(F.when(is_syn, o))).alias("synonyms"),
        )
    )
    kinds = F.array(
        F.when(F.col("node"), "nodes"), F.when(F.col("relation"), "relations")
    )
    out = facts.filter(F.col("label").isNotNull()).select(
        "uri",
        F.explode(F.array_compact(kinds)).alias("kind"),
        "label",
        "description",
        F.when(F.size("synonyms") > 0, F.col("synonyms")).alias("synonyms"),
    )
    builtin = graph.sparkSession.createDataFrame(
        [(u, k, l, d, None) for u, k, l, d in BUILTIN_RELATIONS],
        "uri string, kind string, label string, description string, "
        "synonyms array<string>",
    )
    return out.unionByName(builtin)
