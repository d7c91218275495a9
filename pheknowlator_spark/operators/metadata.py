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
    join + explode of the synonym array.
    """
    m = nodes.select("uri").distinct().join(F.broadcast(metadata), "uri", "inner")
    label_t = m.filter(F.col("label").isNotNull()).select(
        literal_triple(F.col("uri"), RDFS_LABEL, tidy_text(F.col("label"))).alias("t")
    )
    desc_t = m.filter(F.col("description").isNotNull()).select(
        literal_triple(
            F.col("uri"), IAO_DEFINITION, tidy_text(F.col("description"))
        ).alias("t")
    )
    syn_t = (
        m.filter(F.size(F.coalesce("synonyms", F.array())) > 0)
        .select("uri", F.explode("synonyms").alias("syn"))
        .select(
            literal_triple(F.col("uri"), HAS_SYNONYM, tidy_text(F.col("syn"))).alias(
                "t"
            )
        )
    )
    return label_t.unionByName(desc_t).unionByName(syn_t).select("t.*").distinct()


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
    from pheknowlator_spark.functions.rdf import (
        OWL_ONTOLOGY,
        RDF_TYPE,
        RDFS_LABEL,  # noqa: F401  (module-level consistency)
    )

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
    from pheknowlator_spark.functions.rdf import OWL_ONTOLOGY, RDF_TYPE

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
    metadata.py:133) are a sorted distinct array. One aggregation pass per
    facet, joined on the entity id — no driver loops, ontology-union scale.
    """
    from pheknowlator_spark.functions.rdf import (
        OWL_CLASS,
        OWL_NAMED_INDIVIDUAL,
        OWL_OBJECT_PROPERTY,
        RDF_TYPE,
        RDFS_LABEL,
    )

    types = graph.filter(F.col("p") == RDF_TYPE)
    not_bnode = ~is_bnode(F.col("s"))
    nodes = (
        types.filter(
            (F.col("o").contains(OWL_CLASS) | F.col("o").contains(OWL_NAMED_INDIVIDUAL))
            & (~F.col("s").contains("#"))
            & not_bnode
        )
        .select(F.col("s").alias("uri"), F.lit("nodes").alias("kind"))
        .distinct()
    )
    rels = (
        types.filter((F.col("o") == OWL_OBJECT_PROPERTY) & not_bnode)
        .select(F.col("s").alias("uri"), F.lit("relations").alias("kind"))
        .distinct()
    )
    ents = nodes.unionByName(rels)

    lang_ok = F.col("o_lang").isNull() | (F.col("o_lang") == "en")
    labels = (
        graph.filter((F.col("p") == RDFS_LABEL) & lang_ok)
        .groupBy(F.col("s").alias("uri"))
        .agg(F.min("o").alias("label"))
    )
    descs = (
        graph.filter((F.col("p") == IAO_DEFINITION) & lang_ok)
        .groupBy(F.col("s").alias("uri"))
        .agg(F.min("o").alias("description"))
    )
    syns = (
        graph.filter(F.lower(F.col("p")).contains("synonym"))
        .groupBy(F.col("s").alias("uri"))
        .agg(F.sort_array(F.collect_set("o")).alias("synonyms"))
    )
    out = (
        ents.join(labels, "uri", "inner")  # label required (metadata.py:134)
        .join(descs, "uri", "left")
        .join(syns, "uri", "left")
        .select("uri", "kind", "label", "description", "synonyms")
    )
    builtin = graph.sparkSession.createDataFrame(
        [(u, k, l, d, None) for u, k, l, d in BUILTIN_RELATIONS],
        "uri string, kind string, label string, description string, "
        "synonyms array<string>",
    )
    return out.unionByName(builtin)
