"""Canonicalization: same-as edges → connected components → canonical id map
(pipeline stage [4]; north rule: "iterative DataFrame-join connected
components (union-find over same-as edges) to merge node identities,
mirroring PheKnowLator's entity-map and dedup logic").

The reference's analog is networkx connected_components
(kg_utils.py:402-420) plus the pkt-namespace rewrite join
(updates_pkt_namespace_identifiers, kg_utils.py:553-597). Here both are
DataFrame-native: CC by iterative min-label propagation
(operators.graph_algos) and the rewrite as two left joins + coalesce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.operators.graph_algos import connected_components


def build_canonical_map(same_as: DataFrame) -> DataFrame:
    """same-as pairs → [curie, canonical] where canonical = lexicographic min
    member of each identity cluster (deterministic)."""
    comps = connected_components(same_as, src="a", dst="b")
    return comps.select(
        F.col("node").alias("curie"), F.col("component").alias("canonical")
    ).filter(F.col("curie") != F.col("canonical"))


def rewrite_triples(triples: DataFrame, canonical_map: DataFrame) -> DataFrame:
    """Rewrite s and o through the canonical map; unmapped pass through.

    Mirrors the reference's remove-then-add namespace rewrite
    (kg_utils.py:584-595) as two joins + coalesce — one shuffle-free pass
    when the map broadcasts (identity clusters are dimension-sized).
    """
    m_s = canonical_map.select(
        F.col("curie").alias("s"), F.col("canonical").alias("__s_new")
    )
    m_o = canonical_map.select(
        F.col("curie").alias("o"), F.col("canonical").alias("__o_new")
    )
    return (
        triples.join(F.broadcast(m_s), "s", "left")
        .join(F.broadcast(m_o), "o", "left")
        .withColumn("s", F.coalesce("__s_new", F.col("s")))
        .withColumn("o", F.coalesce("__o_new", F.col("o")))
        .drop("__s_new", "__o_new")
    )


def decode_pkt_namespace(triples: DataFrame) -> DataFrame:
    """J9: map pkt-hash subjects back to their original ontology class and
    rewrite every triple touching them (updates_pkt_namespace_identifiers,
    kg_utils.py:553-597).

    The map is built from ``pkt:N... rdfs:subClassOf/rdf:type <original>``
    triples where the original is NOT another pkt node and not an owl:Class
    typing; punned nodes (pkt node with >1 rdf:type target) are excluded
    (kg_utils.py:591-593).
    """
    from pheknowlator_spark.functions.rdf import (
        OWL_CLASS,
        PKT,
        RDF_TYPE,
        RDFS_SUBCLASSOF,
    )

    cand = triples.filter(
        F.col("s").startswith(PKT)
        & (~F.col("s").startswith(PKT + "bnode"))
        & F.col("p").isin([RDF_TYPE, RDFS_SUBCLASSOF])
        & (~F.col("o").startswith(PKT))
        & (F.col("o") != OWL_CLASS)
        & (~F.col("o_is_literal"))
    ).select("s", "p", "o")
    # punning guard: pkt nodes with >1 distinct original target keep their id
    counts = cand.groupBy("s").agg(F.countDistinct("o").alias("n"))
    mapping = (
        cand.join(counts.filter(F.col("n") == 1), "s", "left_semi")
        .select(F.col("s").alias("curie"), F.col("o").alias("canonical"))
        .distinct()
    )
    return rewrite_triples(triples, mapping).distinct()
