"""Constructed-KG integrity validation.

The reference guards graph quality with per-stage filters — OWL
semantics (pkt_kg/owlnets.py:140 removes_edges_with_owl_semantics),
self-loops, deprecated classes — but domain/range conformance of the
EMITTED triples is left to the downstream reasoner run (ELK over the
post-closure build, pkt_kg/knowledge_graph.py:445 PostClosureBuild). At
10^12-document scale a reasoner pass is not an option, so this module
gives the pipeline a distributed SHACL-lite gate: declarative
domain/range constraints checked with hash joins, producing a violation
table instead of a failure — the KG analog of the corpus-hygiene
operators' reject streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["domain_range_violations"]


def domain_range_violations(
    triples: DataFrame,
    constraints: DataFrame,
    types: DataFrame,
) -> DataFrame:
    """SHACL-lite domain/range validation: for every triple whose
    predicate carries a constraint, check that the subject has the
    required ``domain`` type and the object the required ``range`` type
    in the ``types`` table (``[node, type]``, the rdf:type assertions).
    ``constraints`` is ``[p, domain, range]``; a NULL domain or range
    means that side is unconstrained. Returns one row per violated side:
    ``[s, p, o, side, required_type]`` with ``side`` ∈ {'domain',
    'range'} — an empty result certifies conformance.

    100 TB plan: the constraint table is schema-sized and BROADCAST onto
    the triple scan (unconstrained predicates drop out map-side); each
    side is then ONE left-anti hash join against ``types`` keyed on the
    node — two node-key shuffles total, no window, no collect.
    """
    c = constraints.select(
        F.col("p").alias("__cp"),
        F.col("domain").alias("__dom"),
        F.col("range").alias("__rng"),
    )
    t = triples.select("s", "p", "o").join(F.broadcast(c), F.col("p") == F.col("__cp"))
    ty = types.select(
        F.col("node").alias("__n"), F.col("type").alias("__t")
    )

    def violations(side_col, required, side_name):
        return (
            t.filter(F.col(required).isNotNull())
            .join(
                ty,
                (F.col(side_col) == F.col("__n"))
                & (F.col(required) == F.col("__t")),
                "left_anti",
            )
            .select(
                "s",
                "p",
                "o",
                F.lit(side_name).alias("side"),
                F.col(required).alias("required_type"),
            )
        )

    return violations("s", "__dom", "domain").unionByName(
        violations("o", "__rng", "range")
    )
