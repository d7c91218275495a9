"""Entity linking + skew handling (pipeline stage [3]).

Mentions → canonical CURIEs via broadcast-hash join against the entity
dictionary; ambiguous surfaces resolved by a deterministic per-(url,span)
score (north rule: "entity-link scoring ... broadcast-hash-join linking to
canonical CURIEs and salted sort-merge joins for skewed high-frequency
entities").

Salting helper: for joins where BOTH sides are large and the key is skewed
(e.g. joining mention rows to per-entity aggregates when a few entities
appear in ≥5% of pages), ``salted_join`` explodes the dimension side over S
salts and sprays the fact side with pmod(hash(row), S) — converting one hot
partition into S even ones. AQE skew-join handles residual skew at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def score_mentions(mentions: DataFrame, priors: DataFrame | None = None) -> DataFrame:
    """Score candidate CURIEs per mention and keep the argmax.

    Score = surface-length prior + optional corpus prior (entity frequency),
    tie-broken lexicographically by curie — fully deterministic.

    ``mentions``: [url, surface, begin, end, curie];
    ``priors`` (optional): [curie, prior: double] (broadcast dimension).
    Returns one row per (url, begin, end): the linked mention.
    """
    m = mentions.withColumn("surface_len", F.length("surface"))
    if priors is not None:
        m = m.join(F.broadcast(priors), "curie", "left").withColumn(
            "score",
            F.col("surface_len") + F.coalesce(F.col("prior"), F.lit(0.0)),
        )
    else:
        m = m.withColumn("score", F.col("surface_len").cast("double"))
    # argmax per span as ONE min_by hash aggregation — the window-sort
    # version shuffled every raw mention row through a full sort keyed by
    # (url, begin, end); min_by crosses the shuffle with one candidate
    # row per span per partition (the fused scan path avoids even this,
    # but the general path should still scale)
    helper = ["surface_len", "score"] + (["prior"] if priors is not None else [])
    out_cols = [c for c in m.columns if c not in helper]
    row = F.struct(*[F.col(c).alias(c) for c in out_cols])
    return (
        m.groupBy("url", "begin", "end")
        .agg(
            F.min_by(
                row, F.struct((-F.col("score")).alias("d"), F.col("curie"))
            ).alias("__w")
        )
        .select("__w.*")
    )


def link_mentions(
    mentions: DataFrame,
    curie_map: DataFrame,
) -> DataFrame:
    """Broadcast-hash join mentions → canonical ids; unmapped keep original.

    ``curie_map``: [curie, canonical] dimension table (e.g. the
    connected-components output of canonicalize).
    """
    m = curie_map.select(
        "curie", F.col("canonical").alias("__canon")
    )
    return (
        mentions.join(F.broadcast(m), "curie", "left")
        .withColumn("curie", F.coalesce("__canon", F.col("curie")))
        .drop("__canon")
    )


def salted_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    salts: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: explode ``dim`` over ``salts`` copies and
    spray ``facts`` rows uniformly across them.

    Use when dim is too big to broadcast and the key distribution is skewed
    (hot entities). Cost: dim inflates ×S (bounded — dim is the small side);
    benefit: the hot key's rows split across S tasks instead of one straggler.
    """
    salt_col = F.pmod(
        F.hash(*[F.col(c) for c in facts.columns]), F.lit(salts)
    ).cast("int")
    f = facts.withColumn("__salt", salt_col)
    d = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salts)]))
    )
    out = f.join(d, [key, "__salt"])
    return out.drop("__salt")
