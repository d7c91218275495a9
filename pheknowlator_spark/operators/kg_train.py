"""KG-embedding training preparation.

The reference's integer-triple export (pkt_kg/utils/kg_utils.py:653-699,
S13) exists precisely to feed KG-embedding trainers (TransE-family); the
step those trainers need next — and the reason this module exists — is
negative sampling: corrupted ``(s, p, o′)`` triples that are NOT in the
graph, one-to-k per positive. Standard samplers draw randomly, which
breaks resume/retry reproducibility at cluster scale; here the
corruption choice is a pure md5 function of the triple, so every rerun,
cluster size, and resumed stage emits byte-identical negatives (the same
property the dedup/sampling operators guarantee, and what makes the
result SQL-auditable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "khop_neighbors",
    "negative_triples",
    "random_walks",
    "transe_eval",
    "verbalize_triples",
]


def negative_triples(
    triples: DataFrame,
    k: int = 1,
    pool_size: int = 64,
) -> DataFrame:
    """``k`` deterministic object-corrupted negatives per positive triple.

    Candidate pool: per predicate, the ``pool_size`` distinct objects
    with the smallest ``md5(p || '|' || o)`` — a deterministic uniform
    subsample of the predicate's object domain (type-consistent
    corruption: a ``treats`` triple corrupts to another ``treats``
    object, the standard Bernoulli-corruption setup). Slot ``j``'s
    negative for a triple is the pool object minimizing
    ``md5(s|p|o|j|candidate)`` among candidates ≠ the true object —
    an md5-ranked draw without replacement-bias across slots. Returns
    ``[s, p, o, neg_idx, neg_o]``; a triple yields fewer than ``k`` rows
    only if its predicate's pool has ≤ ``k`` distinct objects.

    100 TB plan: the pool is vocabulary-sized (predicates × pool_size)
    and BROADCAST; the corpus-scale side is one map-side explode of
    ``k × pool_size`` candidate rows per triple followed by ONE
    partially-combined ``min_by`` keyed on (triple, slot) — no
    corpus-scale self-join, no window over the triple table, no RNG
    state. The per-predicate pool ranking is the only window, over the
    object vocabulary, never the triples.
    """
    if k < 1 or pool_size < 2:
        raise ValueError("k must be >= 1 and pool_size >= 2")
    t = triples.select("s", "p", "o")
    w = Window.partitionBy("p").orderBy(
        F.md5(F.concat_ws("|", F.col("p"), F.col("o"))), F.col("o")
    )
    pool = (
        t.select("p", "o")
        .distinct()
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= pool_size)
        .select("p", F.col("o").alias("__cand"))
    )
    slots = F.explode(
        F.sequence(F.lit(1).cast("long"), F.lit(int(k)).cast("long"))
    ).alias("neg_idx")
    cand = (
        t.select("s", "p", "o", slots)
        .join(F.broadcast(pool), "p")
        .filter(F.col("__cand") != F.col("o"))
    )
    rank = F.md5(
        F.concat_ws(
            "|",
            F.col("s"),
            F.col("p"),
            F.col("o"),
            F.col("neg_idx"),
            F.col("__cand"),
        )
    )
    return (
        cand.groupBy("s", "p", "o", "neg_idx")
        .agg(F.min_by(F.col("__cand"), rank).alias("neg_o"))
    )


def random_walks(
    edges: DataFrame,
    length: int = 3,
    num_walks: int = 1,
) -> DataFrame:
    """Deterministic fixed-length walks from every node with out-edges —
    the sequence generator for skip-gram KG embeddings (DeepWalk/node2vec
    style) over the constructed graph. Returns ``[start, walk, step,
    node]`` with ``step`` 0 being the start node itself; a walk ends
    early at a node with no out-edges.

    The "random" hop is a pure hash draw: step ``t`` of walk ``w`` from
    ``start`` moves to the out-neighbor minimizing
    ``md5(start|w|t|neighbor) || '|' || neighbor`` — no RNG, so every
    rerun, resume, and cluster size emits byte-identical corpora, and a
    DuckDB oracle can replay the draw with ``arg_min`` over the same key.

    100 TB plan: each of the ``length`` steps is ONE hash join keyed on
    the current node + ONE partially-combined ``min_by`` keyed on the
    walk id — two shuffles per step, linear in walk length, no window
    over the edge table and no per-walk Python. Walk count multiplies
    only the frontier (walks × nodes), never the edge side.
    """
    if length < 1 or num_walks < 1:
        raise ValueError("length and num_walks must be >= 1")
    e = (
        edges.select(F.col("src").alias("__es"), F.col("dst").alias("__ed"))
        .filter(F.col("__es").isNotNull() & F.col("__ed").isNotNull())
        .distinct()
    )
    frontier = (
        e.select(F.col("__es").alias("start"))
        .distinct()
        .select(
            "start",
            F.explode(
                F.sequence(F.lit(0), F.lit(int(num_walks) - 1))
            ).alias("walk"),
        )
        .withColumn("node", F.col("start"))
    )
    out = frontier.select("start", "walk", F.lit(0).alias("step"), "node")
    for t in range(1, length + 1):
        rank = F.concat_ws(
            "|",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("start"),
                    F.col("walk"),
                    F.lit(t),
                    F.col("__ed"),
                )
            ),
            F.col("__ed"),
        )
        frontier = (
            frontier.join(e, frontier["node"] == e["__es"])
            .groupBy("start", "walk")
            .agg(F.min_by(F.col("__ed"), rank).alias("node"))
        )
        out = out.unionByName(
            frontier.select("start", "walk", F.lit(t).alias("step"), "node")
        )
    return out


def khop_neighbors(
    edges: DataFrame,
    fanouts: "tuple[int, ...]" = (2, 2),
) -> DataFrame:
    """GraphSAGE-style deterministic neighborhood sampling: for every
    node, expand ``len(fanouts)`` hops keeping at most ``fanouts[h]``
    out-neighbors per expanded node, ranked by
    ``md5(seed|hop|parent|child) || '|' || child`` (a per-seed hash
    subsample — no RNG, reproducible across reruns and resumes, and
    SQL-replayable with ``row_number`` over the identical key). Returns
    ``[seed, hop, parent, child]`` — the sampled computation graph each
    GNN mini-batch trainer needs.

    100 TB plan: hop ``h`` is ONE hash join keyed on the frontier node +
    ONE top-``f`` ranking windowed on the expansion key (seed, parent) —
    the window sorts only each node's sampled adjacency list (bounded by
    max out-degree), never a corpus-global ordering. Fanout caps make
    the frontier grow at most ``∏ fanouts``-fold per seed, so the output
    stays linear in nodes for constant fanouts.
    """
    if not fanouts or any(f < 1 for f in fanouts):
        raise ValueError("fanouts must be a non-empty tuple of >= 1 ints")
    e = (
        edges.select(F.col("src").alias("__es"), F.col("dst").alias("__ed"))
        .filter(F.col("__es").isNotNull() & F.col("__ed").isNotNull())
        .distinct()
    )
    frontier = e.select(F.col("__es").alias("seed")).distinct().withColumn(
        "node", F.col("seed")
    )
    out = None
    for h, f in enumerate(fanouts, start=1):
        rank_key = F.concat_ws(
            "|",
            F.md5(
                F.concat_ws(
                    "|", F.col("seed"), F.lit(h), F.col("node"), F.col("__ed")
                )
            ),
            F.col("__ed"),
        )
        w = Window.partitionBy("seed", "node").orderBy(rank_key)
        hop = (
            frontier.join(e, frontier["node"] == e["__es"])
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= int(f))
            .select(
                "seed",
                F.lit(h).alias("hop"),
                F.col("node").alias("parent"),
                F.col("__ed").alias("child"),
            )
        )
        out = hop if out is None else out.unionByName(hop)
        frontier = hop.select("seed", F.col("child").alias("node")).distinct()
    return out


def verbalize_triples(
    triples: DataFrame,
    labels: DataFrame,
) -> DataFrame:
    """KG→text verbalization: render every triple as a one-sentence
    training document ("<s label> <p label> <o label>."), the standard
    way a constructed KG is folded back into an LM pretraining corpus
    (KELM-style). Labels come from the provided ``labels`` dim table
    (id → label, e.g. the reference's NodeLabels export, S15); an id with
    no label falls back to its local name (the segment after the last
    ``/`` or ``#``), mirroring the reference's label formatter. Returns
    ``[s, p, o, text, n_tokens]`` with ``n_tokens`` the whitespace token
    count of the sentence.

    100 TB plan: the label dim is vocabulary-sized and joined with THREE
    broadcast hash joins (s, p, o) — zero corpus-side shuffles; the
    sentence assembly and token count are pure Column expressions in
    whole-stage codegen.
    """
    lab = labels.select(
        F.col("id").alias("__id"), F.col("label").alias("__lab")
    )

    def resolved(col_name, alias):
        return F.coalesce(
            F.col(f"__lab_{alias}"),
            F.regexp_extract(F.col(col_name), "([^/#]*)$", 1),
        )

    t = triples.select("s", "p", "o")
    for c in ("s", "p", "o"):
        t = t.join(
            F.broadcast(
                lab.select(
                    F.col("__id").alias(f"__id_{c}"),
                    F.col("__lab").alias(f"__lab_{c}"),
                )
            ),
            t[c] == F.col(f"__id_{c}"),
            "left",
        )
    text = F.concat_ws(
        " ", resolved("s", "s"), resolved("p", "p"), resolved("o", "o")
    )
    text = F.concat(text, F.lit("."))
    return t.select(
        "s",
        "p",
        "o",
        text.alias("text"),
        F.size(F.split(text, " ")).alias("n_tokens"),
    )


def transe_eval(
    test: DataFrame,
    entity_emb: DataFrame,
    relation_emb: DataFrame,
    pool_size: int = 32,
    quant: int = 1000,
) -> DataFrame:
    """TransE link-prediction evaluation — the metric loop that consumes
    the S13 integer-triple export plus trained embeddings: per predicate,
    the pool-restricted rank of every test triple's true object under
    the TransE score ``-||e_s + e_p - e_o||₁``, reported as
    ``[p, n, mean_rank, hits_{k}..., mrr]``.

    Embeddings are quantized to ``floor(x·quant)`` int64 up front, so
    every distance is EXACT integer math — bit-identical across engines,
    partitionings, and reruns (the same trick as the quantized ANN
    oracle). The candidate pool per predicate is the ``pool_size``
    md5-ranked distinct objects (the deterministic subsample used by
    :func:`negative_triples`); rank = 1 + number of pool candidates
    strictly beating the true object (ties broken by candidate id), the
    standard pool-restricted evaluation protocol. ``mrr`` is the one
    float aggregate and is rounded to 9 dp.

    100 TB plan: entity/relation embedding dims are vocabulary-sized and
    BROADCAST; the per-predicate pool is collected into ONE sorted array
    per predicate and also broadcast, so the whole rank computation —
    translation vector, |pool| L1 distances, the beat count — runs
    map-side inside nested higher-order functions with NO corpus-side
    shuffle at all; the only exchange is the final tiny groupBy(p).
    """
    if pool_size < 1 or quant < 1:
        raise ValueError("pool_size and quant must be >= 1")

    def qv(col):
        return F.transform(
            col, lambda x: F.floor(x.cast("double") * quant).cast("long")
        )

    ent = entity_emb.select(
        F.col("id").alias("__eid"), qv(F.col("embedding")).alias("__ev")
    )
    rel = relation_emb.select(
        F.col("id").alias("__rid"), qv(F.col("embedding")).alias("__rv")
    )
    t = test.select("s", "p", "o")

    w = Window.partitionBy("p").orderBy(
        F.md5(F.concat_ws("|", F.col("p"), F.col("o"))), F.col("o")
    )
    pool = (
        t.select("p", "o")
        .distinct()
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= pool_size)
        .join(ent, F.col("o") == F.col("__eid"))
        .groupBy("p")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("o").alias("cand"), F.col("__ev").alias("cv"))
                )
            ).alias("__pool")
        )
    )

    tt = (
        t.join(
            F.broadcast(
                ent.select(
                    F.col("__eid").alias("__sid"), F.col("__ev").alias("__sv")
                )
            ),
            F.col("s") == F.col("__sid"),
        )
        .join(F.broadcast(rel), F.col("p") == F.col("__rid"))
        .join(
            F.broadcast(
                ent.select(
                    F.col("__eid").alias("__oid"), F.col("__ev").alias("__ov")
                )
            ),
            F.col("o") == F.col("__oid"),
        )
        .withColumn("__tv", F.zip_with("__sv", "__rv", lambda a, b: a + b))
        .withColumn(
            "__ts",
            F.aggregate(
                F.zip_with("__tv", "__ov", lambda a, b: F.abs(a - b)),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ),
        )
        .join(F.broadcast(pool), "p")
    )

    def cand_score(c):
        return F.aggregate(
            F.zip_with(F.col("__tv"), c["cv"], lambda a, b: F.abs(a - b)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    beats = F.aggregate(
        F.col("__pool"),
        F.lit(0).cast("long"),
        lambda acc, c: acc
        + F.when(
            (cand_score(c) < F.col("__ts"))
            | ((cand_score(c) == F.col("__ts")) & (c["cand"] < F.col("o"))),
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    ranked = tt.select("p", (F.lit(1).cast("long") + beats).alias("__rank"))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.avg("__rank").alias("mean_rank"),
    ]
    for k in (1, 10):
        aggs.append(
            F.avg(
                F.when(F.col("__rank") <= k, F.lit(1.0)).otherwise(
                    F.lit(0.0)
                )
            ).alias(f"hits_{k}")
        )
    aggs.append(F.round(F.avg(F.lit(1.0) / F.col("__rank")), 9).alias("mrr"))
    return ranked.groupBy("p").agg(*aggs)
