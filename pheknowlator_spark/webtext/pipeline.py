"""End-to-end webtext → KG pipeline (SURVEY §7.0 stages [1]-[6]).

pages → extract → mention-detect → link → canonicalize → co-mention edge
derivation → instance/subclass triple construction. Each stage is a pure
DataFrame→DataFrame function; ``plans.checkpoint`` wraps them into
idempotent, resumable stage writes with lineage.

Edge derivation (stage [5]): co-mentioned entity pairs within a page are
scored by pair frequency across the corpus; pairs at/above ``min_score``
become typed edges. Edge type = ontology-namespace pair (e.g. CHEBI+DOID →
'chemical-disease'), relation from a small config map — replacing the
reference's downloaded edge sources with corpus-derived evidence while
reusing its construction semantics downstream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import OBO
from pheknowlator_spark.operators.constructors import construct_edges
from pheknowlator_spark.webtext.canonicalize import build_canonical_map
from pheknowlator_spark.webtext.linking import link_mentions, score_mentions
from pheknowlator_spark.webtext.mentions import detect_mentions

# namespace-pair → (edge_type, relation CURIE, inverse or None)
DEFAULT_EDGE_TYPES = {
    ("CHEBI", "DOID"): ("chemical-disease", "RO_0002606", None),
    ("CHEBI", "PR"): ("chemical-protein", "RO_0002434", "RO_0002434"),
    ("PR", "DOID"): ("protein-disease", "RO_0003302", None),
    ("PR", "HP"): ("protein-phenotype", "RO_0003302", None),
    ("CHEBI", "HP"): ("chemical-phenotype", "RO_0002606", None),
    ("DOID", "HP"): ("disease-phenotype", "RO_0002200", "RO_0004029"),
}


def curie_namespace(col):
    return F.split(col, "_").getItem(0)


def _sorted_pairs(cs: Column) -> Column:
    """Pairs of a page's sorted entity set: element i with every later
    one, so ``c1 < c2`` and each pair once per page — a map-side explode
    where a distinct + self-join cost two shuffles and a persist."""
    return F.flatten(
        F.transform(
            cs,
            lambda x, i: F.transform(
                F.slice(cs, i + F.lit(2), F.size(cs)),
                lambda y: F.struct(x.alias("c1"), y.alias("c2")),
            ),
        )
    )


def derive_comention_edges(
    linked: DataFrame,
    edge_type_map: dict[tuple[str, str], tuple[str, str, str | None]] | None = None,
    min_pages: int = 1,
) -> DataFrame:
    """Stage [5]: per-page co-mentions → scored, typed edge rows.

    ``linked``: [url, curie, ...] one row per linked mention. Pair
    generation is ONE pass: per-url sorted entity set (``collect_set``
    dedups) followed by a map-side pair explode — quadratic only within a
    page (bounded by mentions-per-page, not corpus size). No self-join, no
    persist: the upstream mention pipeline evaluates exactly once and the
    only shuffle is the groupBy(url), so a 10^12-page corpus streams
    through without caching a trillion-row intermediate.
    """
    edge_type_map = edge_type_map or DEFAULT_EDGE_TYPES
    page_sets = linked.groupBy("url").agg(
        F.sort_array(F.collect_set("curie")).alias("__cs")
    )
    pairs = page_sets.select(
        "url", F.explode(_sorted_pairs(F.col("__cs"))).alias("__p")
    ).select("url", F.col("__p.c1").alias("c1"), F.col("__p.c2").alias("c2"))

    ns1, ns2 = curie_namespace(F.col("c1")), curie_namespace(F.col("c2"))
    # build the CASE mapping both (ns1,ns2) and (ns2,ns1)
    et = F.lit(None).cast("string")
    rel = F.lit(None).cast("string")
    inv = F.lit(None).cast("string")
    swap = F.lit(False)
    for (x, y), (etype, r, i) in edge_type_map.items():
        fwd = (ns1 == x) & (ns2 == y)
        bwd = (ns1 == y) & (ns2 == x) & F.lit(x != y)
        et = F.when(fwd | bwd, etype).otherwise(et)
        rel = F.when(fwd | bwd, r).otherwise(rel)
        inv = F.when(fwd | bwd, F.lit(i).cast("string")).otherwise(inv)
        swap = F.when(bwd, F.lit(True)).otherwise(swap)

    typed = (
        pairs.withColumn("edge_type", et)
        .withColumn("rel", rel)
        .withColumn("inv_rel", inv)
        .withColumn("__swap", swap)
        .filter(F.col("edge_type").isNotNull())
        .select(
            "edge_type",
            F.when(F.col("__swap"), F.col("c2")).otherwise(F.col("c1")).alias("sub_id"),
            F.when(F.col("__swap"), F.col("c1")).otherwise(F.col("c2")).alias("obj_id"),
            "rel",
            "inv_rel",
            "url",
        )
    )
    # each (url, pair) row is unique by construction, so a plain count is
    # the distinct-page count — no count-distinct expansion needed
    scored = typed.groupBy("edge_type", "sub_id", "obj_id", "rel", "inv_rel").agg(
        F.count(F.lit(1)).alias("n_pages")
    )
    return scored.filter(F.col("n_pages") >= min_pages)


def _pair_counts(
    linked: DataFrame, min_pages: int
) -> tuple[DataFrame, DataFrame]:
    """``[c1, c2, n_pages, n1, n2]`` for pairs on ≥ ``min_pages`` pages
    (distinct (page, entity) rows, per-page pair explode, one pair-count
    aggregation, entity page marginals broadcast to both sides), and the
    one-row ``[__n]`` count of pages with a linked mention."""
    pe = linked.select(
        F.col("url").alias("__pg"), F.col("curie").alias("__e")
    ).distinct()
    n_pages_total = pe.select("__pg").distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    marginals = pe.groupBy("__e").agg(F.count(F.lit(1)).alias("__c"))
    page_sets = pe.groupBy("__pg").agg(
        F.sort_array(F.collect_set("__e")).alias("__cs")
    )
    pair_counts = (
        page_sets.select(F.explode(_sorted_pairs(F.col("__cs"))).alias("__p"))
        .select(F.col("__p.c1").alias("c1"), F.col("__p.c2").alias("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .filter(F.col("n_pages") >= min_pages)
    )
    m1 = F.broadcast(
        marginals.select(F.col("__e").alias("c1"), F.col("__c").alias("n1"))
    )
    m2 = F.broadcast(
        marginals.select(F.col("__e").alias("c2"), F.col("__c").alias("n2"))
    )
    return pair_counts.join(m1, "c1").join(m2, "c2"), n_pages_total


def comention_pmi(linked: DataFrame, min_pages: int = 1) -> DataFrame:
    """Pointwise mutual information for co-mentioned entity pairs — the
    principled weight for the co-mention edges (raw ``n_pages`` counts
    favor ubiquitous entities; PMI corrects for marginal frequency).
    ``pmi(a,b) = ln(N·c_ab / (c_a·c_b))`` where counts are PAGE counts
    (an entity counts once per page no matter how often it's mentioned)
    and ``N`` is the number of pages with ≥1 linked mention — derived
    from ``linked`` alone, so the operator is self-contained. Returns
    ``[c1, c2, n_pages, n1, n2, pmi]`` with ``c1 < c2``.

    100 TB path: pair generation is the same single-pass per-page
    sorted-set explode as :func:`derive_comention_edges` (quadratic only
    within a page); the entity marginals form a vocabulary-sized dim that
    broadcasts to the pair table; N is a one-row broadcast. The only
    corpus-scale shuffles are the (page, entity) distinct and the
    pair-count aggregation, both partially combined map-side.
    """
    counts, n_pages_total = _pair_counts(linked, min_pages)
    return (
        counts.crossJoin(F.broadcast(n_pages_total))
        .select(
            "c1",
            "c2",
            "n_pages",
            "n1",
            "n2",
            F.log(
                (F.col("n_pages").cast("double") * F.col("__n"))
                / (F.col("n1").cast("double") * F.col("n2"))
            ).alias("pmi"),
        )
    )


def comention_wilson(
    linked: DataFrame, z: float = 1.96, min_pages: int = 1
) -> DataFrame:
    """Wilson-score lower bound on co-mention precision — the
    confidence-adjusted edge weight for thresholding corpus-derived
    triples (raw counts can't distinguish 3/3 from 30/100; the Wilson
    interval can). For each pair ``(c1, c2)`` with ``c1 < c2``: trials
    ``n = min(pages(c1), pages(c2))`` (the maximum possible co-mention
    count), successes ``k = co-mention pages``, and the lower bound of
    the Wilson interval at confidence ``z`` on ``k/n``. Low-support edges
    get pulled hard toward 0; high-support edges keep their rate.
    Returns ``[c1, c2, n_pages, n_trials, wilson_lb]`` (9 dp).

    Counts come from the same :func:`_pair_counts` as
    :func:`comention_pmi`; the score is pure Column math in codegen.
    """
    n = F.least(F.col("n1"), F.col("n2")).cast("double")
    k = F.col("n_pages").cast("double")
    p = k / n
    z2 = F.lit(float(z) * float(z))
    lb = (
        p
        + z2 / (F.lit(2.0) * n)
        - F.lit(float(z))
        * F.sqrt((p * (F.lit(1.0) - p) + z2 / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + z2 / n)
    counts, _ = _pair_counts(linked, min_pages)
    return counts.select(
        "c1",
        "c2",
        "n_pages",
        F.least(F.col("n1"), F.col("n2")).alias("n_trials"),
        F.round(lb, 9).alias("wilson_lb"),
    )


def edges_for_construction(comention_edges: DataFrame) -> DataFrame:
    """Adapt scored co-mention edges to the constructor input contract.

    All CURIEs here are ontology classes (they came from the ontology
    dictionary), so both sides are kind='class' with the OBO namespace.
    """
    return comention_edges.select(
        "edge_type",
        F.lit("class").alias("n1_kind"),
        F.lit("class").alias("n2_kind"),
        "sub_id",
        "obj_id",
        F.lit(OBO).alias("uri1"),
        F.lit(OBO).alias("uri2"),
        "rel",
        "inv_rel",
    )


def run_pipeline(
    pages: DataFrame,
    entity_dictionary: DataFrame,
    same_as: DataFrame | None = None,
    approach: str = "subclass",
    min_pages: int = 1,
    re_extract: bool = False,
    quality_threshold: float | None = None,
) -> dict[str, DataFrame]:
    """Full stages [1]-[6]; returns every intermediate for checkpointing.

    ``pages`` must carry (url, html, text, lang); when ``re_extract`` the
    text column is recomputed from html (byte-identity contract).
    ``quality_threshold`` adds the corpus quality-filter stage (JVM-side
    expression scoring).

    The plan is LINEAR — every stage has exactly one consumer, so no
    persist/cache is needed anywhere: the whole pages→triples build is one
    job whose scan stage dominates wall time at corpus scale. Callers who
    want resumable stage boundaries write intermediates through
    ``plans.StageStore`` (checkpointed parquet), which is the production
    pattern — never an in-memory persist of a corpus-scale table.
    """
    pages_en = pages.filter(F.col("lang") == "en")
    if re_extract:
        # fused extract → quality → scan → span-resolve: one Arrow crossing
        # and NO mention-row shuffle (see mentions.extract_and_detect;
        # resolve_spans is parity-tested against score_mentions)
        from pheknowlator_spark.webtext.mentions import extract_and_detect

        mentions = extract_and_detect(
            pages_en,
            entity_dictionary,
            min_quality=quality_threshold,
            resolve_spans=True,
        )
        linked = mentions
    else:
        if quality_threshold is not None:
            from pheknowlator_spark.functions.text import quality_score

            pages_en = pages_en.filter(
                quality_score(F.col("text")) >= quality_threshold
            )
        mentions = detect_mentions(pages_en, entity_dictionary)
        linked = score_mentions(mentions)
    if same_as is not None:
        canonical_map = build_canonical_map(same_as)
        linked = link_mentions(linked, canonical_map)
    else:
        canonical_map = None

    comentions = derive_comention_edges(linked, min_pages=min_pages)
    edges = edges_for_construction(comentions)
    triples, errors = construct_edges(edges, approach=approach)

    out = {
        "mentions": mentions,
        "linked": linked,
        "comention_edges": comentions,
        "triples": triples.distinct(),
        "construction_errors": errors,
    }
    if canonical_map is not None:
        out["canonical_map"] = canonical_map
    return out
