"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship webtext→KG pipeline over the sf0.001
documents table; ``queries()`` exposes one callable per implemented
operator from SURVEY.md §2 (each also exercised at scale by bench.py);
``oracle_sql()`` gives the DuckDB-equivalent SQL for every
SQL-expressible query. Column names/aliases match pairwise so the
driver's sorted-column value hash compares.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

OBO = "http://purl.obolibrary.org/obo/"
PKT = "https://github.com/callahantiff/PheKnowLator/pkt/"
RDFS_LABEL = "http://www.w3.org/2000/01/rdf-schema#label"


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

# single-word surfaces drawn from the synthetic documents vocabulary,
# namespaced so co-mention edge typing kicks in (CHEBI×DOID → chemical-
# disease etc.)
DOC_DICTIONARY = [
    ("spark", "CHEBI_100", "label"),
    ("merge", "CHEBI_200", "label"),
    ("customer", "DOID_100", "label"),
    ("window", "DOID_200", "label"),
    ("hash", "PR_100", "label"),
    ("filter", "PR_200", "label"),
]


def _doc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("url"), "text", "lang"
    )


def _doc_dictionary(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        DOC_DICTIONARY, "surface string, curie string, match_type string"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → mentions → co-mention edges → KG triples."""
    from pheknowlator_spark.webtext.mentions import detect_mentions
    from pheknowlator_spark.webtext.pipeline import (
        derive_comention_edges,
        edges_for_construction,
    )
    from pheknowlator_spark.operators.constructors import construct_edges

    sf_dir = "/root/testdata/sf0.001"
    pages = _doc_pages(spark, sf_dir)
    mentions = detect_mentions(pages, _doc_dictionary(spark))
    edges = edges_for_construction(
        derive_comention_edges(mentions, min_pages=2)
    )
    triples, _ = construct_edges(edges, approach="subclass")
    return triples.select("edge_type", "s", "p", "o").distinct()


# --------------------------------------------------------------------------
# shared derivations (must line up 1:1 with the oracle SQL)
# --------------------------------------------------------------------------

def _nation_region_edges(spark, sf_dir, inv_rel):
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .select(
            F.lit("nation-region").alias("edge_type"),
            F.lit("class").alias("n1_kind"),
            F.lit("class").alias("n2_kind"),
            F.concat(F.lit("NATION_"), F.col("n_nationkey")).alias("sub_id"),
            F.concat(F.lit("REGION_"), F.col("r_regionkey")).alias("obj_id"),
            F.lit(OBO).alias("uri1"),
            F.lit(OBO).alias("uri2"),
            F.lit("RO_0001025").alias("rel"),
            F.lit(inv_rel).cast("string").alias("inv_rel"),
        )
        .distinct()
    )


_ORACLE_EDGE_CTE = f"""
e AS (
  SELECT DISTINCT
    '{OBO}NATION_' || n_nationkey AS n1,
    '{OBO}REGION_' || r_regionkey AS n2,
    '{OBO}RO_0001025' AS rel,
    {{inv}} AS inv
  FROM nation JOIN region ON n_regionkey = r_regionkey
)"""

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_SUBCLASSOF = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
_OWL = "http://www.w3.org/2002/07/owl#"


def _subclass_core_sql(inv: bool) -> str:
    inv_lit = f"'{OBO}RO_0001015'" if inv else "CAST(NULL AS VARCHAR)"
    cte = _ORACLE_EDGE_CTE.format(inv=inv_lit)
    core = (
        "h AS (SELECT n1, n2, rel, inv,"
        f" '{PKT}N' || md5('<'||n1||'><'||rel||'><'||n2||'>') AS u1,"
        f" '{PKT}bnode/N' || md5('<'||n1||'><'||rel||'><'||n2||'>'||'<{_OWL}Restriction>') AS u2,"
        f" '{PKT}N' || md5('<'||n2||'><'||inv||'><'||n1||'>') AS u3,"
        f" '{PKT}bnode/N' || md5('<'||n2||'><'||inv||'><'||n1||'>'||'<{_OWL}Restriction>') AS u4"
        " FROM e)"
    )
    fwd = f"""
  SELECT n1 AS s, '{_RDF_TYPE}' AS p, '{_OWL}Class' AS o FROM h
  UNION ALL SELECT u1, '{_SUBCLASSOF}', n1 FROM h
  UNION ALL SELECT u1, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u1, '{_SUBCLASSOF}', u2 FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', '{_OWL}Restriction' FROM h
  UNION ALL SELECT u2, '{_OWL}someValuesFrom', n2 FROM h
  UNION ALL SELECT n2, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u2, '{_OWL}onProperty', rel FROM h
  UNION ALL SELECT rel, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h"""
    bwd = f"""
  UNION ALL SELECT n2, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u3, '{_SUBCLASSOF}', n2 FROM h
  UNION ALL SELECT u3, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u3, '{_SUBCLASSOF}', u4 FROM h
  UNION ALL SELECT u4, '{_RDF_TYPE}', '{_OWL}Restriction' FROM h
  UNION ALL SELECT u4, '{_OWL}someValuesFrom', n1 FROM h
  UNION ALL SELECT n1, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u4, '{_OWL}onProperty', inv FROM h
  UNION ALL SELECT inv, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h""" if inv else ""
    return f"WITH {cte}, {core} SELECT DISTINCT s, p, o FROM ({fwd}{bwd})"


def _instance_core_sql() -> str:
    # inverse present: hash relation = least(rel, inv)
    cte = _ORACLE_EDGE_CTE.format(inv=f"'{OBO}RO_0001015'")
    core = (
        "h AS (SELECT n1, n2, rel, inv,"
        f" '{PKT}N' || md5('<'||n1||'><'||least(rel, inv)||'><'||n2||'>'||'subject') AS u1,"
        f" '{PKT}N' || md5('<'||n1||'><'||least(rel, inv)||'><'||n2||'>'||'object') AS u2"
        " FROM e)"
    )
    body = f"""
  SELECT u1 AS s, '{_RDF_TYPE}' AS p, n1 AS o FROM h
  UNION ALL SELECT u1, '{_RDF_TYPE}', '{_OWL}NamedIndividual' FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', n2 FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', '{_OWL}NamedIndividual' FROM h
  UNION ALL SELECT u1, rel, u2 FROM h
  UNION ALL SELECT rel, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h
  UNION ALL SELECT u2, inv, u1 FROM h
  UNION ALL SELECT inv, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h"""
    return f"WITH {cte}, {core} SELECT DISTINCT s, p, o FROM ({body})"


def _lineitem_triples(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("s"),
        F.col("l_returnflag").alias("p"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("o"),
    )


_LINEITEM_TRIPLES_SQL = (
    "SELECT 'O' || l_orderkey AS s, l_returnflag AS p, 'P' || l_partkey AS o "
    "FROM lineitem"
)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_subclass_core(spark, sf_dir):
    from pheknowlator_spark.operators.constructors import construct_edges

    triples, _ = construct_edges(
        _nation_region_edges(spark, sf_dir, None), approach="subclass"
    )
    return triples.select("s", "p", "o").distinct()


def q_subclass_core_inverse(spark, sf_dir):
    from pheknowlator_spark.operators.constructors import construct_edges

    triples, _ = construct_edges(
        _nation_region_edges(spark, sf_dir, "RO_0001015"), approach="subclass"
    )
    return triples.select("s", "p", "o").distinct()


def q_instance_core_inverse(spark, sf_dir):
    from pheknowlator_spark.operators.constructors import construct_edges

    triples, _ = construct_edges(
        _nation_region_edges(spark, sf_dir, "RO_0001015"), approach="instance"
    )
    return triples.select("s", "p", "o").distinct()


def q_edge_filter_project(spark, sf_dir):
    from pheknowlator_spark.operators.edge_list import data_reducer, filter_data

    li = _read(spark, sf_dir, "lineitem")
    filtered = filter_data(li, "4;>=;30", "8;==;N")
    return data_reducer(filtered, "0;1")


def q_edge_dedup_window(spark, sf_dir):
    from pheknowlator_spark.operators.edge_list import filter_data

    orders = _read(spark, sf_dir, "orders")
    out = filter_data(orders, "3-1;dedup;desc", "None")
    return out.select("o_orderkey", "o_custkey", "o_totalprice")


def q_identifier_map_join(spark, sf_dir):
    from pheknowlator_spark.operators.edge_list import apply_identifier_maps

    cust = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("sub_id"),
        F.col("c_nationkey").cast("string").alias("obj_id"),
    )
    nation_map = _read(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("string").alias("src_id"),
        F.col("n_name").alias("tgt_id"),
    )
    return apply_identifier_maps(cust, "1:nation", {"nation": nation_map})


def q_label_format(spark, sf_dir):
    from pheknowlator_spark.operators.edge_list import data_reducer, label_formatter

    part = _read(spark, sf_dir, "part")
    reduced = data_reducer(part, "3;2")  # (p_type, p_brand)
    return label_formatter(reduced, " ;;")


def q_duplicate_predicate_resolution(spark, sf_dir):
    from pheknowlator_spark.operators.owl_filters import resolve_duplicate_predicates

    orders = _read(spark, sf_dir, "orders")
    triples = orders.select(
        F.concat(F.lit("C"), F.col("o_custkey")).alias("s"),
        F.when(
            F.col("o_orderpriority") == "1-URGENT", F.lit(_SUBCLASSOF)
        ).otherwise(F.col("o_orderpriority")).alias("p"),
        F.col("o_orderstatus").alias("o"),
    ).distinct()
    return resolve_duplicate_predicates(triples)


def q_graph_stats(spark, sf_dir):
    from pheknowlator_spark.operators.stats import graph_statistics

    return graph_statistics(_lineitem_triples(spark, sf_dir))


def q_top_predicates(spark, sf_dir):
    from pheknowlator_spark.operators.stats import top_predicates

    return top_predicates(_lineitem_triples(spark, sf_dir), k=6)


def q_mode_per_group(spark, sf_dir):
    from pheknowlator_spark.operators.stats import mode_per_group

    events = _read(spark, sf_dir, "events")
    return mode_per_group(events, "user_id", "event_type")


def q_symmetry_antijoin(spark, sf_dir):
    li = _read(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("sub"), F.col("l_suppkey").alias("obj")
    ).distinct()
    rev = pairs.select(
        F.col("obj").alias("sub"), F.col("sub").alias("obj")
    )
    return pairs.join(rev, ["sub", "obj"], "left_anti")


def q_connected_components(spark, sf_dir):
    from pheknowlator_spark.operators.graph_algos import connected_components

    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    edges = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("dst"),
    )
    return connected_components(edges)


def q_transitive_closure(spark, sf_dir):
    from pheknowlator_spark.operators.graph_algos import transitive_closure

    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    e1 = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("child"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("parent"),
    )
    e2 = region.select(
        F.concat(F.lit("R"), F.col("r_regionkey")).alias("child"),
        F.lit("world").alias("parent"),
    )
    return transitive_closure(e1.unionByName(e2))


def q_pagerank(spark, sf_dir):
    """Power-iteration PageRank (5 rounds, d=0.85) on the same directed
    customer→order graph as connected_components: customers carry
    out-edges, orders are all dangling, so the dangling-mass
    redistribution path is exercised every round. Ranks rounded to 9 dp
    (float noise from shuffle-order summation is ~1e-15; the oracle
    unrolls the identical 5 iterations as DuckDB CTEs)."""
    from pheknowlator_spark.operators.graph_algos import pagerank

    orders = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    edges = orders.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("dst"),
    )
    ranks = pagerank(edges, damping=0.85, iterations=5)
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def q_triangle_stats(spark, sf_dir):
    """Per-node triangle count + local clustering coefficient on the
    co-supplier graph (suppliers sharing an order, lineitem-derived) —
    the networkx-statistics companions of graph_stats. The coefficient is
    one exact integer division (2t / d(d−1)) so the DuckDB oracle matches
    bit-for-bit with no rounding."""
    from pheknowlator_spark.operators.graph_algos import triangle_stats

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 37 == 0)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
    )
    return triangle_stats(pairs)


def q_link_prediction(spark, sf_dir):
    """Common-neighbor link prediction (Jaccard + Adamic-Adar) on a
    sparsified co-supplier graph — KG-completion candidate generation.
    Jaccard is one exact division; Adamic-Adar is the only float sum
    (9 dp, few terms per pair)."""
    from pheknowlator_spark.operators.graph_algos import link_prediction_scores

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 97 == 0)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
    )
    return link_prediction_scores(pairs, min_common=2)


def q_bfs_depths(spark, sf_dir):
    """Min-hop BFS depth below the synthetic 'world' root over the
    world→region→nation→customer tree (the ontology-depth statistic;
    oracle is a recursive CTE taking min(depth) per node)."""
    from pheknowlator_spark.operators.graph_algos import bfs_depths

    roots = spark.createDataFrame([("world",)], ["node"])
    return bfs_depths(_tree_edges(spark, sf_dir), roots)


def q_asof_join(spark, sf_dir):
    """As-of join: every purchase event matched to the user's latest view
    event at-or-before it (NULL columns when the user never viewed).
    Right rows sharing a (user, ts) collapse deterministically to the max
    event_id before matching; the oracle is DuckDB's native ASOF LEFT
    JOIN over the identically-deduplicated view stream."""
    from pheknowlator_spark.operators.temporal import asof_join

    ev = _read(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    return asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_cols=["event_id", "value"],
        suffix="_view",
    )


def q_funnel_counts(spark, sf_dir):
    """Strict-sequence funnel view→click→purchase: step i+1 counts only
    events at-or-after the user's earliest completion of step i."""
    from pheknowlator_spark.operators.temporal import funnel_counts

    ev = _read(spark, sf_dir, "events")
    return funnel_counts(ev, ["view", "click", "purchase"])


def q_cohort_retention(spark, sf_dir):
    """Daily cohort retention matrix over the events table (cohort =
    day of first activity; offset 0 row = cohort size)."""
    from pheknowlator_spark.operators.temporal import cohort_retention

    return cohort_retention(_read(spark, sf_dir, "events"))


def q_negative_triples(spark, sf_dir):
    """Deterministic md5-ranked negative sampling for KG-embedding
    training (2 object-corrupted negatives per positive, per-predicate
    candidate pool of 16): the step after the reference's S13
    integer-triple export. Pure hash choice — no RNG — so the DuckDB
    oracle replays the identical draw with arg_min over the same md5."""
    from pheknowlator_spark.operators.kg_train import negative_triples

    t = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select(
            F.concat(F.lit("O"), F.col("l_orderkey")).alias("s"),
            F.col("l_returnflag").alias("p"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("o"),
        )
        .distinct()
    )
    return negative_triples(t, k=2, pool_size=16)


def _tree_edges(spark, sf_dir):
    """world→region→nation→customer tree (the bfs_depths graph)."""
    region = _read(spark, sf_dir, "region")
    nation = _read(spark, sf_dir, "nation")
    customer = _read(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 5 == 0
    )
    return (
        region.select(
            F.lit("world").alias("src"),
            F.concat(F.lit("R"), F.col("r_regionkey")).alias("dst"),
        )
        .unionByName(
            nation.select(
                F.concat(F.lit("R"), F.col("n_regionkey")).alias("src"),
                F.concat(F.lit("N"), F.col("n_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("N"), F.col("c_nationkey")).alias("src"),
                F.concat(F.lit("c"), F.col("c_custkey")).alias("dst"),
            )
        )
    )


def q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk-style sequences (length 3, 2 walks/node)
    over the world→region→nation→customer tree — the skip-gram corpus
    generator for KG embeddings. Hops are md5-ranked hash draws, so the
    DuckDB oracle replays the identical choice with arg_min over the
    same key, level by level."""
    from pheknowlator_spark.operators.kg_train import random_walks

    return random_walks(_tree_edges(spark, sf_dir), length=3, num_walks=2)


def q_khop_neighbors(spark, sf_dir):
    """GraphSAGE-style 2-hop neighborhood sampling (fanouts 3, 2) on the
    same tree — the md5-ranked per-node subsample every GNN mini-batch
    trainer needs, replayed in the oracle with row_number over the
    identical key."""
    from pheknowlator_spark.operators.kg_train import khop_neighbors

    return khop_neighbors(_tree_edges(spark, sf_dir), fanouts=(3, 2))


def q_verbalize_triples(spark, sf_dir):
    """KG→text verbalization (KELM-style): nation→region and
    customer→nation triples rendered as one-sentence training documents
    via three broadcast label joins; unlabeled ids (customers, the two
    predicates) fall back to their local name."""
    from pheknowlator_spark.operators.kg_train import verbalize_triples

    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    customer = _read(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    )
    triples = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("s"),
        F.lit("http://pkt/rel#locatedIn").alias("p"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("o"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("s"),
            F.lit("http://pkt/rel#citizenOf").alias("p"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("o"),
        )
    )
    labels = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("id"),
        F.col("n_name").alias("label"),
    ).unionByName(
        region.select(
            F.concat(F.lit("R"), F.col("r_regionkey")).alias("id"),
            F.col("r_name").alias("label"),
        )
    )
    return verbalize_triples(triples, labels)


def q_k_core(spark, sf_dir):
    """3-core of the co-supplier graph (3 fixed peel rounds) — the
    dense-backbone filter applied before embedding training; the oracle
    replays the identical rounds as chained CTEs."""
    from pheknowlator_spark.operators.graph_algos import k_core

    li = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 37 == 0)
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    pairs = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .select(
            F.col("x.l_suppkey").alias("src"), F.col("y.l_suppkey").alias("dst")
        )
    )
    return k_core(pairs, k=3, rounds=3)


def q_normalize_urls(spark, sf_dir):
    """URL canonicalization over messy crawl-style URLs synthesized from
    the orders table (mixed casing, default and explicit ports, unsorted
    query params, fragments) — the hygiene pass before any url-keyed
    dedup; the oracle replays the identical regexp extraction rules."""
    from pheknowlator_spark.webtext.urls import normalize_urls

    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    url = F.concat(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("HTTP://WWW.Shop")).otherwise(
            F.lit("https://shop")
        ),
        (F.col("o_custkey") % 50).cast("string"),
        F.when(
            F.col("o_orderkey") % 2 == 0, F.lit(".Example.COM:80")
        ).otherwise(F.lit(".example.com:8443")),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/item/"), F.col("o_orderkey").cast("string"))
        ),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("?utm=9&a=1#frag"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("?a=1&utm=9"))
        .otherwise(F.lit("#only-frag")),
    )
    return normalize_urls(o.select(url.alias("url"))).select(
        "url", "norm_url", "host"
    )


def _link_pages(spark, sf_dir):
    """Deterministic anchor-bearing pages from the documents table: one
    base url per doc plus html exercising every href class (root-relative,
    path-relative, absolute, protocol-relative, javascript:, fragment-only)."""
    d = _read(spark, sf_dir, "documents")
    k = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"),
        (k % 97).cast("string"),
        F.lit(".example/d"),
        (k % 5).cast("string"),
        F.lit("/p"),
        k.cast("string"),
    )
    html = F.concat(
        F.lit('<html><body>intro <a href="/x/'),
        ((k * 7) % 1000).cast("string"),
        F.lit('">r</a> mid'),
        F.when(
            k % 2 == 0,
            F.concat(
                F.lit(' <a class="n" href="sub/'),
                (k % 13).cast("string"),
                F.lit('">rel</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            k % 3 == 0,
            F.concat(
                F.lit(' <a href="https://ext'),
                (k % 11).cast("string"),
                F.lit('.example/abs#sec">a</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            k % 5 == 0, F.lit(' <a href="//cdn.example/lib">c</a>')
        ).otherwise(F.lit("")),
        F.when(
            k % 7 == 0, F.lit(' <a href="javascript:void(0)">j</a>')
        ).otherwise(F.lit("")),
        F.when(k % 4 == 0, F.lit(' <a href="#top">t</a>')).otherwise(
            F.lit("")
        ),
        F.lit(" outro</body></html>"),
    )
    return d.select(url.alias("url"), html.alias("html"))


def q_extract_links(spark, sf_dir):
    """Anchor-link extraction + href resolution over synthetic crawl html
    (regexp-only, so the oracle replays the identical extraction and
    resolution rules), plus the host-level degree aggregation."""
    from pheknowlator_spark.webtext.links import extract_links

    return extract_links(_link_pages(spark, sf_dir))


def q_host_degrees(spark, sf_dir):
    """Host-level link-graph degrees over the extracted links — the
    crawl-frontier / host-pagerank seed table."""
    from pheknowlator_spark.webtext.links import extract_links, host_degrees

    return host_degrees(extract_links(_link_pages(spark, sf_dir)))


def q_url_dedup(spark, sf_dir):
    """CDX-style latest-capture dedup: messy crawl urls (the
    normalize_urls synth, which genuinely collides after normalization)
    + a capture timestamp; keep the newest capture per canonical url.
    One max_by hash aggregation — the capture history never shuffles."""
    from pheknowlator_spark.webtext.urls import latest_capture, normalize_urls

    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 13 == 0)
    url = F.concat(
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("HTTP://WWW.Shop")).otherwise(
            F.lit("https://shop")
        ),
        (F.col("o_custkey") % 50).cast("string"),
        F.when(
            F.col("o_orderkey") % 2 == 0, F.lit(".Example.COM:80")
        ).otherwise(F.lit(".example.com:8443")),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/item/"), (F.col("o_orderkey") % 40).cast("string"))
        ),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("?utm=9&a=1#frag"))
        .when(F.col("o_orderkey") % 3 == 1, F.lit("?a=1&utm=9"))
        .otherwise(F.lit("#only-frag")),
    )
    captures = normalize_urls(
        o.select(
            url.alias("url"),
            F.col("o_orderdate").alias("warc_ts"),
            (F.col("o_orderkey") % 1000).alias("payload"),
        )
    )
    out = latest_capture(captures, key_col="norm_url", ts_col="warc_ts")
    return out.select("norm_url", "url", "warc_ts", "payload", "host")


def q_snapshot_diff(spark, sf_dir):
    """Incremental-crawl snapshot diff: added/removed/changed/unchanged
    urls between two deterministic snapshots of the customer key space;
    only added+changed would be re-extracted on a monthly refresh."""
    from pheknowlator_spark.webtext.urls import snapshot_diff

    c = _read(spark, sf_dir, "customer").select("c_custkey").distinct()
    key = F.concat(F.lit("https://s.example/u/"), F.col("c_custkey"))
    old = c.filter(F.col("c_custkey") % 5 != 0).select(
        key.alias("norm_url"),
        F.md5(F.concat(F.lit("a"), (F.col("c_custkey") % 7).cast("string"))).alias(
            "content_hash"
        ),
    )
    new = c.filter(F.col("c_custkey") % 3 != 0).select(
        key.alias("norm_url"),
        F.md5(
            F.concat(
                F.lit("a"),
                F.when(F.col("c_custkey") % 11 == 0, F.lit(99))
                .otherwise(F.col("c_custkey") % 7)
                .cast("string"),
            )
        ).alias("content_hash"),
    )
    return snapshot_diff(old, new)


def q_anchor_topk(spark, sf_dir):
    """Anchor-text harvest + per-target top-anchor aggregation over the
    synthetic crawl html — the crowd-sourced label table for link
    targets (regexp-only, so the oracle replays the identical pattern;
    the aggregation replays as a count + row_number pick)."""
    from pheknowlator_spark.webtext.links import anchor_texts, top_anchors

    return top_anchors(anchor_texts(_link_pages(spark, sf_dir)))


def _robots_tables(spark, sf_dir):
    """Deterministic robots.txt corpus + crawl urls over the link-pages
    hosts: every host gets a '*' group (Disallow /d1, Allow /d1/p1 —
    exercising longest-match and allow-wins ties), hosts ≡ 0 mod 3 add a
    pktbot-specific block-all group (exercising agent-group resolution)."""
    d = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 97)
    n = F.col("doc_id")
    host = F.concat(F.lit("h"), n.cast("string"), F.lit(".example"))
    txt = F.concat(
        F.lit("# synthetic robots\nUser-agent: *\nDisallow: /d"),
        (n % 5).cast("string"),
        F.lit("\nAllow: /d"),
        (n % 5).cast("string"),
        F.lit("/p1\n"),
        F.when(
            n % 3 == 0, F.lit("\nUser-agent: pktbot\nDisallow: /\n")
        ).otherwise(F.lit("")),
    )
    robots = d.select(host.alias("host"), txt.alias("robots_txt"))
    pages = _link_pages(spark, sf_dir).select("url")
    return robots, pages


def q_robots_allowed(spark, sf_dir):
    """REP url filtering: parse per-host robots.txt (rule→agent-group
    attachment via one per-host window), resolve the agent group
    (specific beats '*'), longest-rule match with allow-wins ties —
    pages surviving for agent 'pktbot'."""
    from pheknowlator_spark.webtext.robots import parse_robots, robots_filter

    robots, pages = _robots_tables(spark, sf_dir)
    rules = parse_robots(robots)
    return robots_filter(pages, rules, agent="pktbot")


def q_host_quality(spark, sf_dir):
    """Gopher-style domain-level filtering: per-host mean composite
    quality over synthetic doc-backed pages; hosts below the mean floor
    or page floor drop out as whole domains."""
    from pheknowlator_spark.operators.corpus import host_quality_filter

    d = _read(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("https://q"),
            (F.col("doc_id") % 23).cast("string"),
            F.lit(".example/p"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "doc_id",
        "text",
    )
    out = host_quality_filter(pages, min_mean_quality=0.7, min_pages=3)
    return out.select(
        "doc_id",
        "host",
        F.round("host_quality", 6).alias("host_quality"),
        "host_pages",
    )


def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-unigram importance weights with lang='en' documents as
    the target distribution; md5-derived buckets so the two LMs and the
    per-doc log-ratio replay exactly in SQL."""
    from pheknowlator_spark.operators.corpus import dsir_weights

    d = _read(spark, sf_dir, "documents")
    out = dsir_weights(d, F.col("lang") == "en", buckets=4096)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("dsir_weight", 6).alias("dsir_weight"),
    )


def q_bloom_seen(spark, sf_dir):
    """Bloom-filter crawl-frontier membership: build the sketch over the
    even-doc urls, probe every url; bit-for-bit md5 positions make the
    sketch words and every verdict (including false positives) replay
    exactly in SQL."""
    from pheknowlator_spark.webtext.urls import bloom_build, bloom_probe

    d = _read(spark, sf_dir, "documents")
    urls = d.select(
        F.concat(
            F.lit("https://b.example/"), F.col("doc_id").cast("string")
        ).alias("url"),
        "doc_id",
    )
    seen = urls.filter(F.col("doc_id") % 2 == 0).select("url")
    bloom = bloom_build(seen, m_bits=1 << 14, k=4)
    return bloom_probe(urls.select("url"), bloom, m_bits=1 << 14, k=4)


def q_transe_eval(spark, sf_dir):
    """TransE link-prediction evaluation (pool-restricted rank, hits@k,
    MRR) over the same lineitem-derived triples as negative_triples,
    with deterministic md5-synthesized dim-8 embeddings so the DuckDB
    oracle re-derives the identical vectors; all distances are quantized
    int64 math, so ranks are bit-exact."""
    from pheknowlator_spark.operators.kg_train import transe_eval

    t = (
        _read(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select(
            F.concat(F.lit("O"), F.col("l_orderkey")).alias("s"),
            F.col("l_returnflag").alias("p"),
            F.concat(F.lit("P"), F.col("l_partkey")).alias("o"),
        )
        .distinct()
    )

    def synth(df, dim=8):
        emb = F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("|", F.col("id"), F.lit(j))), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 997
                )
                / 997.0
                for j in range(1, dim + 1)
            ]
        )
        return df.select("id", emb.alias("embedding"))

    ents = synth(
        t.select(F.col("s").alias("id"))
        .unionByName(t.select(F.col("o").alias("id")))
        .distinct()
    )
    rels = synth(t.select(F.col("p").alias("id")).distinct())
    return transe_eval(t, ents, rels, pool_size=16)


def q_coalesce_intervals(spark, sf_dir):
    """Temporal-KG validity compaction: each event opens a validity
    interval [ts, ts + value-as-int minutes] per (user, event_type)
    fact; overlapping-or-touching intervals merge into islands via one
    per-key running-max-end window + one aggregation."""
    from pheknowlator_spark.operators.temporal import coalesce_intervals

    iv = _read(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").alias("start"),
        F.expr("timestampadd(MINUTE, CAST(value AS INT), ts)").alias("end"),
    )
    return coalesce_intervals(iv, ["user_id", "event_type"])


def q_domain_range_violations(spark, sf_dir):
    """SHACL-lite gate over the nation/customer KG: locatedIn requires
    Nation→Region, citizenOf requires Customer→Nation; the types table
    deliberately omits every third customer so the domain side has real
    violations to report."""
    from pheknowlator_spark.operators.validation import domain_range_violations

    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    customer = _read(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 7 == 0
    )
    triples = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("s"),
        F.lit("locatedIn").alias("p"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("o"),
    ).unionByName(
        customer.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("s"),
            F.lit("citizenOf").alias("p"),
            F.concat(F.lit("N"), F.col("c_nationkey")).alias("o"),
        )
    )
    constraints = spark.createDataFrame(
        [
            ("locatedIn", "Nation", "Region"),
            ("citizenOf", "Customer", "Nation"),
        ],
        ["p", "domain", "range"],
    )
    types = (
        nation.select(
            F.concat(F.lit("N"), F.col("n_nationkey")).alias("node"),
            F.lit("Nation").alias("type"),
        )
        .unionByName(
            region.select(
                F.concat(F.lit("R"), F.col("r_regionkey")).alias("node"),
                F.lit("Region").alias("type"),
            )
        )
        .unionByName(
            customer.filter(F.col("c_custkey") % 3 != 0).select(
                F.concat(F.lit("c"), F.col("c_custkey")).alias("node"),
                F.lit("Customer").alias("type"),
            )
        )
    )
    return domain_range_violations(triples, constraints, types)


def q_interval_join(spark, sf_dir):
    """Bucketed point-in-interval join: every click landing inside a
    45-minute window opened by an error event of the same user. The
    bucketed (key, hour-bucket) equality join + exact BETWEEN filter is
    compared against DuckDB's plain range-predicate join."""
    from pheknowlator_spark.operators.temporal import interval_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 45 minutes")).alias("end"),
    )
    return interval_join(
        clicks,
        errors,
        on="user_id",
        left_ts="ts",
        right_start="start",
        right_end="end",
        bucket="1 hour",
    )


def q_tfidf_topk(spark, sf_dir):
    """Per-document top-3 keywords by smoothed TF-IDF; tf/df are exact
    integers, tfidf rounded to 9 dp (one deterministic ln per term —
    Java vs libm agree well past 9 significant digits here)."""
    from pheknowlator_spark.operators.corpus import tfidf_topk

    docs = _read(spark, sf_dir, "documents")
    out = tfidf_topk(docs, k=3)
    return out.select(
        "doc_id", "term", "tf", "df",
        F.round("tfidf", 9).alias("tfidf"), "rank",
    )


def q_lm_score(spark, sf_dir):
    """CCNet-style perplexity scoring: Laplace unigram LM trained on the
    English slice, every document scored. Counts exact; avg_logp rounded
    to 6 dp (per-doc float-sum shuffle-order noise ~1e-12), ppl to 4."""
    from pheknowlator_spark.operators.corpus import lm_score

    docs = _read(spark, sf_dir, "documents")
    out = lm_score(docs, docs.filter(F.col("lang") == "en"))
    return out.select(
        "doc_id", "n_tokens",
        F.round("avg_logp", 6).alias("avg_logp"),
        F.round("ppl", 4).alias("ppl"),
    )


def q_integer_id_map(spark, sf_dir):
    from pheknowlator_spark.operators.graph_algos import assign_integer_ids

    region = _read(spark, sf_dir, "region")
    triples = region.select(
        F.concat(F.lit("R_"), F.col("r_regionkey")).alias("s"),
        F.lit(RDFS_LABEL).alias("p"),
        F.col("r_name").alias("o"),
    )
    id_map, _ = assign_integer_ids(triples)
    return id_map


def q_nt_lines(spark, sf_dir):
    from pheknowlator_spark.functions.rdf import nt_line

    region = _read(spark, sf_dir, "region")
    triples = region.select(
        F.concat(F.lit(OBO), F.lit("REGION_"), F.col("r_regionkey")).alias("s"),
        F.lit(RDFS_LABEL).alias("p"),
        F.col("r_name").alias("o"),
        F.lit(True).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    )
    return triples.select(
        nt_line("s", "p", "o", o_is_literal="o_is_literal").alias("line")
    )


def q_dedup_exact(spark, sf_dir):
    from pheknowlator_spark.operators.dedup import dedup_exact

    docs = _read(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id")


def q_ngram_jaccard(spark, sf_dir):
    from pheknowlator_spark.operators.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    return pairs.select("a", "b")  # drop the float score from the compare


def q_token_stats(spark, sf_dir):
    from pheknowlator_spark.functions.text import (
        lang_id,
        quality_score,
        token_count_bpe,
        token_count_ws,
    )

    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws(F.col("text")).alias("tok_ws"),
        token_count_bpe(F.col("text")).alias("tok_bpe"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_guess"),
    )


def q_token_percentiles(spark, sf_dir):
    """Per-language token-length percentiles (dataset-curation stat);
    Spark exact `percentile` interpolates with the same (1-d)·a + d·b
    formula as DuckDB quantile_cont — byte-comparable."""
    from pheknowlator_spark.functions.text import token_length_distribution

    return token_length_distribution(_read(spark, sf_dir, "documents"))


def q_ann_quantized_topk(spark, sf_dir):
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = emb.select("vec_id", F.col("embedding").alias("cv"))
    qdot = F.aggregate(
        F.zip_with(
            "qv",
            "cv",
            lambda x, y: (
                F.floor(x.cast("double") * 1000) * F.floor(y.cast("double") * 1000)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = queries.crossJoin(corpus).select(
        "query_id", "vec_id", qdot.alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "rank")
    )


def q_mentions(spark, sf_dir):
    from pheknowlator_spark.webtext.mentions import detect_mentions

    mentions = detect_mentions(_doc_pages(spark, sf_dir), _doc_dictionary(spark))
    return mentions.select(
        F.col("url").alias("doc_id"), "surface", "curie"
    ).distinct()


def q_comention_edges(spark, sf_dir):
    from pheknowlator_spark.webtext.mentions import detect_mentions
    from pheknowlator_spark.webtext.pipeline import derive_comention_edges

    mentions = detect_mentions(_doc_pages(spark, sf_dir), _doc_dictionary(spark))
    return derive_comention_edges(mentions, min_pages=2)


def q_comention_pmi(spark, sf_dir):
    """PMI-weighted co-mention pairs (page-level counts, N = pages with
    ≥1 linked mention): the principled edge weight over the same mention
    universe as comention_edges. Counts are exact integers; the single
    ln per pair agrees with DuckDB well past the 9-dp rounding."""
    from pheknowlator_spark.webtext.mentions import detect_mentions
    from pheknowlator_spark.webtext.pipeline import comention_pmi

    mentions = detect_mentions(_doc_pages(spark, sf_dir), _doc_dictionary(spark))
    out = comention_pmi(mentions, min_pages=2)
    return out.select(
        "c1", "c2", "n_pages", "n1", "n2",
        F.round("pmi", 9).alias("pmi"),
    )


def q_comention_wilson(spark, sf_dir):
    """Wilson-score lower bound on co-mention precision (k = co-mention
    pages, n = min of the two entities' page counts, z = 1.96) — the
    confidence-adjusted edge weight. The oracle replays the identical
    IEEE expression order, so 9-dp rounding is belt-and-braces."""
    from pheknowlator_spark.webtext.mentions import detect_mentions
    from pheknowlator_spark.webtext.pipeline import comention_wilson

    mentions = detect_mentions(_doc_pages(spark, sf_dir), _doc_dictionary(spark))
    return comention_wilson(mentions, min_pages=2)


def q_events_windowed(spark, sf_dir):
    events = _read(spark, sf_dir, "events")
    # tumbling 1-hour window
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("hour"), "event_type", "cnt")
    )


def q_events_sessionized(spark, sf_dir):
    """Session windows (30-min gap) per user over the events table; the
    result is pinned by a gaps-and-islands SQL oracle."""
    from pheknowlator_spark.operators.temporal import sessionized_event_counts

    events = _read(spark, sf_dir, "events")
    return sessionized_event_counts(events, gap="30 minutes")


def q_minhash_near_dup(spark, sf_dir):
    """MinHash banding → candidate pairs → EXACT-Jaccard re-rank. Because
    verification is exact, the output equals the exact n-gram-Jaccard pair
    set whenever banding recall is 1.0 (verified at the gate SFs) — so the
    DuckDB exact-Jaccard oracle applies; any banding miss would surface as
    a hash mismatch."""
    from pheknowlator_spark.operators.dedup import minhash_near_duplicates

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return minhash_near_duplicates(docs, threshold=0.2).select("a", "b")


def _twin_corpus(spark, sf_dir):
    """The embeddings (as doubles) plus 50 synthesized twins: vec_id+10000
    with element 0 nudged, every other element copied."""
    emb = _read(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    el0 = F.element_at("embedding", 1).cast("double") * 0.9 + 0.05
    twins = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.concat(
            F.array(el0),
            F.transform(
                F.slice("embedding", 2, 63), lambda x: x.cast("double")
            ),
        ).alias("embedding"),
    )
    return base.unionByName(twins)


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup over the corpus plus 50 synthesized twins
    (vec_id+10000, element 0 nudged) — LSH-bucketed candidates + exact
    cosine verify must recover exactly the twin pairs (threshold 0.9 sits
    far above the corpus's max natural cosine of 0.52)."""
    from pheknowlator_spark.operators.dedup import embedding_near_duplicates

    corpus = _twin_corpus(spark, sf_dir)
    pairs = embedding_near_duplicates(corpus, threshold=0.9, dim=64)
    return pairs.select("a", "b")


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup with the md5-derived 64-bit shingle hash (bit
    pattern of DuckDB's CAST('0x'||substring(md5(s),1,16) AS UBIGINT), so
    the whole computation is SQL-reproducible). Pigeonhole banding with
    blocks = max_hamming+1 makes the result EXACTLY the hamming-ball pair
    set, hence the all-pairs DuckDB oracle applies. Production default
    stays xxhash64 (faster; same banding plan)."""
    from pheknowlator_spark.operators.dedup import (
        md5_hash64,
        simhash_near_duplicates,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash_near_duplicates(docs, max_hamming=6, hash_fn=md5_hash64)


def q_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH bucketing + exact cosine re-rank. At bits=3 /
    tables=12 the candidate set covers the true top-5 on the gate data, so
    the output equals exact cosine top-k and the DuckDB cosine oracle
    applies — a recall regression would surface as a hash mismatch."""
    from pheknowlator_spark.operators.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    dim = 64  # testdata embeddings are 64-d by generation contract
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(emb, queries, k=5, dim=dim, bits=3, tables=12)
    return out.select("query_id", "vec_id", "rank")


def q_ivf_topk(spark, sf_dir):
    """IVF coarse quantization with deterministic centroids (first 16
    vectors by id): corpus→cell assignment is a min_by hash aggregation
    over the broadcast-centroid cross join (no window sort), queries probe
    4 cells. With fixed centroids the ENTIRE computation — assignment,
    probing, in-cell top-k — is re-derived closed-form in the DuckDB
    oracle, so the gate checks IVF semantics exactly rather than
    coincidental recall vs brute force. (The k-means-trained variant is
    pytest-asserted equal to brute force in test_training_ops.)"""
    from pheknowlator_spark.operators.similarity import ivf_topk

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4)
    return out.select("query_id", "vec_id", "rank")


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing (rolling-hash) document fingerprints with the md5-derived
    63-bit hash — the whole selection (ordered k-gram hashes → per-window
    min → distinct) re-derives closed-form in DuckDB."""
    from pheknowlator_spark.operators.dedup import (
        md5_hash64,
        winnow_fingerprints,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return winnow_fingerprints(
        docs, shingle_k=3, window=4, hash_fn=md5_hash64
    )


def q_winnow_pairs(spark, sf_dir):
    """Winnowing consumer: shared-fingerprint candidate pairs with the
    per-pair MOSS match score (shared selected-fingerprint count), hot
    fingerprints dropped by document frequency (max_df=3 — the common-code
    elimination guard that also bounds the bucket join at scale)."""
    from pheknowlator_spark.operators.dedup import md5_hash64, winnow_pairs

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return winnow_pairs(
        docs, shingle_k=3, window=4, min_matches=2, max_df=3,
        hash_fn=md5_hash64,
    )


def q_near_dup_clusters(spark, sf_dir):
    """Pairs → clusters → canonical id: connected components over the
    exact n-gram Jaccard pair table (threshold 0.2), every doc mapped to
    the min doc id of its component (singletons to themselves) — the
    step that makes "keep exactly one per near-dup group" well-defined.
    Oracle: the same pair predicate + a recursive-CTE reachability
    closure + min per node, left-joined back over all doc ids."""
    from pheknowlator_spark.operators.dedup import (
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    return near_dup_clusters(docs, pairs.select("a", "b"))


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (top-word / top-2-gram /
    duplicate-5-gram fractions) as pure Column math — zero shuffles,
    whole-stage codegen."""
    from pheknowlator_spark.functions.text import repetition_stats

    docs = _read(spark, sf_dir, "documents")
    rep = repetition_stats(F.col("text"))
    return docs.select(
        "doc_id",
        rep["top_word_frac"].alias("top_word_frac"),
        rep["top_2gram_frac"].alias("top_2gram_frac"),
        rep["dup_5gram_frac"].alias("dup_5gram_frac"),
    )


def q_contamination_check(spark, sf_dir):
    """Benchmark decontamination: docs 50-399 checked for 6-gram overlap
    against a 50-doc 'benchmark suite' (docs 0-49); benchmark grams are
    broadcast, corpus side is map-side explode + broadcast join +
    partially-combined per-doc counts."""
    from pheknowlator_spark.operators.corpus import contamination_check

    docs = _read(spark, sf_dir, "documents")
    corpus = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 400))
    bench = docs.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_check(corpus, bench, n=6)


def q_stratified_sample(spark, sf_dir):
    """Deterministic hash-bucket stratified sampling by language
    (en 0.5, de 0.25, fr 0, others 0.125): the surviving set is a pure
    function of doc_id — identical across runs, partitionings, and
    cluster sizes — and bit-reproducible in ANSI SQL via the md5 bucket."""
    from pheknowlator_spark.operators.corpus import stratified_sample

    docs = _read(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        "lang",
        {"en": 0.5, "de": 0.25, "fr": 0.0},
        default_fraction=0.125,
    )
    return out.select("doc_id", "lang")


def q_chunk_documents(spark, sf_dir):
    """Fixed-size token-window chunking with overlap (max 32, stride 24):
    the curation→tokenization chunking step, one narrow stage (split +
    transform + explode, no shuffle/UDF)."""
    from pheknowlator_spark.functions.text import chunk_documents

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return chunk_documents(docs, max_tokens=32, stride=24)


def q_pii_scrub(spark, sf_dir):
    """PII masking + density counts. The synthetic corpus contains no
    PII, so both engines first append deterministic doc_id-derived
    emails/IPs to a subset of rows (same concat in SQL), then scrub —
    exercising the RE2-compatible regexes end-to-end with byte-exact
    masked text on both sides."""
    from pheknowlator_spark.functions.text import scrub_pii

    docs = _read(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1 logged"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    s = scrub_pii(F.col("text"))
    return aug.select(
        "doc_id",
        s["n_emails"].alias("n_emails"),
        s["n_ips"].alias("n_ips"),
        s["scrubbed"].alias("scrubbed"),
    )


def q_budget_sample(spark, sf_dir):
    """Token-budget corpus mixing: per-source char budgets → fraction =
    min(1, budget/weight) → the same deterministic md5 bucket filter.
    One stratum gets an over-budget cap (fraction 1), the rest sample
    down; the oracle recomputes the fractions from the same aggregate."""
    from pheknowlator_spark.operators.corpus import budget_sample

    docs = _read(spark, sf_dir, "documents")
    out = budget_sample(
        docs,
        "source",
        {"src0": 4000.0, "src1": 1_000_000.0},
        weight_col="n_chars",
        default_budget=3000.0,
    )
    return out.select("doc_id", "source")


def q_kmeans_centroids(spark, sf_dir):
    """Distributed Lloyd k-means trainer under the oracle gate: 2
    iterations from the deterministic first-8-by-id init, centroids
    emitted as (cid, pos, val) rows rounded to 6 decimals (Spark's
    distributed partial-sum means and DuckDB's sequential means agree to
    ~1e-15 relative; rounding absorbs the summation-order difference).
    The oracle replays the exact iteration chain — assign (argmax cosine,
    centroid-id tie-break), per-dimension means, empty-cluster carryover —
    as chained SQL CTEs."""
    from pheknowlator_spark.operators.similarity import kmeans_centroids

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    cents = kmeans_centroids(emb, n_centroids=8, iters=2)
    return cents.select(
        F.col("centroid_id").alias("cid"),
        F.posexplode("__cent").alias("pos", "val"),
    ).select(
        "cid", (F.col("pos") + 1).alias("pos"),
        F.round("val", 6).alias("val"),
    )


def q_segment_dedup(spark, sf_dir):
    """Span-level exact dedup with document reassembly (Lee et al. 2022
    at segment granularity): duplicated 4-word segments keep only their
    globally-first occurrence; documents are re-concatenated from the
    survivors. 4-word segments at the gate SF so duplicated spans actually
    occur in the synthetic corpus (production default is 20); the whole
    rule — segment split, corpus frequency, min-(doc,pos) keep, ordered
    reassembly — re-derives closed-form in DuckDB."""
    from pheknowlator_spark.operators.dedup import segment_dedup

    docs = _read(spark, sf_dir, "documents")
    return segment_dedup(docs, words_per_segment=4, min_df=2)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (cluster, then within-cell cosine ≥ τ keep-min-id) over
    the corpus plus 50 synthesized twins (same construction as
    embedding_near_dup) with deterministic centroids (first 8 by id), so
    assignment, in-cell pairing, and the keep flag all re-derive
    closed-form in DuckDB. (The k-means-trained variant is
    pytest-asserted in test_training_ops.)"""
    from pheknowlator_spark.operators.similarity import semantic_dedup

    corpus = _twin_corpus(spark, sf_dir)
    return semantic_dedup(corpus, threshold=0.9, n_centroids=8)


def q_multimodal_features(spark, sf_dir):
    """Multimodal decode plumbing: the mapInPandas feature extraction runs
    end-to-end (fake codec) and the query returns the gate-sortable scalar
    projection — byte counts and feature dims round-tripped through the
    Arrow crossing (the raw array<float> column is not pandas-sortable)."""
    from pheknowlator_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )

    feats = extract_features(synthetic_media(spark, 32))
    return feats.select(
        "content_id",
        "modality",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.size("feature").cast("long").alias("feature_dim"),
    )


def q_edge_type_stats(spark, sf_dir):
    """A3: per-edge-type triple/subject/object counts over a typed triple
    table (edge_type_statistics, reference knowledge_graph.py:295-314)."""
    from pheknowlator_spark.operators.stats import edge_type_statistics

    li = _read(spark, sf_dir, "lineitem")
    triples = li.select(
        F.col("l_linestatus").alias("edge_type"),
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("s"),
        F.col("l_returnflag").alias("p"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("o"),
    )
    return edge_type_statistics(triples)


def q_edge_list_stats(spark, sf_dir):
    from pheknowlator_spark.operators.edge_list import edge_list_stats

    li = _read(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_returnflag").alias("edge_type"),
        F.col("l_orderkey").cast("string").alias("sub_id"),
        F.col("l_partkey").cast("string").alias("obj_id"),
    )
    return edge_list_stats(edges)


def q_synonym_dictionary(spark, sf_dir):
    from pheknowlator_spark.operators.stats import synonym_dictionary

    part = _read(spark, sf_dir, "part")
    syn_pred = "http://www.geneontology.org/formats/oboInOwl#hasExactSynonym"
    triples = part.select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("s"),
        F.lit(syn_pred).alias("p"),
        F.col("p_name").alias("o"),
        F.lit(True).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    )
    d = synonym_dictionary(triples, [syn_pred])
    return d.select(
        "surface", "match_type", F.concat_ws("|", "curies").alias("curie_list")
    )


def q_self_loop_filter(spark, sf_dir):
    from pheknowlator_spark.operators.owl_filters import remove_self_loops

    li = _read(spark, sf_dir, "lineitem")
    triples = li.select(
        (F.col("l_partkey") % 10).cast("string").alias("s"),
        F.lit("p").alias("p"),
        (F.col("l_suppkey") % 10).cast("string").alias("o"),
    ).distinct()
    return remove_self_loops(triples)


def q_graph_difference(spark, sf_dir):
    from pheknowlator_spark.operators.owl_filters import graph_difference

    t = _lineitem_triples(spark, sf_dir).distinct()
    subset = t.filter(F.col("p") == "N")
    return graph_difference(t, subset)


def q_deprecated_classes(spark, sf_dir):
    from pheknowlator_spark.operators.owl_filters import deprecated_classes

    orders = _read(spark, sf_dir, "orders")
    owl_dep = "http://www.w3.org/2002/07/owl#deprecated"
    triples = orders.select(
        F.concat(F.lit("O"), F.col("o_orderkey")).alias("s"),
        F.when(F.col("o_orderstatus") == "F", owl_dep).otherwise("status").alias("p"),
        F.when(F.col("o_orderstatus") == "F", "true").otherwise(
            F.col("o_orderstatus")
        ).alias("o"),
        F.lit(True).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    )
    return deprecated_classes(triples)


def q_explode_delimited(spark, sf_dir):
    # F8: multi-valued delimiter-packed cell → rows (explodes_data,
    # reference pkt_kg/utils/data_utils.py:293-330)
    part = _read(spark, sf_dir, "part")
    return part.select(
        "p_partkey", F.explode(F.split(F.col("p_type"), " ")).alias("type_word")
    )


def q_metadata_triples(spark, sf_dir):
    from pheknowlator_spark.operators.metadata import metadata_triples

    nation = _read(spark, sf_dir, "nation")
    customer = _read(spark, sf_dir, "customer")
    metadata = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("uri"),
        F.lit("nodes").alias("kind"),
        F.col("n_name").alias("label"),
        F.concat(F.lit("region "), F.col("n_regionkey")).alias("description"),
        F.array(F.lower(F.col("n_name"))).alias("synonyms"),
    )
    nodes = customer.select(
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("uri")
    ).distinct()
    return metadata_triples(nodes, metadata).select("s", "p", "o")


def q_bnode_namespace_roundtrip(spark, sf_dir):
    from pheknowlator_spark.functions.rdf import (
        add_bnode_namespace,
        remove_bnode_namespace,
    )

    orders = _read(spark, sf_dir, "orders")
    raw = orders.select(
        F.when(F.col("o_orderkey") % 3 == 0,
               F.concat(F.lit("bnode:N"), F.col("o_orderkey")))
        .otherwise(F.concat(F.lit("http://x/O"), F.col("o_orderkey")))
        .alias("node")
    )
    return raw.select(
        "node",
        add_bnode_namespace(F.col("node")).alias("namespaced"),
        remove_bnode_namespace(add_bnode_namespace(F.col("node"))).alias(
            "round_trip"
        ),
    )


def q_canonical_rewrite(spark, sf_dir):
    from pheknowlator_spark.webtext.canonicalize import rewrite_triples

    customer = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    triples = customer.select(
        F.concat(F.lit("C"), F.col("c_custkey")).alias("s"),
        F.lit("locatedIn").alias("p"),
        F.concat(F.lit("N"), F.col("c_nationkey")).alias("o"),
    )
    cmap = nation.select(
        F.concat(F.lit("N"), F.col("n_nationkey")).alias("curie"),
        F.concat(F.lit("R"), F.col("n_regionkey")).alias("canonical"),
    )
    return rewrite_triples(triples, cmap)


_DBXREF = "http://www.geneontology.org/formats/oboInOwl#hasDbXref"
_OWL_NS = "http://www.w3.org/2002/07/owl#"


def _annotation_graph(spark, sf_dir):
    """Deterministic OWL graph with axiom reifications + annotation
    assertions over nation/region: case-A axioms (AXIOM_k, key%2==0, both
    annotatedSource/Target URIs), case-C axioms (AXIOM5_k, key%5==0,
    literal target), case-B entities (NATION_k with a direct hasDbXref,
    key%3==0)."""
    nation = _read(spark, sf_dir, "nation")
    n_uri = F.concat(F.lit(OBO + "NATION_"), F.col("n_nationkey"))
    r_uri = F.concat(F.lit(OBO + "REGION_"), F.col("n_regionkey"))
    x_uri = F.concat(F.lit(OBO + "AXIOM_"), F.col("n_nationkey"))
    x5_uri = F.concat(F.lit(OBO + "AXIOM5_"), F.col("n_nationkey"))

    def t(s, p, o, lit=False):
        return F.struct(
            s.alias("s") if isinstance(s, F.Column) else F.lit(s).alias("s"),
            F.lit(p).alias("p") if isinstance(p, str) else p.alias("p"),
            o.alias("o") if isinstance(o, F.Column) else F.lit(o).alias("o"),
            F.lit(lit).alias("o_is_literal"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("string").alias("o_datatype"),
        )

    base = F.array(
        t(n_uri, _RDF_TYPE, F.lit(_OWL_NS + "Class")),
        t(n_uri, _SUBCLASSOF, r_uri),
        t(r_uri, _RDF_TYPE, F.lit(_OWL_NS + "Class")),
    )
    ax = F.when(
        F.col("n_nationkey") % 2 == 0,
        F.array(
            t(x_uri, _RDF_TYPE, F.lit(_OWL_NS + "Axiom")),
            t(x_uri, _OWL_NS + "annotatedSource", n_uri),
            t(x_uri, _OWL_NS + "annotatedProperty", F.lit(_SUBCLASSOF)),
            t(x_uri, _OWL_NS + "annotatedTarget", r_uri),
            t(x_uri, _DBXREF, F.concat(F.lit("nation:"), F.col("n_nationkey")), lit=True),
        ),
    ).otherwise(F.array().cast("array<struct<s:string,p:string,o:string,o_is_literal:boolean,o_lang:string,o_datatype:string>>"))
    ent = F.when(
        F.col("n_nationkey") % 3 == 0,
        F.array(t(n_uri, _DBXREF, F.col("n_name"), lit=True)),
    ).otherwise(F.array().cast("array<struct<s:string,p:string,o:string,o_is_literal:boolean,o_lang:string,o_datatype:string>>"))
    ax5 = F.when(
        F.col("n_nationkey") % 5 == 0,
        F.array(
            t(x5_uri, _RDF_TYPE, F.lit(_OWL_NS + "Axiom")),
            t(x5_uri, _OWL_NS + "annotatedSource", n_uri),
            t(x5_uri, _OWL_NS + "annotatedTarget", F.lit("free text"), lit=True),
            t(x5_uri, _DBXREF, F.lit("c5"), lit=True),
        ),
    ).otherwise(F.array().cast("array<struct<s:string,p:string,o:string,o_is_literal:boolean,o_lang:string,o_datatype:string>>"))
    decl = spark.createDataFrame(
        [(_DBXREF, _RDF_TYPE, _OWL_NS + "AnnotationProperty", False, None, None)],
        "s string, p string, o string, o_is_literal boolean, o_lang string, o_datatype string",
    )
    exploded = (
        nation.select(F.explode(F.concat(base, ax, ent, ax5)).alias("t"))
        .select("t.*")
        .unionByName(decl)
        .distinct()
    )
    return exploded


def q_logic_annotation_split(spark, sf_dir):
    # ONE annotation_flags classification pass with part = CASE over the
    # flag — set-equal to annotation_assertions plus the graph_difference
    # logic side (input is distinct, the flag is a deterministic row
    # function) while evaluating the classification subtree once, not twice
    from pheknowlator_spark.operators.owl_filters import annotation_flags

    g = _annotation_graph(spark, sf_dir)
    flagged = annotation_flags(g)
    return flagged.select(
        F.when(F.col("__annot"), F.lit("annotation"))
        .otherwise(F.lit("logic"))
        .alias("part"),
        "s", "p", "o",
    )


_ANNOTATION_GRAPH_SQL = f"""
g AS (
  SELECT DISTINCT * FROM (
    SELECT '{OBO}NATION_' || n_nationkey AS s, '{_RDF_TYPE}' AS p,
           '{_OWL_NS}Class' AS o FROM nation
    UNION ALL
    SELECT '{OBO}NATION_' || n_nationkey, '{_SUBCLASSOF}',
           '{OBO}REGION_' || n_regionkey FROM nation
    UNION ALL
    SELECT '{OBO}REGION_' || n_regionkey, '{_RDF_TYPE}', '{_OWL_NS}Class'
    FROM nation
    UNION ALL
    SELECT '{OBO}AXIOM_' || n_nationkey, '{_RDF_TYPE}', '{_OWL_NS}Axiom'
    FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT '{OBO}AXIOM_' || n_nationkey, '{_OWL_NS}annotatedSource',
           '{OBO}NATION_' || n_nationkey FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT '{OBO}AXIOM_' || n_nationkey, '{_OWL_NS}annotatedProperty',
           '{_SUBCLASSOF}' FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT '{OBO}AXIOM_' || n_nationkey, '{_OWL_NS}annotatedTarget',
           '{OBO}REGION_' || n_regionkey FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT '{OBO}AXIOM_' || n_nationkey, '{_DBXREF}',
           'nation:' || n_nationkey FROM nation WHERE n_nationkey % 2 = 0
    UNION ALL
    SELECT '{OBO}NATION_' || n_nationkey, '{_DBXREF}', n_name
    FROM nation WHERE n_nationkey % 3 = 0
    UNION ALL
    SELECT '{OBO}AXIOM5_' || n_nationkey, '{_RDF_TYPE}', '{_OWL_NS}Axiom'
    FROM nation WHERE n_nationkey % 5 = 0
    UNION ALL
    SELECT '{OBO}AXIOM5_' || n_nationkey, '{_OWL_NS}annotatedSource',
           '{OBO}NATION_' || n_nationkey FROM nation WHERE n_nationkey % 5 = 0
    UNION ALL
    SELECT '{OBO}AXIOM5_' || n_nationkey, '{_OWL_NS}annotatedTarget',
           'free text' FROM nation WHERE n_nationkey % 5 = 0
    UNION ALL
    SELECT '{OBO}AXIOM5_' || n_nationkey, '{_DBXREF}', 'c5'
    FROM nation WHERE n_nationkey % 5 = 0
    UNION ALL
    SELECT '{_DBXREF}', '{_RDF_TYPE}', '{_OWL_NS}AnnotationProperty'
  )
),
-- closed-form expected annotation subset from the generation rules:
-- case A (AXIOM_k): only the declared-annot payload (X, hasDbXref, ...);
-- case C (AXIOM5_k): all four of its triples;
-- case B (NATION_k %3): its direct (N, hasDbXref, name)
annot AS (
  SELECT '{OBO}AXIOM_' || n_nationkey AS s, '{_DBXREF}' AS p,
         'nation:' || n_nationkey AS o FROM nation WHERE n_nationkey % 2 = 0
  UNION ALL
  SELECT '{OBO}AXIOM5_' || n_nationkey, '{_RDF_TYPE}', '{_OWL_NS}Axiom'
  FROM nation WHERE n_nationkey % 5 = 0
  UNION ALL
  SELECT '{OBO}AXIOM5_' || n_nationkey, '{_OWL_NS}annotatedSource',
         '{OBO}NATION_' || n_nationkey FROM nation WHERE n_nationkey % 5 = 0
  UNION ALL
  SELECT '{OBO}AXIOM5_' || n_nationkey, '{_OWL_NS}annotatedTarget',
         'free text' FROM nation WHERE n_nationkey % 5 = 0
  UNION ALL
  SELECT '{OBO}AXIOM5_' || n_nationkey, '{_DBXREF}', 'c5'
  FROM nation WHERE n_nationkey % 5 = 0
  UNION ALL
  SELECT '{OBO}NATION_' || n_nationkey, '{_DBXREF}', n_name
  FROM nation WHERE n_nationkey % 3 = 0
)"""


def q_metadata_extract(spark, sf_dir):
    """extract_metadata (reference metadata.py:101-155): harvest the
    metadata table from a graph of nation-derived classes + relations."""
    from pheknowlator_spark.operators.metadata import extract_metadata

    nation = _read(spark, sf_dir, "nation")
    lbl = "http://www.w3.org/2000/01/rdf-schema#label"
    iao = OBO + "IAO_0000115"
    syn = "http://www.geneontology.org/formats/oboInOwl#hasExactSynonym"
    n_uri = F.concat(F.lit(OBO + "NATION_"), F.col("n_nationkey"))
    r_uri = F.concat(F.lit(OBO + "REL_"), F.col("n_regionkey"))

    def t(s, p, o, lit):
        return F.struct(
            s.alias("s"), F.lit(p).alias("p"), o.alias("o"),
            F.lit(lit).alias("o_is_literal"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(None).cast("string").alias("o_datatype"),
        )

    arr = F.array(
        t(n_uri, _RDF_TYPE, F.lit(_OWL_NS + "Class"), False),
        t(n_uri, lbl, F.col("n_name"), True),
        t(n_uri, iao, F.concat(F.lit("region "), F.col("n_regionkey")), True),
        t(n_uri, syn, F.lower(F.col("n_name")), True),
        t(r_uri, _RDF_TYPE, F.lit(_OWL_NS + "ObjectProperty"), False),
        t(r_uri, lbl, F.concat(F.lit("rel "), F.col("n_regionkey")), True),
    )
    g = nation.select(F.explode(arr).alias("t")).select("t.*").distinct()
    meta = extract_metadata(g)
    return meta.select(
        "uri", "kind", "label",
        F.coalesce("description", F.lit("")).alias("description"),
        F.concat_ws("|", F.coalesce("synonyms", F.array())).alias("synonym_list"),
    )


def q_owlnets_decode(spark, sf_dir):
    """OWL-NETS decode over a deterministic synthetic ontology: per-nation
    someValuesFrom restrictions, intersectionOf lists, axiom reifications,
    negation restrictions (lacks_part → dropped root + status), per-region
    unionOf lists, plus a plain subclass backbone. The decode itself is an
    iterative forest assignment + applyInPandas tree walk, but the EXPECTED
    output is closed-form from the generation rules (reference decode
    semantics, pkt_kg/owlnets.py:501-589), so a DuckDB oracle applies:

    * someValuesFrom restriction → (NATION_k, part_of, REGION_r) for all k;
    * plain backbone → (NATION_k, subClassOf, ROOT_1) for all k;
    * axiom reification (k%3==0) → direct (NATION_k, subClassOf, REGION_r);
    * intersectionOf (k%2==0) would yield the same (n, subClassOf, reg) but
      the within-root duplicate-(s,o) resolution (A10, owlnets.py:591-619)
      prefers the restriction's part_of — so it contributes nothing;
    * unionOf per region → (member, subClassOf, UNION_r) for the region's
      two lowest-keyed nations (reversed union semantics);
    * negation roots (k%5==0) are dropped entirely;
    * connectivity repair → (X, subClassOf, BFO_0000001) for every
      ancestor-less node: each REGION_r, each UNION_r, and ROOT_1."""
    from pheknowlator_spark.operators.owlnets import run_owlnets

    fixture = _owlnets_fixture(spark, sf_dir)
    out = run_owlnets(fixture, approach="subclass")
    return out["owlnets"].select("s", "p", "o").distinct()


def _owlnets_fixture(spark, sf_dir):
    """Deterministic synthetic OWL ontology over the nation table (shared
    by q_owlnets_decode and bench.py's full_build composition stage)."""
    obo = OBO
    owl = "http://www.w3.org/2002/07/owl#"
    rdf_t = _RDF_TYPE
    sco = _SUBCLASSOF
    first = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
    rest = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
    nil = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
    part_of = obo + "BFO_0000050"

    nations = sorted(
        (r.n_nationkey, r.n_regionkey)
        for r in _read(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .collect()
    )
    rows = [
        (part_of, rdf_t, owl + "ObjectProperty"),
        (obo + "ROOT_1", rdf_t, owl + "Class"),
    ]
    by_region: dict = {}
    for k, r in nations:
        n, reg = f"{obo}NATION_{k}", f"{obo}REGION_{r}"
        by_region.setdefault(r, []).append(n)
        rows += [
            (n, rdf_t, owl + "Class"),
            (reg, rdf_t, owl + "Class"),
            (n, sco, obo + "ROOT_1"),
            # someValuesFrom restriction → (n, part_of, reg)
            (n, sco, f"bnode:r{k}"),
            (f"bnode:r{k}", rdf_t, owl + "Restriction"),
            (f"bnode:r{k}", owl + "onProperty", part_of),
            (f"bnode:r{k}", owl + "someValuesFrom", reg),
        ]
        if k % 2 == 0:
            # intersectionOf list → (n, subClassOf, reg)
            rows += [
                (n, sco, f"bnode:c{k}"),
                (f"bnode:c{k}", rdf_t, owl + "Class"),
                (f"bnode:c{k}", owl + "intersectionOf", f"bnode:cl{k}"),
                (f"bnode:cl{k}", first, reg),
                (f"bnode:cl{k}", rest, nil),
            ]
        if k % 3 == 0:
            # axiom reification → direct (n, subClassOf, reg)
            ax = f"{obo}AX_{k}"
            rows += [
                (ax, rdf_t, owl + "Axiom"),
                (ax, owl + "annotatedSource", n),
                (ax, owl + "annotatedProperty", sco),
                (ax, owl + "annotatedTarget", reg),
            ]
        if k % 5 == 0:
            # negation restriction → root dropped, negation status row
            neg = f"{obo}NEG_{k}"
            rows += [
                (neg, rdf_t, owl + "Class"),
                (neg, sco, f"bnode:n{k}"),
                (f"bnode:n{k}", rdf_t, owl + "Restriction"),
                (f"bnode:n{k}", owl + "onProperty", obo + "lacks_part"),
                (f"bnode:n{k}", owl + "someValuesFrom", reg),
            ]
    for r, members in sorted(by_region.items()):
        # unionOf over the region's first two nations → (member, sco, U)
        u = f"{obo}UNION_{r}"
        rows += [
            (u, rdf_t, owl + "Class"),
            (u, sco, f"bnode:u{r}"),
            (f"bnode:u{r}", rdf_t, owl + "Class"),
            (f"bnode:u{r}", owl + "unionOf", f"bnode:ul{r}a"),
            (f"bnode:ul{r}a", first, members[0]),
            (f"bnode:ul{r}a", rest, f"bnode:ul{r}b"),
            (f"bnode:ul{r}b", first, members[1] if len(members) > 1 else members[0]),
            (f"bnode:ul{r}b", rest, nil),
        ]
    return spark.createDataFrame(
        [(s, p, o, False, None, None) for s, p, o in rows],
        "s string, p string, o string, o_is_literal boolean, "
        "o_lang string, o_datatype string",
    )


def q_pipeline_triples(spark, sf_dir):
    """Flagship end-to-end: documents → mentions → linking → co-mention
    edges → subclass-core triple construction, fully DuckDB-oracle-checked
    (the oracle re-derives every stage in SQL including the pkt md5 node
    ids)."""
    from pheknowlator_spark.webtext.pipeline import run_pipeline

    pages = _doc_pages(spark, sf_dir)
    out = run_pipeline(pages, _doc_dictionary(spark), min_pages=2)
    return out["triples"].select("s", "p", "o").distinct()


SAME_AS_PAIRS = [("CHEBI_200", "CHEBI_100"), ("DOID_200", "DOID_100")]


def q_pipeline_canonicalized(spark, sf_dir):
    """Flagship pipeline WITH canonicalization: same-as edges → iterative
    connected components → broadcast identity rewrite before pair
    derivation (north rule: union-find over same-as edges merging node
    identities). Fully oracle-checked including the merged pkt md5 ids."""
    from pheknowlator_spark.webtext.pipeline import run_pipeline

    pages = _doc_pages(spark, sf_dir)
    same_as = spark.createDataFrame(SAME_AS_PAIRS, "a string, b string")
    out = run_pipeline(
        pages, _doc_dictionary(spark), same_as=same_as, min_pages=2
    )
    return out["triples"].select("s", "p", "o").distinct()


def q_pipeline_instance(spark, sf_dir):
    """Flagship pipeline with the INSTANCE construction approach (G2 at
    pipeline level): pkt instance ids hashed over least(rel, inverse) with
    subject/object suffixes — fully oracle-checked."""
    from pheknowlator_spark.webtext.pipeline import run_pipeline

    pages = _doc_pages(spark, sf_dir)
    out = run_pipeline(
        pages, _doc_dictionary(spark), min_pages=2, approach="instance"
    )
    return out["triples"].select("s", "p", "o").distinct()


def q_pipeline_triples_synthetic(spark, sf_dir):
    """run_pipeline over 200 generated html pages — the bench
    configuration, now with a FULL DuckDB oracle: page generation is
    md5-per-index (``sources/pages.py``), and DuckDB's
    ``CAST('0x'||substring(md5(s),1,16) AS UBIGINT)`` reproduces the
    generator's ``int.from_bytes(md5(...).digest()[:8], 'big')`` exactly,
    so the oracle re-derives which surface slots each page emits (filler
    words can never form a dictionary surface, and no surface nests inside
    another at word granularity — so slot membership IS the mention set),
    applies the linker's deterministic ambiguity rule (equal-length
    candidates → lexicographic-min CURIE), the 6-entry namespace-pair edge
    typing with swap orientation, the ≥2-page gate, and the md5-level
    subclass construction with inverses."""
    from pheknowlator_spark.sources.pages import entity_dictionary, generate_pages
    from pheknowlator_spark.webtext.pipeline import run_pipeline

    pages = generate_pages(spark, 200)
    out = run_pipeline(pages, entity_dictionary(spark), min_pages=2)
    return out["triples"].select("s", "p", "o").distinct()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "subclass_core": q_subclass_core,
        "subclass_core_inverse": q_subclass_core_inverse,
        "instance_core_inverse": q_instance_core_inverse,
        "edge_filter_project": q_edge_filter_project,
        "edge_dedup_window": q_edge_dedup_window,
        "identifier_map_join": q_identifier_map_join,
        "label_format": q_label_format,
        "duplicate_predicate_resolution": q_duplicate_predicate_resolution,
        "graph_stats": q_graph_stats,
        "top_predicates": q_top_predicates,
        "mode_per_group": q_mode_per_group,
        "symmetry_antijoin": q_symmetry_antijoin,
        "connected_components": q_connected_components,
        "transitive_closure": q_transitive_closure,
        "pagerank": q_pagerank,
        "triangle_stats": q_triangle_stats,
        "bfs_depths": q_bfs_depths,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "negative_triples": q_negative_triples,
        "random_walks": q_random_walks,
        "khop_neighbors": q_khop_neighbors,
        "verbalize_triples": q_verbalize_triples,
        "k_core": q_k_core,
        "coalesce_intervals": q_coalesce_intervals,
        "domain_range_violations": q_domain_range_violations,
        "transe_eval": q_transe_eval,
        "normalize_urls": q_normalize_urls,
        "extract_links": q_extract_links,
        "host_degrees": q_host_degrees,
        "url_dedup": q_url_dedup,
        "snapshot_diff": q_snapshot_diff,
        "anchor_topk": q_anchor_topk,
        "robots_allowed": q_robots_allowed,
        "host_quality": q_host_quality,
        "dsir_weights": q_dsir_weights,
        "bloom_seen": q_bloom_seen,
        "link_prediction": q_link_prediction,
        "funnel_counts": q_funnel_counts,
        "cohort_retention": q_cohort_retention,
        "tfidf_topk": q_tfidf_topk,
        "lm_score": q_lm_score,
        "integer_id_map": q_integer_id_map,
        "nt_lines": q_nt_lines,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "token_stats": q_token_stats,
        "token_percentiles": q_token_percentiles,
        "ann_quantized_topk": q_ann_quantized_topk,
        "mentions": q_mentions,
        "comention_edges": q_comention_edges,
        "comention_pmi": q_comention_pmi,
        "comention_wilson": q_comention_wilson,
        "events_windowed": q_events_windowed,
        "events_sessionized": q_events_sessionized,
        "edge_type_stats": q_edge_type_stats,
        "edge_list_stats": q_edge_list_stats,
        "synonym_dictionary": q_synonym_dictionary,
        "self_loop_filter": q_self_loop_filter,
        "graph_difference": q_graph_difference,
        "deprecated_classes": q_deprecated_classes,
        "explode_delimited": q_explode_delimited,
        "metadata_triples": q_metadata_triples,
        "bnode_namespace_roundtrip": q_bnode_namespace_roundtrip,
        "canonical_rewrite": q_canonical_rewrite,
        "logic_annotation_split": q_logic_annotation_split,
        "metadata_extract": q_metadata_extract,
        "minhash_near_dup": q_minhash_near_dup,
        "embedding_near_dup": q_embedding_near_dup,
        "simhash_near_dup": q_simhash_near_dup,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "kmeans_centroids": q_kmeans_centroids,
        "segment_dedup": q_segment_dedup,
        "semantic_dedup": q_semantic_dedup,
        "winnow_fingerprint": q_winnow_fingerprint,
        "winnow_pairs": q_winnow_pairs,
        "near_dup_clusters": q_near_dup_clusters,
        "repetition_stats": q_repetition_stats,
        "contamination_check": q_contamination_check,
        "stratified_sample": q_stratified_sample,
        "pii_scrub": q_pii_scrub,
        "budget_sample": q_budget_sample,
        "chunk_documents": q_chunk_documents,
        "multimodal_features": q_multimodal_features,
        "owlnets_decode": q_owlnets_decode,
        "pipeline_triples": q_pipeline_triples,
        "pipeline_canonicalized": q_pipeline_canonicalized,
        "pipeline_instance": q_pipeline_instance,
        "pipeline_triples_synthetic": q_pipeline_triples_synthetic,
    }


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

_DICT_VALUES = ", ".join(f"('{s}', '{c}')" for s, c, _ in DOC_DICTIONARY)

_MENTIONS_CTE = f"""
mentions AS (
  SELECT DISTINCT CAST(d.doc_id AS VARCHAR) AS doc_id, v.surface, v.curie
  FROM documents d, (VALUES {_DICT_VALUES}) v(surface, curie)
  WHERE regexp_matches(lower(d.text), '\\b' || v.surface || '\\b')
)"""

_EN_MARKERS = "['the','and','of','to','in','is','that','for','with']"
_LANG_HITS = {
    "de": "['der','die','und','das','ist','nicht','ein','mit']",
    "en": _EN_MARKERS,
    "es": "['el','la','los','que','es','una','por','con']",
    "fr": "['le','la','les','et','est','une','dans','pour']",
}


_TYPED_PAIRS_SQL = """
    pe AS (SELECT DISTINCT doc_id, curie FROM mentions),
    pairs AS (
      SELECT x.doc_id, x.curie AS c1, y.curie AS c2
      FROM pe x JOIN pe y ON x.doc_id = y.doc_id AND x.curie < y.curie),
    typed AS (
      SELECT doc_id,
        CASE WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'DOID' THEN 'chemical-disease'
             WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'PR' THEN 'chemical-protein'
             WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN 'protein-disease'
             END AS edge_type,
        CASE WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN c2 ELSE c1 END AS sub_id,
        CASE WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN c1 ELSE c2 END AS obj_id,
        CASE WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'DOID' THEN 'RO_0002606'
             WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'PR' THEN 'RO_0002434'
             WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN 'RO_0003302'
             END AS rel,
        CASE WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'PR' THEN 'RO_0002434'
             END AS inv_rel
      FROM pairs)
"""


def _pipeline_triples_sql(
    curie_rewrite: str | None = None, approach: str = "subclass"
) -> str:
    """Full flagship-pipeline oracle: lang-filtered mention scan → linked
    pairs → min_pages gate → constructor expansion with pkt md5 ids
    (subclass: 9 fwd +9 inverse triples; instance: 6 fwd +2 inverse with
    the least(rel, inv) hash relation).
    ``curie_rewrite``: optional SQL expression over ``v.curie`` applying
    the canonicalization map (same-as CC closed form)."""
    curie_expr = curie_rewrite or "v.curie"
    mentions_cte = f"""
mentions AS (
  SELECT DISTINCT CAST(d.doc_id AS VARCHAR) AS doc_id, v.surface,
         {curie_expr} AS curie
  FROM documents d, (VALUES {_DICT_VALUES}) v(surface, curie)
  WHERE d.lang = 'en'
    AND regexp_matches(lower(d.text), '\\b' || v.surface || '\\b')
)"""
    if approach == "instance":
        core = (
            "h AS (SELECT n1, n2, rel, inv,"
            f" '{PKT}N' || md5('<'||n1||'><'||coalesce(least(rel, inv), rel)||'><'||n2||'>'||'subject') AS u1,"
            f" '{PKT}N' || md5('<'||n1||'><'||coalesce(least(rel, inv), rel)||'><'||n2||'>'||'object') AS u2"
            " FROM e)"
        )
        body = f"""
  SELECT u1 AS s, '{_RDF_TYPE}' AS p, n1 AS o FROM h
  UNION ALL SELECT u1, '{_RDF_TYPE}', '{_OWL}NamedIndividual' FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', n2 FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', '{_OWL}NamedIndividual' FROM h
  UNION ALL SELECT u1, rel, u2 FROM h
  UNION ALL SELECT rel, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h
  UNION ALL SELECT u2, inv, u1 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT inv, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h WHERE inv IS NOT NULL"""
        return f"""
WITH {mentions_cte.strip()},
{_TYPED_PAIRS_SQL.strip()},
gated AS (
  SELECT edge_type, sub_id, obj_id, rel, inv_rel
  FROM typed WHERE edge_type IS NOT NULL
  GROUP BY ALL HAVING count(DISTINCT doc_id) >= 2),
e AS (
  SELECT DISTINCT '{OBO}' || sub_id AS n1, '{OBO}' || obj_id AS n2,
         '{OBO}' || rel AS rel,
         CASE WHEN inv_rel IS NULL THEN NULL ELSE '{OBO}' || inv_rel END AS inv
  FROM gated),
{core}
SELECT DISTINCT s, p, o FROM ({body})
"""
    core = (
        "h AS (SELECT n1, n2, rel, inv,"
        f" '{PKT}N' || md5('<'||n1||'><'||rel||'><'||n2||'>') AS u1,"
        f" '{PKT}bnode/N' || md5('<'||n1||'><'||rel||'><'||n2||'>'||'<{_OWL}Restriction>') AS u2,"
        f" '{PKT}N' || md5('<'||n2||'><'||inv||'><'||n1||'>') AS u3,"
        f" '{PKT}bnode/N' || md5('<'||n2||'><'||inv||'><'||n1||'>'||'<{_OWL}Restriction>') AS u4"
        " FROM e)"
    )
    fwd = f"""
  SELECT n1 AS s, '{_RDF_TYPE}' AS p, '{_OWL}Class' AS o FROM h
  UNION ALL SELECT u1, '{_SUBCLASSOF}', n1 FROM h
  UNION ALL SELECT u1, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u1, '{_SUBCLASSOF}', u2 FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', '{_OWL}Restriction' FROM h
  UNION ALL SELECT u2, '{_OWL}someValuesFrom', n2 FROM h
  UNION ALL SELECT n2, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u2, '{_OWL}onProperty', rel FROM h
  UNION ALL SELECT rel, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h"""
    bwd = f"""
  UNION ALL SELECT n2, '{_RDF_TYPE}', '{_OWL}Class' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u3, '{_SUBCLASSOF}', n2 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u3, '{_RDF_TYPE}', '{_OWL}Class' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u3, '{_SUBCLASSOF}', u4 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u4, '{_RDF_TYPE}', '{_OWL}Restriction' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u4, '{_OWL}someValuesFrom', n1 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT n1, '{_RDF_TYPE}', '{_OWL}Class' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u4, '{_OWL}onProperty', inv FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT inv, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h WHERE inv IS NOT NULL"""
    return f"""
WITH {mentions_cte.strip()},
{_TYPED_PAIRS_SQL.strip()},
gated AS (
  SELECT edge_type, sub_id, obj_id, rel, inv_rel
  FROM typed WHERE edge_type IS NOT NULL
  GROUP BY ALL HAVING count(DISTINCT doc_id) >= 2),
e AS (
  SELECT DISTINCT '{OBO}' || sub_id AS n1, '{OBO}' || obj_id AS n2,
         '{OBO}' || rel AS rel,
         CASE WHEN inv_rel IS NULL THEN NULL ELSE '{OBO}' || inv_rel END AS inv
  FROM gated),
{core}
SELECT DISTINCT s, p, o FROM ({fwd}{bwd})
"""


# surface → linked CURIE for the synthetic-page dictionary
# (sources/pages.py entity_dictionary_rows; 'cold' is ambiguous and the
# linker's equal-length tie-break keeps the lexicographic-min CURIE)
_SYN_SURF_CURIE = [
    ("cancer", "DOID_162"), ("tp53", "PR_P04637"), ("diabetes", "DOID_9351"),
    ("aspirin", "CHEBI_15365"), ("acetylsalicylic acid", "CHEBI_15365"),
    ("hepatomegaly", "HP_0002240"), ("liver disease", "DOID_409"),
    ("schizophrenia", "DOID_5419"), ("insulin", "PR_P01308"),
    ("glucose", "CHEBI_17234"), ("kinase inhibitor", "CHEBI_76980"),
    ("heart attack", "DOID_5844"), ("myocardial infarction", "DOID_5844"),
    ("brca1", "PR_P38398"), ("adenocarcinoma", "DOID_299"),
    ("cold", "CHEBI_fake_cold"),
]
_SYN_HOT = ["cancer", "tp53", "diabetes"]
# entity_dictionary_rows() surface order: 3 hot + 12 cold + 2 ambiguous
_SYN_ALL17 = _SYN_HOT + [
    "aspirin", "acetylsalicylic acid", "hepatomegaly", "liver disease",
    "schizophrenia", "insulin", "glucose", "kinase inhibitor",
    "heart attack", "myocardial infarction", "brca1", "adenocarcinoma",
    "cold", "cold",
]
# webtext.pipeline.DEFAULT_EDGE_TYPES
_SYN_ETYPES = [
    ("CHEBI", "DOID", "chemical-disease", "RO_0002606", None),
    ("CHEBI", "PR", "chemical-protein", "RO_0002434", "RO_0002434"),
    ("PR", "DOID", "protein-disease", "RO_0003302", None),
    ("PR", "HP", "protein-phenotype", "RO_0003302", None),
    ("CHEBI", "HP", "chemical-phenotype", "RO_0002606", None),
    ("DOID", "HP", "disease-phenotype", "RO_0002200", "RO_0004029"),
]


def _synthetic_pipeline_sql(n_pages: int = 200) -> str:
    """Closed-form oracle for q_pipeline_triples_synthetic: DuckDB
    ``CAST('0x'||substring(md5(s),1,16) AS UBIGINT)`` equals the page
    generator's ``_h`` (md5 digest[:8] big-endian), so the per-page word
    slots, language gate, mention sets, linking, pair typing, page gate and
    md5-level construction are all re-derived in SQL."""
    h = "CAST(('0x'||substring(md5({s}),1,16)) AS UBIGINT)"
    hot_list = "list_value(" + ",".join(f"'{s}'" for s in _SYN_HOT) + ")"
    all17 = "list_value(" + ",".join(f"'{s}'" for s in _SYN_ALL17) + ")"
    map_values = ", ".join(f"('{s}', '{c}')" for s, c in _SYN_SURF_CURIE)

    etype_cases, sub_cases, obj_cases, rel_cases, inv_cases = [], [], [], [], []
    for x, y, et, rel, inv in _SYN_ETYPES:
        fwd = f"(ns1 = '{x}' AND ns2 = '{y}')"
        bwd = f"(ns1 = '{y}' AND ns2 = '{x}')"
        cond = f"({fwd} OR {bwd})"
        etype_cases.append(f"WHEN {cond} THEN '{et}'")
        sub_cases.append(f"WHEN {fwd} THEN c1 WHEN {bwd} THEN c2")
        obj_cases.append(f"WHEN {fwd} THEN c2 WHEN {bwd} THEN c1")
        rel_cases.append(f"WHEN {cond} THEN '{rel}'")
        inv_cases.append(
            f"WHEN {cond} THEN "
            + (f"'{inv}'" if inv else "CAST(NULL AS VARCHAR)")
        )

    def cases(lst):
        return "CASE " + " ".join(lst) + " END"

    core = (
        "h AS (SELECT n1, n2, rel, inv,"
        f" '{PKT}N' || md5('<'||n1||'><'||rel||'><'||n2||'>') AS u1,"
        f" '{PKT}bnode/N' || md5('<'||n1||'><'||rel||'><'||n2||'>'||'<{_OWL}Restriction>') AS u2,"
        f" '{PKT}N' || md5('<'||n2||'><'||inv||'><'||n1||'>') AS u3,"
        f" '{PKT}bnode/N' || md5('<'||n2||'><'||inv||'><'||n1||'>'||'<{_OWL}Restriction>') AS u4"
        " FROM e)"
    )
    fwd_rows = f"""
  SELECT n1 AS s, '{_RDF_TYPE}' AS p, '{_OWL}Class' AS o FROM h
  UNION ALL SELECT u1, '{_SUBCLASSOF}', n1 FROM h
  UNION ALL SELECT u1, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u1, '{_SUBCLASSOF}', u2 FROM h
  UNION ALL SELECT u2, '{_RDF_TYPE}', '{_OWL}Restriction' FROM h
  UNION ALL SELECT u2, '{_OWL}someValuesFrom', n2 FROM h
  UNION ALL SELECT n2, '{_RDF_TYPE}', '{_OWL}Class' FROM h
  UNION ALL SELECT u2, '{_OWL}onProperty', rel FROM h
  UNION ALL SELECT rel, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h"""
    bwd_rows = f"""
  UNION ALL SELECT n2, '{_RDF_TYPE}', '{_OWL}Class' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u3, '{_SUBCLASSOF}', n2 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u3, '{_RDF_TYPE}', '{_OWL}Class' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u3, '{_SUBCLASSOF}', u4 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u4, '{_RDF_TYPE}', '{_OWL}Restriction' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u4, '{_OWL}someValuesFrom', n1 FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT n1, '{_RDF_TYPE}', '{_OWL}Class' FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT u4, '{_OWL}onProperty', inv FROM h WHERE inv IS NOT NULL
  UNION ALL SELECT inv, '{_RDF_TYPE}', '{_OWL}ObjectProperty' FROM h WHERE inv IS NOT NULL"""
    return f"""
WITH pages AS (
  SELECT i FROM range(0, {n_pages}) t(i)
  WHERE {h.format(s="'l2:'||i")} % 50 <> 0),
nw AS (
  SELECT i, CAST(40 + {h.format(s="'len:'||i")} % 80 AS BIGINT) AS n
  FROM pages),
slots AS (SELECT i, unnest(range(0, n)) AS w FROM nw),
rs AS (SELECT i, {h.format(s="'word:'||(i*131+w)")} AS r FROM slots),
surf AS (
  SELECT DISTINCT i, CASE
      WHEN r % 100 < 2 THEN {hot_list}[CAST(r % 3 AS INT) + 1]
      WHEN r % 100 < 4 THEN {all17}[CAST(r % 17 AS INT) + 1]
    END AS surface
  FROM rs WHERE r % 100 < 4
  UNION
  SELECT i, 'cancer' FROM pages WHERE i % 12 = 0),
pe AS (
  SELECT DISTINCT s.i AS doc, m.curie
  FROM surf s JOIN (VALUES {map_values}) m(surface, curie)
    ON s.surface = m.surface),
pairs AS (
  SELECT x.doc, x.curie AS c1, y.curie AS c2
  FROM pe x JOIN pe y ON x.doc = y.doc AND x.curie < y.curie),
nsd AS (
  SELECT doc, c1, c2,
         string_split(c1, '_')[1] AS ns1, string_split(c2, '_')[1] AS ns2
  FROM pairs),
typed AS (
  SELECT doc,
         {cases(etype_cases)} AS edge_type,
         {cases(sub_cases)} AS sub_id,
         {cases(obj_cases)} AS obj_id,
         {cases(rel_cases)} AS rel,
         {cases(inv_cases)} AS inv_rel
  FROM nsd),
gated AS (
  SELECT edge_type, sub_id, obj_id, rel, inv_rel
  FROM typed WHERE edge_type IS NOT NULL
  GROUP BY ALL HAVING count(DISTINCT doc) >= 2),
e AS (
  SELECT DISTINCT '{OBO}' || sub_id AS n1, '{OBO}' || obj_id AS n2,
         '{OBO}' || rel AS rel,
         CASE WHEN inv_rel IS NULL THEN NULL ELSE '{OBO}' || inv_rel END AS inv
  FROM gated),
{core}
SELECT DISTINCT s, p, o FROM ({fwd_rows}{bwd_rows})
"""


def _kmeans_oracle_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Closed-form SQL replay of the Lloyd k-means driver loop
    (similarity.kmeans_centroids): deterministic first-k-by-id init, then
    per iteration argmax-cosine assignment (centroid-id ascending
    tie-break, matching the Spark min_by ordering struct), per-dimension
    means, and empty-cluster carryover — one CTE block per iteration."""
    cos = (
        "list_sum(list_transform(list_zip(e.v, c.cent), p -> p[1]*p[2]))"
        " / greatest(sqrt(list_sum(list_transform(e.v, q -> q*q))) *"
        " sqrt(list_sum(list_transform(c.cent, q -> q*q))), 1e-12)"
    )
    blocks = [
        """
        e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
        c0 AS (
          SELECT CAST(vec_id AS VARCHAR) AS cid, v AS cent
          FROM e ORDER BY vec_id LIMIT {k})
        """.format(k=k)
    ]
    for it in range(1, iters + 1):
        blocks.append(
            f"""
        s{it} AS (
          SELECT e.vec_id, e.v, c.cid, {cos} AS sim
          FROM e, c{it - 1} c),
        a{it} AS (
          SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (
              PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM s{it}) WHERE rn = 1),
        m{it} AS (
          SELECT cid, i AS pos, avg(v[i]) AS m
          FROM a{it}, generate_series(1, {dim}) t(i)
          GROUP BY cid, i),
        c{it} AS (
          SELECT c{it - 1}.cid, coalesce(ml.cent, c{it - 1}.cent) AS cent
          FROM c{it - 1} LEFT JOIN (
            SELECT cid, list(m ORDER BY pos) AS cent FROM m{it}
            GROUP BY cid) ml USING (cid))
        """
        )
    return (
        "WITH " + ",".join(blocks) + f"""
        SELECT cid, pos, round(cent[pos], 6) AS val
        FROM c{iters}, generate_series(1, {dim}) t(pos)
    """
    )


def _pagerank_oracle_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Closed-form SQL replay of the pagerank power iteration
    (graph_algos.pagerank) on the orders-%7 customer→order graph: one CTE
    block per iteration — per-node in-contribution sum, dangling-mass
    scalar, damped update. Float literals are string-cast to DOUBLE so
    DuckDB's decimal literal parsing can't change the arithmetic; the
    iteration-constant (1-d)/N is computed as the SAME two IEEE ops
    (exact (1-d) literal, then /N) the Spark driver performs."""
    d = damping
    one_minus_d = repr(1.0 - d)
    blocks = [
        """
        e0 AS (
          SELECT DISTINCT 'c' || o_custkey AS src, 'o' || o_orderkey AS dst
          FROM orders WHERE o_orderkey % 7 = 0),
        deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
        e AS (
          SELECT e0.src, e0.dst, CAST(1 AS DOUBLE) / deg.deg AS w
          FROM e0 JOIN deg USING (src)),
        nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn)
        """
    ]
    for it in range(1, iterations + 1):
        blocks.append(
            f"""
        c{it} AS (
          SELECT e.dst AS node, sum(r.rank * e.w) AS contrib
          FROM e JOIN r{it - 1} r ON e.src = r.node GROUP BY e.dst),
        d{it} AS (
          SELECT coalesce(sum(rank), CAST(0 AS DOUBLE)) AS m
          FROM r{it - 1} WHERE node NOT IN (SELECT src FROM e)),
        r{it} AS (
          SELECT n_.node,
                 CAST('{one_minus_d}' AS DOUBLE) / nn.n
                 + CAST('{d!r}' AS DOUBLE)
                   * (coalesce(c_.contrib, CAST(0 AS DOUBLE)) + d{it}.m / nn.n)
                   AS rank
          FROM nodes n_
          CROSS JOIN nn
          CROSS JOIN d{it}
          LEFT JOIN c{it} c_ ON n_.node = c_.node)
        """
        )
    return (
        "WITH " + ",".join(blocks) + f"""
        SELECT node, round(rank, 9) AS rank FROM r{iterations}
    """
    )


def _simhash_oracle_sql(max_hamming: int = 6, shingle_k: int = 2) -> str:
    """All-pairs DuckDB re-derivation of the md5-hashed SimHash pair set.

    The per-shingle hash CAST('0x'||substring(md5(s),1,16) AS UBIGINT) is
    bit-identical to the Spark side's ``md5_hash64`` (parity-tested), and
    the Spark query's pigeonhole banding (blocks = max_hamming+1) is exact,
    so brute-force hamming over all pairs IS the expected output. 64
    per-bit majority votes are generated as literal UBIGINT mask terms."""
    or_terms = []
    for bit in range(64):
        mask = 1 << bit
        vote = (
            "list_sum(list_transform(hs, h -> CASE WHEN "
            f"(h & CAST({mask} AS UBIGINT)) != CAST(0 AS UBIGINT) "
            "THEN 1 ELSE -1 END))"
        )
        or_terms.append(
            f"CASE WHEN {vote} > 0 THEN CAST({mask} AS UBIGINT) "
            "ELSE CAST(0 AS UBIGINT) END"
        )
    sim_expr = " | ".join(or_terms)
    k = shingle_k
    return f"""
        WITH w AS (
          SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS words
          FROM documents WHERE doc_id < 200
        ), sh AS (
          SELECT doc_id, CASE WHEN len(words) < {k}
            THEN [array_to_string(words, ' ')]
            ELSE list_distinct([array_to_string(words[i:i+{k - 1}], ' ')
                                for i in range(1, len(words) - {k} + 2)])
            END AS shingles
          FROM w
        ), hs AS (
          SELECT doc_id, list_transform(
            shingles, s -> CAST('0x'||substring(md5(s),1,16) AS UBIGINT)) AS hs
          FROM sh
        ), sim AS (
          SELECT doc_id, {sim_expr} AS sim FROM hs
        )
        SELECT x.doc_id AS a, y.doc_id AS b,
               bit_count(xor(x.sim, y.sim)) AS hamming
        FROM sim x JOIN sim y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.sim, y.sim)) <= {max_hamming}
    """


# shared winnowing-fingerprint derivation (used by both winnow oracles):
# ordered 3-gram md5 hashes (63-bit masked), window-of-4 minima, distinct
_WINNOW_FPS_CTE = r"""w AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents WHERE doc_id < 300
            ), sh AS (
              SELECT doc_id, CASE WHEN len(words) < 3
                THEN [array_to_string(words, ' ')]
                ELSE [array_to_string(words[i:i+2], ' ')
                      for i in range(1, len(words) - 3 + 2)]
                END AS sh
              FROM w
            ), hs AS (
              SELECT doc_id, list_transform(sh, s ->
                CAST(CAST('0x'||substring(md5(s),1,16) AS UBIGINT)
                     & CAST(9223372036854775807 AS UBIGINT) AS BIGINT)) AS hs
              FROM sh
            ), fp AS (
              SELECT doc_id, list_distinct(CASE WHEN len(hs) < 4
                THEN [list_min(hs)]
                ELSE [list_min(hs[i:i+3])
                      for i in range(1, len(hs) - 4 + 2)]
                END) AS fps
              FROM hs
            ), fps AS (
              SELECT DISTINCT doc_id, unnest(fps) AS fingerprint FROM fp
            )"""


# DuckDB replay of _link_pages (the synthetic anchor-bearing crawl html) —
# shared by the extract_links / host_degrees / anchor_topk / robots_allowed
# oracles
_LINK_PAGES_SQL = """
              SELECT
                'https://h' || CAST(doc_id % 97 AS VARCHAR) || '.example/d'
                  || CAST(doc_id % 5 AS VARCHAR) || '/p'
                  || CAST(doc_id AS VARCHAR) AS url,
                '<html><body>intro <a href="/x/'
                || CAST((doc_id * 7) % 1000 AS VARCHAR) || '">r</a> mid'
                || (CASE WHEN doc_id % 2 = 0
                     THEN ' <a class="n" href="sub/'
                          || CAST(doc_id % 13 AS VARCHAR) || '">rel</a>'
                     ELSE '' END)
                || (CASE WHEN doc_id % 3 = 0
                     THEN ' <a href="https://ext'
                          || CAST(doc_id % 11 AS VARCHAR)
                          || '.example/abs#sec">a</a>'
                     ELSE '' END)
                || (CASE WHEN doc_id % 5 = 0
                     THEN ' <a href="//cdn.example/lib">c</a>' ELSE '' END)
                || (CASE WHEN doc_id % 7 = 0
                     THEN ' <a href="javascript:void(0)">j</a>' ELSE '' END)
                || (CASE WHEN doc_id % 4 = 0
                     THEN ' <a href="#top">t</a>' ELSE '' END)
                || ' outro</body></html>' AS html
              FROM documents
"""


def _dd_grams(k: int) -> str:
    """DuckDB expression for the word k-gram multiset of lower(trim(text))
    — mirrors ``functions.text.ngram_list`` (keep duplicates; wrap with
    list_distinct(...) for ``shingles`` parity)."""
    w = r"string_split_regex(lower(trim(text)), '\s+')"
    return (
        f"CASE WHEN len({w}) < {k} THEN [array_to_string({w}, ' ')] "
        f"ELSE list_transform(range(1, len({w}) - {k} + 2), "
        f"i -> array_to_string({w}[i:i+{k - 1}], ' ')) END"
    )


def oracle_sql() -> dict[str, str]:
    lang_hit_cols = ", ".join(
        "len(list_intersect(list_distinct(string_split_regex(lower(text), '\\s+')), "
        f"{m})) AS h_{lang}"
        for lang, m in _LANG_HITS.items()
    )
    return {
        "subclass_core": _subclass_core_sql(inv=False),
        "subclass_core_inverse": _subclass_core_sql(inv=True),
        "instance_core_inverse": _instance_core_sql(),
        "edge_filter_project": """
            SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS sub_id,
                   CAST(l_partkey AS VARCHAR) AS obj_id
            FROM lineitem WHERE l_quantity >= 30 AND l_returnflag = 'N'
        """,
        "edge_dedup_window": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM (
              SELECT *, row_number() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey, o_orderstatus,
                         o_orderdate, o_orderpriority) AS rn
              FROM orders) WHERE rn = 1
        """,
        "identifier_map_join": """
            SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS sub_id,
                   n_name AS obj_id
            FROM customer JOIN nation ON CAST(c_nationkey AS VARCHAR) =
                 CAST(n_nationkey AS VARCHAR)
        """,
        "label_format": """
            SELECT regexp_replace(sub_id, '(^.* )', '') AS sub_id, obj_id
            FROM (SELECT DISTINCT p_type AS sub_id, p_brand AS obj_id FROM part)
        """,
        "duplicate_predicate_resolution": f"""
            WITH t AS (
              SELECT DISTINCT 'C' || o_custkey AS s,
                CASE WHEN o_orderpriority = '1-URGENT'
                     THEN '{_SUBCLASSOF}' ELSE o_orderpriority END AS p,
                o_orderstatus AS o
              FROM orders)
            SELECT s, p, o FROM (
              SELECT *, row_number() OVER (
                PARTITION BY s, o
                ORDER BY CASE WHEN p = '{_SUBCLASSOF}' THEN 1 ELSE 0 END, p) AS rn
              FROM t) WHERE rn = 1
        """,
        "graph_stats": f"""
            WITH t AS ({_LINEITEM_TRIPLES_SQL})
            SELECT count(*) AS n_triples,
                   count(DISTINCT s) AS n_subjects,
                   count(DISTINCT p) AS n_predicates,
                   count(DISTINCT o) AS n_objects,
                   CAST(0 AS BIGINT) AS n_classes,
                   CAST(0 AS BIGINT) AS n_individuals,
                   CAST(0 AS BIGINT) AS n_object_properties
            FROM t
        """,
        "top_predicates": f"""
            WITH t AS ({_LINEITEM_TRIPLES_SQL})
            SELECT p, count(*) AS cnt FROM t
            GROUP BY p ORDER BY cnt DESC, p ASC LIMIT 6
        """,
        "mode_per_group": """
            SELECT user_id, event_type FROM (
              SELECT user_id, event_type, row_number() OVER (
                PARTITION BY user_id ORDER BY count(*) DESC, event_type ASC) AS rn
              FROM events GROUP BY user_id, event_type) WHERE rn = 1
        """,
        "symmetry_antijoin": """
            WITH p AS (SELECT DISTINCT l_partkey AS sub, l_suppkey AS obj
                       FROM lineitem)
            SELECT sub, obj FROM p a WHERE NOT EXISTS (
              SELECT 1 FROM p b WHERE b.sub = a.obj AND b.obj = a.sub)
        """,
        "connected_components": """
            WITH RECURSIVE
            e AS (SELECT 'c' || o_custkey AS a, 'o' || o_orderkey AS b
                  FROM orders WHERE o_orderkey % 7 = 0),
            sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
            reach AS (
              SELECT a AS src, a AS dst FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a)
            SELECT src AS node, min(dst) AS component FROM reach GROUP BY src
        """,
        "transitive_closure": """
            WITH RECURSIVE
            e AS (
              SELECT 'N' || n_nationkey AS child, 'R' || n_regionkey AS parent
              FROM nation
              UNION ALL
              SELECT 'R' || r_regionkey, 'world' FROM region),
            cl AS (
              SELECT child, parent FROM e
              UNION
              SELECT c.child, e.parent FROM cl c JOIN e ON c.parent = e.child)
            SELECT DISTINCT child, parent FROM cl WHERE child <> parent
        """,
        "integer_id_map": f"""
            WITH t AS (SELECT 'R_' || r_regionkey AS s, '{RDFS_LABEL}' AS p,
                              r_name AS o FROM region),
            ents AS (SELECT s AS entity FROM t UNION
                     SELECT p FROM t UNION SELECT o FROM t)
            SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS id
            FROM ents
        """,
        "nt_lines": f"""
            SELECT '<{OBO}REGION_' || r_regionkey || '> <{RDFS_LABEL}> "'
                   || r_name || '" .' AS line
            FROM region
        """,
        "dedup_exact": r"""
            SELECT doc_id FROM (
              SELECT doc_id, row_number() OVER (
                PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
                ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1
        """,
        "ngram_jaccard": r"""
            WITH d AS (
              SELECT doc_id,
                     list_distinct(CASE
                       WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                       THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                       ELSE list_transform(
                         range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                         i -> array_to_string(
                           string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))
                     END) AS sh
              FROM documents WHERE doc_id < 200)
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM d x JOIN d y ON x.doc_id < y.doc_id
            WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                  greatest(len(list_distinct(x.sh || y.sh)), 1) >= 0.2
        """,
        "token_stats": rf"""
            WITH base AS (
              SELECT doc_id, text,
                     {lang_hit_cols},
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\s+')) END AS tok_ws,
                     len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS tok_bpe,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS punct,
                     len(list_intersect(list_distinct(
                       string_split_regex(lower(trim(text)), '\s+')),
                       {_EN_MARKERS})) AS stop_hits
              FROM documents)
            SELECT doc_id, tok_ws, tok_bpe,
              CAST(CASE WHEN n_chars >= 100 AND n_chars <= 100000 THEN 0.25 ELSE 0 END
               + CASE WHEN CAST(n_chars AS DOUBLE)/greatest(tok_ws,1) >= 3.0
                       AND CAST(n_chars AS DOUBLE)/greatest(tok_ws,1) <= 12.0
                      THEN 0.25 ELSE 0 END
               + CASE WHEN CAST(punct AS DOUBLE)/greatest(n_chars,1) < 0.2
                      THEN 0.25 ELSE 0 END
               + CASE WHEN stop_hits >= 2 THEN 0.25 ELSE 0 END AS DOUBLE) AS quality,
              CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                   WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                   WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                   WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                   ELSE 'fr' END AS lang_guess
            FROM base
        """,
        "token_percentiles": r"""
            WITH t AS (
              SELECT lang, CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END AS tok
              FROM documents)
            SELECT lang, quantile_cont(tok, 0.5) AS p50,
                   quantile_cont(tok, 0.9) AS p90,
                   quantile_cont(tok, 0.99) AS p99,
                   count(*) AS n_docs
            FROM t GROUP BY lang
        """,
        "ann_quantized_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, c.vec_id,
                list_sum(list_transform(list_zip(q.qv, c.embedding),
                  p -> CAST(floor(CAST(p[1] AS DOUBLE) * 1000) AS BIGINT) *
                       CAST(floor(CAST(p[2] AS DOUBLE) * 1000) AS BIGINT))) AS score
              FROM q, embeddings c)
            SELECT query_id, vec_id, rank FROM (
              SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "mentions": f"WITH {_MENTIONS_CTE.strip()} SELECT doc_id, surface, curie FROM mentions",
        "comention_edges": f"""
            WITH {_MENTIONS_CTE.strip()},
            pe AS (SELECT DISTINCT doc_id, curie FROM mentions),
            pairs AS (
              SELECT x.doc_id, x.curie AS c1, y.curie AS c2
              FROM pe x JOIN pe y ON x.doc_id = y.doc_id AND x.curie < y.curie),
            typed AS (
              SELECT doc_id,
                CASE WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'DOID' THEN 'chemical-disease'
                     WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'PR' THEN 'chemical-protein'
                     WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN 'protein-disease'
                     END AS edge_type,
                CASE WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN c2 ELSE c1 END AS sub_id,
                CASE WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN c1 ELSE c2 END AS obj_id,
                CASE WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'DOID' THEN 'RO_0002606'
                     WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'PR' THEN 'RO_0002434'
                     WHEN string_split(c1,'_')[1] = 'DOID' AND string_split(c2,'_')[1] = 'PR' THEN 'RO_0003302'
                     END AS rel,
                CASE WHEN string_split(c1,'_')[1] = 'CHEBI' AND string_split(c2,'_')[1] = 'PR' THEN 'RO_0002434'
                     END AS inv_rel
              FROM pairs)
            SELECT edge_type, sub_id, obj_id, rel, inv_rel,
                   count(DISTINCT doc_id) AS n_pages
            FROM typed WHERE edge_type IS NOT NULL
            GROUP BY ALL HAVING count(DISTINCT doc_id) >= 2
        """,
        # PMI over the same mention universe: page-level entity/pair
        # counts, N = pages with >=1 mention, one ln per surviving pair
        "comention_pmi": f"""
            WITH {_MENTIONS_CTE.strip()},
            pe AS (SELECT DISTINCT doc_id, curie FROM mentions),
            nn AS (SELECT count(DISTINCT doc_id) AS n FROM pe),
            marg AS (SELECT curie, count(*) AS c FROM pe GROUP BY curie),
            pairs AS (
              SELECT x.curie AS c1, y.curie AS c2
              FROM pe x JOIN pe y
                ON x.doc_id = y.doc_id AND x.curie < y.curie),
            pc AS (
              SELECT c1, c2, count(*) AS n_pages FROM pairs
              GROUP BY c1, c2 HAVING count(*) >= 2)
            SELECT pc.c1, pc.c2, pc.n_pages, m1.c AS n1, m2.c AS n2,
                   round(ln((CAST(pc.n_pages AS DOUBLE) * nn.n)
                            / (CAST(m1.c AS DOUBLE) * m2.c)), 9) AS pmi
            FROM pc
            JOIN marg m1 ON pc.c1 = m1.curie
            JOIN marg m2 ON pc.c2 = m2.curie
            CROSS JOIN nn
        """,
        # Wilson lower bound replayed with the identical IEEE op order:
        # p = k/n, lb = (p + z²/(2n) − z·sqrt((p(1−p) + z²/(4n))/n))
        #              / (1 + z²/n), z = 1.96
        "comention_wilson": f"""
            WITH {_MENTIONS_CTE.strip()},
            pe AS (SELECT DISTINCT doc_id, curie FROM mentions),
            marg AS (SELECT curie, count(*) AS c FROM pe GROUP BY curie),
            pairs AS (
              SELECT x.curie AS c1, y.curie AS c2
              FROM pe x JOIN pe y
                ON x.doc_id = y.doc_id AND x.curie < y.curie),
            pc AS (
              SELECT c1, c2, count(*) AS n_pages FROM pairs
              GROUP BY c1, c2 HAVING count(*) >= 2),
            j AS (
              SELECT pc.c1, pc.c2, pc.n_pages,
                     least(m1.c, m2.c) AS n_trials,
                     CAST(least(m1.c, m2.c) AS DOUBLE) AS n,
                     CAST(pc.n_pages AS DOUBLE)
                       / CAST(least(m1.c, m2.c) AS DOUBLE) AS p
              FROM pc
              JOIN marg m1 ON pc.c1 = m1.curie
              JOIN marg m2 ON pc.c2 = m2.curie)
            SELECT c1, c2, n_pages, n_trials,
                   round(
                     (p + (1.96 * 1.96) / (2.0 * n)
                        - 1.96 * sqrt((p * (1.0 - p)
                                       + (1.96 * 1.96) / (4.0 * n)) / n))
                     / (1.0 + (1.96 * 1.96) / n), 9) AS wilson_lb
            FROM j
        """,
        "events_windowed": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2
        """,
        # gaps-and-islands: a session breaks when the per-user gap between
        # consecutive events exceeds 30 minutes
        "events_sessionized": """
            WITH o AS (
              SELECT user_id, ts,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                     THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            g AS (
              SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS grp
              FROM o)
            SELECT user_id, min(ts) AS session_start,
                   count(*) AS n_events
            FROM g GROUP BY user_id, grp
        """,
        "edge_type_stats": """
            WITH t AS (
              SELECT l_linestatus AS edge_type, 'O' || l_orderkey AS s,
                     l_returnflag AS p, 'P' || l_partkey AS o
              FROM lineitem)
            SELECT edge_type, count(*) AS n_triples,
                   count(DISTINCT s) AS n_subjects,
                   count(DISTINCT o) AS n_objects
            FROM t GROUP BY 1
        """,
        # closed-form expected OWL-NETS decode of the synthetic fixture —
        # see q_owlnets_decode's docstring for the rule-by-rule derivation
        "owlnets_decode": f"""
            WITH nn AS (SELECT n_nationkey AS k, n_regionkey AS r FROM nation),
            mem AS (
              SELECT k, r FROM (
                SELECT k, r, row_number() OVER (PARTITION BY r ORDER BY k) AS rn
                FROM nn) WHERE rn <= 2)
            SELECT DISTINCT s, p, o FROM (
              SELECT '{OBO}NATION_' || k AS s, '{OBO}BFO_0000050' AS p,
                     '{OBO}REGION_' || r AS o FROM nn
              UNION ALL
              SELECT '{OBO}NATION_' || k, '{_SUBCLASSOF}', '{OBO}ROOT_1' FROM nn
              UNION ALL
              SELECT '{OBO}NATION_' || k, '{_SUBCLASSOF}', '{OBO}REGION_' || r
              FROM nn WHERE k % 3 = 0
              UNION ALL
              SELECT '{OBO}NATION_' || k, '{_SUBCLASSOF}', '{OBO}UNION_' || r
              FROM mem
              UNION ALL
              SELECT DISTINCT '{OBO}REGION_' || r, '{_SUBCLASSOF}',
                     '{OBO}BFO_0000001' FROM nn
              UNION ALL
              SELECT DISTINCT '{OBO}UNION_' || r, '{_SUBCLASSOF}',
                     '{OBO}BFO_0000001' FROM nn
              UNION ALL
              SELECT '{OBO}ROOT_1', '{_SUBCLASSOF}', '{OBO}BFO_0000001'
            )
        """,
        "edge_list_stats": """
            SELECT l_returnflag AS edge_type,
                   count(DISTINCT (CAST(l_orderkey AS VARCHAR),
                                   CAST(l_partkey AS VARCHAR))) AS n_edges,
                   count(DISTINCT CAST(l_orderkey AS VARCHAR)) AS n_subjects,
                   count(DISTINCT CAST(l_partkey AS VARCHAR)) AS n_objects
            FROM lineitem GROUP BY 1
        """,
        "synonym_dictionary": """
            SELECT lower(p_name) AS surface,
                   'http://www.geneontology.org/formats/oboInOwl#hasExactSynonym'
                     AS match_type,
                   array_to_string(list_sort(list(DISTINCT 'P' || p_partkey)), '|')
                     AS curie_list
            FROM part GROUP BY 1
        """,
        "self_loop_filter": """
            SELECT DISTINCT CAST(l_partkey % 10 AS VARCHAR) AS s, 'p' AS p,
                   CAST(l_suppkey % 10 AS VARCHAR) AS o
            FROM lineitem
            WHERE CAST(l_partkey % 10 AS VARCHAR) <> CAST(l_suppkey % 10 AS VARCHAR)
        """,
        "graph_difference": f"""
            WITH t AS (SELECT DISTINCT s, p, o FROM ({_LINEITEM_TRIPLES_SQL}))
            SELECT s, p, o FROM t WHERE p <> 'N'
        """,
        "deprecated_classes": """
            SELECT DISTINCT 'O' || o_orderkey AS node
            FROM orders WHERE o_orderstatus = 'F'
        """,
        "explode_delimited": """
            SELECT p_partkey, unnest(string_split(p_type, ' ')) AS type_word
            FROM part
        """,
        "metadata_triples": """
            WITH m AS (
              SELECT DISTINCT 'N' || n_nationkey AS uri, n_name,
                     'region ' || n_regionkey AS descr
              FROM nation JOIN customer ON n_nationkey = c_nationkey)
            SELECT DISTINCT uri AS s,
                   'http://www.w3.org/2000/01/rdf-schema#label' AS p,
                   n_name AS o FROM m
            UNION
            SELECT DISTINCT uri, 'http://purl.obolibrary.org/obo/IAO_0000115',
                   descr FROM m
            UNION
            SELECT DISTINCT uri,
                   'http://www.geneontology.org/formats/oboInOwl#hasExactSynonym',
                   lower(n_name) FROM m
        """,
        "bnode_namespace_roundtrip": f"""
            WITH raw AS (
              SELECT CASE WHEN o_orderkey % 3 = 0
                          THEN 'bnode:N' || o_orderkey
                          ELSE 'http://x/O' || o_orderkey END AS node
              FROM orders)
            SELECT node,
              CASE WHEN node LIKE 'bnode:%'
                   THEN '{PKT}bnode/' || substring(node, 7)
                   ELSE node END AS namespaced,
              node AS round_trip
            FROM raw
        """,
        "canonical_rewrite": """
            SELECT 'C' || c_custkey AS s, 'locatedIn' AS p,
                   coalesce('R' || n_regionkey, 'N' || c_nationkey) AS o
            FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        """,
        "pipeline_triples": _pipeline_triples_sql(),
        "pipeline_instance": _pipeline_triples_sql(approach="instance"),
        "pipeline_triples_synthetic": _synthetic_pipeline_sql(),
        # canonicalization closed form: the same-as CC maps each cluster to
        # its lexicographic-min member
        "pipeline_canonicalized": _pipeline_triples_sql(
            curie_rewrite=(
                "CASE "
                + " ".join(
                    f"WHEN v.curie = '{a}' THEN '{b}'" for a, b in SAME_AS_PAIRS
                )
                + " ELSE v.curie END"
            )
        ),
        # extract_metadata: nodes = Class-typed subjects (label required,
        # '#'-subjects excluded), relations = ObjectProperty subjects,
        # + builtin subClassOf/type rows; synonyms sorted-distinct
        "metadata_extract": f"""
            WITH nodes AS (
              SELECT '{OBO}NATION_' || n_nationkey AS uri, 'nodes' AS kind,
                     min(n_name) AS label,
                     'region ' || min(n_regionkey) AS description,
                     min(lower(n_name)) AS synonym_list
              FROM nation GROUP BY n_nationkey),
            rels AS (
              SELECT DISTINCT '{OBO}REL_' || n_regionkey AS uri,
                     'relations' AS kind,
                     'rel ' || n_regionkey AS label,
                     '' AS description, '' AS synonym_list
              FROM nation)
            SELECT * FROM nodes
            UNION ALL SELECT * FROM rels
            UNION ALL VALUES
              ('http://www.w3.org/2000/01/rdf-schema#subClassOf', 'relations',
               'subClassOf', 'The subject is a subclass of a class.', ''),
              ('http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'relations',
               'type', 'The subject is an instance of a class.', '')
        """,
        # exact n-gram Jaccard — the MinHash query's exact-verification
        # output must equal this set (banding recall 1.0 at gate SFs)
        "minhash_near_dup": r"""
            WITH d AS (
              SELECT doc_id,
                     list_distinct(CASE
                       WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                       THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                       ELSE list_transform(
                         range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                         i -> array_to_string(
                           string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))
                     END) AS sh
              FROM documents WHERE doc_id < 200)
            SELECT x.doc_id AS a, y.doc_id AS b
            FROM d x JOIN d y ON x.doc_id < y.doc_id
            WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                  greatest(len(list_distinct(x.sh || y.sh)), 1) >= 0.2
        """,
        # all-pairs hamming over md5-hashed simhashes — exact because the
        # Spark query's pigeonhole banding has no false negatives
        "simhash_near_dup": _simhash_oracle_sql(max_hamming=6),
        # Lloyd k-means iteration chain replayed as CTEs (2 iterations)
        "kmeans_centroids": _kmeans_oracle_sql(k=8, iters=2),
        # power-iteration PageRank unrolled as CTEs (5 iterations, d=0.85)
        "pagerank": _pagerank_oracle_sql(iterations=5, damping=0.85),
        # node-iterator triangle enumeration on the oriented (a<b) edge
        # list; coefficient is one exact division (no rounding needed)
        "triangle_stats": """
            WITH li AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              WHERE l_orderkey % 37 = 0
            ),
            und AS (
              SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
              FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                               AND x.l_suppkey < y.l_suppkey
            ),
            deg AS (
              SELECT node, count(*) AS degree FROM (
                SELECT a AS node FROM und UNION ALL SELECT b FROM und
              ) GROUP BY node
            ),
            tri AS (
              SELECT e1.a, e1.b, e2.b AS c
              FROM und e1 JOIN und e2 ON e1.b = e2.a
              WHERE EXISTS (SELECT 1 FROM und e3
                            WHERE e3.a = e1.a AND e3.b = e2.b)
            ),
            tcnt AS (
              SELECT node, count(*) AS triangles FROM (
                SELECT a AS node FROM tri
                UNION ALL SELECT b FROM tri
                UNION ALL SELECT c FROM tri
              ) GROUP BY node
            )
            SELECT deg.node, deg.degree,
                   coalesce(tcnt.triangles, 0) AS triangles,
                   CASE WHEN deg.degree >= 2
                        THEN (2.0 * coalesce(tcnt.triangles, 0))
                             / (deg.degree * (deg.degree - 1))
                        ELSE 0.0 END AS clustering_coeff
            FROM deg LEFT JOIN tcnt ON deg.node = tcnt.node
        """,
        # wedge join on the middle node z: each common neighbor yields the
        # (a,b) pair once, so count(*) = |N(a) ∩ N(b)|; existing edges
        # anti-joined out; jaccard exact, adamic-adar rounded at 9 dp
        "link_prediction": """
            WITH li AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              WHERE l_orderkey % 97 = 0
            ),
            und AS (
              SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
              FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                               AND x.l_suppkey < y.l_suppkey
            ),
            adj AS (
              SELECT a AS z, b AS n FROM und
              UNION ALL SELECT b AS z, a AS n FROM und
            ),
            deg AS (SELECT z, count(*) AS degree FROM adj GROUP BY z),
            pairs AS (
              SELECT x.n AS a, y.n AS b, d.degree AS dz
              FROM adj x JOIN adj y ON x.z = y.z AND x.n < y.n
              JOIN deg d ON d.z = x.z
            ),
            scored AS (
              SELECT a, b, count(*) AS common_neighbors,
                     sum(1.0 / ln(dz)) AS aa
              FROM pairs GROUP BY a, b HAVING count(*) >= 2
            )
            SELECT s.a, s.b, s.common_neighbors,
                   CAST(s.common_neighbors AS DOUBLE)
                     / (da.degree + db.degree - s.common_neighbors)
                       AS jaccard,
                   round(s.aa, 9) AS adamic_adar
            FROM scored s
            JOIN deg da ON da.z = s.a
            JOIN deg db ON db.z = s.b
            WHERE NOT EXISTS (SELECT 1 FROM und u
                              WHERE u.a = s.a AND u.b = s.b)
        """,
        # recursive min-hop walk down the world→region→nation→customer tree
        "bfs_depths": """
            WITH RECURSIVE edges AS (
              SELECT 'world' AS src, 'R' || r_regionkey AS dst FROM region
              UNION ALL
              SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation
              UNION ALL
              SELECT 'N' || c_nationkey, 'c' || c_custkey FROM customer
              WHERE c_custkey % 5 = 0
            ),
            walk AS (
              SELECT 'world' AS node, CAST(0 AS BIGINT) AS depth
              UNION ALL
              SELECT e.dst, w.depth + 1
              FROM walk w JOIN edges e ON e.src = w.node
            )
            SELECT node, min(depth) AS depth FROM walk GROUP BY node
        """,
        # cohort = day of first event; one distinct activity row per
        # (user, day); offset in whole days
        # identical regexp extraction rules, replayed byte-for-byte
        "normalize_urls": """
            WITH raw AS (
              SELECT
                (CASE WHEN o_orderkey % 2 = 0 THEN 'HTTP://WWW.Shop'
                      ELSE 'https://shop' END)
                || CAST(o_custkey % 50 AS VARCHAR)
                || (CASE WHEN o_orderkey % 2 = 0 THEN '.Example.COM:80'
                         ELSE '.example.com:8443' END)
                || (CASE WHEN o_orderkey % 5 = 0 THEN ''
                         ELSE '/item/' || CAST(o_orderkey AS VARCHAR) END)
                || (CASE WHEN o_orderkey % 3 = 0 THEN '?utm=9&a=1#frag'
                         WHEN o_orderkey % 3 = 1 THEN '?a=1&utm=9'
                         ELSE '#only-frag' END) AS url
              FROM orders WHERE o_orderkey % 13 = 0
            ),
            parts AS (
              SELECT url,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
                regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM raw
            ),
            built AS (
              SELECT url, scheme, query,
                regexp_extract(hostport, '^([^:]*)', 1) AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
                array_to_string(list_sort(string_split(query, '&')), '&')
                  AS sq
              FROM parts
            )
            SELECT url,
              scheme || '://' || host
              || (CASE WHEN (scheme = 'http' AND port = '80')
                        OR (scheme = 'https' AND port = '443')
                        OR port = '' THEN ''
                       ELSE ':' || port END)
              || path
              || (CASE WHEN query = '' THEN '' ELSE '?' || sq END)
                AS norm_url,
              host
            FROM built
        """,
        # anchor extraction + href resolution replayed rule-for-rule:
        # fragment strip, absolute / protocol-relative / root-relative /
        # path-relative classes, non-http schemes and empties dropped
        "extract_links": f"""
            WITH pages AS ({_LINK_PAGES_SQL}),
            exploded AS (
              SELECT url,
                unnest(regexp_extract_all(html,
                  '<a\\s[^>]*href="([^"]*)"', 1)) AS href
              FROM pages
            ),
            parts AS (
              SELECT url, href,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_extract(lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^([^:]*)', 1) AS host,
                regexp_extract(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '^(.*/)', 1) AS bdir,
                regexp_replace(href, '#.*$', '') AS raw
              FROM exploded
            ),
            resolved AS (
              SELECT url, href,
                CASE
                  WHEN regexp_matches(raw, '^https?://', 'i') THEN raw
                  WHEN raw LIKE '//%' THEN scheme || ':' || raw
                  WHEN raw LIKE '/%' THEN scheme || '://' || host || raw
                  WHEN NOT regexp_matches(raw,
                         '^[A-Za-z][A-Za-z0-9+.-]*:') AND raw <> ''
                    THEN scheme || '://' || host
                         || (CASE WHEN bdir = '' THEN '/' ELSE bdir END)
                         || raw
                  ELSE NULL
                END AS link_url
              FROM parts
            )
            SELECT url, href, link_url
            FROM resolved WHERE link_url IS NOT NULL
        """,
        # same link universe, aggregated to host pairs
        "host_degrees": f"""
            WITH pages AS ({_LINK_PAGES_SQL}),
            exploded AS (
              SELECT url,
                unnest(regexp_extract_all(html,
                  '<a\\s[^>]*href="([^"]*)"', 1)) AS href
              FROM pages
            ),
            parts AS (
              SELECT url, href,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_extract(lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^([^:]*)', 1) AS host,
                regexp_extract(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                  '^(.*/)', 1) AS bdir,
                regexp_replace(href, '#.*$', '') AS raw
              FROM exploded
            ),
            links AS (
              SELECT url,
                CASE
                  WHEN regexp_matches(raw, '^https?://', 'i') THEN raw
                  WHEN raw LIKE '//%' THEN scheme || ':' || raw
                  WHEN raw LIKE '/%' THEN scheme || '://' || host || raw
                  WHEN NOT regexp_matches(raw,
                         '^[A-Za-z][A-Za-z0-9+.-]*:') AND raw <> ''
                    THEN scheme || '://' || host
                         || (CASE WHEN bdir = '' THEN '/' ELSE bdir END)
                         || raw
                  ELSE NULL
                END AS link_url
              FROM parts
            )
            SELECT
              regexp_extract(lower(regexp_extract(url,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                '^([^:]*)', 1) AS src_host,
              regexp_extract(lower(regexp_extract(link_url,
                '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                '^([^:]*)', 1) AS dst_host,
              COUNT(*) AS n_links,
              COUNT(DISTINCT url) AS n_pages
            FROM links WHERE link_url IS NOT NULL
            GROUP BY 1, 2
        """,
        # latest capture per canonical url; ties replay the max_by struct
        # field order (ts, then remaining columns: url, warc_ts excluded,
        # payload, host) as DESC sort keys
        "url_dedup": """
            WITH raw AS (
              SELECT
                (CASE WHEN o_orderkey % 2 = 0 THEN 'HTTP://WWW.Shop'
                      ELSE 'https://shop' END)
                || CAST(o_custkey % 50 AS VARCHAR)
                || (CASE WHEN o_orderkey % 2 = 0 THEN '.Example.COM:80'
                         ELSE '.example.com:8443' END)
                || (CASE WHEN o_orderkey % 5 = 0 THEN ''
                         ELSE '/item/'
                              || CAST(o_orderkey % 40 AS VARCHAR) END)
                || (CASE WHEN o_orderkey % 3 = 0 THEN '?utm=9&a=1#frag'
                         WHEN o_orderkey % 3 = 1 THEN '?a=1&utm=9'
                         ELSE '#only-frag' END) AS url,
                o_orderdate AS warc_ts,
                o_orderkey % 1000 AS payload
              FROM orders WHERE o_orderkey % 13 = 0
            ),
            parts AS (
              SELECT url, warc_ts, payload,
                lower(regexp_extract(url,
                  '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
                regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
                  AS rawpath,
                regexp_extract(url, '\\?([^#]*)', 1) AS query
              FROM raw
            ),
            built AS (
              SELECT url, warc_ts, payload, scheme, query,
                regexp_extract(hostport, '^([^:]*)', 1) AS host,
                regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
                CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
                array_to_string(list_sort(string_split(query, '&')), '&')
                  AS sq
              FROM parts
            ),
            norm AS (
              SELECT url, warc_ts, payload, host,
                scheme || '://' || host
                || (CASE WHEN (scheme = 'http' AND port = '80')
                          OR (scheme = 'https' AND port = '443')
                          OR port = '' THEN ''
                         ELSE ':' || port END)
                || path
                || (CASE WHEN query = '' THEN '' ELSE '?' || sq END)
                  AS norm_url
              FROM built
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY norm_url
                ORDER BY warc_ts DESC, url DESC, payload DESC, host DESC
              ) AS rn
              FROM norm
            )
            SELECT norm_url, url, warc_ts, payload, host
            FROM ranked WHERE rn = 1
        """,
        # full-outer-join diff over two deterministic snapshots of the
        # customer key space
        "snapshot_diff": """
            WITH ks AS (SELECT DISTINCT c_custkey AS k FROM customer),
            old AS (
              SELECT 'https://s.example/u/' || CAST(k AS VARCHAR)
                       AS norm_url,
                     md5('a' || CAST(k % 7 AS VARCHAR)) AS content_hash
              FROM ks WHERE k % 5 <> 0
            ),
            new AS (
              SELECT 'https://s.example/u/' || CAST(k AS VARCHAR)
                       AS norm_url,
                     md5('a' || CAST(CASE WHEN k % 11 = 0 THEN 99
                                          ELSE k % 7 END AS VARCHAR))
                       AS content_hash
              FROM ks WHERE k % 3 <> 0
            )
            SELECT
              COALESCE(old.norm_url, new.norm_url) AS norm_url,
              CASE WHEN old.content_hash IS NULL THEN 'added'
                   WHEN new.content_hash IS NULL THEN 'removed'
                   WHEN old.content_hash <> new.content_hash
                     THEN 'changed'
                   ELSE 'unchanged' END AS status,
              old.content_hash AS old_hash,
              new.content_hash AS new_hash
            FROM old FULL OUTER JOIN new
              ON old.norm_url = new.norm_url
        """,
        "anchor_topk": f"""
            WITH pages AS ({_LINK_PAGES_SQL}),
            ex AS (
              SELECT url,
                regexp_extract_all(html,
                  '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1) AS l1,
                regexp_extract_all(html,
                  '<a\\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2) AS l2
              FROM pages
            ),
            a AS (
              SELECT url, l1[i] AS href,
                trim(regexp_replace(l2[i], '\\s+', ' ', 'g')) AS anchor
              FROM ex, unnest(range(1, len(l1) + 1)) t(i)
            ),
            counts AS (
              SELECT href, anchor, count(*) AS n_anchor
              FROM a WHERE anchor <> '' GROUP BY 1, 2
            ),
            ranked AS (
              SELECT href, anchor, n_anchor,
                row_number() OVER (PARTITION BY href
                  ORDER BY n_anchor DESC, anchor) AS rn,
                CAST(sum(n_anchor) OVER (PARTITION BY href) AS BIGINT)
                  AS n_total
              FROM counts
            )
            SELECT href, anchor AS top_anchor, n_anchor, n_total
            FROM ranked WHERE rn = 1
        """,
        "robots_allowed": f"""
            WITH hosts AS (
              SELECT doc_id AS n,
                'h' || CAST(doc_id AS VARCHAR) || '.example' AS host
              FROM documents WHERE doc_id < 97
            ),
            robots AS (
              SELECT host,
                '# synthetic robots' || chr(10) || 'User-agent: *'
                || chr(10) || 'Disallow: /d' || CAST(n % 5 AS VARCHAR)
                || chr(10) || 'Allow: /d' || CAST(n % 5 AS VARCHAR)
                || '/p1' || chr(10)
                || (CASE WHEN n % 3 = 0
                     THEN chr(10) || 'User-agent: pktbot' || chr(10)
                          || 'Disallow: /' || chr(10)
                     ELSE '' END) AS txt
              FROM hosts
            ),
            lines AS (
              SELECT host, i AS pos,
                trim(regexp_replace(ln[i], '#.*$', '')) AS line
              FROM (SELECT host,
                      string_split_regex(txt, '\\r?\\n') AS ln
                    FROM robots), unnest(range(1, len(ln) + 1)) t(i)
            ),
            tagged AS (
              SELECT host, pos,
                lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
                  AS directive,
                trim(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$', 1))
                  AS value
              FROM lines
              WHERE lower(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))
                IN ('user-agent', 'allow', 'disallow')
            ),
            agented AS (
              SELECT host, directive, value,
                last_value(CASE WHEN directive = 'user-agent'
                             THEN lower(value) END IGNORE NULLS)
                  OVER (PARTITION BY host ORDER BY pos) AS agent
              FROM tagged
            ),
            rules AS (
              SELECT host, agent, directive = 'allow' AS allow,
                     value AS prefix
              FROM agented
              WHERE directive <> 'user-agent' AND agent IS NOT NULL
                AND value <> ''
            ),
            spec AS (SELECT DISTINCT host FROM rules
                     WHERE agent = 'pktbot'),
            eff AS (
              SELECT host, allow, prefix,
                CASE WHEN ends_with(esc, '$')
                  THEN left(esc, length(esc) - 1) ELSE esc || '%' END
                  AS pat
              FROM (
                SELECT r.host, r.allow, r.prefix,
                  replace(replace(replace(replace(r.prefix,
                    '\\', '\\\\'), '%', '\\%'), '_', '\\_'), '*', '%')
                    AS esc
                FROM rules r LEFT JOIN spec s ON r.host = s.host
                WHERE CASE WHEN s.host IS NOT NULL
                        THEN r.agent = 'pktbot' ELSE r.agent = '*' END
              )
            ),
            pages AS ({_LINK_PAGES_SQL}),
            keyed AS (
              SELECT url,
                regexp_extract(lower(regexp_extract(url,
                  '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
                  '^([^:]*)', 1) AS robots_host,
                CASE WHEN starts_with(pq, '/') THEN pq ELSE '/' || pq END
                  AS path
              FROM (SELECT url, regexp_extract(url,
                      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS pq
                    FROM pages)
            ),
            verdicts AS (
              SELECT url, allow FROM (
                SELECT k.url, e.allow,
                  row_number() OVER (PARTITION BY k.url
                    ORDER BY length(e.prefix) DESC, e.allow DESC) AS rn
                FROM keyed k JOIN eff e
                  ON k.robots_host = e.host
                 AND k.path LIKE e.pat ESCAPE '\\'
              ) WHERE rn = 1
            )
            SELECT k.url, k.robots_host
            FROM keyed k LEFT JOIN verdicts v ON k.url = v.url
            WHERE v.allow IS NULL OR v.allow
        """,
        "host_quality": """
            WITH q AS (
              SELECT doc_id,
                'q' || CAST(doc_id % 23 AS VARCHAR) || '.example' AS host,
                CAST(
                  CASE WHEN length(text) BETWEEN 100 AND 100000
                    THEN 0.25 ELSE 0 END
                + CASE WHEN CAST(length(text) AS DOUBLE) / greatest(
                      CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+'))
                        END, 1) BETWEEN 3.0 AND 12.0
                    THEN 0.25 ELSE 0 END
                + CASE WHEN CAST(length(regexp_replace(text,
                      '[^!?.,;:]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1) < 0.2
                    THEN 0.25 ELSE 0 END
                + CASE WHEN len(list_intersect(list_distinct(
                      string_split_regex(lower(trim(text)), '\\s+')),
                      ['the','and','of','to','in','is','that','for',
                       'with'])) >= 2
                    THEN 0.25 ELSE 0 END AS DOUBLE) AS quality
              FROM documents
            ),
            h AS (
              SELECT host, avg(quality) AS hq, count(*) AS hp
              FROM q GROUP BY 1
              HAVING avg(quality) >= 0.7 AND count(*) >= 3
            )
            SELECT q.doc_id, q.host, round(h.hq, 6) AS host_quality,
                   h.hp AS host_pages
            FROM q JOIN h USING (host)
        """,
        "dsir_weights": """
            WITH toks AS (
              SELECT doc_id,
                CAST(('0x' || substring(md5(term), 1, 8)) AS UBIGINT)
                  % 4096 AS bucket
              FROM (SELECT doc_id, unnest(string_split_regex(
                      lower(trim(text)), '\\s+')) AS term
                    FROM documents)
              WHERE term <> ''
            ),
            tgt AS (
              SELECT t.bucket FROM toks t
              JOIN documents d USING (doc_id) WHERE d.lang = 'en'
            ),
            tc AS (SELECT bucket, count(*) AS ct FROM tgt GROUP BY 1),
            rc AS (SELECT bucket, count(*) AS cr FROM toks GROUP BY 1),
            tot AS (SELECT (SELECT sum(ct) FROM tc) AS tt,
                           (SELECT sum(cr) FROM rc) AS tr),
            ratio AS (
              SELECT rc.bucket,
                ln((COALESCE(tc.ct, 0) + 1.0) / (tot.tt + 4096.0))
                - ln((rc.cr + 1.0) / (tot.tr + 4096.0)) AS lr
              FROM rc LEFT JOIN tc USING (bucket), tot
            )
            SELECT t.doc_id, count(*) AS n_tokens,
                   round(sum(r.lr), 6) AS dsir_weight
            FROM toks t JOIN ratio r USING (bucket)
            GROUP BY 1
        """,
        "bloom_seen": """
            WITH urls AS (
              SELECT 'https://b.example/' || CAST(doc_id AS VARCHAR)
                       AS url, doc_id
              FROM documents
            ),
            spos AS (
              SELECT CAST(('0x' || substring(md5(CAST(j AS VARCHAR)
                || ':' || url), 1, 8)) AS UBIGINT) % 16384 AS pos
              FROM (SELECT url FROM urls WHERE doc_id % 2 = 0),
                   range(4) t(j)
            ),
            bloom AS (
              SELECT CAST(pos // 32 AS BIGINT) AS word_idx,
                bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS word
              FROM spos GROUP BY 1
            ),
            probe AS (
              SELECT url, CAST(pos // 32 AS BIGINT) AS word_idx,
                CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS bit
              FROM (
                SELECT url, CAST(('0x' || substring(md5(CAST(j AS VARCHAR)
                  || ':' || url), 1, 8)) AS UBIGINT) % 16384 AS pos
                FROM urls, range(4) t(j))
            )
            SELECT p.url,
                   bool_and((COALESCE(b.word, 0) & p.bit) <> 0)
                     AS maybe_seen
            FROM probe p LEFT JOIN bloom b USING (word_idx)
            GROUP BY 1
        """,
        # embeddings re-derived from md5 nibbles; distances are exact
        # quantized-int64 math, so ranks replay bit-for-bit
        "transe_eval": """
            WITH t AS (
              SELECT DISTINCT 'O' || l_orderkey AS s, l_returnflag AS p,
                              'P' || l_partkey AS o
              FROM lineitem WHERE l_orderkey % 5 = 0
            ),
            ids AS (SELECT s AS id FROM t UNION SELECT o FROM t),
            ent AS (
              SELECT id, list_transform(range(1, 9), j -> CAST(floor(
                ((CAST('0x' || substring(md5(concat_ws('|', id, j)), 1, 8)
                   AS BIGINT) % 997) / 997.0) * 1000) AS BIGINT)) AS v
              FROM ids
            ),
            rel AS (
              SELECT p AS id, list_transform(range(1, 9), j -> CAST(floor(
                ((CAST('0x' || substring(md5(concat_ws('|', p, j)), 1, 8)
                   AS BIGINT) % 997) / 997.0) * 1000) AS BIGINT)) AS v
              FROM (SELECT DISTINCT p FROM t)
            ),
            pool AS (
              SELECT p, cand, cv FROM (
                SELECT po.p, po.o AS cand, e.v AS cv,
                  row_number() OVER (PARTITION BY po.p ORDER BY
                    md5(po.p || '|' || po.o), po.o) AS r
                FROM (SELECT DISTINCT p, o FROM t) po
                JOIN ent e ON po.o = e.id
              ) WHERE r <= 16
            ),
            ts AS (
              SELECT t.s, t.p, t.o,
                list_transform(list_zip(es.v, r.v), z -> z[1] + z[2]) AS tv,
                list_sum(list_transform(list_zip(es.v, r.v, eo.v),
                  z -> abs(z[1] + z[2] - z[3]))) AS tscore
              FROM t JOIN ent es ON t.s = es.id
                     JOIN rel r  ON t.p = r.id
                     JOIN ent eo ON t.o = eo.id
            ),
            ranks AS (
              SELECT t.s, t.p, t.o,
                1 + sum(CASE WHEN
                    list_sum(list_transform(list_zip(t.tv, c.cv),
                      z -> abs(z[1] - z[2]))) < t.tscore
                 OR (list_sum(list_transform(list_zip(t.tv, c.cv),
                      z -> abs(z[1] - z[2]))) = t.tscore AND c.cand < t.o)
                  THEN 1 ELSE 0 END) AS rank
              FROM ts t JOIN pool c ON t.p = c.p
              GROUP BY t.s, t.p, t.o
            )
            SELECT p, count(*) AS n,
                   CAST(avg(rank) AS DOUBLE) AS mean_rank,
                   CAST(avg(CASE WHEN rank <= 1 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END) AS DOUBLE) AS hits_1,
                   CAST(avg(CASE WHEN rank <= 10 THEN CAST(1.0 AS DOUBLE)
                            ELSE CAST(0.0 AS DOUBLE) END) AS DOUBLE) AS hits_10,
                   round(CAST(avg(CAST(1.0 AS DOUBLE) / rank) AS DOUBLE), 9)
                     AS mrr
            FROM ranks GROUP BY p
        """,
        # gaps-and-islands with identical window framing
        "coalesce_intervals": """
            WITH iv AS (
              -- trunc() matches Spark's truncate-toward-zero int cast
              -- (a bare DuckDB CAST rounds)
              SELECT user_id, event_type, ts AS s,
                     ts + INTERVAL (CAST(trunc(value) AS INT)) MINUTE AS e
              FROM events
            ),
            marked AS (
              SELECT user_id, event_type, s, e,
                CASE WHEN max(e) OVER (
                       PARTITION BY user_id, event_type ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     IS NULL
                  OR s > max(e) OVER (
                       PARTITION BY user_id, event_type ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
              FROM iv
            ),
            islands AS (
              SELECT user_id, event_type, s, e,
                sum(new_island) OVER (
                  PARTITION BY user_id, event_type ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS island
              FROM marked
            )
            SELECT user_id, event_type, min(s) AS start, max(e) AS "end",
                   count(*) AS n_merged
            FROM islands GROUP BY user_id, event_type, island
        """,
        # two anti joins against the type assertions, one per side
        "domain_range_violations": """
            WITH t AS (
              SELECT 'N' || n_nationkey AS s, 'locatedIn' AS p,
                     'R' || n_regionkey AS o
              FROM nation
              UNION ALL
              SELECT 'c' || c_custkey, 'citizenOf', 'N' || c_nationkey
              FROM customer WHERE c_custkey % 7 = 0
            ),
            c AS (
              SELECT 'locatedIn' AS p, 'Nation' AS dom, 'Region' AS rng
              UNION ALL
              SELECT 'citizenOf', 'Customer', 'Nation'
            ),
            ty AS (
              SELECT 'N' || n_nationkey AS node, 'Nation' AS typ FROM nation
              UNION ALL
              SELECT 'R' || r_regionkey, 'Region' FROM region
              UNION ALL
              SELECT 'c' || c_custkey, 'Customer' FROM customer
              WHERE c_custkey % 7 = 0 AND c_custkey % 3 != 0
            ),
            tc AS (SELECT t.*, c.dom, c.rng FROM t JOIN c ON t.p = c.p)
            SELECT s, p, o, 'domain' AS side, dom AS required_type
            FROM tc WHERE dom IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM ty WHERE ty.node = tc.s AND ty.typ = tc.dom)
            UNION ALL
            SELECT s, p, o, 'range', rng
            FROM tc WHERE rng IS NOT NULL AND NOT EXISTS (
              SELECT 1 FROM ty WHERE ty.node = tc.o AND ty.typ = tc.rng)
        """,
        # the bfs_depths tree, shared by the walk/khop oracles
        "random_walks": """
            WITH e AS (
              SELECT DISTINCT * FROM (
                SELECT 'world' AS src, 'R' || r_regionkey AS dst FROM region
                UNION ALL
                SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation
                UNION ALL
                SELECT 'N' || c_nationkey, 'c' || c_custkey FROM customer
                WHERE c_custkey % 5 = 0
              )
            ),
            f0 AS (
              SELECT start, walk, start AS node
              FROM (SELECT DISTINCT src AS start FROM e)
              CROSS JOIN (SELECT unnest([0, 1]) AS walk)
            ),
            f1 AS (
              SELECT f.start, f.walk,
                arg_min(e.dst, md5(concat_ws('|', f.start, f.walk, '1', e.dst))
                               || '|' || e.dst) AS node
              FROM f0 f JOIN e ON e.src = f.node GROUP BY f.start, f.walk
            ),
            f2 AS (
              SELECT f.start, f.walk,
                arg_min(e.dst, md5(concat_ws('|', f.start, f.walk, '2', e.dst))
                               || '|' || e.dst) AS node
              FROM f1 f JOIN e ON e.src = f.node GROUP BY f.start, f.walk
            ),
            f3 AS (
              SELECT f.start, f.walk,
                arg_min(e.dst, md5(concat_ws('|', f.start, f.walk, '3', e.dst))
                               || '|' || e.dst) AS node
              FROM f2 f JOIN e ON e.src = f.node GROUP BY f.start, f.walk
            )
            SELECT start, walk, 0 AS step, node FROM f0
            UNION ALL SELECT start, walk, 1, node FROM f1
            UNION ALL SELECT start, walk, 2, node FROM f2
            UNION ALL SELECT start, walk, 3, node FROM f3
        """,
        "khop_neighbors": """
            WITH e AS (
              SELECT DISTINCT * FROM (
                SELECT 'world' AS src, 'R' || r_regionkey AS dst FROM region
                UNION ALL
                SELECT 'R' || n_regionkey, 'N' || n_nationkey FROM nation
                UNION ALL
                SELECT 'N' || c_nationkey, 'c' || c_custkey FROM customer
                WHERE c_custkey % 5 = 0
              )
            ),
            h1 AS (
              SELECT seed, 1 AS hop, parent, child FROM (
                SELECT s.seed, s.seed AS parent, e.dst AS child,
                  row_number() OVER (PARTITION BY s.seed ORDER BY
                    md5(concat_ws('|', s.seed, '1', s.seed, e.dst))
                    || '|' || e.dst) AS r
                FROM (SELECT DISTINCT src AS seed FROM e) s
                JOIN e ON e.src = s.seed
              ) WHERE r <= 3
            ),
            f1 AS (SELECT DISTINCT seed, child AS node FROM h1),
            h2 AS (
              SELECT seed, 2 AS hop, parent, child FROM (
                SELECT f.seed, f.node AS parent, e.dst AS child,
                  row_number() OVER (PARTITION BY f.seed, f.node ORDER BY
                    md5(concat_ws('|', f.seed, '2', f.node, e.dst))
                    || '|' || e.dst) AS r
                FROM f1 f JOIN e ON e.src = f.node
              ) WHERE r <= 2
            )
            SELECT * FROM h1 UNION ALL SELECT * FROM h2
        """,
        # three broadcast label joins + local-name fallback, replayed
        # with identical regexp/concat semantics
        "verbalize_triples": """
            WITH lab AS (
              SELECT 'N' || n_nationkey AS id, n_name AS label FROM nation
              UNION ALL
              SELECT 'R' || r_regionkey, r_name FROM region
            ),
            t AS (
              SELECT 'N' || n_nationkey AS s,
                     'http://pkt/rel#locatedIn' AS p,
                     'R' || n_regionkey AS o
              FROM nation
              UNION ALL
              SELECT 'c' || c_custkey, 'http://pkt/rel#citizenOf',
                     'N' || c_nationkey
              FROM customer WHERE c_custkey % 7 = 0
            ),
            r AS (
              SELECT t.s, t.p, t.o,
                coalesce(ls.label, regexp_extract(t.s, '([^/#]*)$', 1)) AS sl,
                coalesce(lp.label, regexp_extract(t.p, '([^/#]*)$', 1)) AS pl,
                coalesce(lo.label, regexp_extract(t.o, '([^/#]*)$', 1)) AS ol
              FROM t
              LEFT JOIN lab ls ON t.s = ls.id
              LEFT JOIN lab lp ON t.p = lp.id
              LEFT JOIN lab lo ON t.o = lo.id
            )
            SELECT s, p, o,
                   concat_ws(' ', sl, pl, ol) || '.' AS text,
                   CAST(len(string_split(concat_ws(' ', sl, pl, ol) || '.',
                                         ' ')) AS INTEGER) AS n_tokens
            FROM r
        """,
        # 3 fixed peel rounds, each = degree filter + both-endpoints-kept
        "k_core": """
            WITH li AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              WHERE l_orderkey % 37 = 0
            ),
            p AS (
              SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
              FROM li x JOIN li y ON x.l_orderkey = y.l_orderkey
                               AND x.l_suppkey < y.l_suppkey
            ),
            e0 AS (
              SELECT DISTINCT a, b FROM
                (SELECT a, b FROM p UNION ALL SELECT b, a FROM p)
            ),
            k0 AS (SELECT a FROM e0 GROUP BY a HAVING count(*) >= 3),
            e1 AS (SELECT e.a, e.b FROM e0 e
                   JOIN k0 x ON e.a = x.a JOIN k0 y ON e.b = y.a),
            k1 AS (SELECT a FROM e1 GROUP BY a HAVING count(*) >= 3),
            e2 AS (SELECT e.a, e.b FROM e1 e
                   JOIN k1 x ON e.a = x.a JOIN k1 y ON e.b = y.a),
            k2 AS (SELECT a FROM e2 GROUP BY a HAVING count(*) >= 3),
            e3 AS (SELECT e.a, e.b FROM e2 e
                   JOIN k2 x ON e.a = x.a JOIN k2 y ON e.b = y.a)
            SELECT a AS node, count(*) AS degree FROM e3 GROUP BY a
        """,
        "cohort_retention": """
            WITH first AS (
              SELECT user_id, date_trunc('day', min(ts)) AS cohort
              FROM events GROUP BY user_id
            ),
            act AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS d
              FROM events
            )
            SELECT f.cohort,
                   date_diff('day', f.cohort, a.d) AS period_offset,
                   count(*) AS n_users
            FROM act a JOIN first f ON a.user_id = f.user_id
            GROUP BY 1, 2
        """,
        # strict-sequence funnel: each step's per-user min ts constrained
        # to at-or-after the previous step's completion
        "funnel_counts": """
            WITH s0 AS (
              SELECT user_id, min(ts) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ),
            s1 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s0 ON e.user_id = s0.user_id AND e.ts >= s0.t
              WHERE e.event_type = 'click' GROUP BY e.user_id
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN s1 ON e.user_id = s1.user_id AND e.ts >= s1.t
              WHERE e.event_type = 'purchase' GROUP BY e.user_id
            )
            SELECT 0 AS step_idx, 'view' AS step, count(*) AS n_users FROM s0
            UNION ALL
            SELECT 1, 'click', count(*) FROM s1
            UNION ALL
            SELECT 2, 'purchase', count(*) FROM s2
        """,
        # the identical md5-ranked draw: per-predicate pool = 16 smallest
        # md5(p|o), slot winner = arg_min md5(s|p|o|j|cand)
        "negative_triples": """
            WITH t AS (
              SELECT DISTINCT 'O' || l_orderkey AS s, l_returnflag AS p,
                     'P' || l_partkey AS o
              FROM lineitem WHERE l_orderkey % 5 = 0
            ),
            pool AS (
              SELECT p, o AS cand FROM (
                SELECT p, o,
                       row_number() OVER (
                         PARTITION BY p
                         ORDER BY md5(p || '|' || o), o) AS r
                FROM (SELECT DISTINCT p, o FROM t)
              ) WHERE r <= 16
            ),
            cand AS (
              SELECT t.s, t.p, t.o, j.neg_idx, pool.cand
              FROM t
              CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS neg_idx) j
              JOIN pool ON pool.p = t.p AND pool.cand <> t.o
            )
            SELECT s, p, o, neg_idx,
                   arg_min(cand, md5(s || '|' || p || '|' || o || '|'
                                     || neg_idx || '|' || cand)) AS neg_o
            FROM cand GROUP BY s, p, o, neg_idx
        """,
        # native ASOF LEFT JOIN over the max-event_id-deduplicated view
        # stream (same (user, ts) collapse the Spark operator applies)
        "asof_join": """
            WITH v0 AS (
              SELECT user_id, ts, max(event_id) AS event_id
              FROM events WHERE event_type = 'view' GROUP BY 1, 2
            ),
            v AS (
              SELECT v0.user_id, v0.ts, v0.event_id, e.value
              FROM v0 JOIN events e ON v0.event_id = e.event_id
            ),
            p AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'purchase'
            )
            SELECT p.event_id, p.user_id, p.ts, p.value,
                   v.ts AS ts_view, v.event_id AS event_id_view,
                   v.value AS value_view
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        # plain range-predicate join — the semantics the bucketed
        # (key, bucket) equality join + BETWEEN filter must reproduce
        "interval_join": """
            WITH c AS (
              SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click'
            ),
            e AS (
              SELECT user_id, event_id AS err_id, ts AS start,
                     ts + INTERVAL '45 minutes' AS "end"
              FROM events WHERE event_type = 'error'
            )
            SELECT c.event_id, c.user_id, c.ts,
                   e.err_id, e.start, e."end"
            FROM c JOIN e ON c.user_id = e.user_id
                         AND c.ts BETWEEN e.start AND e."end"
        """,
        # smoothed TF-IDF top-3 keywords per document: exact integer
        # tf/df, sklearn idf = ln((1+N)/(1+df)) + 1, (tfidf DESC, term)
        # ranking — same deterministic tie-break as the Spark window
        "tfidf_topk": r"""
            WITH t AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                       AS term
              FROM documents),
            tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
            tf AS (
              SELECT doc_id, term, count(*) AS tf
              FROM tt GROUP BY doc_id, term),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nn AS (SELECT count(*) AS n FROM documents),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf, df.df,
                     tf.tf * (ln((CAST(1 AS DOUBLE) + nn.n)
                                 / (CAST(1 AS DOUBLE) + df.df))
                              + CAST(1 AS DOUBLE)) AS tfidf
              FROM tf JOIN df USING (term) CROSS JOIN nn),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
              FROM s)
            SELECT doc_id, term, tf, df, round(tfidf, 9) AS tfidf, rank
            FROM r WHERE rank <= 3
        """,
        # Laplace unigram LM over the English slice, then per-doc
        # per-token log-prob: p(w) = (c+1)/(T+V), OOV floor 1/(T+V) —
        # integer counts make the whole model exact; the division and ln
        # mirror the Spark op order
        "lm_score": r"""
            WITH rt AS (
              SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                     AS term
              FROM documents WHERE lang = 'en'),
            rtt AS (SELECT term FROM rt WHERE term <> ''),
            c AS (SELECT term, count(*) AS c FROM rtt GROUP BY term),
            st AS (SELECT sum(c) AS t, count(*) AS v FROM c),
            lm AS (
              SELECT term, ln((c.c + 1) / (st.t + st.v)) AS logp
              FROM c, st),
            dt AS (
              SELECT doc_id,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                     AS term
              FROM documents),
            dtt AS (SELECT doc_id, term FROM dt WHERE term <> ''),
            s AS (
              SELECT d.doc_id,
                     coalesce(lm.logp,
                              ln(CAST(1 AS DOUBLE) / (st.t + st.v))) AS s
              FROM dtt d LEFT JOIN lm USING (term) CROSS JOIN st)
            SELECT doc_id, count(*) AS n_tokens,
                   round(sum(s) / count(*), 6) AS avg_logp,
                   round(exp(-(sum(s) / count(*))), 4) AS ppl
            FROM s GROUP BY doc_id
        """,
        # span-level exact dedup: 4-word segments, corpus frequency via a
        # window (the Spark side's hash-groupBy verdict is equivalent),
        # keep first-(doc,pos) occurrence of each duplicated segment,
        # ordered reassembly per document
        "segment_dedup": r"""
            WITH wd AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\s+') AS words
              FROM documents),
            segs AS (
              SELECT doc_id,
                [{'i': i-1,
                  's': array_to_string(words[((i-1)*4+1):(i*4)], ' ')}
                 for i in range(1, CAST(ceil(len(words)/4.0) AS INT)+1)] AS sl
              FROM wd),
            ex AS (SELECT doc_id, unnest(sl) AS seg FROM segs),
            occ AS (SELECT doc_id, seg.i AS seg_idx, seg.s AS segment FROM ex),
            r AS (
              SELECT doc_id, seg_idx, segment,
                     count(*) OVER (PARTITION BY segment) AS df,
                     row_number() OVER (
                       PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn
              FROM occ)
            SELECT doc_id,
                   coalesce(array_to_string(
                     list(segment ORDER BY seg_idx)
                       FILTER (WHERE df < 2 OR rn = 1), ' '), '') AS clean_text,
                   count(*) AS n_segments,
                   sum(CASE WHEN df < 2 OR rn = 1 THEN 0 ELSE 1 END) AS n_removed
            FROM r GROUP BY doc_id
        """,
        # SemDeDup closed form: twin corpus (as embedding_near_dup), fixed
        # first-8-by-id centroids, argmax-cosine assignment (VARCHAR
        # centroid-id tie-break = the Spark min_by ordering struct),
        # within-cell pairwise cosine >= 0.9 marks the higher id dropped
        "semantic_dedup": """
            WITH e0 AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            corpus AS (
              SELECT vec_id, v FROM e0
              UNION ALL
              SELECT vec_id + 10000, [v[1] * 0.9 + 0.05] || v[2:64]
              FROM e0 WHERE vec_id < 50),
            cents AS (
              SELECT CAST(vec_id AS VARCHAR) AS cid, v AS cent
              FROM corpus ORDER BY vec_id LIMIT 8),
            s AS (
              SELECT c.vec_id, c.v, t.cid,
                     list_sum(list_transform(list_zip(c.v, t.cent),
                                             p -> p[1]*p[2]))
                     / greatest(
                         sqrt(list_sum(list_transform(c.v, q -> q*q))) *
                         sqrt(list_sum(list_transform(t.cent, q -> q*q))),
                         1e-12) AS sim
              FROM corpus c, cents t),
            a AS (
              SELECT vec_id, v, cid FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                FROM s) WHERE rn = 1),
            dups AS (
              SELECT DISTINCT y.vec_id
              FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
              WHERE list_sum(list_transform(list_zip(x.v, y.v),
                                            p -> p[1]*p[2]))
                    / greatest(
                        sqrt(list_sum(list_transform(x.v, q -> q*q))) *
                        sqrt(list_sum(list_transform(y.v, q -> q*q))),
                        1e-12) >= 0.9)
            SELECT a.vec_id, a.cid AS centroid_id, d.vec_id IS NULL AS keep
            FROM a LEFT JOIN dups d ON a.vec_id = d.vec_id
        """,
        # winnowing re-derivation: ordered 3-gram md5 hashes (63-bit
        # masked so unsigned/signed min orderings agree), window-of-4
        # minima, distinct
        "winnow_fingerprint": f"""
            WITH {_WINNOW_FPS_CTE}
            SELECT doc_id, fingerprint FROM fps
        """,
        # winnowing consumer: same fingerprint derivation, then drop
        # fingerprints in >3 documents (common-code elimination), self-join
        # on fingerprint, count shared fingerprints per (a, b) pair
        "winnow_pairs": f"""
            WITH {_WINNOW_FPS_CTE},
            kept AS (
              SELECT fingerprint FROM fps
              GROUP BY fingerprint HAVING count(*) <= 3
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   count(*) AS shared_fingerprints
            FROM fps x
            JOIN kept k ON x.fingerprint = k.fingerprint
            JOIN fps y ON x.fingerprint = y.fingerprint
                      AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
            HAVING count(*) >= 2
        """,
        # pairs → recursive reachability closure → min per node →
        # singleton fill-in: the SQL re-derivation of min-label CC over
        # the exact-Jaccard pair predicate
        "near_dup_clusters": r"""
            WITH RECURSIVE
            d AS (
              SELECT doc_id,
                     list_distinct(CASE
                       WHEN len(string_split_regex(lower(trim(text)), '\s+')) < 3
                       THEN [array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ')]
                       ELSE list_transform(
                         range(1, len(string_split_regex(lower(trim(text)), '\s+')) - 1),
                         i -> array_to_string(
                           string_split_regex(lower(trim(text)), '\s+')[i:i+2], ' '))
                     END) AS sh
              FROM documents WHERE doc_id < 200),
            p AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM d x JOIN d y ON x.doc_id < y.doc_id
              WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) /
                    greatest(len(list_distinct(x.sh || y.sh)), 1) >= 0.2),
            sym AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
            reach AS (
              SELECT a AS src, a AS dst FROM sym
              UNION
              SELECT r.src, s.b FROM reach r JOIN sym s ON r.dst = s.a),
            comp AS (SELECT src AS node, min(dst) AS component
                     FROM reach GROUP BY src)
            SELECT doc.doc_id,
                   coalesce(comp.component, doc.doc_id) AS cluster_id
            FROM (SELECT doc_id FROM documents WHERE doc_id < 200) doc
            LEFT JOIN comp ON doc.doc_id = comp.node
        """,
        # per-doc gram-frequency scans over the same word multisets
        "repetition_stats": f"""
            WITH g AS (
              SELECT doc_id,
                     {_dd_grams(1)} AS w1,
                     {_dd_grams(2)} AS b2,
                     {_dd_grams(5)} AS g5
              FROM documents)
            SELECT doc_id,
              CAST(list_max(list_transform(list_distinct(w1),
                     u -> len(list_filter(w1, x -> x = u)))) AS DOUBLE)
                / CAST(greatest(len(w1), 1) AS DOUBLE) AS top_word_frac,
              CAST(list_max(list_transform(list_distinct(b2),
                     u -> len(list_filter(b2, x -> x = u)))) AS DOUBLE)
                / CAST(greatest(len(b2), 1) AS DOUBLE) AS top_2gram_frac,
              CAST(len(g5) - len(list_distinct(g5)) AS DOUBLE)
                / CAST(greatest(len(g5), 1) AS DOUBLE) AS dup_5gram_frac
            FROM g
        """,
        # distinct 6-gram sets on both sides, inner join, per-doc counts
        "contamination_check": f"""
            WITH dg AS (
              SELECT doc_id, unnest(list_distinct({_dd_grams(6)})) AS gram
              FROM documents WHERE doc_id >= 50 AND doc_id < 400),
            bg AS (
              SELECT DISTINCT bench_id, gram FROM (
                SELECT doc_id AS bench_id,
                       unnest(list_distinct({_dd_grams(6)})) AS gram
                FROM documents WHERE doc_id < 50))
            SELECT dg.doc_id,
                   count(DISTINCT dg.gram) AS n_shared_grams,
                   count(DISTINCT bg.bench_id) AS n_bench_docs
            FROM dg JOIN bg ON dg.gram = bg.gram
            GROUP BY dg.doc_id
        """,
        # tiling re-derivation: start indices i*stride, inclusive-slice
        # windows of max_tokens words, tail truncated
        "chunk_documents": r"""
            WITH w AS (
              SELECT doc_id,
                     string_split_regex(trim(text), '\s+') AS words
              FROM documents WHERE doc_id < 300),
            c AS (
              SELECT doc_id,
                     unnest(list_transform(
                       range(0, (len(words) - 1) // 24 + 1),
                       i -> struct_pack(
                         chunk_id := i,
                         wv := words[i * 24 + 1 : i * 24 + 32]))) AS ch
              FROM w)
            SELECT doc_id, ch.chunk_id AS chunk_id,
                   len(ch.wv) AS n_tokens,
                   array_to_string(ch.wv, ' ') AS chunk
            FROM c
        """,
        # same deterministic PII augmentation, same RE2-safe regexes,
        # email mask then IP mask ('g' flag: DuckDB defaults to
        # first-match-only, Spark always replaces all)
        "pii_scrub": r"""
            WITH aug AS (
              SELECT doc_id,
                     text ||
                     CASE WHEN doc_id % 5 = 0
                          THEN ' contact user' || CAST(doc_id AS VARCHAR)
                               || '@example.com now' ELSE '' END ||
                     CASE WHEN doc_id % 7 = 0
                          THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                               || '.1 logged' ELSE '' END AS text
              FROM documents WHERE doc_id < 300),
            m AS (
              SELECT doc_id,
                     len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                       AS n_emails,
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS no_email
              FROM aug)
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(no_email,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
                   regexp_replace(no_email,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                     '<IP>', 'g') AS scrubbed
            FROM m
        """,
        # per-stratum weight aggregate → min(1, budget/weight) →
        # the same md5-bucket filter
        "budget_sample": """
            WITH t AS (
              SELECT source, CAST(sum(n_chars) AS DOUBLE) AS w
              FROM documents GROUP BY source),
            f AS (
              SELECT source,
                     least(1.0,
                       (CASE source WHEN 'src0' THEN 4000.0
                                    WHEN 'src1' THEN 1000000.0
                                    ELSE 3000.0 END)
                       / greatest(w, 1.0)) AS frac
              FROM t)
            SELECT d.doc_id, d.source
            FROM documents d JOIN f USING (source)
            WHERE CAST(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 5)
                       AS BIGINT) AS DOUBLE)
                  < f.frac * 1048576.0
        """,
        # md5 top-5-hex-digit bucket < fraction(lang) * 2^20
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 5)
                       AS BIGINT) AS DOUBLE)
                  < (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                               WHEN 'fr' THEN 0.0 ELSE 0.125 END) * 1048576.0
        """,
        # exact all-pairs cosine over corpus + synthesized twins — the
        # LSH-bucketed near-dup output must equal this set
        "embedding_near_dup": """
            WITH base AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
              UNION ALL
              SELECT vec_id + 10000,
                     [CAST(embedding[1] AS DOUBLE) * 0.9 + 0.05] ||
                     list_transform(embedding[2:64], x -> CAST(x AS DOUBLE))
              FROM embeddings WHERE vec_id < 50)
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM base x JOIN base y ON x.vec_id < y.vec_id
            WHERE list_sum(list_transform(list_zip(x.e, y.e), p -> p[1]*p[2]))
                  / greatest(sqrt(list_sum(list_transform(x.e, q -> q*q))) *
                             sqrt(list_sum(list_transform(y.e, q -> q*q))),
                             1e-12) >= 0.9
        """,
        # exact cosine top-5 — the LSH query's exact re-rank must equal
        # this (candidate coverage of the true top-k at gate SFs)
        "lsh_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, c.vec_id,
                list_sum(list_transform(list_zip(q.qv, c.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                / greatest(
                    sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE)*x))) *
                    sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE)*x))),
                    1e-12) AS score
              FROM q, embeddings c)
            SELECT query_id, vec_id, rank FROM (
              SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        # closed-form IVF re-derivation: fixed centroids (first 16 by id),
        # argmax-cosine cell assignment, 4-cell probing, in-cell top-5 —
        # exactly the Spark plan's semantics, no recall assumption
        "ivf_topk": """
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            cents AS (
              SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 16),
            cos_all AS (
              SELECT e.vec_id, e.v, c.cid,
                list_sum(list_transform(list_zip(e.v, c.cv), p -> p[1]*p[2]))
                / greatest(sqrt(list_sum(list_transform(e.v, q -> q*q))) *
                           sqrt(list_sum(list_transform(c.cv, q -> q*q))),
                           1e-12) AS sim
              FROM e, cents c),
            assigned AS (
              SELECT vec_id, v, cid FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                FROM cos_all) WHERE rn = 1),
            qcells AS (
              SELECT vec_id AS query_id, v AS qv, cid FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
                FROM cos_all WHERE vec_id < 5) WHERE rn <= 4),
            scored AS (
              SELECT q.query_id, a.vec_id,
                list_sum(list_transform(list_zip(q.qv, a.v), p -> p[1]*p[2]))
                / greatest(sqrt(list_sum(list_transform(q.qv, x -> x*x))) *
                           sqrt(list_sum(list_transform(a.v, x -> x*x))),
                           1e-12) AS score
              FROM qcells q JOIN assigned a USING (cid))
            SELECT query_id, vec_id, rank FROM (
              SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored) WHERE rank <= 5
        """,
        "logic_annotation_split": f"""
            WITH {_ANNOTATION_GRAPH_SQL.strip()}
            SELECT CASE WHEN a.s IS NOT NULL THEN 'annotation' ELSE 'logic' END
                     AS part, g.s, g.p, g.o
            FROM g LEFT JOIN annot a ON g.s = a.s AND g.p = a.p AND g.o = a.o
        """,
        # synthetic_media(n=32): payload = md5 digest (16 bytes) * (4 + i%5);
        # fake features are fixed 8-d — the oracle re-derives the scalar
        # projection, verifying the mapInPandas crossing round-trips
        "multimodal_features": """
            SELECT 'm' || i AS content_id,
                   CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   16 * (4 + i % 5) AS n_bytes,
                   CAST(8 AS BIGINT) AS feature_dim
            FROM range(0, 32) t(i)
        """,
    }
