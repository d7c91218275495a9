"""Materialization sinks (S8, S11, S13, S15).

* N-Triples text sink — formatted `<s> <p> <o> .` lines, written distinct
  (replaces the reference's append + whole-file rewrite dedup,
  kg_utils.py:762-780 / data_utils.py:411-430).
* Integer-triple export — id map + 3-column integer triples + JSON map
  (maps_ids_to_integers, kg_utils.py:653-699) with the count-parity check.
* NodeLabels TSV — 6-column metadata flat file (metadata.py:263-282).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import n3_term, n3_uri, nt_line
from pheknowlator_spark.operators.graph_algos import assign_integer_ids


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Write the triple table as N-Triples text, one shuffle-dedup first."""
    if "o_is_literal" in triples.columns:
        lines = triples.select(
            nt_line("s", "p", "o", o_is_literal="o_is_literal").alias("value")
        )
    else:
        lines = triples.select(nt_line("s", "p", "o").alias("value"))
    lines.distinct().write.mode("overwrite").text(path)


def read_ntriples(spark, path: str) -> DataFrame:
    """S7: N-Triples scan via regex extraction — trivially parallel.

    Handles URI and literal objects (with optional @lang / ^^<datatype>).
    """
    lines = spark.read.text(path).filter(F.trim("value") != "")
    uri_obj = F.regexp_extract("value", r"^<([^>]+)>\s+<([^>]+)>\s+<([^>]+)>\s*\.", 3)
    lit_obj = F.regexp_extract(
        "value", r'^<[^>]+>\s+<[^>]+>\s+"((?:[^"\\]|\\.)*)"', 1
    )
    lang = F.regexp_extract("value", r'"\s*@([A-Za-z-]+)\s*\.', 1)
    dtype = F.regexp_extract("value", r'"\^\^<([^>]+)>\s*\.', 1)
    unescape = lambda c: F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.regexp_replace(c, r"\\n", "\n"), r"\\r", "\r"),
            r'\\"', '"',
        ),
        r"\\\\", r"\\",
    )
    return lines.select(
        F.regexp_extract("value", r"^<([^>]+)>", 1).alias("s"),
        F.regexp_extract("value", r"^<[^>]+>\s+<([^>]+)>", 1).alias("p"),
        F.when(uri_obj != "", uri_obj).otherwise(unescape(lit_obj)).alias("o"),
        (uri_obj == "").alias("o_is_literal"),
        F.when(lang != "", lang).alias("o_lang"),
        F.when(dtype != "", dtype).alias("o_datatype"),
    ).filter(F.col("s") != "")


def write_integer_triples(triples: DataFrame, out_dir: str) -> DataFrame:
    """S13: Triples_Integers + Triples_Identifiers + id-map JSON.

    Returns the id-map DataFrame. The count-parity assertion from
    kg_utils.py:694 runs inside assign_integer_ids.
    """
    id_map, int_triples = assign_integer_ids(triples.select("s", "p", "o"))
    os.makedirs(out_dir, exist_ok=True)
    int_triples.select(
        F.concat_ws("\t", "s_id", "p_id", "o_id").alias("value")
    ).write.mode("overwrite").text(os.path.join(out_dir, "Triples_Integers"))
    triples.select(F.concat_ws("\t", "s", "p", "o").alias("value")).write.mode(
        "overwrite"
    ).text(os.path.join(out_dir, "Triples_Identifiers"))
    id_map.write.mode("overwrite").parquet(
        os.path.join(out_dir, "Triples_Integer_Identifier_Map")
    )
    # JSON map is a driver-side artifact for small graphs only; at scale
    # consumers read the parquet map
    if id_map.count() <= 5_000_000:
        mapping = {r.entity: r.id for r in id_map.collect()}
        with open(
            os.path.join(out_dir, "Triples_Integer_Identifier_Map.json"), "w"
        ) as f:
            json.dump(mapping, f, sort_keys=True)
    return id_map


def export_property_graph(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S12: property-graph export replacing the pickled NetworkX
    MultiDiGraph (convert_to_networkx, kg_utils.py:721-759).

    Returns (nodes [id], edges [src, dst, predicate, key]) where key is the
    reference's predicate_key = md5(n3(s)+n3(p)+n3(o)) over the
    angle-bracketed N-Triples serializations (kg_utils.py:751).
    """
    nodes = (
        triples.select(F.col("s").alias("id"))
        .unionByName(triples.select(F.col("o").alias("id")))
        .distinct()
    )
    if "o_is_literal" in triples.columns:
        o_n3 = n3_term("o")
    else:
        o_n3 = n3_uri("o")
    edges = triples.select(
        F.col("s").alias("src"),
        F.col("o").alias("dst"),
        F.col("p").alias("predicate"),
        F.md5(
            F.concat(n3_uri("s"), n3_uri("p"), o_n3).cast("binary")
        ).alias("key"),
    ).distinct()
    return nodes, edges


def write_node_labels(metadata: DataFrame, id_map: DataFrame, path: str) -> None:
    """S15: NodeLabels TSV — entity_type, integer_id, entity_uri, label,
    description/definition, synonym (metadata.py:263-282)."""
    joined = metadata.join(
        id_map.withColumnRenamed("entity", "uri"), "uri", "inner"
    )
    out = joined.select(
        F.coalesce(F.col("kind"), F.lit("NODES")).alias("entity_type"),
        F.col("id").alias("integer_id"),
        F.col("uri").alias("entity_uri"),
        F.coalesce("label", F.lit("None")).alias("label"),
        F.coalesce("description", F.lit("None")).alias("description_definition"),
        F.coalesce(
            F.concat_ws("|", F.col("synonyms")), F.lit("None")
        ).alias("synonym"),
    )
    out.select(
        F.concat_ws(
            "\t",
            "entity_type",
            "integer_id",
            "entity_uri",
            "label",
            "description_definition",
            "synonym",
        ).alias("value")
    ).write.mode("overwrite").text(path)
