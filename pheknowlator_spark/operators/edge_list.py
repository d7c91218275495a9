"""Config-driven edge-list derivation (M1: S6, P1-P4, J1-J2, A1).

Re-expresses reference pkt_kg/edge_list.py as DataFrame transforms:

* ``parse_resource_info``   — the 11-field pipe-delimited config grammar
  (edge_list.py:53-68); kept text-identical because it is the reference's
  public contract.
* ``compile_criteria``      — the ``col;op;value`` predicate mini-language
  (edge_list.py:147-194) compiled to Catalyst Column expressions instead of
  per-cell ``eval`` — filters push down to the scan, no Python row loop.
* ``data_reducer``          — 2-column projection + dedup + float→int
  (edge_list.py:196-216).
* ``label_formatter``       — regex prefix strip / label prepend
  (edge_list.py:218-245).
* ``apply_identifier_maps`` — per-column identifier-map inner joins
  (edge_list.py:247-317) as broadcast hash joins.
* ``build_edge_list``       — the per-edge-type pipeline
  (edge_list.py:347-385): scan → filter → reduce → relabel → map → drop
  'None' rows, returning a tall edge DataFrame
  ``[edge_type, sub_id, obj_id]`` (replaces the nested master edge dict).

At 100 TB the mapping tables stay broadcast (≤10^7 rows each); the edge
sources themselves scan in parallel and every transform here is map-side
except the final ``distinct()``.
"""

from __future__ import annotations

import ast
import csv
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


@dataclass
class EdgeTypeConfig:
    """One row of resource_info.txt (reference grammar, edge_list.py:53-68)."""

    edge_type: str
    source_labels: str
    data_type: str  # e.g. 'class-class', 'entity-class'
    edge_relation: str
    uri: tuple[str, str]
    delimiter: str
    column_idx: str  # e.g. '0;1'
    identifier_maps: str  # e.g. '0:./maps/m0.txt;1:./maps/m1.txt' or 'None'
    evidence_criteria: str
    filter_criteria: str
    edge_list: list = field(default_factory=list)


def parse_resource_info(text: str) -> dict[str, EdgeTypeConfig]:
    """Parse the pipe-delimited resource_info config (11 fields per row)."""
    out: dict[str, EdgeTypeConfig] = {}
    for row in text.splitlines():
        if not row.strip():
            continue
        cols = [x.strip().strip('"').strip("'")
                for x in next(csv.reader(io.StringIO(row), delimiter="|", quotechar='"'))]
        if len(cols) < 11:
            raise ValueError(f"resource_info row needs 11 fields, got {len(cols)}: {row!r}")
        out[cols[0]] = EdgeTypeConfig(
            edge_type=cols[0],
            source_labels=cols[1],
            data_type=cols[2],
            edge_relation=cols[3],
            uri=(cols[4], cols[5]),
            delimiter=cols[6],
            column_idx=cols[7],
            identifier_maps=cols[8],
            evidence_criteria=cols[9],
            filter_criteria=cols[10],
        )
    return out


# ---------------------------------------------------------------------------
# S6: delimited scan with row-skip + header inference + null-fill
# ---------------------------------------------------------------------------

def _similarity(a: str, b: str) -> float:
    from difflib import SequenceMatcher

    return SequenceMatcher(None, a, b).ratio()


def read_edge_source(
    spark: SparkSession, path: str, delimiter: str = "t"
) -> DataFrame:
    """Delimited-file scan mirroring ``data_reader`` (edge_list.py:99-126).

    Rows lacking the delimiter (comment/metadata preambles) are skipped;
    header presence is inferred by first-row/header-name similarity
    (edge_list.py:74-97, threshold 0.5); NaN→'None'
    (edge_list.py:126 ``fillna('None')``).

    The skip-filter and split run distributed over ``spark.read.text``; only
    the 2-row header probe touches the driver.
    """
    sep = "\t" if "t" in delimiter else r"\s+" if delimiter == "" else delimiter
    is_regex = sep == r"\s+"

    lines = spark.read.text(path)
    probe_needle = delimiter if delimiter in ("", " ") else sep
    if is_regex or probe_needle == "":
        kept = lines.filter(F.col("value").contains(" ") | F.col("value").rlike(r"\s"))
    else:
        kept = lines.filter(F.col("value").contains(probe_needle))

    first_two = [r.value for r in kept.limit(2).collect()]
    if not first_two:
        raise ValueError(f"no delimited rows found in {path}")

    def split_line(s: str) -> list[str]:
        return re.split(sep, s) if is_regex else s.split(sep)

    header_cells = split_line(first_two[0])
    ncols = len(header_cells)
    if len(first_two) > 1:
        with_header = _similarity("|".join(split_line(first_two[1])), "|".join(header_cells))
        without_header = _similarity(
            "|".join(header_cells), "|".join(str(i) for i in range(ncols))
        )
        has_header = abs(with_header - without_header) < 0.5
    else:
        has_header = True

    if is_regex:
        parts = F.split(F.col("value"), r"\s+")
    else:
        parts = F.split(F.col("value"), re.escape(sep))
    cols = [
        F.coalesce(F.nullif(parts.getItem(i), F.lit("")), F.lit("None")).alias(
            header_cells[i].strip() if has_header else str(i)
        )
        for i in range(ncols)
    ]
    df = kept.select(*cols)
    if has_header:
        first_line = first_two[0]
        df = df.filter(
            F.concat_ws("\t", *[F.col(c) for c in df.columns])
            != "\t".join(split_line(first_line))
        )
    return df


# ---------------------------------------------------------------------------
# P2/P3: criteria mini-language → Catalyst
# ---------------------------------------------------------------------------

def fix_criteria(criteria: str) -> str:
    """Normalize empty segments to 'None' (filter_fixer, edge_list.py:128-145)."""
    if "(" in criteria:
        return criteria
    no_spaces = re.sub(r"\'\s+|\"\s+", "", criteria)
    return ";".join("None" if x == "" else x for x in no_spaces.split(";"))


def _parse_value(raw: str):
    raw = raw.strip()
    try:
        return int(raw)
    except ValueError:
        pass
    try:
        return float(raw)
    except ValueError:
        pass
    return raw


def compile_criterion(df: DataFrame, crit: str) -> DataFrame:
    """Compile one ``col;op;value`` criterion to DataFrame ops.

    Grammar (reference edge_list.py:147-194 + resources/resource_info.txt):

    * ``idx;==|!=|>|>=|<|<=;value``  — comparison (numeric values coerce the
      column, 'None' cells dropped first, edge_list.py:184-188)
    * ``idx;in;['a','b']``            — membership
    * ``idx;.startswith('x');``       — string-method predicates
    * ``sortidx-dedupidx;dedup;asc|desc`` — sort + keep-first per key
      (edge_list.py:168-173) → row_number window

    Unknown forms raise (the reference silently ``eval``s — we refuse).
    """
    parts = crit.split(";")
    if len(parts) < 2:
        raise ValueError(f"bad criterion: {crit!r}")
    head, op = parts[0], parts[1]

    if op == "dedup":
        sort_idx, filter_idx = head.split("-")
        sort_col = df.columns[int(sort_idx)]
        filter_col = df.columns[int(filter_idx)]
        asc = parts[-1].lower() == "asc"
        # the reference relies on pandas stable sort + input order for ties
        # (edge_list.py:172-173); distributed execution has no input order, so
        # ties break deterministically on the remaining columns ascending
        others = [c for c in df.columns if c not in (sort_col, filter_col)]
        dtype = dict(df.dtypes)[sort_col]
        numeric = dtype in (
            "tinyint", "smallint", "int", "bigint", "float", "double"
        ) or dtype.startswith("decimal")
        if asc or numeric:
            # fast path: keep-first == arg-min over a total ordering key, so
            # a single min_by hash aggregation (map-side partial combine —
            # one candidate row per key per partition crosses the shuffle)
            # replaces the full-sort row_number window, whose sort payload
            # is every column of every row. Ordering: ascending struct
            # comparison == multi-column ORDER BY ASC NULLS FIRST; desc on a
            # numeric sort column inverts via (is-null-last flag, -value).
            if asc:
                key_fields = [F.col(sort_col).alias("__k")]
            else:
                sort_c = F.col(sort_col)
                if dtype in ("tinyint", "smallint", "int", "bigint"):
                    # negate on a widened type: -(INT64_MIN) overflows and
                    # aborts under Spark 4's default ANSI mode (and wraps
                    # silently with ANSI off); decimal(20,0) holds the full
                    # magnitude of every integral type
                    sort_c = sort_c.cast("decimal(20,0)")
                key_fields = [
                    F.col(sort_col).isNull().cast("int").alias("__kn"),
                ]
                if dtype in ("float", "double"):
                    # explicit NaN-last flag: -NaN is still NaN (sorts
                    # greater than any value), so desc keep-first never
                    # selects a NaN row — same as pandas sort_values'
                    # NaN-last default; the flag makes the contract
                    # explicit rather than an artifact of negation
                    key_fields.append(
                        F.when(F.isnan(F.col(sort_col)), 1)
                        .otherwise(0)
                        .alias("__knan")
                    )
                key_fields.append((-sort_c).alias("__k"))
            ordering = F.struct(
                *key_fields,
                *[F.col(c).alias(f"__t{i}") for i, c in enumerate(others)],
            )
            row = F.struct(*[F.col(c).alias(c) for c in df.columns])
            return (
                df.groupBy(filter_col)
                .agg(F.min_by(row, ordering).alias("__w"))
                .select("__w.*")
            )
        # fallback (descending non-numeric sort column, which has no clean
        # order-inverse for an aggregation key): row_number window
        order = F.col(sort_col).asc() if asc else F.col(sort_col).desc()
        tiebreak = [F.col(c).asc() for c in others]
        w = Window.partitionBy(filter_col).orderBy(order, *tiebreak)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    col_name = df.columns[int(head)]
    col = F.col(col_name)

    # reversed containment form: 'idx;VALUE;not in x' / 'idx;VALUE;in x'
    # (reference edge_list.py:179-181 ``crit.endswith('x')`` branch, used by
    # resources/resource_info.txt '9;affects;not in x')
    m_in = re.match(r"^\s*(not\s+)?in\s+x\s*$", parts[2]) if len(parts) > 2 else None
    if m_in:
        pred = col.contains(op)  # op position holds the VALUE in this form
        return df.filter(~pred if m_in.group(1) else pred)

    if op.startswith("."):  # string-method predicate, e.g. .startswith('gene')
        m = re.match(r"\.(\w+)\((.*)\)", op)
        if not m:
            raise ValueError(f"bad method criterion: {crit!r}")
        method, arg_src = m.group(1), m.group(2)
        arg = ast.literal_eval(arg_src) if arg_src else None
        if method == "startswith":
            pred = col.startswith(arg)
        elif method == "endswith":
            pred = col.endswith(arg)
        elif method == "contains" or method == "__contains__":
            pred = col.contains(arg)
        elif method == "isdigit":
            pred = col.rlike(r"^[0-9]+$")
        else:
            raise ValueError(f"unsupported string method: {method!r} in {crit!r}")
        return df.filter(pred)

    value_src = parts[2] if len(parts) > 2 else ""
    if op == "in":
        vals = ast.literal_eval(value_src.replace("'", '"')
                                if value_src.startswith("[") and "'" in value_src
                                else value_src)
        return df.filter(col.isin(list(vals)))

    value = _parse_value(value_src)
    col_is_string = dict(df.dtypes)[col_name] == "string"
    if isinstance(value, (int, float)) and col_is_string:
        # numeric compare on a string column: drop 'None' cells, cast
        # (edge_list.py:184-188); native numeric columns compare directly
        df = df.filter(col != "None")
        col = col.cast("double" if isinstance(value, float) else "long")
    ops = {
        "==": lambda c, v: c == v,
        "!=": lambda c, v: c != v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
    }
    if op not in ops:
        raise ValueError(f"unsupported operator {op!r} in criterion {crit!r}")
    return df.filter(ops[op](col, F.lit(value)))


def filter_data(df: DataFrame, filter_criteria: str, evidence_criteria: str) -> DataFrame:
    """Apply '::'-delimited criteria sets (filter_data, edge_list.py:147-194)."""
    if filter_criteria == "None" and evidence_criteria == "None":
        return df
    merged = fix_criteria(filter_criteria) + "::" + fix_criteria(evidence_criteria)
    for crit in (c for c in merged.split("::") if c != "None"):
        df = compile_criterion(df, crit)
    return df


# ---------------------------------------------------------------------------
# P1: projection + dedup + float→int
# ---------------------------------------------------------------------------

def data_reducer(df: DataFrame, cols: str) -> DataFrame:
    """2-column projection + distinct + float→int (edge_list.py:196-216).

    Column pruning reaches the scan via Catalyst; float-typed id columns are
    coerced through long (the reference rejects float node ids,
    edge_list.py:212-214). Node ids are ALWAYS emitted as strings — the
    reference's edge lists hold string identifiers (edge_list.py:212-214
    ``astype(str)`` after the int coercion), so integer-typed inputs are
    cast too (keeps the downstream contract + oracle hashing type-stable).
    """
    i, j = (int(x) for x in cols.split(";"))
    c1, c2 = df.columns[i], df.columns[j]
    out = df.select(c1, c2).distinct()
    for c in (c1, c2):
        if dict(out.dtypes)[c] in ("double", "float"):
            out = out.withColumn(c, F.col(c).cast("long").cast("string"))
        else:
            # pandas read_csv type-inference parity (edge_list.py:109,212):
            # numeric-looking cells lose surrounding whitespace and a
            # trailing '.0' ('  19' → '19', '19.0' → '19')
            trimmed = F.trim(F.col(c).cast("string"))
            out = out.withColumn(
                c,
                F.when(
                    trimmed.rlike(r"^-?[0-9]+\.0+$"),
                    F.regexp_replace(trimmed, r"\.0+$", ""),
                )
                .when(trimmed.rlike(r"^-?[0-9]+$"), trimmed)
                .otherwise(F.col(c).cast("string")),
            )
    return out.toDF("sub_id", "obj_id")


# ---------------------------------------------------------------------------
# P4: label formatting
# ---------------------------------------------------------------------------

def label_formatter(df: DataFrame, label_criteria: str) -> DataFrame:
    """Regex prefix strip / label prepend per node column (edge_list.py:218-245).

    ``label_criteria`` = 'cut;fmt1;fmt2' (the resource_info ``source_labels``
    field, e.g. ':;MESH_;'). Reference semantics are COLUMN-level: if no cell
    in the column contains the cut char (or cut is empty), prepend the
    formatter to every cell; otherwise regex-strip everything up to and
    including the cut, substituting the formatter (edge_list.py:237-241).

    The any-cell-contains probes for ALL node columns are fused into ONE
    aggregate (one extra job per edge type, not one per column — not a
    per-row decision, which would diverge on mixed columns).
    """
    parts = label_criteria.split(";")
    cut = parts[0]
    formatters = parts[1:]
    any_cut_flags: dict[int, bool] = {}
    if cut != "":
        probe_idx = list(range(len(formatters)))
        if probe_idx:
            row = df.agg(
                *[
                    F.max(
                        F.col(df.columns[idx]).cast("string").contains(cut)
                    ).alias(f"f{idx}")
                    for idx in probe_idx
                ]
            ).collect()[0]
            any_cut_flags = {idx: bool(row[f"f{idx}"]) for idx in probe_idx}
    for idx, formatter in enumerate(formatters):
        col_name = df.columns[idx]
        col = F.col(col_name).cast("string")
        if cut == "" and formatter == "":
            continue
        any_cut = any_cut_flags.get(idx, False)
        if (cut == "" and formatter != "") or not any_cut:
            if formatter != "":
                df = df.withColumn(col_name, F.concat(F.lit(formatter), col))
        elif cut != "":
            df = df.withColumn(
                col_name,
                F.regexp_replace(col, "(^.*" + re.escape(cut) + ")", formatter),
            )
    return df


# ---------------------------------------------------------------------------
# F8: recursive delimiter-packed cell unnest
# ---------------------------------------------------------------------------

def explodes_data(
    df: DataFrame,
    lst_cols: list[str],
    splitter: str,
) -> DataFrame:
    """F8: un-nest delimiter-packed cells into rows, one column at a time
    (reference ``explodes_data``, pkt_kg/utils/data_utils.py:293-330).

    Reference semantics per column: split the cell on ``splitter``, drop
    empty fragments, emit one row per fragment; rows whose cell splits to
    nothing (empty/only-delimiters) are KEPT with the string 'None'. Columns
    explode independently (the recursion in the reference), so two packed
    columns produce the cross product of their fragments per input row —
    identical here because each explode multiplies rows before the next.

    All map-side (generator explode, no shuffle); row order is not
    preserved (the reference re-sorts by original index, which has no
    distributed analog — every consumer dedups or joins afterwards).
    """
    out = df
    for c in lst_cols:
        fragments = F.filter(
            F.split(F.col(c).cast("string"), re.escape(splitter)),
            lambda x: x != "",
        )
        out = out.withColumn(c, F.explode_outer(fragments)).withColumn(
            c, F.coalesce(F.col(c), F.lit("None"))
        )
    return out


# ---------------------------------------------------------------------------
# J1/J2: identifier-map joins
# ---------------------------------------------------------------------------

def apply_identifier_maps(
    df: DataFrame,
    identifier_maps: str,
    map_frames: dict[str, DataFrame],
    map_delimiter: str | None = None,
) -> DataFrame:
    """Translate source ids → ontology CURIEs via broadcast inner joins.

    ``identifier_maps``: '0:<map_key>;1:<map_key>' (column index → mapping
    table). Mirrors data_merger/process_mapping_data (edge_list.py:247-317):
    inner join per mapped column (unmapped rows drop), then keep the mapped
    ids for both columns, distinct.

    Each mapping DataFrame must have columns ``[src_id, tgt_id]``. When
    ``map_delimiter`` is given, mapping cells are delimiter-packed
    (multi-valued, the grammar the reference feeds through ``explodes_data``
    before merging, data_utils.py:293-330) and are un-nested first — a
    packed cell that stayed packed would silently under-join.
    """
    if identifier_maps in ("None", "", None):
        return df
    out = df
    for spec in identifier_maps.split(";"):
        idx_s, map_key = spec.split(":", 1)
        idx = int(idx_s)
        col_name = out.columns[idx] if idx < 2 else None
        if col_name is None:
            raise ValueError(f"identifier map index out of range: {spec!r}")
        target = "sub_id" if idx == 0 else "obj_id"
        map_df = map_frames[map_key]
        if map_delimiter:
            map_df = explodes_data(map_df, ["src_id", "tgt_id"], map_delimiter)
        m = map_df.select(
            F.col("src_id").alias("__src"), F.col("tgt_id").alias("__tgt")
        )
        out = (
            out.join(F.broadcast(m), F.col(target) == F.col("__src"), "inner")
            .drop(target, "__src")
            .withColumnRenamed("__tgt", target)
        )
    return out.select("sub_id", "obj_id").distinct()


# ---------------------------------------------------------------------------
# The per-edge-type pipeline (edge_list.py:347-385)
# ---------------------------------------------------------------------------

def build_edge_list(
    spark: SparkSession,
    config: EdgeTypeConfig,
    source_path: str,
    map_frames: dict[str, DataFrame] | None = None,
    map_delimiter: str | None = None,
) -> DataFrame:
    """scan → filter → reduce → relabel → map-join → drop 'None' rows.

    Returns ``[edge_type, sub_id, obj_id]`` (the tall replacement for the
    reference's nested ``edge_list`` arrays, edge_list.py:376-378).
    ``map_delimiter``: delimiter of packed multi-valued mapping cells
    (F8 ``explodes_data`` applied to the mapping tables before joining).
    """
    df = read_edge_source(spark, source_path, config.delimiter)
    df = filter_data(df, config.filter_criteria, config.evidence_criteria)
    df = data_reducer(df, config.column_idx)
    # the source_labels config field IS the label spec (e.g. ':;MESH_;')
    labels = config.source_labels
    if labels and labels not in ("None", ";;"):
        df = label_formatter(df, labels)
    df = apply_identifier_maps(
        df, config.identifier_maps, map_frames or {}, map_delimiter
    )
    df = df.filter((F.col("sub_id") != "None") & (F.col("obj_id") != "None"))
    return df.select(
        F.lit(config.edge_type).alias("edge_type"), "sub_id", "obj_id"
    ).distinct()


def edge_list_stats(edges: DataFrame) -> DataFrame:
    """A1: per-edge-type unique edge/subject/object counts (edge_list.py:380-383)."""
    return edges.groupBy("edge_type").agg(
        F.countDistinct(F.struct("sub_id", "obj_id")).alias("n_edges"),
        F.countDistinct("sub_id").alias("n_subjects"),
        F.countDistinct("obj_id").alias("n_objects"),
    )
