"""OWL-NETS abstraction decoding (N1-N12).

Re-expresses the reference's OWL-NETS 2.0 algorithm
(pkt_kg/owlnets.py:321-713) over the triple DataFrame:

1. **Root selection (N1)** — decode roots are all non-anonymous owl:Class
   subjects plus qualifying owl:Axiom nodes (annotatedSource/Target typed
   as Class, owlnets.py:793-799), decided by one grouped pass per subject.
2. **BNode-forest assignment (J7)** — every anonymous node is attached to
   the root(s) that reach it: one doubling transitive closure over the
   anonymous→anonymous edges (⌈log₂ depth⌉ rounds, so an rdf:List of any
   length costs a handful of rounds), joined to each root's anonymous
   objects and then to the triples once.
3. **Per-root decode (N2-N8)** — each root's forest is a few dozen triples;
   groups are processed with ``applyInArrow`` running the recursive
   decode: subClassOf hops, union/intersection rdf:List walks, restriction
   decoding, PATO property-selection, negation/complementOf gates,
   cardinality capture, and duplicate-predicate resolution (A10). This is
   the one genuinely irregular tree-walk in the engine — vectorization
   buys nothing per tree, so batching whole forests per Arrow group is the
   right shape.
4. **Assembly (N9/N12)** — decoded triples union the plain filtered graph
   (owl_filters.filter_owl_semantics), then connectivity repair (N10) and
   optional purification (N11). Purification computes a subclass
   transitive closure over the graph it is given; connectivity repair
   computes one only when a node with no subClassOf ancestor has an
   out-edge, since only such a node reads its neighbors' ancestors.

Decode-status rows (negation / complementOf / misc / cardinality) land in a
lineage-style DataFrame instead of the reference's ``owl_nets_dict``.

BNodes are strings prefixed ``_:`` or ``bnode:``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pheknowlator_spark.functions.rdf import (
    OBO,
    OWL_ANNOTATED_SOURCE,
    OWL_ANNOTATED_TARGET,
    OWL_AXIOM,
    OWL_CLASS,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    is_bnode,
)
from pheknowlator_spark.operators.graph_algos import (
    _cut_lineage,
    _observed_cut,
    transitive_closure,
)
from pheknowlator_spark.operators.owl_filters import (
    clean_decoded_graph,
    filter_owl_semantics,
    remove_disjoint_with,
    type_flags,
)
from pheknowlator_spark.operators.stats import mode_per_group

RO_0000086 = OBO + "RO_0000086"
BFO_ROOT = OBO + "BFO_0000001"

_MIXED_COLS = ("root", "a", "b", "c", "kind")


def _is_bnode_str(x: str) -> bool:
    return isinstance(x, str) and (x.startswith("_:") or x.startswith("bnode:"))


# ---------------------------------------------------------------------------
# N1: decode roots
# ---------------------------------------------------------------------------

def decode_roots(triples: DataFrame) -> DataFrame:
    """owl:Class URIs + qualifying owl:Axiom nodes (owlnets.py:793-799).

    An axiom qualifies when some (annotatedSource, annotatedTarget) pair
    has both sides typed owl:Class, or one side Class and the other
    untyped; a missing side counts as untyped. Each case tests one side
    alone, so "some pair qualifies" is the same test over per-side
    "some object is a Class" / "some object is untyped" flags, and one
    ``groupBy(s)`` over the type and annotated rows, with the
    :func:`type_flags` of their objects, decides every subject.
    """
    src, tgt = F.col("p") == OWL_ANNOTATED_SOURCE, F.col("p") == OWL_ANNOTATED_TARGET
    is_type = F.col("p") == RDF_TYPE
    flags = type_flags(triples).select(F.col("node").alias("o"), "is_class")
    # a typed node's is_class is never null: null means no rdf:type row
    is_class = F.coalesce("is_class", F.lit(False))
    untyped = F.col("is_class").isNull()
    facts = (
        triples.filter(is_type | src | tgt)
        .join(F.broadcast(flags), "o", "left")
        .groupBy("s")
        .agg(
            F.max(is_type & (F.col("o") == OWL_CLASS)).alias("cls"),
            F.max(is_type & (F.col("o") == OWL_AXIOM)).alias("ax"),
            F.max(src).alias("has_src"),
            F.max(src & is_class).alias("src_cls"),
            F.max(src & untyped).alias("src_untyped"),
            F.max(tgt).alias("has_tgt"),
            F.max(tgt & is_class).alias("tgt_cls"),
            F.max(tgt & untyped).alias("tgt_untyped"),
        )
    )
    src_cls, tgt_cls = F.col("src_cls"), F.col("tgt_cls")
    src_untyped = F.col("src_untyped") | ~F.col("has_src")
    tgt_untyped = F.col("tgt_untyped") | ~F.col("has_tgt")
    axiom_ok = (src_cls & tgt_cls) | (src_cls & tgt_untyped) | (tgt_cls & src_untyped)
    return facts.filter(
        (F.col("cls") & ~is_bnode(F.col("s"))) | (F.col("ax") & axiom_ok)
    ).select(F.col("s").alias("root"))


# ---------------------------------------------------------------------------
# J7: BNode-forest assignment
# ---------------------------------------------------------------------------

def assign_forests(triples: DataFrame, roots: DataFrame) -> DataFrame:
    """Attach to each root every triple reachable from it through anonymous
    nodes (reconciles_classes / recurses_axioms, owlnets.py:227-319).

    Returns ``[root, s, p, o, o_is_literal]`` — the per-root forest,
    including the root's own out-edges. The anonymous nodes below each
    anonymous node come from one doubling :func:`transitive_closure` over
    the anonymous→anonymous edges, so a chain of depth d (an RDF list of d
    members) takes ⌈log₂ d⌉ rounds, plus one only when d is a power of
    two, and a long ``owl:unionOf`` list is walked to its end in a few
    Spark jobs. Each root's anonymous objects
    join that closure once, and the reached nodes join the triples once.
    The closure holds every (anonymous node, anonymous descendant) pair,
    so an L-member list contributes L(L−1)/2 pairs (1 128 at 48 members).
    Forests are tiny (≤ dozens of triples); the number of roots is what
    parallelizes.
    """
    t = triples.select("s", "p", "o", "o_is_literal")
    below = transitive_closure(
        t.filter(is_bnode(F.col("s")) & is_bnode(F.col("o"))), "s", "o"
    )
    tops = (
        roots.join(t, roots.root == t.s)
        .filter(is_bnode(F.col("o")))
        .select("root", F.col("o").alias("node"))
    )
    members = (
        roots.select("root", F.col("root").alias("node"))
        .unionByName(tops)
        .unionByName(
            tops.join(below.withColumnRenamed("child", "node"), "node")
            .select("root", F.col("parent").alias("node"))
        )
    )
    return (
        members.join(t, members.node == t.s)
        .select("root", "s", "p", "o", "o_is_literal")
        .distinct()
    )


# ---------------------------------------------------------------------------
# N2-N8: per-root decode (Python over grouped forests)
# ---------------------------------------------------------------------------

def _decode_forest(root: str, rows: list[tuple[str, str, str, bool]]):
    """Decode one root's forest. Returns (triples, status) where triples is
    a list of (s,p,o) and status a list of (status, detail).

    Faithful re-derivation of cleans_owl_encoded_entities
    (owlnets.py:621-671) over string triples.
    """
    out_triples: list[tuple[str, str, str]] = []
    status: list[tuple[str, str]] = []

    by_subject: dict[str, list[tuple[str, str, bool]]] = {}
    for s, p, o, o_lit in rows:
        by_subject.setdefault(s, []).append((p, o, bool(o_lit)))

    def local(p_uri: str) -> str:
        return p_uri.split("#")[-1]

    node = root
    root_types = {o for p, o, _ in by_subject.get(root, []) if p == RDF_TYPE}

    # --- axiom reconciliation (owlnets.py:346-352)
    if OWL_AXIOM in root_types:
        src = [o for p, o, _ in by_subject.get(root, []) if p == OWL_ANNOTATED_SOURCE]
        tgt = [o for p, o, _ in by_subject.get(root, []) if p == OWL_ANNOTATED_TARGET]
        tgt_lit = [
            lit for p, o, lit in by_subject.get(root, [])
            if p in (OWL_ANNOTATED_SOURCE, OWL_ANNOTATED_TARGET) and lit
        ]
        if not src or not tgt or tgt_lit:
            return out_triples, status
        src, tgt = src[0], tgt[0]
        if not _is_bnode_str(src) and not _is_bnode_str(tgt):
            out_triples.append((src, RDFS_SUBCLASSOF, tgt))
            return out_triples, [("decoded", "axiom-direct")]

        def find_uri(n1, n2):
            # finds_uri (owlnets.py:251-268): first reachable owl:Class URI
            seen, queue = set(), [n1]
            while queue:
                x = queue.pop(0)
                if x in seen:
                    continue
                seen.add(x)
                if not _is_bnode_str(x) and x != n2:
                    x_types = {o for p, o, _ in by_subject.get(x, []) if p == RDF_TYPE}
                    if OWL_CLASS in x_types:
                        return x
                for p, o, lit in by_subject.get(x, []):
                    if not lit and o != n2 and o not in seen:
                        queue.append(o)
            return n1

        node = src if not _is_bnode_str(src) else find_uri(src, tgt)

    # --- edge dictionary (owlnets.py:321-361): bnode → {local(p): o}
    edge_dict: dict[str, dict[str, str]] = {}
    cardinality = []
    forest_triples = sorted(
        (s, p, o) for s, rest in by_subject.items() for (p, o, _l) in rest
    )
    for s, p, o in forest_triples:
        if "cardinality" in p.lower():
            cardinality.append(s)
            continue
        edge_dict.setdefault(s, {})[local(p)] = o
    if cardinality:
        status.append(("cardinality", ";".join(sorted(set(cardinality)))))

    bnode_dict = {k: v for k, v in edge_dict.items() if _is_bnode_str(k)}
    if not bnode_dict and OWL_AXIOM not in root_types:
        return out_triples, status

    # --- negation / complementOf gates (owlnets.py:387-424)
    for v in bnode_dict.values():
        prop = v.get("onProperty", "")
        if any(t in prop.lower() for t in ("lacks_", "not_")):
            status.append(("negation", prop))
            return [], status
    for v in bnode_dict.values():
        if "complementOf" in v:
            status.append(("complementOf", v["complementOf"]))
            return [], status

    def returns_object_property(sub, obj, prop):
        # owlnets.py:426-451
        if prop is not None and str(prop).lower() == "none":
            prop = None
        if "PATO" in sub and "PATO" in obj and prop is None:
            return RDFS_SUBCLASSOF
        if "PATO" not in sub and "PATO" in obj:
            return RO_0000086
        if prop is not None:
            return prop
        return RDFS_SUBCLASSOF

    def parses_anonymous_axioms(edges):
        # owlnets.py:454-472
        first, rest = edges.get("first"), edges.get("rest")
        if not _is_bnode_str(first) and _is_bnode_str(rest):
            return dict(edge_dict.get(rest, {}))
        if not _is_bnode_str(first) and not _is_bnode_str(rest):
            return dict(edge_dict.get(first, {}))
        if _is_bnode_str(first) and not _is_bnode_str(rest):
            return dict(edge_dict.get(first, {}))
        return {**edge_dict.get(first, {}), **edge_dict.get(rest, {})}

    cleaned: set[tuple[str, str, str]] = set()

    def parses_constructors(edges, relation=None):
        # owlnets.py:501-540
        if "unionOf" in edges:
            batch = dict(edge_dict.get(edges["unionOf"], {}))
            keyword = "union"
        elif "intersectionOf" in edges:
            batch = dict(edge_dict.get(edges["intersectionOf"], {}))
            keyword = "intersection"
        else:
            batch, keyword = dict(edges), "other"
        local_cleaned = set()
        while batch:
            if "first" in batch and "rest" in batch and "type" not in batch:
                first, rest = batch["first"], batch["rest"]
                if not _is_bnode_str(first) and _is_bnode_str(rest):
                    prop = returns_object_property(node, first, relation)
                    if node != first:
                        if keyword == "union":
                            local_cleaned.add((first, prop, node))
                        else:
                            local_cleaned.add((node, prop, first))
                        batch = dict(edge_dict.get(rest, {}))
                    else:
                        batch = dict(edge_dict.get(rest, {}))
                elif not _is_bnode_str(first) and not _is_bnode_str(rest):
                    prop = returns_object_property(node, first, relation)
                    if keyword == "union":
                        local_cleaned.add((first, prop, node))
                    else:
                        local_cleaned.add((node, prop, first))
                    batch = None
                else:
                    batch = parses_anonymous_axioms(batch)
            else:
                break
        return local_cleaned, batch

    def parses_restrictions(edges):
        # owlnets.py:542-589
        prop_types = ["allValuesFrom", "someValuesFrom", "hasSelf", "hasValue", "onClass"]
        components = ["type", "first", "rest", "onProperty"]
        object_type = [k for k in edges if k not in components and k in prop_types]
        if not object_type:
            return None
        ot = object_type[0]
        target = edges[ot]
        local_cleaned = set()
        if not _is_bnode_str(target):
            object_node = node if ot == "hasSelf" else target
            local_cleaned.add((node, edges["onProperty"], object_node))
            if len(edges) == 3:
                return local_cleaned, None
            return local_cleaned, parses_anonymous_axioms(edges)
        axioms = dict(edge_dict.get(target, {}))
        if "unionOf" in axioms or "intersectionOf" in axioms:
            c, batch = parses_constructors(axioms, edges.get("onProperty"))
            return local_cleaned | c, batch
        return local_cleaned, axioms

    def parses_subclasses(edges):
        # owlnets.py:474-499
        sc = edges["subClassOf"]
        if not _is_bnode_str(sc):
            return {(node, RDFS_SUBCLASSOF, sc)}, {
                k: v for k, v in edges.items() if k != "subClassOf"
            }
        return set(), {
            **edge_dict.get(sc, {}),
            **{k: v for k, v in edges.items() if k != "subClassOf"},
        }

    elements = list(edge_dict.keys())
    for element in elements:
        edges = dict(edge_dict[element])
        guard = 0
        while edges:
            guard += 1
            if guard > 200:
                status.append(("misc", "decode-loop-guard"))
                break
            if "subClassOf" in edges:
                c, edges = parses_subclasses(edges)
                cleaned |= c
            elif "intersectionOf" in edges or "unionOf" in edges:
                c, edges = parses_constructors(edges)
                cleaned |= c
            elif "type" in edges and "Restriction" in str(edges.get("type", "")):
                res = parses_restrictions(edges)
                if res is None:
                    edges = None
                else:
                    c, edges = res
                    cleaned |= c
            else:
                misc = [
                    k for k in edges
                    if k not in ("type", "first", "rest", "onProperty")
                ]
                if misc:
                    status.append(("misc", ",".join(sorted(misc))))
                edges = None

    # A10: duplicate (s,o) resolution preferring non-subClassOf
    # (verifies_cleaned_classes, owlnets.py:591-619)
    by_so: dict[tuple[str, str], list[str]] = {}
    for s, p, o in cleaned:
        by_so.setdefault((s, o), []).append(p)
    verified = set()
    for (s, o), ps in by_so.items():
        if len(ps) > 1 and RDFS_SUBCLASSOF in ps:
            others = sorted(p for p in ps if p != RDFS_SUBCLASSOF)
            verified.add((s, others[0], o))
        else:
            verified.add((s, sorted(ps)[0], o))
    out_triples.extend(sorted(verified))
    if verified:
        status.append(("decoded", str(len(verified))))
    return out_triples, status


def decode_forests(forests: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Run the per-root decode via applyInArrow grouped by root."""

    # no type hints: pyspark would try to infer the UDF form from them
    def run(key, table):
        root = key[0].as_py()
        rows = list(zip(*(
            table.column(c).to_pylist() for c in ("s", "p", "o", "o_is_literal")
        )))
        triples, status = _decode_forest(root, rows)
        out = [(root, s, p, o, "triple") for s, p, o in triples]
        out += [(root, st, d, "", "status") for st, d in status]
        cols = list(zip(*out)) or [()] * len(_MIXED_COLS)
        return pa.table(
            [pa.array(c, pa.string()) for c in cols], names=list(_MIXED_COLS)
        )

    mixed = forests.groupBy("root").applyInArrow(
        run, ", ".join(f"{c} string" for c in _MIXED_COLS)
    )
    decoded = mixed.filter(F.col("kind") == "triple").select(
        "root", F.col("a").alias("s"), F.col("b").alias("p"), F.col("c").alias("o")
    )
    status = mixed.filter(F.col("kind") == "status").select(
        "root", F.col("a").alias("status"), F.col("b").alias("detail")
    )
    return decoded, status


# ---------------------------------------------------------------------------
# N10: connectivity repair
# ---------------------------------------------------------------------------

def make_graph_connected(
    triples: DataFrame,
    approach: str = "subclass",
) -> DataFrame:
    """Attach root concepts to the common ancestor ``BFO_ROOT``
    (makes_graph_connected, owlnets.py:673-713), deterministically.

    For every node with no subClassOf-ancestors: its root is itself unless
    its neighbors have ancestors, in which case the mode (deterministic
    lexicographic tie-break — replaces the reference's random.sample,
    SURVEY §7.4 risk 2). Roots get ``rdfs:subClassOf`` (subclass) or
    ``rdf:type`` (instance) edges to the ancestor.

    One grouped pass flags every node: ``has_anc`` (a subClassOf edge to a
    different node — exactly the children of the subclass closure) and
    ``is_subject`` (an out-edge). The rootless nodes are cut, and the cut's
    own job counts the rootless subjects. Only neighbors' ancestors need
    the subclass transitive closure, so it runs only when that count is
    above zero; otherwise every rootless node is its own root.
    """
    t = triples.select("s", "p", "o")
    is_sub_edge = (F.col("p") == RDFS_SUBCLASSOF) & (F.col("s") != F.col("o"))
    flags = (
        t.select(
            F.col("s").alias("node"),
            F.when(is_sub_edge, True).otherwise(False).alias("has_anc"),
            F.lit(True).alias("is_subject"),
        )
        .unionByName(t.select(
            F.col("o").alias("node"),
            F.lit(False).alias("has_anc"),
            F.lit(False).alias("is_subject"),
        ))
        .groupBy("node")
        .agg(F.max("has_anc").alias("has_anc"), F.max("is_subject").alias("is_subject"))
    )
    rootless, probe = _observed_cut(
        flags.filter(~F.col("has_anc")).select("node", "is_subject"),
        {"subjects": F.count(F.when(F.col("is_subject"), 1))},
    )

    root = F.col("node")
    if probe["subjects"]:
        # neighbors' top ancestors: out-neighbors o of rootless x, take the
        # topmost ancestor of each neighbor (reference takes ancs[0], the
        # root end of the ordered ancestor list); approximate with the
        # ancestor set mode. Deterministic via mode_per_group.
        closure = transitive_closure(
            t.filter(F.col("p") == RDFS_SUBCLASSOF).select(
                F.col("s").alias("child"), F.col("o").alias("parent")
            )
        )
        neigh = (
            rootless.filter(F.col("is_subject"))
            .join(t.select(F.col("s").alias("node"), "o"), "node")
            .select("node", F.col("o").alias("nbr"))
        )
        nbr_ancs = neigh.join(
            closure.select(F.col("child").alias("nbr"), F.col("parent").alias("anc")),
            "nbr",
        ).select("node", "anc")
        nbr_mode = mode_per_group(nbr_ancs, "node", "anc").withColumnRenamed(
            "anc", "root"
        )
        rootless = rootless.join(nbr_mode, "node", "left")
        root = F.coalesce("root", F.col("node"))
    roots = (
        rootless.select(root.alias("root"))
        .distinct()
        .filter(F.col("root") != BFO_ROOT)
    )
    rel = RDFS_SUBCLASSOF if approach == "subclass" else RDF_TYPE
    new_edges = roots.select(
        F.col("root").alias("s"),
        F.lit(rel).alias("p"),
        F.lit(BFO_ROOT).alias("o"),
    )
    return t.unionByName(new_edges).distinct()


# ---------------------------------------------------------------------------
# N11: purification
# ---------------------------------------------------------------------------

def purify_graph(triples: DataFrame, approach: str = "subclass") -> DataFrame:
    """Rewrite rdf:type ↔ rdfs:subClassOf per approach and connect subjects
    to all object ancestors (purifies_graph_build, owlnets.py:715-738).

    One closure computation + join/explode replaces the reference's
    per-triple recursive ancestor walk.
    """
    org_rel = RDF_TYPE if approach == "subclass" else RDFS_SUBCLASSOF
    pure_rel = RDFS_SUBCLASSOF if org_rel == RDF_TYPE else RDF_TYPE
    t = triples.select("s", "p", "o")
    to_fix = t.filter(F.col("p") == org_rel)
    keep = t.filter(F.col("p") != org_rel)
    rewritten = to_fix.select("s", F.lit(pure_rel).alias("p"), "o")
    sub_edges = t.filter(F.col("p") == RDFS_SUBCLASSOF).select(
        F.col("s").alias("child"), F.col("o").alias("parent")
    )
    closure = transitive_closure(sub_edges)
    anc_edges = (
        to_fix.join(closure.withColumnRenamed("child", "o"), "o")
        .filter(F.col("parent").startswith("http"))
        .filter(F.col("parent") != F.col("o"))
        .select("s", F.lit(pure_rel).alias("p"), F.col("parent").alias("o"))
    )
    return keep.unionByName(rewritten).unionByName(anc_edges).distinct()


# ---------------------------------------------------------------------------
# full OWL-NETS run
# ---------------------------------------------------------------------------

def run_owlnets(
    triples: DataFrame,
    approach: str | None = "subclass",
    purify: bool = False,
) -> dict[str, DataFrame]:
    """Full pipeline (runs_owlnets, owlnets.py:775-834): disjointWith
    removal → plain-triples filter → decode → clean → connect → (purify)."""
    t = remove_disjoint_with(triples)
    plain = filter_owl_semantics(t).select("s", "p", "o")
    roots = decode_roots(t)
    forests = assign_forests(t, roots)
    decoded, status = decode_forests(forests)
    decoded_full = decoded.select(
        "s",
        "p",
        "o",
        F.lit(False).alias("o_is_literal"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(None).cast("string").alias("o_datatype"),
    )
    cleaned = clean_decoded_graph(decoded_full).select("s", "p", "o")
    # cut lineage ONCE on the combined graph: make_graph_connected reads
    # it at least twice (the node-flag pass and the final union; the
    # closure base and the neighbor set too when it builds the closure) —
    # without the cut each read re-ran the whole applyInArrow decode + the
    # plain-triples filter tree
    combined = _cut_lineage(plain.unionByName(cleaned).distinct())
    connected = make_graph_connected(combined, approach or "subclass")
    out = {
        "owlnets": connected,
        "decode_status": status,
    }
    if purify and approach:
        out["purified"] = purify_graph(connected, approach)
    return out
