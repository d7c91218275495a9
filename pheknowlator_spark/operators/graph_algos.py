"""Iterative graph algorithms as driver-side loops over DataFrame ops.

* ``connected_components`` — A7 (kg_utils.py:402-420 networkx CC) as
  min-label propagation plus label-pointer jumping; used for same-as
  canonicalization (north rule).
* ``transitive_closure`` — J10/N11 ancestor closure
  (kg_utils.py:373-399 recursive walk) as a doubling self-join.
* ``assign_integer_ids`` — S13/W2 dense id assignment
  (kg_utils.py:653-699) without a single-partition window.
* ``pagerank`` — power-iteration node importance over the built KG.
* ``triangle_stats`` — per-node triangles + local clustering coefficient
  (node-iterator++ oriented wedge join).
* ``bfs_depths`` — min-hop depth from a root set (frontier BFS).
* ``k_core`` — k-core decomposition by iterative peeling.

Every iterative operator (these five, and ``owlnets.assign_forests``
through ``transitive_closure``) runs its rounds through one driver,
:func:`_iterate`, which cuts lineage every round (SURVEY §4: checkpoint
every iteration), commits and resumes rounds through an optional
StageStore, and stops on the operator's own convergence probe — never at
a silent cap. The probe is a set of aggregates observed on the cut's own
job (a ``pyspark.sql.Observation``), so convergence costs no Spark job;
each round's values are logged at DEBUG on the ``pheknowlator_spark``
logger.
The session conf ``spark.pheknowlator.reliableCheckpoints=true`` switches
the cut from ``localCheckpoint`` (executor-local blocks — fast, but lost
with an executor in cluster mode) to RELIABLE ``checkpoint`` writes under
Spark's checkpoint directory (``spark.checkpoint.dir``) — required on a
real multi-executor cluster, where losing one executor mid-iteration would
otherwise recompute the whole chain. Local mode keeps the default: one
JVM, no executor loss.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_RELIABLE_CONF = "spark.pheknowlator.reliableCheckpoints"
_log = logging.getLogger("pheknowlator_spark")


def _cut_lineage(df: DataFrame) -> DataFrame:
    if df.sparkSession.conf.get(_RELIABLE_CONF, "false") == "true":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _observed_cut(df: DataFrame, probe: dict) -> tuple[DataFrame, dict]:
    """Cut ``df``'s lineage and return the cut frame with the ``probe``
    aggregates (name → Column), read off the cut's own job."""
    obs = Observation()
    cut = _cut_lineage(df.observe(obs, *(c.alias(k) for k, c in probe.items())))
    return cut, obs.get


def _iterate(
    state: DataFrame,
    step,
    probe: dict,
    done=None,
    rounds: int | None = None,
    store=None,
    prefix: str = "",
    on_round=None,
) -> DataFrame:
    """Cut the initial ``state``, then run ``state = cut(step(state))``
    round after round; returns the last round's cut frame.

    ``probe`` maps names to aggregate Columns over a state frame; each cut
    observes them, so a round costs its cut and nothing more. Stop rule:
    ``rounds=N`` runs exactly N rounds, resumed ones included; otherwise
    rounds run until ``done(prev, cur)`` holds, where ``cur`` is the
    round's probe values and ``prev`` those of the state it stepped from
    (None on the first round after a resume). There is no cap — every
    caller's probe watches a quantity that moves monotonically over a
    finite set (labels only decrease, visited sets and closure paths only
    grow, peeled edges only shrink), so it fires.

    With a ``plans.checkpoint.StageStore`` as ``store``, each round's cut
    frame commits as stage ``{prefix}_round_NNNN`` and a rerun resumes
    after the last committed round. The resumed table is projected onto
    the initial state's columns, and a column it lacks (a table written
    by older code) is joined back from the initial state on ``node``.

    ``on_round(it, round_df)`` runs after round ``it`` (0-based) is cut
    and committed, with the round's uncut frame — fault injection and
    plan audits in tests. Each round logs ``prefix``, ``it`` and the probe
    values at DEBUG, and the loop logs the rounds run when it stops.
    """
    it, prev = 0, None
    if store is not None:
        committed = sorted(
            s for s in store.manifest()["stages"]
            if s.startswith(f"{prefix}_round_")
        )
        if committed:
            last = store.run(committed[-1], lambda: None)
            missing = [c for c in state.columns if c not in last.columns]
            if missing:
                last = last.join(state.select("node", *missing), "node")
            state = last.select(*state.columns)
            it = int(committed[-1].rsplit("_", 1)[-1]) + 1
    if it == 0:
        state, prev = _observed_cut(state, probe)
    while rounds is None or it < rounds:
        round_df = step(state)
        state, cur = _observed_cut(round_df, probe)
        if store is not None:
            state = store.run(f"{prefix}_round_{it:04d}", lambda s=state: s)
        if on_round is not None:
            on_round(it, round_df)
        _log.debug("%s round %d: %s", prefix, it, cur)
        it += 1
        if rounds is None and done(prev, cur):
            break
        prev = cur
    _log.debug("%s: %d rounds", prefix, it)
    return state


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    state_store=None,
    stage_prefix: str = "cc",
    on_round=None,
) -> DataFrame:
    """Min-label-propagation connected components over an undirected edge set.

    Returns ``[node, component]`` where component is the lexicographic min
    node id of the component (deterministic — replaces the reference's
    order-dependent networkx component numbering, kg_utils.py:402-420).

    Algorithm: each round lowers every node's label to the min over its
    own and its neighbors' labels, then jumps each label to its label's
    label (pointer jumping) to shortcut chains; rounds run until no label
    changes (the count of changed labels is read off the round's cut).
    Per-round cost: one shuffle join + one groupBy for the neighbor min
    and one self-join for the jump — all hash-partitioned on node, so at
    10^12 scale rounds reuse the same partitioning.

    Restart safety: pass a ``plans.checkpoint.StageStore`` as
    ``state_store`` and each round's label table commits as stage
    ``{stage_prefix}_round_NNNN``; a rerun after a mid-iteration crash
    resumes from the last committed round (edges are re-derived — they are
    input, not state — and every round is a deterministic function of the
    previous labels, so the resumed result is identical; asserted by
    ``tests/test_misc_ops.py``'s kill/resume test). Leave it None for the
    in-memory ``localCheckpoint``/reliable-``checkpoint`` lineage cuts
    only. ``on_round(it, round_df)`` is a post-commit hook (fault
    injection in tests; see :func:`_iterate`).
    """
    # undirected symmetric closure, self-labels
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    # cut sym FIRST so the labels cut reads the checkpointed edges — the
    # former order derived labels from the still-lazy subtree and its cut
    # re-ran the whole upstream edge derivation a second time
    sym = _cut_lineage(
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("component"), F.col("node").alias("__prev")
    )

    def step(labels):
        # candidate label per node = min(own, min over neighbors' labels)
        neighbor_min = (
            sym.join(
                labels.select(F.col("node").alias("b"), "component"), "b"
            )
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # the previous label rides along as ``__prev`` so the convergence
        # probe is an aggregate over the round's own rows, with no join
        # against the previous labels (a shuffle join per round)
        new_labels = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("nbr_min", F.col("component"))
            ).alias("component"),
            F.col("component").alias("__prev"),
        )
        # label-pointer jumping: component ← label(component) to shortcut chains
        parents = new_labels.select(
            F.col("node").alias("component"), F.col("component").alias("parent")
        )
        return new_labels.join(parents, "component", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce("parent", F.col("component"))
            ).alias("component"),
            "__prev",
        )

    changed = F.count(F.when(F.col("component") != F.col("__prev"), 1))
    return _iterate(
        labels, step, {"changed": changed}, lambda _, cur: cur["changed"] == 0,
        store=state_store, prefix=stage_prefix, on_round=on_round,
    ).select("node", "component")


def transitive_closure(
    edges: DataFrame,
    src: str = "child",
    dst: str = "parent",
) -> DataFrame:
    """All (descendant, ancestor) pairs over a DAG edge set.

    Doubling closure: paths ← paths ∪ (paths ⋈ paths) each round, keeping
    each pair's shortest hop count ``d``. After round k the state holds
    exactly the pairs within 2^k hops, at their true distances; a subpath
    of a shortest path is itself shortest, so once no pair is 2^k hops
    apart no longer one exists. Rounds therefore stop when the longest
    distance (read off the round's cut with the path count) falls short of
    twice the previous round's, or when the path count stops growing: a
    depth-d hierarchy closes in ⌈log₂ d⌉ rounds, plus one only when d is a
    power of two. Intended for the *ontology* subgraph (≤10^7 edges —
    SURVEY §7.4 risk 3 bounds the explosion); never run on the full
    web-derived triple set.

    Returns ``[child, parent]`` distinct pairs (excluding reflexive pairs).
    """
    paths = (
        edges.select(F.col(src).alias("child"), F.col(dst).alias("parent"))
        .filter(F.col("child") != F.col("parent"))
        .distinct()
        .withColumn("d", F.lit(1))
    )

    def step(paths):
        hops = (
            paths.alias("x")
            .join(paths.alias("y"), F.col("x.parent") == F.col("y.child"))
            .select(
                F.col("x.child").alias("child"),
                F.col("y.parent").alias("parent"),
                (F.col("x.d") + F.col("y.d")).alias("d"),
            )
            .filter(F.col("child") != F.col("parent"))
        )
        return paths.unionByName(hops).groupBy("child", "parent").agg(
            F.min("d").alias("d")
        )

    def done(prev, cur):
        return cur["rows"] == prev["rows"] or cur["max_d"] < 2 * prev["max_d"]

    return _iterate(
        paths, step, {"rows": F.count(F.lit(1)), "max_d": F.max("d")}, done,
        prefix="transitive_closure",
    ).select("child", "parent")


def assign_integer_ids(triples: DataFrame) -> tuple[DataFrame, DataFrame]:
    """S13: dense integer ids for every node+predicate, plus encoded triples.

    The reference assigns ids in insertion order (kg_utils.py:681-686); any
    bijection is valid because the map is materialized alongside. We order
    lexicographically for determinism and use zipWithIndex (no
    single-partition window bottleneck at 10^10 nodes).

    Returns (id_map [entity, id], int_triples [s_id, p_id, o_id]).
    Parity check: output triple count must equal input (kg_utils.py:694).
    """
    entities = (
        triples.select(F.col("s").alias("entity"))
        .unionByName(triples.select(F.col("p").alias("entity")))
        .unionByName(triples.select(F.col("o").alias("entity")))
        .distinct()
        .orderBy("entity")
    )
    id_map = (
        entities.rdd.map(lambda r: r.entity)
        .zipWithIndex()
        .toDF(["entity", "id"])
    )
    m = id_map
    int_triples = (
        triples.join(m.select(F.col("entity").alias("s"), F.col("id").alias("s_id")), "s")
        .join(m.select(F.col("entity").alias("p"), F.col("id").alias("p_id")), "p")
        .join(m.select(F.col("entity").alias("o"), F.col("id").alias("o_id")), "o")
        .select("s_id", "p_id", "o_id")
    )
    n_in, n_out = triples.count(), int_triples.count()
    if n_in != n_out:
        raise ValueError(
            f"integer-encoding lost triples: {n_in} in vs {n_out} out"
        )
    return id_map, int_triples


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    state_store=None,
    stage_prefix: str = "pr",
    on_round=None,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge set — node importance
    for the constructed KG (the reference exposes the networkx graph for
    exactly this kind of downstream analysis, kg_utils.py:423-447's
    gets_graph_statistics neighbors; here it is a first-class distributed
    operator). Returns ``[node, rank]`` with ranks summing to 1.

    Semantics (the classic formulation, fixed ``iterations`` so the result
    is a closed-form function of the input): rank⁰ = 1/N;
    rank^{k+1}(v) = (1-d)/N + d·(Σ_{u→v} rank^k(u)/outdeg(u) + D^k/N)
    where D^k is the total rank parked on dangling nodes (no out-edges),
    redistributed uniformly.

    100 TB path: out-degree weights are folded into the edge table ONCE
    before the loop (``w = 1/outdeg``), so each iteration is one
    hash-partitioned join on ``src`` + one partially-combined ``sum``
    keyed by ``dst`` — the same two-shuffle round as connected
    components, reusing the node partitioning across iterations. The
    dangling mass is a one-row broadcast (crossJoin of an aggregate), not
    a driver collect, so the whole iteration stays in one lazy plan;
    lineage is cut per round (reliable checkpoints apply, see the module
    docstring).

    Restart safety mirrors :func:`connected_components`: pass a
    ``plans.checkpoint.StageStore`` as ``state_store`` and each round's
    rank table commits as ``{stage_prefix}_round_NNNN``; a rerun resumes
    from the last committed round (each round is a deterministic function
    of the previous ranks, so the resumed result is identical; round
    tables without the ``__has_out`` marker, as older code wrote them,
    resume too). ``on_round(it, round_df)`` is a post-commit hook (fault
    injection and plan audits in tests; see :func:`_iterate`).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # cut the deduplicated edge set FIRST: the node count, the weighted
    # edge cut, and the dangling-flag join below each consume it — uncut,
    # every consumer re-ran the upstream edge derivation
    e = _cut_lineage(
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    weighted = e.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("__deg")).alias("__w")
    )
    weighted = _cut_lineage(weighted)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    # the dangling marker rides along in the rank table: the per-round
    # dangling mass becomes a filter + aggregate over the checkpointed
    # ranks instead of an anti-join against the out-degree dim (one fewer
    # join per round), and the new ranks build from the previous round's
    # table directly instead of re-joining the node dim
    has_out = outdeg.select(
        F.col("src").alias("node"), F.lit(True).alias("__has_out")
    )
    ranks = (
        nodes.join(has_out, "node", "left")
        .select(
            "node",
            F.coalesce("__has_out", F.lit(False)).alias("__has_out"),
            F.lit(1.0 / n).alias("rank"),
        )
    )
    d = damping

    def step(ranks):
        contrib = (
            weighted.join(
                ranks.select(F.col("node").alias("src"), "rank"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("__w")).alias("__in"))
        )
        dangling = (
            ranks.filter(~F.col("__has_out"))
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        return (
            ranks.select("node", "__has_out")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__has_out",
                (
                    F.lit((1.0 - d) / n)
                    + F.lit(d)
                    * (F.coalesce("__in", F.lit(0.0)) + F.col("__dm") / n)
                ).alias("rank"),
            )
        )

    # the rank mass (1 up to rounding) is the logged per-round probe
    return _iterate(
        ranks, step, {"mass": F.sum("rank")}, rounds=iterations,
        store=state_store, prefix=stage_prefix, on_round=on_round,
    ).select("node", "rank")


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over an
    undirected simple graph — the next two entries of the graph-statistics
    family the reference computes with networkx (kg_utils.py:473-481's
    density/degree report; triangles/clustering are the standard
    companions networkx exposes on the same graph object). Returns
    ``[node, degree, triangles, clustering_coeff]`` for every node, where
    ``clustering_coeff = 2·triangles / (degree·(degree−1))`` (0.0 when
    degree < 2).

    Node-iterator++ plan (the MapReduce-classic): canonicalize each edge
    low→high once, enumerate wedges by joining the oriented edge list
    with itself on the middle node (so every triangle ``a<b<c`` is built
    exactly once from ``(a,b)+(b,c)``), then semi-join the closing edge
    ``(a,c)``. Orienting by id bounds the wedge join at
    Σ min-degree products instead of Σ degree² — the standard skew
    defense for power-law graphs; all three shuffles are keyed on node
    ids (AQE skew-join applies). No windows, no driver state.
    """
    e = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("a"),
            F.col("e1.b").alias("b"),
            F.col("e2.b").alias("c"),
        )
    )
    triangles = wedges.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "semi"
    )
    tri_per_node = (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return deg.join(tri_per_node, "node", "left").select(
        "node",
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
        F.when(
            F.col("degree") >= 2,
            (F.lit(2.0) * F.coalesce("triangles", F.lit(0)))
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coeff"),
    )


def bfs_depths(
    edges: DataFrame,
    roots: DataFrame,
) -> DataFrame:
    """Minimum hop count from a root set along directed ``src → dst``
    edges — the "ontology depth below root" statistic (the min-hop
    companion of :func:`transitive_closure`'s reachability; the reference
    walks the same hierarchy with per-node recursion,
    kg_utils.py:373-399). Returns ``[node, depth]`` for every node
    reachable from ``roots`` (roots themselves at depth 0); unreachable
    nodes are absent.

    Frontier BFS: each round expands only the newly-discovered frontier
    (anti-join against the visited set), so total work is O(edges
    reachable) across all rounds, not O(edges × depth). Both per-round
    shuffles (the frontier join, the min-dedup of new nodes) are keyed on
    node ids; lineage is cut per round (reliable checkpoints apply, see
    the module docstring); the walk ends on the first empty
    frontier, whose row count is read off the round's cut, never
    collecting state.
    """
    e = (
        edges.select("src", "dst")
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    e = _cut_lineage(e)
    roots = (
        roots.select(F.col(roots.columns[0]).alias("node"))
        .distinct()
        .withColumn("depth", F.lit(0).cast("long"))
    )
    # visited stays a LAZY union of the checkpointed per-level frontiers:
    # each part is already cut, and cutting the union again every level
    # would re-materialize the whole visited set per round (O(depth²)
    # total work and one more eager job per level)
    levels = []

    def step(frontier):
        levels.append(frontier)
        return (
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(_union(levels), "node", "anti")
            .withColumn("depth", F.lit(len(levels)).cast("long"))
        )

    _iterate(
        roots, step, {"rows": F.count(F.lit(1))}, lambda _, cur: cur["rows"] == 0,
        prefix="bfs_depths",
    )
    return _union(levels)


def link_prediction_scores(
    edges: DataFrame,
    min_common: int = 1,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor link prediction over an undirected simple graph —
    KG-completion candidate generation: non-adjacent node pairs scored by
    shared neighborhood. Returns ``[a, b, common_neighbors, jaccard,
    adamic_adar]`` for every pair ``a < b`` NOT already an edge with at
    least ``min_common`` common neighbors, where ``jaccard = |N(a)∩N(b)|
    / |N(a)∪N(b)|`` and ``adamic_adar = Σ_z 1/ln(deg z)`` over the common
    neighbors ``z`` (deg z ≥ 2 by construction, so the log never hits 0;
    9-dp rounded — the only float summation).

    Plan: symmetric adjacency once, candidate pairs from the wedge join
    ``(z,a)⋈(z,b), a<b`` (each shared neighbor contributes the pair
    exactly once, so ``count(*)`` IS the common-neighbor count), degree
    dim joined on the middle node, one partially-combined aggregation per
    pair, one anti-join to drop existing edges. Hub nodes contribute
    deg² wedge pairs — the documented scale control is
    ``max_neighbor_degree``: drop super-hubs as middle nodes (standard
    practice; a celebrity node's common-neighbor signal is noise anyway),
    turning the worst case from deg_max² into threshold². AQE skew-join
    covers moderate skew when the cap is off.
    """
    und = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("n")).unionByName(
        und.select(F.col("b").alias("z"), F.col("a").alias("n"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("degree"))
    mid = adj.select(F.col("n").alias("z"), F.col("z").alias("n")).join(
        deg, "z"
    )
    if max_neighbor_degree is not None:
        mid = mid.filter(F.col("degree") <= max_neighbor_degree)
    pairs = (
        mid.alias("x")
        .join(mid.alias("y"), "z")
        .filter(F.col("x.n") < F.col("y.n"))
        .select(
            F.col("x.n").alias("a"),
            F.col("y.n").alias("b"),
            F.col("x.degree").alias("__dz"),
        )
    )
    scored = pairs.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(F.lit(1.0) / F.log(F.col("__dz"))).alias("__aa"),
    )
    da = deg.select(F.col("z").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("z").alias("b"), F.col("degree").alias("__db"))
    return (
        scored.filter(F.col("common_neighbors") >= min_common)
        .join(und, ["a", "b"], "anti")
        .join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "common_neighbors",
            (
                F.col("common_neighbors")
                / (F.col("__da") + F.col("__db") - F.col("common_neighbors"))
            ).alias("jaccard"),
            F.round("__aa", 9).alias("adamic_adar"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int | None = None,
    on_round=None,
) -> DataFrame:
    """k-core decomposition by iterative peeling — the standard dense-
    subgraph filter for pruning a noisy constructed KG to its reliably
    connected backbone before embedding training. The graph is treated
    as undirected (edges symmetrized + deduplicated); each round removes
    every node whose degree has fallen below ``k`` and the edges touching
    it. Returns ``[node, degree]`` for the surviving nodes with their
    within-core degree.

    ``rounds=None`` peels to the exact fixed point (the true k-core): the
    round stops when its edge count, read off the round's cut, equals the
    previous round's. A fixed ``rounds=N`` runs exactly N peel
    rounds (a closed-form function of the input that a DuckDB oracle
    replays as N chained CTEs); once the core is reached further rounds
    are no-ops, so a fixed N ≥ the peel depth equals the exact core.

    100 TB plan: a round is ONE partially-combined degree aggregation
    keyed on the node + TWO left-semi hash joins (src kept, dst kept) —
    all shuffles on the node key, reused across rounds; lineage is cut
    per round (reliable checkpoints apply, see the module docstring).
    Peel depth is bounded by the degeneracy ordering, typically tens of
    rounds on power-law graphs.
    ``on_round(it, round_df)`` is a post-cut hook (plan audits / fault
    injection in tests; see :func:`_iterate`).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds is not None and rounds < 1:
        raise ValueError("rounds must be >= 1 or None")
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
    )
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct()

    def step(und):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("__deg"))
        keep = deg.filter(F.col("__deg") >= k).select("a")
        return (
            und.join(keep, "a", "left_semi")
            .join(keep.select(F.col("a").alias("b")), "b", "left_semi")
            .select("a", "b")
        )

    core = _iterate(
        und, step, {"rows": F.count(F.lit(1))}, lambda prev, cur: cur == prev,
        rounds=rounds, prefix="k_core", on_round=on_round,
    )
    return core.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
