"""Physical-plan audits for the temporal/graph/KG-train operators: the
scale properties claimed in their docstrings must be visible in the
executed plan — no nested-loop range joins, broadcast candidate pools,
and single-exchange as-of matching."""

import __spark_entry__ as e

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_interval_join_is_equality_not_nested_loop(spark):
    """The bucketed range join must plan as a hash equality join — a raw
    range predicate would plan as BroadcastNestedLoopJoin/Cartesian,
    which is the quadratic blowup the operator exists to avoid."""
    plan = plan_of(e.q_interval_join(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_asof_join_has_no_join_operator(spark):
    """The as-of match is union + window — there must be NO join in the
    plan at all (the match happens in the running-last window)."""
    plan = plan_of(e.q_asof_join(spark, SF_DIR))
    assert "Window" in plan
    for join_op in ("SortMergeJoin", "HashJoin", "NestedLoopJoin"):
        assert join_op not in plan


def test_negative_triples_pool_broadcasts(spark):
    """The per-predicate candidate pool is vocabulary-sized and must
    broadcast; the corpus-side aggregation must partially combine."""
    plan = plan_of(e.q_negative_triples(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    # min_by compiles to a partial/final HashAggregate pair
    assert plan.count("HashAggregate") >= 2


def test_funnel_counts_reuses_user_partitioning(spark):
    """Every funnel stage shuffles on the user key only — no window over
    the event table, no nested-loop joins."""
    plan = plan_of(e.q_funnel_counts(spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cohort_retention_no_window_partial_agg(spark):
    """Retention is aggregations + one user-keyed join — no window over
    the event table, no nested-loop join, and the final (cohort, offset)
    count partially combines map-side."""
    plan = plan_of(e.q_cohort_retention(spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_random_walks_hop_is_join_plus_min_by(spark):
    """Each hop must be a hash join + partially-combined min_by — no
    window over the edge table, no nested-loop join."""
    plan = plan_of(e.q_random_walks(spark, SF_DIR))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_khop_window_is_per_adjacency_only(spark):
    """The top-f ranking windows on the expansion key; no nested-loop or
    cartesian expansion anywhere."""
    plan = plan_of(e.q_khop_neighbors(spark, SF_DIR))
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_verbalize_label_joins_broadcast(spark):
    """All three label joins must broadcast the vocabulary-sized dim —
    zero corpus-side shuffle joins."""
    plan = plan_of(e.q_verbalize_triples(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_k_core_rounds_are_semi_joins(spark):
    """Peel rounds are left-semi hash joins + hash aggregations — no
    nested-loop join, no window. The per-round lineage cut truncates the
    final executed plan, so the round plan is captured via the on_round
    hook, which receives each round's uncut frame (the same pattern as
    the pagerank audit)."""
    from pheknowlator_spark.operators.graph_algos import k_core

    round_plans = []
    edges = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .selectExpr("l_suppkey as src", "l_partkey as dst")
    )
    k_core(
        edges,
        k=3,
        rounds=2,
        on_round=lambda it, df: round_plans.append(
            df._jdf.queryExecution().optimizedPlan().toString()
        ),
    )
    assert len(round_plans) == 2
    for plan in round_plans:
        assert "LeftSemi" in plan
        assert "Window" not in plan


def test_coalesce_intervals_single_key_window(spark):
    """The island construction must be window-over-key + one partial/
    final aggregation — no join at all."""
    plan = plan_of(e.q_coalesce_intervals(spark, SF_DIR))
    assert "Window" in plan
    for join_op in ("SortMergeJoin", "HashJoin", "NestedLoopJoin"):
        assert join_op not in plan
    assert plan.count("HashAggregate") >= 2


def test_domain_range_constraints_broadcast(spark):
    """The constraint dim must broadcast; the two side checks are anti
    joins (no nested loop, no window)."""
    plan = plan_of(e.q_domain_range_violations(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "LeftAnti" in plan
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_transe_eval_is_broadcast_only(spark):
    """Embedding dims and the per-predicate pool array must broadcast;
    the rank computation runs map-side in higher-order functions — the
    only sort-merge-free plan has no corpus-side shuffle join."""
    plan = plan_of(e.q_transe_eval(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_normalize_urls_is_pure_projection(spark):
    """URL canonicalization must be one codegen'd projection over the
    scan — no exchange, no join, no Python."""
    plan = plan_of(e.q_normalize_urls(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan
    # no Python in the hot path...
    assert "EvalPython" not in plan
    # ...and the scan+filter stage is codegen'd ("*(n)" prefix in the
    # tree string; the outer projection itself can't fuse because
    # array_sort's lambda comparator blocks codegen — acceptable, it is
    # still a JVM-side whole-row expression, not an Arrow crossing)
    assert "*(1)" in plan


def test_extract_links_is_scan_local(spark):
    """Anchor extraction must stay inside the scan stage: the explode is
    a Generate under the scan's codegen stage — no shuffle, no join, no
    Python worker."""
    plan = plan_of(e.q_extract_links(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert "Generate" in plan


def test_url_dedup_is_single_agg_no_window(spark):
    """Latest-capture dedup must be one max_by hash aggregation (partial
    combine), not a row_number window over the capture history: exactly
    one hash-partitioning exchange, no Sort-based window."""
    plan = plan_of(e.q_url_dedup(spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "max_by" in plan


def test_snapshot_diff_is_hash_full_outer(spark):
    """The diff is one full-outer equality join — never a nested-loop or
    cartesian plan."""
    plan = plan_of(e.q_snapshot_diff(spark, SF_DIR))
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
