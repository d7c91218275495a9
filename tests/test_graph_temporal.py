"""Unit tests for triangle_stats, bfs_depths, and asof_join."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.operators.graph_algos import (
    bfs_depths,
    link_prediction_scores,
    triangle_stats,
)
from pheknowlator_spark.operators.temporal import (
    asof_join,
    funnel_counts,
    interval_join,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


class TestTriangleStats:
    def test_single_triangle_plus_pendant(self, spark):
        # triangle a-b-c plus pendant d hanging off a
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")])
        rows = {r["node"]: r for r in triangle_stats(e).collect()}
        assert rows["a"]["degree"] == 3 and rows["a"]["triangles"] == 1
        assert rows["b"]["triangles"] == 1 and rows["c"]["triangles"] == 1
        assert rows["d"]["degree"] == 1 and rows["d"]["triangles"] == 0
        # lcc: b has degree 2 and its 1 possible pair closes → 1.0
        assert rows["b"]["clustering_coeff"] == 1.0
        # a: 1 triangle of C(3,2)=3 pairs → 1/3
        assert rows["a"]["clustering_coeff"] == pytest.approx(1 / 3)
        assert rows["d"]["clustering_coeff"] == 0.0

    def test_duplicate_reverse_and_self_edges_ignored(self, spark):
        e = _edges(
            spark,
            [("a", "b"), ("b", "a"), ("a", "a"), ("b", "c"), ("a", "c")],
        )
        rows = {r["node"]: r for r in triangle_stats(e).collect()}
        assert rows["a"]["degree"] == 2  # self-loop and reverse dup dropped
        assert rows["a"]["triangles"] == 1

    def test_k4_counts(self, spark):
        nodes = ["a", "b", "c", "d"]
        e = _edges(
            spark,
            [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1 :]],
        )
        rows = triangle_stats(e).collect()
        # every K4 node: degree 3, in C(3,2)=3 triangles, lcc 1.0
        assert all(r["degree"] == 3 and r["triangles"] == 3 for r in rows)
        assert all(r["clustering_coeff"] == 1.0 for r in rows)


class TestLinkPrediction:
    def test_square_predicts_diagonals(self, spark):
        # 4-cycle a-b-c-d-a: diagonals (a,c) and (b,d) share 2 neighbors
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
        out = {(r["a"], r["b"]): r for r in link_prediction_scores(e).collect()}
        assert set(out) == {("a", "c"), ("b", "d")}
        r = out[("a", "c")]
        assert r["common_neighbors"] == 2
        # deg a = deg c = 2 → union = 2+2-2 = 2 → jaccard 1.0
        assert r["jaccard"] == 1.0
        # both middle nodes have degree 2 → 2/ln(2)
        import math

        assert r["adamic_adar"] == pytest.approx(2 / math.log(2), abs=1e-9)

    def test_existing_edges_excluded(self, spark):
        # triangle: every pair is adjacent → no candidates
        e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
        assert link_prediction_scores(e).count() == 0

    def test_hub_cap_drops_supernode_wedges(self, spark):
        # star around h (degree 4) plus a 4-cycle; capping at 3 removes
        # every pair whose only middle node is the hub
        star = [("h", x) for x in ["a", "b", "c", "d"]]
        cyc = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
        e = _edges(spark, star + cyc)
        capped = {
            (r["a"], r["b"]): r["common_neighbors"]
            for r in link_prediction_scores(e, max_neighbor_degree=3).collect()
        }
        uncapped = {
            (r["a"], r["b"]): r["common_neighbors"]
            for r in link_prediction_scores(e).collect()
        }
        # hub h (degree 4) no longer counts as a middle node
        assert uncapped[("a", "c")] == 3 and capped[("a", "c")] == 2
        assert uncapped[("b", "d")] == 3 and capped[("b", "d")] == 2


class TestBfsDepths:
    def test_min_hop_over_diamond(self, spark):
        # r→a→c and r→c: c reachable at depth 1 (min wins over 2)
        e = _edges(spark, [("r", "a"), ("a", "c"), ("r", "c"), ("c", "d")])
        roots = spark.createDataFrame([("r",)], ["node"])
        got = {r["node"]: r["depth"] for r in bfs_depths(e, roots).collect()}
        assert got == {"r": 0, "a": 1, "c": 1, "d": 2}

    def test_unreachable_absent_multiroot(self, spark):
        e = _edges(spark, [("r1", "a"), ("r2", "b"), ("x", "y")])
        roots = spark.createDataFrame([("r1",), ("r2",)], ["node"])
        got = {r["node"]: r["depth"] for r in bfs_depths(e, roots).collect()}
        assert got == {"r1": 0, "r2": 0, "a": 1, "b": 1}
        assert "x" not in got and "y" not in got

    def test_cycle_terminates(self, spark):
        e = _edges(spark, [("r", "a"), ("a", "b"), ("b", "a")])
        roots = spark.createDataFrame([("r",)], ["node"])
        got = {r["node"]: r["depth"] for r in bfs_depths(e, roots).collect()}
        assert got == {"r": 0, "a": 1, "b": 2}

    def test_long_chain_walked_to_its_end(self, spark):
        # 52 nodes, 51 hops: deeper than any fixed round budget of 50
        e = _edges(spark, [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(51)])
        roots = spark.createDataFrame([("n00",)], ["node"])
        got = {r["node"]: r["depth"] for r in bfs_depths(e, roots).collect()}
        assert got == {f"n{i:02d}": i for i in range(52)}
        assert got["n51"] == 51


def _ts(minute):
    return dt.datetime(2024, 1, 1, 0, minute)


class TestCohortRetention:
    def test_daily_matrix(self, spark):
        d = dt.datetime
        rows = [
            # A first seen day 1, active days 1 and 3 (twice on day 3)
            ("A", d(2024, 1, 1, 9)), ("A", d(2024, 1, 3, 8)), ("A", d(2024, 1, 3, 18)),
            # B first seen day 1, active day 1 only
            ("B", d(2024, 1, 1, 23)),
            # C first seen day 3
            ("C", d(2024, 1, 3, 1)),
        ]
        ev = spark.createDataFrame(rows, ["user_id", "ts"])
        from pheknowlator_spark.operators.temporal import cohort_retention

        got = {
            (r["cohort"].day, r["period_offset"]): r["n_users"]
            for r in cohort_retention(ev).collect()
        }
        assert got == {(1, 0): 2, (1, 2): 1, (3, 0): 1}

    def test_weekly_offsets_count_weeks(self, spark):
        """Offsets are whole weeks, not the days between week starts."""
        d = dt.datetime
        rows = [
            # A first seen in the week of Mon 2024-01-01, back 1 and 3 weeks on
            ("A", d(2024, 1, 3, 9)), ("A", d(2024, 1, 10, 9)), ("A", d(2024, 1, 25, 9)),
            # B first seen in the week of Mon 2024-01-08, back 2 weeks on
            ("B", d(2024, 1, 14, 23)), ("B", d(2024, 1, 22, 1)),
        ]
        ev = spark.createDataFrame(rows, ["user_id", "ts"])
        from pheknowlator_spark.operators.temporal import cohort_retention

        got = {
            (str(r["cohort"]), r["period_offset"]): r["n_users"]
            for r in cohort_retention(ev, granularity="week").collect()
        }
        assert got == {
            ("2024-01-01", 0): 1, ("2024-01-01", 1): 1, ("2024-01-01", 3): 1,
            ("2024-01-08", 0): 1, ("2024-01-08", 2): 1,
        }

    def test_monthly_offsets_count_calendar_months(self, spark):
        """Offsets are calendar months, across month lengths and a year end."""
        d = dt.datetime
        rows = [
            ("A", d(2023, 11, 30, 9)), ("A", d(2024, 1, 1, 0)), ("A", d(2024, 3, 31, 9)),
            ("B", d(2024, 2, 29, 9)), ("B", d(2024, 3, 1, 9)),
        ]
        ev = spark.createDataFrame(rows, ["user_id", "ts"])
        from pheknowlator_spark.operators.temporal import cohort_retention

        got = {
            (str(r["cohort"]), r["period_offset"]): r["n_users"]
            for r in cohort_retention(ev, granularity="month").collect()
        }
        assert got == {
            ("2023-11-01", 0): 1, ("2023-11-01", 2): 1, ("2023-11-01", 4): 1,
            ("2024-02-01", 0): 1, ("2024-02-01", 1): 1,
        }


class TestFunnelCounts:
    def test_strict_sequence(self, spark):
        rows = [
            # A completes the full funnel in order
            ("A", "view", _ts(1)), ("A", "click", _ts(2)), ("A", "purchase", _ts(3)),
            # B clicks BEFORE viewing → stops at view
            ("B", "click", _ts(1)), ("B", "view", _ts(2)),
            # C skips click → purchase must not count
            ("C", "view", _ts(1)), ("C", "purchase", _ts(2)),
            # D never views → counts nowhere
            ("D", "click", _ts(1)),
        ]
        ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
        out = {r["step"]: r["n_users"] for r in funnel_counts(
            ev, ["view", "click", "purchase"]
        ).collect()}
        assert out == {"view": 3, "click": 1, "purchase": 1}

    def test_equal_timestamp_counts(self, spark):
        # click at the same instant as view satisfies ts >= t_prev
        ev = spark.createDataFrame(
            [("A", "view", _ts(1)), ("A", "click", _ts(1))],
            ["user_id", "event_type", "ts"],
        )
        out = {r["step"]: r["n_users"] for r in funnel_counts(
            ev, ["view", "click"]
        ).collect()}
        assert out == {"view": 1, "click": 1}

    def test_empty_steps_rejected(self, spark):
        ev = spark.createDataFrame([("A", "view", _ts(1))], ["user_id", "event_type", "ts"])
        with pytest.raises(ValueError):
            funnel_counts(ev, [])


class TestAsofJoin:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "u", _ts(10)), (2, "u", _ts(30)), (3, "v", _ts(5))],
            ["lid", "user", "ts"],
        )
        right = spark.createDataFrame(
            [("u", _ts(8), 100), ("u", _ts(10), 101), ("u", _ts(25), 102)],
            ["user", "ts", "rid"],
        )
        return left, right

    def test_backward_inclusive_and_outer(self, spark):
        left, right = self._frames(spark)
        out = asof_join(left, right, on="user", right_cols=["rid"])
        got = {r["lid"]: (r["ts_right"], r["rid_right"]) for r in out.collect()}
        assert got[1] == (_ts(10), 101)  # ties at equal ts match
        assert got[2] == (_ts(25), 102)
        assert got[3] == (None, None)  # no candidate → NULL (left outer)

    def test_forward(self, spark):
        left, right = self._frames(spark)
        out = asof_join(
            left, right, on="user", right_cols=["rid"], direction="forward"
        )
        got = {r["lid"]: r["rid_right"] for r in out.collect()}
        assert got[1] == 101  # inclusive at equal ts
        assert got[2] is None  # nothing at-or-after minute 30
        assert got[3] is None

    def test_duplicate_right_ts_deterministic(self, spark):
        left = spark.createDataFrame([(1, "u", _ts(10))], ["lid", "user", "ts"])
        right = spark.createDataFrame(
            [("u", _ts(5), 7), ("u", _ts(5), 9)], ["user", "ts", "rid"]
        )
        out = asof_join(left, right, on="user", right_cols=["rid"])
        assert out.collect()[0]["rid_right"] == 9  # max payload wins

    def test_numeric_ts(self, spark):
        left = spark.createDataFrame([(1, "u", 10.0)], ["lid", "user", "ts"])
        right = spark.createDataFrame([("u", 9.5, 1)], ["user", "ts", "rid"])
        out = asof_join(left, right, on="user", right_cols=["rid"])
        assert out.collect()[0]["rid_right"] == 1

    def test_interval_join_inclusive_bounds_and_overlap(self, spark):
        left = spark.createDataFrame(
            [(1, "u", _ts(10)), (2, "u", _ts(30)), (3, "u", _ts(59)), (4, "v", _ts(10))],
            ["lid", "user", "ts"],
        )
        right = spark.createDataFrame(
            [("u", 100, _ts(10), _ts(30)), ("u", 101, _ts(25), _ts(59))],
            ["user", "iid", "start", "end"],
        )
        out = interval_join(
            left, right, on="user", bucket="15 minutes"
        ).collect()
        got = sorted((r["lid"], r["iid"]) for r in out)
        # 1: start-inclusive; 2: in BOTH (overlap → two rows); 3:
        # end-inclusive; 4: other key → dropped (inner)
        assert got == [(1, 100), (2, 100), (2, 101), (3, 101)]

    def test_interval_join_numeric_and_cross_bucket(self, spark):
        left = spark.createDataFrame([(1, "k", 105.0)], ["lid", "key", "ts"])
        right = spark.createDataFrame(
            [("k", 7, 9.0, 210.0)], ["key", "iid", "start", "end"]
        )
        # interval spans 21 buckets of width 10; point still matches once
        out = interval_join(
            left, right, on="key", bucket=10
        ).collect()
        assert [(r["lid"], r["iid"]) for r in out] == [(1, 7)]

    def test_plan_single_key_shuffle(self, spark):
        """The match is one union + one window: exactly one exchange
        hash-partitioned on the key, no join operator at all."""
        left, right = self._frames(spark)
        plan = asof_join(
            left, right, on="user", right_cols=["rid"]
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "Window" in plan
        assert "Join" not in plan


class TestCoalesceIntervals:
    def test_touching_and_overlapping_merge(self, spark):
        d = dt.datetime
        rows = [
            # overlapping pair + touching third → one island
            ("u", d(2024, 1, 1, 0), d(2024, 1, 1, 2)),
            ("u", d(2024, 1, 1, 1), d(2024, 1, 1, 3)),
            ("u", d(2024, 1, 1, 3), d(2024, 1, 1, 4)),
            # gap → second island
            ("u", d(2024, 1, 1, 5), d(2024, 1, 1, 6)),
            # other key unaffected
            ("v", d(2024, 1, 1, 0), d(2024, 1, 1, 1)),
        ]
        iv = spark.createDataFrame(rows, ["k", "start", "end"])
        from pheknowlator_spark.operators.temporal import coalesce_intervals

        got = sorted(
            (r["k"], r["start"].hour, r["end"].hour, r["n_merged"])
            for r in coalesce_intervals(iv, ["k"]).collect()
        )
        assert got == [("u", 0, 4, 3), ("u", 5, 6, 1), ("v", 0, 1, 1)]

    def test_contained_interval_does_not_split_island(self, spark):
        d = dt.datetime
        # [0,10] contains [1,2]; [3,4] starts after [1,2] ends but is
        # still inside the running max end 10 → one island
        rows = [
            ("u", d(2024, 1, 1, 0), d(2024, 1, 1, 10)),
            ("u", d(2024, 1, 1, 1), d(2024, 1, 1, 2)),
            ("u", d(2024, 1, 1, 3), d(2024, 1, 1, 4)),
        ]
        iv = spark.createDataFrame(rows, ["k", "start", "end"])
        from pheknowlator_spark.operators.temporal import coalesce_intervals

        got = coalesce_intervals(iv, ["k"]).collect()
        assert len(got) == 1 and got[0]["n_merged"] == 3

    def test_rejects_empty_keys(self, spark):
        from pheknowlator_spark.operators.temporal import coalesce_intervals

        iv = spark.createDataFrame([("u", 1, 2)], ["k", "start", "end"])
        with pytest.raises(ValueError):
            coalesce_intervals(iv, [])
