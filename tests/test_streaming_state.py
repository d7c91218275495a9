"""StageStore checkpoint-resilience tests (north rule's "resumable from
checkpoint with per-partition lineage") and the batch event-window
aggregation."""

import shutil

import pytest
from pyspark.sql import functions as F


def test_stagestore_swap_preserves_previous_snapshot(spark, tmp_path):
    # a failure during recompute must leave the previously committed stage
    # intact (write-then-swap, not delete-then-write)
    from pheknowlator_spark.plans.checkpoint import StageStore

    store = StageStore(spark, str(tmp_path / "stages"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    out1 = store.run("s1", lambda: df1)
    assert out1.count() == 2

    def boom():
        raise RuntimeError("recompute failed")

    with pytest.raises(RuntimeError):
        store.run("s1", boom, force=True)
    # previous snapshot still committed and readable
    assert store.is_committed("s1")
    back = store.run("s1", lambda: (_ for _ in ()).throw(AssertionError("fn must not run")))
    assert {(r.id, r.v) for r in back.collect()} == {(1, "a"), (2, "b")}


def test_failed_swap_keeps_committed_lineage(spark, tmp_path, monkeypatch):
    # a force recompute that fails at the swap leaves the previous snapshot
    # committed, and the lineage must keep describing that snapshot
    import os

    from pheknowlator_spark.plans.checkpoint import StageStore

    store = StageStore(spark, str(tmp_path / "stages"))
    store.run("s1", lambda: spark.range(2))
    five = spark.range(5)

    def no_rename(*_args):
        raise OSError("rename failed")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", no_rename)
        with pytest.raises(OSError):
            store.run("s1", lambda: five, force=True)
    assert store.run("s1", lambda: five).count() == 2
    assert sum(r.output_rows for r in store.lineage().collect()) == 2


def test_stagestore_lineage_partitioned_write(spark, tmp_path):
    # per-partition lineage rows exist for a partitioned stage write
    from pheknowlator_spark.plans.checkpoint import StageStore

    store = StageStore(spark, str(tmp_path / "stages"))
    df = spark.createDataFrame(
        [(i, "t%d" % (i % 3)) for i in range(30)], "id int, part string"
    )
    store.run("tp", lambda: df, partition_by=["part"])
    lin = store.lineage().filter(F.col("stage") == "tp")
    rows = lin.collect()
    assert sum(r.output_rows for r in rows) == 30
    assert all(r.wall_ms >= 0 for r in rows)


def test_manifest_skips_crash_leftovers_and_cc_resumes(spark, tmp_path):
    # a kill inside run's commit window leaves <stage>.tmp (with _SUCCESS)
    # or, between the two renames, <stage>.trash; neither is a committed
    # stage, and a connected-components resume must step past both
    from pheknowlator_spark.operators.graph_algos import connected_components
    from pheknowlator_spark.plans.checkpoint import StageStore

    chain = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    fresh = {(r.node, r.component) for r in connected_components(edges).collect()}

    store = StageStore(spark, str(tmp_path / "cc_state"))

    class Boom(RuntimeError):
        pass

    def killer(it, _df):
        if it == 0:
            raise Boom("simulated driver loss after round 0 commit")

    with pytest.raises(Boom):
        connected_components(edges, state_store=store, on_round=killer)
    root = tmp_path / "cc_state"
    shutil.copytree(root / "cc_round_0000", root / "cc_round_0001.tmp")
    shutil.copytree(root / "cc_round_0000", root / "cc_round_0000.trash")
    assert (root / "cc_round_0001.tmp" / "_SUCCESS").exists()

    assert store.manifest()["stages"] == ["cc_round_0000"]
    resumed = connected_components(edges, state_store=store)
    assert {(r.node, r.component) for r in resumed.collect()} == fresh


def test_event_windows_accept_string_timestamps(spark):
    # the timestamp cast is applied inside the operator, so a string ts
    # column sessionizes like a TIMESTAMP one
    from pheknowlator_spark.operators.temporal import sessionized_event_counts

    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "click"),
            ("u1", "2024-01-01 00:10:00", "click"),
            ("u1", "2024-01-01 01:10:00", "view"),
            ("u2", "2024-01-01 00:05:00", "click"),
        ],
        "user_id string, ts string, event_type string",
    )
    sess = sessionized_event_counts(df, gap="30 minutes").collect()
    assert {(r.user_id, r.n_events) for r in sess} == {
        ("u1", 2), ("u1", 1), ("u2", 1),
    }
