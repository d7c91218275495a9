"""Headline P/R gate (BASELINE.json: triple P/R >= 0.95 vs reference build):
run the engine over the reference's own fixture configs + raw edge data and
assert edge-level and triple-level precision/recall of 1.0 against the
reference-emitted edge lists (tests/data/Master_Edge_List_Dict.json) and
the independent hashlib construction oracle."""

import os

import pytest

REF = "/root/reference/tests/data"
pytestmark = pytest.mark.skipif(
    not os.path.exists(f"{REF}/Master_Edge_List_Dict.json"),
    reason=f"reference fixtures not present in {REF}",
)


def test_parity_pr_report(spark):
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from parity_pr import compute_report

    report = compute_report(spark)
    assert report["pass"], report
    for etype, stats in report["edge_level"].items():
        assert stats["precision"] == 1.0 and stats["recall"] == 1.0, (etype, stats)
    tl = report["triple_level"]["gene-disease"]
    assert tl["precision"] == 1.0 and tl["recall"] == 1.0, tl
    assert tl["construction_errors"] == 0
    # two-sided-map parity must be NON-vacuous: the augmented fixture emits
    # real edges through the MESH→CHEBI + MESH→DOID join path, including
    # ones only reachable via a packed multi-target mapping cell (F8)
    aug = report["edge_level"]["chemical-disease-augmented"]
    assert aug["got"] > 0 and aug["expected"] > 0, aug
    assert aug["packed_cell_edges"] > 0, aug
    # ...and scored at the triple level too (md5-exact G1 core per edge)
    cdt = report["triple_level"]["chemical-disease-augmented"]
    assert cdt["got"] > 0, cdt
    assert cdt["precision"] == 1.0 and cdt["recall"] == 1.0, cdt
    assert cdt["construction_errors"] == 0
