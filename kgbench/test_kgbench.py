"""Self-tests of the benchmark: the generators are deterministic, and the
output checks reject corrupted outputs. No Spark session is needed.

    python3 -m pytest kgbench/test_kgbench.py -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kgbench import checks, gen


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_same_size(workload, tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    c = tmp_path / "c"
    gen.generate(workload, 7, str(a))
    gen.generate(workload, 7, str(b))
    gen.generate(workload, 8, str(c))
    assert gen.digest(str(a)) == gen.digest(str(b))
    assert gen.digest(str(a)) != gen.digest(str(c))
    for name in sorted(os.listdir(a)):
        if name.endswith(".parquet"):
            rows = [pq.ParquetFile(os.path.join(d, name)).metadata.num_rows for d in (a, c)]
            assert rows[0] == rows[1], name


def _write_triples(path, triples):
    os.makedirs(path)
    s, p, o = zip(*triples)
    pq.write_table(pa.table({"s": list(s), "p": list(p), "o": list(o)}),
                   os.path.join(path, "part-0.parquet"))


def _kg_outputs(expect):
    """The owlnets and constructed_edges triples a correct build writes
    (the subset the check looks at)."""
    owl = [(c, gen.PART_OF, r) for c, r in expect["restrictions"]]
    for union, members in expect["unions"].items():
        owl += [(m, gen.SCO, union) for m in members[:checks.UNION_MEMBERS_WITHIN_DEPTH]]
    owl += [(c, gen.SCO, gen.BFO_ROOT) for c in expect["bfo_children"]]
    built = [(f"x{i}", gen.OWL + "someValuesFrom", o)
             for i, o in enumerate(expect["constructed_objects"])]
    return owl, built


@pytest.fixture(scope="module")
def kg_expect(tmp_path_factory):
    return gen.generate("kg_build", 3, str(tmp_path_factory.mktemp("kg")))


def test_kg_check_accepts_correct_output(kg_expect, tmp_path):
    owl, built = _kg_outputs(kg_expect)
    _write_triples(tmp_path / "owlnets", owl)
    _write_triples(tmp_path / "constructed_edges", built)
    assert checks.check_kg_build(str(tmp_path), kg_expect)[0] == []


def test_union_check_counts_members_past_the_walk_depth():
    _rows, unions = gen.deep_unions(5)
    depth = checks.UNION_MEMBERS_WITHIN_DEPTH
    within = {(m, gen.SCO, u) for u, ms in unions.items() for m in ms[:depth]}
    problems, dropped = checks.check_unions(within, unions)
    assert problems == []
    assert dropped == sum(len(ms) - depth for ms in unions.values()) > 0
    problems, _ = checks.check_unions(within - {next(iter(within))}, unions)
    assert problems


@pytest.mark.parametrize("corruption", ["drop_restriction", "negated_leak",
                                        "drop_union_member", "extra_edge"])
def test_kg_check_rejects_corrupted_output(kg_expect, tmp_path, corruption):
    owl, built = _kg_outputs(kg_expect)
    if corruption == "drop_restriction":
        owl = owl[1:]
    elif corruption == "negated_leak":
        owl.append((kg_expect["negated"][0], gen.SCO, gen.BFO_ROOT))
    elif corruption == "drop_union_member":
        first = next(iter(kg_expect["unions"].items()))
        owl.remove((first[1][0], gen.SCO, first[0]))
    else:
        built.append(("y", gen.OWL + "someValuesFrom", gen.OBO + "KGBX_000001"))
    _write_triples(tmp_path / "owlnets", owl)
    _write_triples(tmp_path / "constructed_edges", built)
    problems, _ = checks.check_kg_build(str(tmp_path), kg_expect)
    assert problems


def _nt(path, lines):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-00000.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_webtext_check_pins_output_per_seed(tmp_path):
    expect = {"relations": ["RO_0002606"], "alt_curies": ["DOID_1_alt1"]}
    sco, on = f"<{gen.SCO}>", f"<{gen.OWL}onProperty>"
    good = [f"<{gen.OBO}N1> {sco} <{gen.OBO}DOID_1> .",
            f"<{gen.OBO}B1> {on} <{gen.OBO}RO_0002606> ."]
    ref = str(tmp_path / "reference.json")
    _nt(tmp_path / "a", good)
    assert checks.check_webtext_kg(str(tmp_path / "a"), expect, ref)[0] == []
    _nt(tmp_path / "b", list(reversed(good)))  # order does not matter
    assert checks.check_webtext_kg(str(tmp_path / "b"), expect, ref)[0] == []
    for bad in ([good[0]],  # a triple lost
                good + [f"<{gen.OBO}B2> {on} <{gen.OBO}RO_9999999> ."],
                good + [f"<{gen.OBO}N2> {sco} <{gen.OBO}DOID_1_alt1> ."]):
        _nt(tmp_path / "c", bad)
        assert checks.check_webtext_kg(str(tmp_path / "c"), expect, ref)[0]


def test_vector_check_rejects_wrong_pairs_and_drops(tmp_path):
    expect = {"vectors": 3, "vec_twins": [[10, 12]], "semdedup_dropped": [12]}

    def write(pairs, keep):
        for name, table in (
            ("vec_pairs", {"a": [p[0] for p in pairs], "b": [p[1] for p in pairs]}),
            ("semantic_dedup", {"vec_id": [10, 11, 12], "keep": keep}),
        ):
            os.makedirs(tmp_path / name, exist_ok=True)
            pq.write_table(pa.table(table, schema=pa.schema(
                [(k, pa.int64() if k != "keep" else pa.bool_()) for k in table])),
                str(tmp_path / name / "part-0.parquet"))

    write([(10, 12)], [True, True, False])
    assert checks.check_vector_dedup(str(tmp_path), expect)[0] == []
    for pairs, keep in (
        ([], [True, True, False]),  # twin not found
        ([(10, 12), (10, 11)], [True, True, False]),  # unplanted pair
        ([(10, 12)], [True, False, False]),  # wrong vector dropped
        ([(10, 12)], [True, True, True]),  # twin kept
    ):
        write(pairs, keep)
        assert checks.check_vector_dedup(str(tmp_path), expect)[0]
