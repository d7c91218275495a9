"""Output checks: each op's written output against the closed-form facts
``gen.py`` derived from the seed. The checks read the files the op wrote
(with pyarrow, not Spark), so they add no Spark job to the run.

Each check returns ``(problems, facts)``: ``problems`` is a list of
human-readable failures (empty when the op is correct) and ``facts`` holds
counts reported alongside the metrics.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import pyarrow.parquet as pq

from kgbench.gen import BFO_ROOT, OBO, OWL, PART_OF, RDF, SCO

# ``assign_forests`` walks at most 12 levels below a decode root. A union
# root reaches its list's k-th node at level k + 1, so members past the
# 11th are cut off. That is a known defect; the dropped members are
# counted (``owlnets.union_members_dropped``) instead of failing the op.
UNION_MEMBERS_WITHIN_DEPTH = 11

SUBCLASS_PREDICATES = {
    RDF + "type", SCO, OWL + "someValuesFrom", OWL + "onProperty",
}


def _triples(path: str) -> set[tuple[str, str, str]]:
    t = pq.read_table(path, columns=["s", "p", "o"])
    return set(zip(*(t.column(c).to_pylist() for c in ("s", "p", "o"))))


def check_kg_build(store: str, expect: dict) -> tuple[list[str], dict]:
    problems: list[str] = []
    owl = _triples(os.path.join(store, "owlnets"))
    missing = [r for r in expect["restrictions"] if (r[0], PART_OF, r[1]) not in owl]
    if missing:
        problems.append(f"{len(missing)} restrictions not decoded, e.g. {missing[0]}")
    negated = set(expect["negated"])
    leaked = [t for t in owl if t[0] in negated or t[2] in negated]
    if leaked:
        problems.append(f"{len(leaked)} triples mention a negated root, e.g. {leaked[0]}")
    union_problems, dropped = check_unions(owl, expect["unions"])
    problems += union_problems
    unattached = [c for c in expect["bfo_children"] if (c, SCO, BFO_ROOT) not in owl]
    if unattached:
        problems.append(f"{len(unattached)} ancestor-less classes not attached to BFO, "
                        f"e.g. {unattached[0]}")
    built = pq.read_table(os.path.join(store, "constructed_edges"), columns=["p", "o"])
    objects = {o for p, o in zip(built.column("p").to_pylist(), built.column("o").to_pylist())
               if p == OWL + "someValuesFrom"}
    want = set(expect["constructed_objects"])
    if objects != want:
        problems.append(f"constructed edges: {len(objects - want)} unexpected and "
                        f"{len(want - objects)} missing restriction targets")
    return problems, {"owlnets_rows": len(owl), "union_members_dropped": dropped}


def check_unions(owl: set, unions: dict[str, list[str]]) -> tuple[list[str], int]:
    """Members within the walk's depth must yield ``(member, subClassOf,
    union)``; returns the problems and the number of members past it that
    were dropped."""
    problems, dropped = [], 0
    for union, members in unions.items():
        for k, m in enumerate(members):
            if (m, SCO, union) in owl:
                continue
            if k < UNION_MEMBERS_WITHIN_DEPTH:
                problems.append(f"union member {m} of {union} (position {k}) not decoded")
            else:
                dropped += 1
    return problems, dropped


def ntriples_digest(out_dir: str) -> tuple[int, str, list[str]]:
    """(line count, order-independent checksum, lines) of a text output."""
    lines: list[str] = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines.extend(line.rstrip("\n") for line in fh if line.strip())
    acc = 0
    for line in lines:
        acc = (acc + int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(),
                                    "big")) % (1 << 64)
    return len(lines), f"{acc:016x}", lines


def check_webtext_kg(out_dir: str, expect: dict, reference: str) -> tuple[list[str], dict]:
    """``reference`` is a JSON file holding the count and checksum of the
    first correct output for this seed; later ops and runs must match it."""
    problems: list[str] = []
    n, checksum, lines = ntriples_digest(out_dir)
    if n == 0:
        problems.append("no triples written")
    relations = {f"<{OBO}{r}>" for r in expect["relations"]}
    predicates = {f"<{p}>" for p in SUBCLASS_PREDICATES}
    alts = tuple(f"{OBO}{c}>" for c in expect["alt_curies"])
    for line in lines:
        s, p, o = line.split(" ", 2)
        o = o.rsplit(" .", 1)[0]
        if p not in predicates:
            problems.append(f"unexpected predicate {p}")
            break
        if p == f"<{OWL}onProperty>" and o not in relations:
            problems.append(f"relation {o} is not in the configured set")
            break
        if s.endswith(alts) or o.endswith(alts) or "_amb>" in line:
            problems.append(f"non-canonical or unresolved entity in {line}")
            break
    if not problems:
        if os.path.exists(reference):
            with open(reference) as f:
                ref = json.load(f)
            if (ref["count"], ref["checksum"]) != (n, checksum):
                problems.append(f"output {n}/{checksum} differs from this seed's "
                                f"reference {ref['count']}/{ref['checksum']}")
        else:
            tmp = f"{reference}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({"count": n, "checksum": checksum}, f)
            os.replace(tmp, reference)
    return problems, {"triples": n, "checksum": checksum}


def _id_map(path: str, key: str, value: str) -> dict[int, object]:
    t = pq.read_table(path, columns=[key, value])
    return dict(zip(t.column(key).to_pylist(), t.column(value).to_pylist()))


def check_vector_dedup(out_dir: str, expect: dict) -> tuple[list[str], dict]:
    """Embedding pairs must be exactly the planted twins; ``semantic_dedup``
    must drop exactly the oracle's vectors."""
    keep = _id_map(os.path.join(out_dir, "semantic_dedup"), "vec_id", "keep")
    problems: list[str] = []
    if len(keep) != expect["vectors"]:
        problems.append(f"semantic_dedup: {len(keep)} rows for {expect['vectors']} vectors")
    pairs = pq.read_table(os.path.join(out_dir, "vec_pairs"), columns=["a", "b"])
    found = sorted(map(list, zip(pairs.column("a").to_pylist(), pairs.column("b").to_pylist())))
    if found != expect["vec_twins"]:
        problems.append(f"embedding pairs: {len(found)} found, {len(expect['vec_twins'])} "
                        f"planted twins, {sum(p in expect['vec_twins'] for p in found)} matched")
    dropped = {i for i, k in keep.items() if not k}
    want = set(expect["semdedup_dropped"])
    if dropped != want:
        problems.append(f"semantic_dedup: {len(dropped - want)} wrongly dropped, "
                        f"{len(want - dropped)} twins kept")
    return problems, {"vec_pairs": len(found), "semdedup_dropped": len(dropped)}
