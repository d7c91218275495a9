"""Property-based tests (hypothesis): the Catalyst re-expressions must
equal straightforward in-Python derivations of the reference semantics on
arbitrary small inputs — catches edge cases fixed fixtures miss."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_ids = st.text(alphabet="abc", min_size=0, max_size=3)
_vals = st.integers(min_value=-5, max_value=5)


@st.composite
def dedup_frames(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = [
        (
            draw(_vals),            # c0: sort column (numeric)
            draw(_ids),             # c1: key column
            draw(_ids),             # c2: payload / tiebreak
        )
        for _ in range(n)
    ]
    return rows


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=dedup_frames(), asc=st.booleans())
def test_dedup_criterion_matches_reference_order(spark, rows, asc):
    # keep-first per key under (sort col asc/desc, remaining cols asc)
    # total order — the min_by fast path must equal the explicit sort
    from pheknowlator_spark.operators.edge_list import compile_criterion

    df = spark.createDataFrame(rows, "c0 int, c1 string, c2 string")
    crit = f"0-1;dedup;{'asc' if asc else 'desc'}"
    got = {tuple(r) for r in compile_criterion(df, crit).collect()}

    ordered = sorted(
        rows, key=lambda r: ((r[0] if asc else -r[0]), r[2])
    )
    expected = {}
    for r in ordered:
        expected.setdefault(r[1], r)
    assert got == set(expected.values())


@st.composite
def packed_frames(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    cell = st.lists(
        st.text(alphabet="xyz", min_size=0, max_size=2), min_size=0, max_size=3
    ).map("|".join)
    return [
        (str(i), draw(cell), draw(cell)) for i in range(n)
    ]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=packed_frames())
def test_explodes_data_matches_reference(spark, rows):
    # reference semantics (data_utils.py:293-330): per column, split on the
    # delimiter, drop empty fragments, keep empty-list rows as fill_value;
    # columns explode independently (recursion = cross product per row)
    from pheknowlator_spark.operators.edge_list import explodes_data

    df = spark.createDataFrame(rows, "id string, a string, b string")
    got = sorted(
        (r.id, r.a, r.b)
        for r in explodes_data(df, ["a", "b"], "|").collect()
    )

    def frags(cell):
        parts = [x for x in cell.split("|") if x != ""]
        return parts or ["None"]

    expected = sorted(
        (i, fa, fb)
        for i, a, b in rows
        for fa in frags(a)
        for fb in frags(b)
    )
    assert got == expected


_pii_frag = st.one_of(
    st.text(alphabet="ab @.<>-19", min_size=0, max_size=8),
    st.just("u@x.io"),
    st.just("1.2.3.4"),
    st.just("a.b@c-d.org "),
    st.just("10.0.0.255."),
    st.just("1234.5.6.7890"),
    st.just("@@..@@"),
)


@st.composite
def pii_texts(draw):
    n = draw(st.integers(min_value=1, max_value=6))
    return [
        " ".join(draw(_pii_frag) for _ in range(draw(st.integers(1, 5))))
        for _ in range(n)
    ]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=pii_texts())
def test_scrub_pii_matches_re_model_and_is_idempotent(spark, texts):
    import re

    from pyspark.sql import functions as F

    from pheknowlator_spark.functions.text import (
        PII_EMAIL_RE,
        PII_IPV4_RE,
        scrub_pii,
    )

    def model(t):
        n_e = len(re.findall(PII_EMAIL_RE, t))
        t1 = re.sub(PII_EMAIL_RE, "<EMAIL>", t)
        n_i = len(re.findall(PII_IPV4_RE, t1))
        return re.sub(PII_IPV4_RE, "<IP>", t1), n_e, n_i

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r.i: (r.s.scrubbed, r.s.n_emails, r.s.n_ips)
        for r in df.select("i", scrub_pii(F.col("text")).alias("s")).collect()
    }
    for i, t in enumerate(texts):
        # Java-regex column == Python-re model (same RE2-safe patterns)
        assert got[i] == model(t), t
        # idempotence: scrubbing scrubbed text changes nothing
        scrubbed = got[i][0]
        assert model(scrubbed)[0] == scrubbed, scrubbed


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=1, max_size=40,
        unique=True,
    ),
    f1=st.floats(min_value=0.0, max_value=1.0),
    f2=st.floats(min_value=0.0, max_value=1.0),
)
def test_stratified_sample_model_and_monotonicity(spark, ids, f1, f2):
    import hashlib

    from pheknowlator_spark.operators.corpus import stratified_sample

    lo, hi = sorted([f1, f2])
    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id long, lang string")

    def kept(frac):
        return {
            r.doc_id
            for r in stratified_sample(df, "lang", {"s": frac}).collect()
        }

    k_lo, k_hi = kept(lo), kept(hi)
    # the surviving set is exactly the documented md5-bucket model
    model = {
        i
        for i in ids
        if int(hashlib.md5(str(i).encode()).hexdigest()[:5], 16) < lo * 1048576
    }
    assert k_lo == model
    # monotonicity: a smaller fraction keeps a subset of a larger one
    assert k_lo <= k_hi


# named nodes and blank nodes (both spellings the decoder accepts); a
# small pool so random edges give cycles and in-degree > 1 often
_NAMED = ["http://x/A", "http://x/B", "http://x/C"]
_ANON = ["_:b0", "_:b1", "_:b2", "bnode:b3", "bnode:b4", "bnode:b5"]
_forest_edges = st.lists(
    st.tuples(
        st.sampled_from(_NAMED + _ANON),
        st.sampled_from(["p", "q"]),
        st.sampled_from(_NAMED + _ANON + ["lit"]),
    ),
    min_size=0,
    max_size=14,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=_forest_edges,
    roots=st.lists(st.sampled_from(_NAMED + _ANON), min_size=1, max_size=4),
)
@example(
    # a cycle b0 → b1 → b2 → b0 below an anonymous root (as an owl:Axiom
    # root is), b2 reached from two parents, a named root entering the cycle
    edges=[
        ("_:b0", "p", "_:b1"), ("_:b1", "p", "_:b2"), ("_:b2", "q", "_:b0"),
        ("bnode:b3", "p", "_:b2"), ("_:b2", "p", "http://x/A"),
        ("http://x/A", "q", "bnode:b3"), ("_:b1", "q", "lit"),
    ],
    roots=["_:b0", "http://x/A"],
)
def test_assign_forests_matches_python_walk(spark, edges, roots):
    # reference semantics (reconciles_classes / recurses_axioms): a root's
    # forest is its own out-edges plus those of every blank node reachable
    # from it through blank nodes
    from pheknowlator_spark.operators.owlnets import assign_forests

    rows = [(s, p, o, o == "lit") for s, p, o in set(edges)]
    triples = spark.createDataFrame(
        rows, "s string, p string, o string, o_is_literal boolean"
    )
    root_df = spark.createDataFrame([(r,) for r in set(roots)], "root string")
    got = {tuple(r) for r in assign_forests(triples, root_df).collect()}

    expected = set()
    for root in set(roots):
        seen, todo = set(), [root]
        while todo:
            node = todo.pop()
            if node in seen:
                continue
            seen.add(node)
            for s, p, o, lit in rows:
                if s == node:
                    expected.add((root, s, p, o, lit))
                    if o in _ANON:
                        todo.append(o)
    assert got == expected


_CURIES = ["A_1", "A_2", "A_3", "B_1", "B_2", "C_1"]
# same-namespace, cross-namespace and reversed (C, B) pair classes
_EDGE_TYPES = {
    ("A", "A"): ("aa", "r1", None),
    ("A", "B"): ("ab", "r2", None),
    ("C", "B"): ("cb", "r3", "r4"),
}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["u0", "u1", "u2", "u3"]),
                  st.sampled_from(_CURIES)),
        min_size=0,
        max_size=16,
    ),
    min_pages=st.integers(min_value=1, max_value=2),
)
def test_comention_counts_match_page_set_model(spark, rows, min_pages):
    # the co-mention operators against a dict model: per-page entity
    # sets, pair page counts, entity page marginals and the page total N
    import math
    from itertools import combinations

    from pheknowlator_spark.webtext.pipeline import (
        comention_pmi,
        comention_wilson,
        derive_comention_edges,
    )

    linked = spark.createDataFrame(rows, "url string, curie string")
    pages: dict[str, set[str]] = {}
    for url, curie in rows:
        pages.setdefault(url, set()).add(curie)
    n_total = len(pages)
    marg: dict[str, int] = {}
    pair: dict[tuple[str, str], int] = {}
    for ents in pages.values():
        for e in ents:
            marg[e] = marg.get(e, 0) + 1
        for a, b in combinations(sorted(ents), 2):
            pair[(a, b)] = pair.get((a, b), 0) + 1
    kept = {ab: n for ab, n in pair.items() if n >= min_pages}

    edges = {}
    for (a, b), n in kept.items():
        na, nb = a.split("_")[0], b.split("_")[0]
        if (na, nb) in _EDGE_TYPES:
            edges[(_EDGE_TYPES[(na, nb)][0], a, b)] = n
        elif (nb, na) in _EDGE_TYPES:
            edges[(_EDGE_TYPES[(nb, na)][0], b, a)] = n
    got_edges = {
        (r.edge_type, r.sub_id, r.obj_id): r.n_pages
        for r in derive_comention_edges(
            linked, edge_type_map=_EDGE_TYPES, min_pages=min_pages
        ).collect()
    }
    assert got_edges == edges

    got_pmi = {
        (r.c1, r.c2): (r.n_pages, r.n1, r.n2, r.pmi)
        for r in comention_pmi(linked, min_pages=min_pages).collect()
    }
    assert set(got_pmi) == set(kept)
    for (a, b), n in kept.items():
        assert got_pmi[(a, b)][:3] == (n, marg[a], marg[b])
        assert got_pmi[(a, b)][3] == pytest.approx(
            math.log(n * n_total / (marg[a] * marg[b])), abs=1e-12
        )

    z = 1.96
    got_wilson = {
        (r.c1, r.c2): (r.n_trials, r.wilson_lb)
        for r in comention_wilson(linked, z=z, min_pages=min_pages).collect()
    }
    assert set(got_wilson) == set(kept)
    for (a, b), k in kept.items():
        n = min(marg[a], marg[b])
        p = k / n
        lb = (
            p + z * z / (2 * n)
            - z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        ) / (1 + z * z / n)
        assert got_wilson[(a, b)][0] == n
        assert got_wilson[(a, b)][1] == pytest.approx(lb, abs=2e-9)


class TestPartitionInvariance:
    """Determinism evidence for the north rule's resume/rerun claims:
    the same query must emit the IDENTICAL multiset of rows regardless of
    shuffle-partition count (cluster size). Queries whose docstrings
    claim hash-deterministic draws (negative sampling, walks, dedup
    keep-rules) are exactly the ones where a partitioning-dependent
    implementation would silently diverge."""

    QUERIES = [
        "dedup_exact",
        "minhash_near_dup",
        "negative_triples",
        "random_walks",
        "mode_per_group",
        "transe_eval",
        # max_by keep-newest with explicit tie struct — the classic
        # partitioning-dependent-if-done-wrong operator
        "url_dedup",
    ]

    def _rows(self, spark, name, parts):
        import __spark_entry__ as e

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            df = e.queries()[name](spark, "/root/testdata/sf0.001")
            return sorted(tuple(str(v) for v in r) for r in df.collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    @pytest.mark.parametrize("name", QUERIES)
    def test_same_rows_at_3_and_17_partitions(self, spark, name):
        assert self._rows(spark, name, 3) == self._rows(spark, name, 17)
