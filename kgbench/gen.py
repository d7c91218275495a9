"""Seeded input generators for the two benchmark workloads.

Every generator is a pure function of ``seed``: the same seed gives
byte-identical parquet files, and a different seed changes content (which
classes link, which words a page uses, which vectors are twins) but never
the size (row counts are fixed by the constants below). Each generator
also returns ``expect``, the closed-form facts the output checks in
``checks.py`` compare against.

This module imports nothing from ``pheknowlator_spark``: the inputs, and
what a correct build must derive from them, are defined independently of
the code under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OBO = "http://purl.obolibrary.org/obo/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
OIO = "http://www.geneontology.org/formats/oboInOwl#"
TYPE, FIRST, REST, NIL = RDF + "type", RDF + "first", RDF + "rest", RDF + "nil"
SCO, LABEL = RDFS + "subClassOf", RDFS + "label"
PART_OF = OBO + "BFO_0000050"
# the decoder drops any root whose restriction property contains "lacks_"
LACKS_PART = OBO + "KGB_lacks_part"
BFO_ROOT = OBO + "BFO_0000001"

# --- kg_build sizes --------------------------------------------------------
KG_CLASSES = 260
KG_TOPS = 8
KG_REGIONS = 20
KG_UNIONS = 20
KG_NEGATED = 12
KG_EDGES = 130
# the ontology-class gate must drop these edge rows (one side absent)
KG_ABSENT_EDGES = 10
# the deep-list probe's unions: just past the forest walk's depth cap, so a
# fix that walks whole lists needs only a level or two more
DEEP_UNION_LENGTHS = (13, 14)
# relation with an inverse in the inverse-relations table, and one without
REL_SYM, REL_PLAIN = "RO_0002434", "RO_0002213"

# --- webtext_kg sizes ------------------------------------------------------
WT_PAGES = 1000
WT_ENTITIES_PER_NS = 500
WT_NAMESPACES = ("CHEBI", "DOID", "PR", "HP")
WT_FILLER_WORDS = 4000
WT_SAME_AS_CHAINS = 80
RELATIONS = (
    "RO_0002606", "RO_0002434", "RO_0003302", "RO_0002200", "RO_0004029",
)

# --- corpus_kg vector sizes ------------------------------------------------
CD_VECTORS = 500
CD_TWINS = 25
CD_DIM = 64
SEMDEDUP_CENTROIDS = 16
SEMDEDUP_THRESHOLD = 0.9

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
TRIPLE_SCHEMA = pa.schema([
    ("s", pa.string()), ("p", pa.string()), ("o", pa.string()),
    ("o_is_literal", pa.bool_()), ("o_lang", pa.string()),
    ("o_datatype", pa.string()),
])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _pseudo_words(rng: random.Random, n: int, onsets: str, vowels: str,
                  syllables: tuple[int, int], taken: set[str]) -> list[str]:
    """``n`` distinct pronounceable words not in ``taken`` (updated)."""
    out: list[str] = []
    while len(out) < n:
        k = rng.randint(*syllables)
        w = "".join(rng.choice(onsets) + rng.choice(vowels) for _ in range(k))
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


# ---------------------------------------------------------------------------
# kg_build: ontology + class-to-class edge table
# ---------------------------------------------------------------------------

def _kg_build(seed: int) -> tuple[dict[str, pa.Table], dict]:
    rng = random.Random(f"kg_build:{seed}")
    cls = [f"{OBO}KGB_{i:06d}" for i in range(KG_CLASSES)]
    regions = [f"{OBO}KGBREG_{j:04d}" for j in range(KG_REGIONS)]
    unions = [f"{OBO}KGBU_{k:04d}" for k in range(KG_UNIONS)]
    negated = [f"{OBO}KGBNEG_{k:04d}" for k in range(KG_NEGATED)]
    tops = cls[:KG_TOPS]
    rows: list[tuple[str, str, str, bool]] = [
        (OBO + "kgb.owl", TYPE, OWL + "Ontology", False),
        (PART_OF, TYPE, OWL + "ObjectProperty", False),
        (PART_OF, LABEL, "part of", True),
    ]
    restrictions: list[tuple[str, str]] = []

    def declare(c: str, name: str) -> None:
        rows.append((c, TYPE, OWL + "Class", False))
        rows.append((c, LABEL, name, True))

    for t in tops:  # top classes: no out-edges, so they attach to BFO
        declare(t, f"top {t[-6:]}")
    for j, r in enumerate(regions):
        declare(r, f"region {j}")
        rows.append((r, SCO, rng.choice(tops), False))
    for i in range(KG_TOPS, KG_CLASSES):
        c = cls[i]
        declare(c, f"class {i}")
        if i % 4 == 0:
            rows.append((c, OIO + "hasExactSynonym", f"synonym {i}", True))
        rows.append((c, SCO, cls[rng.randrange(i)], False))
        if i % 2 == 0:  # someValuesFrom restriction → (c, part_of, region)
            b, reg = f"bnode:r{i}", rng.choice(regions)
            restrictions.append((c, reg))
            rows += [
                (c, SCO, b, False),
                (b, TYPE, OWL + "Restriction", False),
                (b, OWL + "onProperty", PART_OF, False),
                (b, OWL + "someValuesFrom", reg, False),
            ]
        if i % 3 == 0 and i > KG_TOPS:  # intersectionOf list of 1-3 classes
            members = rng.sample(cls[KG_TOPS:i], min(1 + (i // 3) % 3, i - KG_TOPS))
            b = f"bnode:c{i}"
            rows += [
                (c, SCO, b, False),
                (b, TYPE, OWL + "Class", False),
                (b, OWL + "intersectionOf", f"bnode:cl{i}_0", False),
            ]
            for m, member in enumerate(members):
                nxt = f"bnode:cl{i}_{m + 1}" if m + 1 < len(members) else NIL
                rows += [(f"bnode:cl{i}_{m}", FIRST, member, False),
                         (f"bnode:cl{i}_{m}", REST, nxt, False)]
        if i % 5 == 0:  # axiom reification of a second parent
            ax = f"{OBO}KGBAX_{i:06d}"
            rows += [
                (ax, TYPE, OWL + "Axiom", False),
                (ax, OWL + "annotatedSource", c, False),
                (ax, OWL + "annotatedProperty", SCO, False),
                (ax, OWL + "annotatedTarget", cls[rng.randrange(i)], False),
            ]
        if i % 7 == 0:
            rows.append((c, OWL + "disjointWith", cls[rng.randrange(i)], False))
    for k, n in enumerate(negated):  # negation restriction: root dropped
        declare(n, f"negated {k}")
        b = f"bnode:n{k}"
        rows += [
            (n, SCO, b, False),
            (b, TYPE, OWL + "Restriction", False),
            (b, OWL + "onProperty", LACKS_PART, False),
            (b, OWL + "someValuesFrom", rng.choice(regions), False),
        ]
    union_members: dict[str, list[str]] = {}
    for k, u in enumerate(unions):
        length = 2 + k % 4
        members = rng.sample(cls[KG_TOPS:], length)
        union_members[u] = members
        declare(u, f"union {k}")
        b = f"bnode:u{k}"
        rows += [
            (u, SCO, b, False),
            (b, TYPE, OWL + "Class", False),
            (b, OWL + "unionOf", f"bnode:ul{k}_0", False),
        ]
        for m, member in enumerate(members):
            nxt = f"bnode:ul{k}_{m + 1}" if m + 1 < length else NIL
            rows += [(f"bnode:ul{k}_{m}", FIRST, member, False),
                     (f"bnode:ul{k}_{m}", REST, nxt, False)]

    if len(set((s, p, o) for s, p, o, _ in rows)) != len(rows):
        raise AssertionError("kg_build generator emitted a duplicate triple")
    onto = pa.table({
        "s": [r[0] for r in rows], "p": [r[1] for r in rows],
        "o": [r[2] for r in rows], "o_is_literal": [r[3] for r in rows],
        "o_lang": pa.nulls(len(rows), pa.string()),
        "o_datatype": pa.nulls(len(rows), pa.string()),
    }, schema=TRIPLE_SCHEMA)

    # class-to-class edges: distinct pairs, a few with an absent class side
    pairs: set[tuple[int, int]] = set()
    while len(pairs) < KG_EDGES:
        a, b = rng.randrange(KG_TOPS, KG_CLASSES), rng.randrange(KG_TOPS, KG_CLASSES)
        if a != b:
            pairs.add((a, b))
    edge_rows, admitted_objects = [], set()
    for n, (a, b) in enumerate(sorted(pairs)):
        rel = REL_SYM if n % 2 else REL_PLAIN
        sub, obj = f"KGB_{a:06d}", f"KGB_{b:06d}"
        if n < KG_ABSENT_EDGES:  # absent class on one side → gated out
            if n % 2:
                sub = f"KGBX_{a:06d}"
            else:
                obj = f"KGBX_{b:06d}"
        else:
            admitted_objects.add(OBO + obj)
            if rel == REL_SYM:
                admitted_objects.add(OBO + sub)
        edge_rows.append(("class-class", "class", "class", sub, obj, OBO, OBO,
                          rel, None))
    names = ["edge_type", "n1_kind", "n2_kind", "sub_id", "obj_id", "uri1",
             "uri2", "rel", "inv_rel"]
    edges = pa.table({n: pa.array([r[i] for r in edge_rows], pa.string())
                      for i, n in enumerate(names)})
    inverse = pa.table({"relation": [REL_SYM], "inverse": [REL_SYM]})

    expect = {
        "restrictions": sorted(restrictions),
        "negated": negated,
        "unions": {u: m for u, m in sorted(union_members.items())},
        "bfo_children": sorted(tops + unions),
        "constructed_objects": sorted(admitted_objects),
        "triples": len(rows),
    }
    return {"ontology": onto, "edges": edges, "inverse": inverse}, expect


def deep_unions(seed: int) -> tuple[list[tuple], dict[str, list[str]]]:
    """A small ontology whose unions are longer than the forest walk
    reaches: triple rows ``(s, p, o, o_is_literal, o_lang, o_datatype)``
    and each union's members in list order."""
    rng = random.Random(f"deep_unions:{seed}")
    members = [f"{OBO}KGBD_{i:04d}" for i in range(2 * max(DEEP_UNION_LENGTHS))]
    rows = [(m, TYPE, OWL + "Class") for m in members]
    unions: dict[str, list[str]] = {}
    for k, length in enumerate(DEEP_UNION_LENGTHS):
        u, b = f"{OBO}KGBDU_{k}", f"bnode:du{k}"
        unions[u] = rng.sample(members, length)
        rows += [(u, TYPE, OWL + "Class"), (u, SCO, b), (b, TYPE, OWL + "Class"),
                 (b, OWL + "unionOf", f"bnode:dul{k}_0")]
        for m, member in enumerate(unions[u]):
            nxt = f"bnode:dul{k}_{m + 1}" if m + 1 < length else NIL
            rows += [(f"bnode:dul{k}_{m}", FIRST, member), (f"bnode:dul{k}_{m}", REST, nxt)]
    return [(s, p, o, False, None, None) for s, p, o in rows], unions


# ---------------------------------------------------------------------------
# webtext_kg: pages + entity dictionary + chained same-as pairs
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with"]


def _webtext_kg(seed: int) -> tuple[dict[str, pa.Table], dict]:
    rng = random.Random(f"webtext_kg:{seed}")
    nrng = np.random.default_rng([seed, 2])
    taken = set(_STOPWORDS)
    # filler words never contain x/z/q; every entity surface starts with
    # one, so a filler word can never match a dictionary surface
    filler = _STOPWORDS + _pseudo_words(
        rng, WT_FILLER_WORDS, "bdfgklmnprstv", "aeiou", (1, 4), taken)
    labels = [rng.choice("xzq") + w for w in _pseudo_words(
        rng, len(WT_NAMESPACES) * WT_ENTITIES_PER_NS, "bdfgklmnprstv",
        "aeiou", (2, 3), set())]
    dictionary: list[tuple[str, str, str]] = []
    curies: list[str] = []
    for n, ns in enumerate(WT_NAMESPACES):
        ids = rng.sample(range(1000, 9_999_999), WT_ENTITIES_PER_NS)
        for k, num in enumerate(ids):
            curie = f"{ns}_{num:07d}"
            curies.append(curie)
            label = labels[n * WT_ENTITIES_PER_NS + k]
            dictionary.append((label, curie, "label"))
            if k % 3 == 0:  # two-word synonym
                dictionary.append((f"{label[:3]} {label[3:]}", curie,
                                   "hasExactSynonym"))
    # a few ambiguous surfaces: same surface, a second (later-sorting) curie
    for k in range(0, 40):
        surface, curie, _ = dictionary[k * 17]
        dictionary.append((surface, curie + "_amb", "DbXref"))
    # chained same-as: alt surfaces map to curie_alt1 / curie_alt2 and the
    # pairs (c, c_alt1), (c_alt1, c_alt2) canonicalize both to c
    same_as: list[tuple[str, str]] = []
    chained = rng.sample(range(len(curies)), WT_SAME_AS_CHAINS)
    for k in chained:
        c = curies[k]
        a1, a2 = c + "_alt1", c + "_alt2"
        same_as += [(c, a1), (a1, a2)]
        # a label never contains two vowels in a row, so these surfaces
        # cannot equal another label
        dictionary.append((labels[k] + "alt", a1, "hasRelatedSynonym"))
        dictionary.append((labels[k] + "altalt", a2, "hasRelatedSynonym"))
    surfaces = sorted({s for s, _, _ in dictionary})

    # Zipf-skewed mention draws (hot entities) and filler words
    n_words = nrng.integers(250, 450, WT_PAGES)
    n_mentions = nrng.integers(2, 12, WT_PAGES)
    ent_w = 1.0 / np.arange(1, len(surfaces) + 1) ** 1.1
    ent_order = nrng.permutation(len(surfaces))
    fill_w = 1.0 / np.arange(1, len(filler) + 1) ** 1.0
    fill_w /= fill_w.sum()
    ent_w /= ent_w.sum()
    total_words = int(n_words.sum())
    fill_idx = nrng.choice(len(filler), size=total_words, p=fill_w)
    ment_idx = ent_order[nrng.choice(len(surfaces), size=int(n_mentions.sum()), p=ent_w)]
    langs = ["de", "fr", "es", "zh", "pt", "ru"]
    urls, ts, htmls, texts, lang_col = [], [], [], [], []
    base_ts = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs
    wpos = mpos = 0
    for i in range(WT_PAGES):
        words = [filler[j] for j in fill_idx[wpos:wpos + n_words[i]]]
        wpos += n_words[i]
        for j in ment_idx[mpos:mpos + n_mentions[i]]:
            words.insert(rng.randrange(len(words) + 1), surfaces[j])
        mpos += n_mentions[i]
        if i % 37 == 5:  # junk page: fails the 0.4 quality gate
            words = ["!!", "??"] * 40
        # sentences: a period every 12 words
        sent = " ".join(w + ("." if k % 12 == 11 else "")
                        for k, w in enumerate(words))
        body = sent.replace(" ", " <b>", 1).replace(".", ".</b>", 1)
        html = (f"<html><head><title>page {i}</title><script>var n={i};</script>"
                f"<style>p {{margin:0}}</style></head><body><p>{body}</p>"
                f"<!-- footer --></body></html>")
        urls.append(f"https://site{rng.randrange(500)}.example/doc/{seed}/{i}")
        ts.append(base_ts + int(nrng.integers(0, 365 * 86400)) * 1_000_000)
        htmls.append(html.encode())
        texts.append(sent)
        lang_col.append(rng.choice(langs) if i % 50 == 7 else "en")
    ts_col = pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC"))
    pages = pa.table({"url": urls, "warc_ts": ts_col,
                      "html": htmls, "text": texts, "lang": lang_col},
                     schema=PAGES_SCHEMA)
    dict_t = pa.table({
        "surface": [d[0] for d in dictionary], "curie": [d[1] for d in dictionary],
        "match_type": [d[2] for d in dictionary]})
    same_t = pa.table({"a": [p[0] for p in same_as], "b": [p[1] for p in same_as]})
    expect = {
        "relations": sorted(RELATIONS),
        "alt_curies": sorted({b for _, b in same_as}),
        "pages": WT_PAGES,
    }
    return {"pages": pages, "dictionary": dict_t, "same_as": same_t}, expect


# ---------------------------------------------------------------------------
# corpus_kg vectors: random unit vectors with planted twins
# ---------------------------------------------------------------------------

def semdedup_oracle(ids: np.ndarray, vecs: np.ndarray) -> set[int]:
    """Closed-form ``semantic_dedup`` drop set: centroids are the first
    ``SEMDEDUP_CENTROIDS`` vectors by id; a vector is dropped when a
    lower-id vector in its cell has cosine ≥ the threshold."""
    order = np.argsort(ids, kind="stable")
    ids, vecs = ids[order], vecs[order]
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cents = unit[:SEMDEDUP_CENTROIDS]
    cell = np.argmax(unit @ cents.T, axis=1)
    dropped: set[int] = set()
    for c in range(SEMDEDUP_CENTROIDS):
        members = np.flatnonzero(cell == c)
        sims = unit[members] @ unit[members].T
        for j in range(1, len(members)):
            if (sims[j, :j] >= SEMDEDUP_THRESHOLD).any():
                dropped.add(int(ids[members[j]]))
    return dropped


def _vectors(seed: int) -> tuple[dict[str, pa.Table], dict]:
    nrng = np.random.default_rng([seed, 3])
    rng = random.Random(f"vectors:{seed}")
    vecs = nrng.standard_normal((CD_VECTORS + CD_TWINS, CD_DIM))
    twins = []
    for t in range(CD_TWINS):  # twin: cosine ≈ 0.9998 to its original
        a = t * (CD_VECTORS // CD_TWINS)
        noise = nrng.standard_normal(CD_DIM) * np.linalg.norm(vecs[a]) / CD_DIM ** 0.5
        vecs[CD_VECTORS + t] = vecs[a] + 0.02 * noise
        twins.append((a, CD_VECTORS + t))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vec_ids = np.array(rng.sample(range(1, 50 * len(vecs)), len(vecs)), dtype=np.int64)
    vec_t = pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float64())),
    })
    expect = {
        "vec_twins": sorted(sorted((int(vec_ids[a]), int(vec_ids[b]))) for a, b in twins),
        "semdedup_dropped": sorted(semdedup_oracle(vec_ids, vecs)),
        "vectors": len(vecs),
    }
    return {"vectors": vec_t}, expect


def _corpus_kg(seed: int) -> tuple[dict[str, pa.Table], dict]:
    """Pages for the KG pipeline plus embedding vectors for dedup."""
    tables, expect = _webtext_kg(seed)
    more, more_expect = _vectors(seed)
    return {**tables, **more}, {**expect, **more_expect}


GENERATORS = {"kg_build": _kg_build, "corpus_kg": _corpus_kg}


def inputs_dir(root: str, workload: str, seed: int) -> str:
    """The cache directory of one workload's inputs for one seed under
    ``root``. Its name holds a digest of this module's source, so a changed
    generator writes fresh inputs instead of reusing old ones."""
    with open(__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(root, f"{workload}-s{seed}-{tag}")


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs under ``out_dir`` (one parquet file per
    table, plus ``expect.json``) and return the expectations. Idempotent:
    an existing complete directory is reused, so generation is paid once
    per seed."""
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        tables, expect = GENERATORS[workload](seed)
        tmp = out_dir + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in tables.items():
            _write(table, os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "expect.json"), "w") as f:
            json.dump(expect, f, sort_keys=True)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.rename(tmp, out_dir)
    with open(os.path.join(out_dir, "expect.json")) as f:
        return json.load(f)


def digest(out_dir: str) -> str:
    """sha256 over every generated file, in name order."""
    h = hashlib.sha256()
    for name in sorted(n for n in os.listdir(out_dir) if not n.startswith("reference")):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()
