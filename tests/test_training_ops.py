"""Training-data pipeline operators: text analysis, dedup suite, similarity
search, multimodal plumbing — over the driver-provided documents/embeddings
tables at sf0.001."""

import pytest
from pyspark.sql import functions as F

from pheknowlator_spark.functions.text import (
    fingerprint64,
    lang_id,
    quality_score,
    shingles,
    token_count_bpe,
    token_count_ws,
)
from pheknowlator_spark.operators.dedup import (
    dedup_exact,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from pheknowlator_spark.operators.multimodal import extract_features, synthetic_media
from pheknowlator_spark.operators.similarity import brute_force_topk, ivf_topk, lsh_topk

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


# ---------------- text functions ----------------

def test_token_counts(spark):
    df = spark.createDataFrame([("hello, world! 42",), ("",)], "t string")
    rows = df.select(
        token_count_ws(F.col("t")).alias("ws"),
        token_count_bpe(F.col("t")).alias("bpe"),
    ).collect()
    assert rows[0].ws == 3
    # hello , world ! 42 → 5 BPE-ish tokens
    assert rows[0].bpe == 5
    assert rows[1].ws == 0


def test_lang_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog is in of that house",),
         ("der hund und die katze ist nicht ein",),
         ("zzz qqq",)],
        "t string",
    )
    out = [r.l for r in df.select(lang_id(F.col("t")).alias("l")).collect()]
    assert out == ["en", "de", "und"]


def test_quality_score_py_parity(spark, documents):
    from pheknowlator_spark.functions.text import quality_score_py

    rows = documents.select(
        "text", quality_score(F.col("text")).alias("q")
    ).collect()
    for r in rows:
        assert quality_score_py(r.text) == r.q


def test_quality_and_fingerprint(spark, documents):
    out = documents.select(
        quality_score(F.col("text")).alias("q"),
        fingerprint64(F.col("text")).alias("fp"),
    )
    rows = out.collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)
    # fingerprint is stable
    again = documents.select(fingerprint64(F.col("text")).alias("fp")).collect()
    assert [r.fp for r in rows] == [r.fp for r in again]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x",)], "t string")
    rows = df.select(shingles(F.col("t"), 3).alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == ["x"]


# ---------------- dedup ----------------

@pytest.fixture(scope="module")
def docs_with_dups(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "the quick brown fox jumps over the lazy dog near the river shore"),
        (4, "completely different text about spark dataframes and shuffles here"),
        (5, "another unrelated document mentioning neither foxes nor rivers at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs_with_dups):
    kept = dedup_exact(docs_with_dups)
    assert kept.count() == 4
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4, 5}


def test_minhash_finds_near_dup(spark, docs_with_dups):
    pairs = minhash_near_duplicates(docs_with_dups, threshold=0.5)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always survives
    assert (1, 3) in got or (2, 3) in got  # one-word-change near dup
    assert not any({4, 5} & {a, b} for a, b in got)


def test_minhash_agrees_with_exact_jaccard(spark, docs_with_dups):
    exact = {
        (r.a, r.b)
        for r in ngram_jaccard_pairs(docs_with_dups, threshold=0.5).collect()
    }
    approx = {
        (r.a, r.b)
        for r in minhash_near_duplicates(docs_with_dups, threshold=0.5).collect()
    }
    # LSH candidates verified with exact jaccard → approx ⊆ exact
    assert approx <= exact


def test_simhash_near_dup(spark, docs_with_dups):
    pairs = simhash_near_duplicates(docs_with_dups, max_hamming=8)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any({4, 5} & {a, b} for a, b in got if (a, b) != (4, 5))


def test_dedup_on_real_documents(spark, documents):
    # sf0.001 documents: run the full near-dup pipeline, assert no crash and
    # symmetric containment vs exact jaccard
    pairs = minhash_near_duplicates(documents, threshold=0.8)
    exact = ngram_jaccard_pairs(documents, threshold=0.8)
    assert pairs.count() <= exact.count() + pairs.count()  # smoke: both evaluate


# ---------------- similarity ----------------

def test_brute_force_topk_self_hit(spark, embeddings):
    queries = embeddings.limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(embeddings, queries, k=5)
    top1 = {r.query_id: r.vec_id for r in out.filter("rank = 1").collect()}
    # nearest neighbor of a vector is itself (cosine 1.0)
    assert all(q == v for q, v in top1.items())
    assert out.groupBy("query_id").count().filter("count != 5").count() == 0


def test_lsh_topk_recall(spark, embeddings):
    queries = embeddings.limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=3)
    approx = lsh_topk(embeddings, queries, k=3, dim=64, bits=6, tables=8)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5  # self-hits guarantee a floor; typical >> this


def test_ivf_topk_runs(spark, embeddings):
    queries = embeddings.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(embeddings, queries, k=3, n_centroids=8, nprobe=3)
    assert out.count() > 0


# ---------------- multimodal ----------------

def test_multimodal_features(spark):
    media = synthetic_media(spark, 12)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 12
    assert all(len(r.feature) == 8 for r in rows)
    # deterministic
    again = extract_features(media).collect()
    assert sorted(r.content_id for r in rows) == sorted(r.content_id for r in again)


def test_simhash_pigeonhole_exactness(spark, documents):
    # with blocks = max_hamming + 1 the bucketed candidate set provably
    # covers every pair within the hamming ball — bucketed output must
    # EQUAL the brute-force all-pairs result
    from pheknowlator_spark.operators.dedup import (
        simhash64,
        simhash_near_duplicates,
    )

    docs = documents.filter(F.col("doc_id") < 150)
    got = {(r.a, r.b, r.hamming)
           for r in simhash_near_duplicates(docs, max_hamming=6).collect()}
    sh = docs.select("doc_id", simhash64(F.col("text")).alias("sim"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("sim").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sim").alias("sb"))
    brute = (
        a.crossJoin(b).filter(F.col("a") < F.col("b"))
        .select("a", "b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )
    expected = {(r.a, r.b, r.hamming) for r in brute.collect()}
    assert got == expected

def test_kmeans_ivf_recovers_separated_clusters(spark):
    # three well-separated 8-d clusters; Lloyd iterations must tighten the
    # deterministic sample init onto the true cluster centers, and IVF with
    # trained centroids must equal brute-force top-k at nprobe=1
    from pheknowlator_spark.operators.similarity import kmeans_centroids

    def vec(axis, i):
        # tight cone around one of three orthogonal axes
        base = [0.0] * 8
        base[axis] = 1.0
        base[(axis + 3) % 8] = 0.05 * ((i % 5) - 2)
        return base

    # ids interleave the clusters so the first-n-by-id init spans them
    # (Lloyd is a local optimizer — an init entirely inside one cluster
    # cannot split the others, as with any k-means)
    rows = [
        (i * 3 + axis, vec(axis, i)) for axis in range(3) for i in range(20)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = kmeans_centroids(corpus, n_centroids=3, iters=4)
    got = {
        tuple(round(x, 2) for x in r["__cent"]) for r in cents.collect()
    }
    # each trained centroid points along exactly one cluster axis
    axes = set()
    for c in got:
        mx = max(range(8), key=lambda j: abs(c[j]))
        assert abs(c[mx]) > 0.9, c
        axes.add(mx)
    assert axes == {0, 1, 2}

    queries = corpus.filter(F.col("vec_id").isin([0, 1, 2])).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id, r.rank)
        for r in brute_force_topk(corpus, queries, k=5).collect()
    }
    trained = {
        (r.query_id, r.vec_id, r.rank)
        for r in ivf_topk(
            corpus, queries, k=5, nprobe=1,
            centroids=kmeans_centroids(corpus, n_centroids=3, iters=4),
        ).collect()
    }
    assert trained == exact


def test_md5_hash64_bit_pattern(spark):
    # signed-long bit pattern must equal int.from_bytes(md5[:8], 'big') —
    # the contract that lets DuckDB re-derive it via
    # CAST('0x'||substring(md5(s),1,16) AS UBIGINT)
    import hashlib

    from pheknowlator_spark.operators.dedup import md5_hash64

    texts = ["hello world", "", "a b c", "x", "ünïcode ok"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select("t", md5_hash64(F.col("t")).alias("h")).collect()
    for r in rows:
        expect = int.from_bytes(
            hashlib.md5(r.t.encode()).digest()[:8], "big"
        )
        assert (r.h & 0xFFFFFFFFFFFFFFFF) == expect


def test_simhash_md5_variant_exactness(spark, documents):
    # the oracle-gated md5-hash variant must also be pigeonhole-exact
    # (same banding plan, different per-shingle hash)
    from pheknowlator_spark.operators.dedup import (
        md5_hash64,
        simhash64,
        simhash_near_duplicates,
    )

    docs = documents.filter(F.col("doc_id") < 120)
    got = {
        (r.a, r.b, r.hamming)
        for r in simhash_near_duplicates(
            docs, max_hamming=6, hash_fn=md5_hash64
        ).collect()
    }
    sh = docs.select(
        "doc_id", simhash64(F.col("text"), hash_fn=md5_hash64).alias("sim")
    )
    a = sh.select(F.col("doc_id").alias("a"), F.col("sim").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("sim").alias("sb"))
    brute = (
        a.crossJoin(b).filter(F.col("a") < F.col("b"))
        .select("a", "b",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )
    expected = {(r.a, r.b, r.hamming) for r in brute.collect()}
    assert got == expected


def test_dedup_exact_no_window_plan(spark, docs_with_dups):
    # min_by hash aggregation replaces the row_number window: no Window
    # node and no sort in the executed plan
    kept = dedup_exact(docs_with_dups)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert {r.doc_id for r in kept.collect()} == {1, 3, 4, 5}
    assert kept.columns == ["doc_id", "text"]


def test_ivf_corpus_assignment_no_window(spark, embeddings):
    # corpus→cell assignment is a min_by aggregation; the only Window
    # nodes left are query-side (nprobe probe + final top-k), both
    # dimension-sized
    queries = embeddings.limit(2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(embeddings, queries, k=3, n_centroids=8, nprobe=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # count Window NODES ("Window [...]"), not the WindowGroupLimit
    # rank-pushdown companions the optimizer adds beneath each
    assert plan.count("Window [") == 2, plan


def test_token_percentile_label_precision(spark, documents):
    # 0.29 must label p29 (int(0.29*100) == 28), tiny quantiles must not
    # render scientific-notation SQL literals
    from pheknowlator_spark.functions.text import token_length_distribution

    out = token_length_distribution(documents, quantiles=[0.29, 5e-05, 0.999])
    assert out.columns == ["lang", "p29", "p0_005", "p99_9", "n_docs"]
    assert out.count() > 0


def test_bucket_structs_sql_float_roundtrip(spark):
    # the SQL-generated bucketer casts shortest-repr float strings back to
    # double; hyperplane components must round-trip exactly so buckets are
    # identical to the Column-built equivalent
    from pheknowlator_spark.operators.similarity import (
        _bucket_structs,
        _hyperplanes,
    )

    dim, bits, tables = 8, 4, 2
    planes = [_hyperplanes(dim, bits, t) for t in range(tables)]
    vecs = [
        [1.0] + [0.0] * (dim - 1),
        [0.1234567890123456] * dim,
        [-1e-15, 1e15] + [0.5] * (dim - 2),
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, __v array<double>"
    )
    got = {
        (r.vec_id, r.tb.table, r.tb.bucket)
        for r in df.select(
            "vec_id",
            F.explode(_bucket_structs("__v", tables, bits, dim)).alias("tb"),
        ).collect()
    }
    # python re-derivation with exact float arithmetic mirrors the SQL
    expect = set()
    for i, v in enumerate(vecs):
        for t in range(tables):
            bucket = 0
            for b, plane in enumerate(planes[t]):
                acc = 0.0
                for x, y in zip(v, plane):
                    acc = acc + (x * y)
                if acc >= 0:
                    bucket += 1 << b
            expect.add((i, t, bucket))
    assert got == expect


def test_winnow_shared_run_guarantee(spark):
    # winnowing guarantee: documents sharing a word run of length
    # >= shingle_k + window - 1 share at least one fingerprint; documents
    # with no shared shingles share none
    from pheknowlator_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6-word shared run
    rows = [
        (1, f"intro words here {shared} tail one"),
        (2, f"completely other prefix {shared} different ending"),
        (3, "nothing in common with either of those documents at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, shingle_k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    # short doc (< window shingles) still fingerprints
    short = spark.createDataFrame([(9, "tiny doc")], "doc_id long, text string")
    assert winnow_fingerprints(short).count() == 1


def test_winnow_pairs_match_score_and_max_df(spark):
    """winnow_pairs: per-pair shared-fingerprint count (MOSS match score),
    min_matches threshold, and the max_df common-code guard."""
    from pheknowlator_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    run_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    run_b = "one two three four five six seven"
    boiler = "all rights reserved contact us for terms"
    rows = [
        (1, f"{run_a} filler txt {boiler}"),
        (2, f"prefix words {run_a} other tail {boiler}"),
        (3, f"{run_b} and then some unrelated content {boiler}"),
        (4, f"start {run_b} finish line {boiler}"),
        (5, f"totally disjoint vocabulary sentence about nothing {boiler}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r.a, r.b): r.shared_fingerprints
        for r in winnow_pairs(df, min_matches=1, max_df=2).collect()
    }
    # the long shared runs pair up; cross-run pairs exist only via the
    # boilerplate, which max_df=2 (present in all 5 docs) eliminates
    assert (1, 2) in pairs and (3, 4) in pairs
    assert not any(a == 5 or b == 5 for a, b in pairs)
    # match score equals the exact shared-fingerprint count
    fps = winnow_fingerprints(df)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    hot = {f for f in set.union(*by_doc.values())
           if sum(f in s for s in by_doc.values()) > 2}
    assert pairs[(1, 2)] == len((by_doc[1] & by_doc[2]) - hot)
    # min_matches filters low-overlap pairs
    thresh = winnow_pairs(df, min_matches=pairs[(1, 2)] + 1, max_df=2)
    assert (1, 2) not in {(r.a, r.b) for r in thresh.collect()}
    # without the guard, boilerplate joins everything to everything
    no_guard = winnow_pairs(df, min_matches=1, max_df=None)
    assert any(a == 5 or b == 5 for a, b in
               {(r.a, r.b) for r in no_guard.collect()})


def test_near_dup_clusters_and_dedup_near(spark):
    from pheknowlator_spark.operators.dedup import dedup_near, near_dup_clusters

    docs = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(7)], "doc_id long, text string"
    )
    # components: {0,1,2} (chained — transitivity must hold), {4,5}; 3, 6 singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "a long, b long"
    )
    clusters = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, pairs).collect()
    }
    assert clusters == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6}

    kept = sorted(r.doc_id for r in dedup_near(docs, pairs).collect())
    assert kept == [0, 3, 4, 6]  # min id per cluster + singletons
    # schema preserved: dedup_near returns full original rows
    assert dedup_near(docs, pairs).columns == docs.columns

    # empty pair table: every doc is its own singleton cluster, none dropped
    empty = spark.createDataFrame([], "a long, b long")
    singletons = {
        r.doc_id: r.cluster_id
        for r in near_dup_clusters(docs, empty).collect()
    }
    assert singletons == {i: i for i in range(7)}
    assert dedup_near(docs, empty).count() == 7


def test_repetition_stats(spark):
    from pheknowlator_spark.functions.text import repetition_stats

    rows = [
        (1, "spam spam spam spam"),          # one word repeated 4x
        (2, "a b c d e f"),                   # no repetition
        (3, "x y x y x y x y x y"),           # "x y" bigram dominates
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", repetition_stats(F.col("text")).alias("rep")
        ).select("doc_id", "rep.*").collect()
    }
    assert out[1].top_word_frac == 1.0
    assert out[1].top_2gram_frac == 1.0       # "spam spam" x3 of 3
    assert out[2].top_word_frac == pytest.approx(1 / 6)
    assert out[2].dup_5gram_frac == 0.0
    # "x y" appears 5 times among 9 bigrams
    assert out[3].top_2gram_frac == pytest.approx(5 / 9)
    # 10 words -> 6 5-grams, alternating so only 2 distinct
    assert out[3].dup_5gram_frac == pytest.approx(4 / 6)


def test_contamination_check(spark):
    from pheknowlator_spark.operators.corpus import contamination_check

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "pack my box with five")],
        "bench_id long, text string",
    )
    docs = spark.createDataFrame(
        [
            (1, "prefix the quick brown fox jumps suffix"),   # hits bench 100
            (2, "pack my box with five liquor jugs"),          # hits bench 101
            (3, "completely unrelated words only here"),       # clean
            (4, "the quick brown fox jumps and pack my box with five"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_check(docs, bench, n=5).collect()}
    assert set(out) == {1, 2, 4}  # doc 3 produces no row
    assert out[1].n_bench_docs == 1
    assert out[2].n_bench_docs == 1
    assert out[4].n_bench_docs == 2
    # doc 4 contains both 5-gram suites verbatim -> >= 2 shared grams
    assert out[4].n_shared_grams >= 2


def test_stratified_sample(spark):
    from pheknowlator_spark.operators.corpus import (
        sample_bucket,
        stratified_sample,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(2000)],
        "doc_id long, lang string",
    )
    frac = {"en": 0.5, "de": 0.0}
    out = stratified_sample(docs, "lang", frac, id_col="doc_id")
    rows = sorted(r.doc_id for r in out.collect())
    # de fully dropped; en roughly half (hash-uniform, loose bounds)
    langs = {r.lang for r in out.collect()}
    assert langs == {"en"}
    assert 350 < len(rows) < 650
    # deterministic: a second run keeps exactly the same rows
    rows2 = sorted(r.doc_id for r in out.collect())
    assert rows == rows2
    # repartitioning does not change the surviving set (unlike sampleBy)
    rows3 = sorted(
        r.doc_id
        for r in stratified_sample(
            docs.repartition(13), "lang", frac, id_col="doc_id"
        ).collect()
    )
    assert rows == rows3
    # default_fraction applies to unmapped strata
    all_default = stratified_sample(docs, "lang", {}, default_fraction=1.0)
    assert all_default.count() == 2000
    # the bucket is the documented md5 prefix (SQL-reproducible)
    import hashlib

    probe = docs.filter(F.col("doc_id") == 7).select(
        sample_bucket(F.col("doc_id")).alias("b")
    ).collect()[0].b
    assert probe == int(hashlib.md5(b"7").hexdigest()[:5], 16)


def test_scrub_pii(spark):
    from pheknowlator_spark.functions.text import scrub_pii

    rows = [
        (1, "mail a.b+c@test-site.org or 192.168.0.1 please"),
        (2, "no pii here at all"),
        (3, "two mails x@y.co z@w.io one ip 10.0.0.255"),
        (4, "not an ip 1234.5.6.7890 half"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id", scrub_pii(F.col("text")).alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1].n_emails == 1 and out[1].n_ips == 1
    assert out[1].scrubbed == "mail <EMAIL> or <IP> please"
    assert out[2].n_emails == 0 and out[2].n_ips == 0
    assert out[2].scrubbed == "no pii here at all"
    assert out[3].n_emails == 2 and out[3].n_ips == 1
    assert out[3].scrubbed == "two mails <EMAIL> <EMAIL> one ip <IP>"
    # \b guards: 4-digit runs around dots are not IPv4
    assert out[4].n_ips == 0


def test_budget_sample(spark):
    from pheknowlator_spark.operators.corpus import budget_sample

    # stratum A: 100 docs x 100 chars = 10_000; B: 100 x 100 = 10_000
    docs = spark.createDataFrame(
        [(i, "A" if i < 100 else "B", 100) for i in range(200)],
        "doc_id long, stratum string, w long",
    )
    out = budget_sample(
        docs, "stratum", {"A": 5000.0, "B": 1e9}, weight_col="w"
    )
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r.stratum, []).append(r.doc_id)
    # B is under budget: every row kept
    assert sorted(by["B"]) == list(range(100, 200))
    # A sampled to ~half (hash-uniform, loose bounds)
    assert 25 < len(by["A"]) < 75
    # deterministic under repartitioning
    again = sorted(
        r.doc_id
        for r in budget_sample(
            docs.repartition(7), "stratum", {"A": 5000.0, "B": 1e9},
            weight_col="w",
        ).collect()
    )
    assert again == sorted(r.doc_id for r in rows)
    # default budget 0 -> unmapped strata fully dropped
    none_kept = budget_sample(docs, "stratum", {"B": 1e9}, weight_col="w")
    assert {r.stratum for r in none_kept.collect()} == {"B"}
    # schema preserved (helper columns dropped)
    assert set(out.columns) == {"doc_id", "stratum", "w"}


def test_chunk_documents(spark):
    from pheknowlator_spark.functions.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "solo")],
        "doc_id long, text string",
    )
    # exact tiling: stride == max_tokens
    tiles = sorted(
        (r.doc_id, r.chunk_id, r.n_tokens, r.chunk)
        for r in chunk_documents(docs, max_tokens=4).collect()
    )
    assert tiles == [
        (1, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, "w4 w5 w6 w7"),
        (1, 2, 2, "w8 w9"),
        (2, 0, 1, "solo"),
    ]
    # tiling reconstructs doc 1's word stream exactly (no loss, no overlap)
    rebuilt = " ".join(c for (d, _, _, c) in tiles if d == 1)
    assert rebuilt == " ".join(f"w{i}" for i in range(10))
    # overlapping windows: stride 2 < max 4 -> consecutive chunks share 2
    over = {
        r.chunk_id: r.chunk
        for r in chunk_documents(
            docs.filter(F.col("doc_id") == 1), max_tokens=4, stride=2
        ).collect()
    }
    assert over[0].split()[2:] == over[1].split()[:2]
    # every word covered, last chunk never starts past the end
    assert over[max(over)].split()[-1] == "w9"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(docs, max_tokens=0)


def test_segment_dedup(spark):
    from pheknowlator_spark.operators.dedup import (
        segment_dedup,
        segment_occurrences,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),   # W=3: "a b c", "d e f"
            (1, "a b c x y z"),   # "a b c" repeats doc0's first segment
            (2, "x y z"),         # repeats doc1's second segment
            (3, "q r"),           # single short segment (tail clamp)
        ],
        "doc_id long, text string",
    )
    occ = {
        (r.doc_id, r.seg_idx): r.segment
        for r in segment_occurrences(docs, words_per_segment=3).collect()
    }
    assert occ[(0, 0)] == "a b c" and occ[(0, 1)] == "d e f"
    assert occ[(3, 0)] == "q r"  # shorter-than-W tail is one segment

    out = {r.doc_id: r for r in segment_dedup(docs, words_per_segment=3).collect()}
    assert out[0].clean_text == "a b c d e f" and out[0].n_removed == 0
    # doc1 loses "a b c" (first occurrence lives in doc0) but keeps
    # "x y z" (ITS occurrence is the global first)
    assert out[1].clean_text == "x y z" and out[1].n_removed == 1
    # doc2 is fully duplicated -> empty survivor row, not a missing row
    assert out[2].clean_text == "" and out[2].n_removed == 1
    assert out[3].clean_text == "q r" and out[3].n_segments == 1
    # min_df=3: df-2 segments are under the bar, nothing removed
    out3 = {
        r.doc_id: r.n_removed
        for r in segment_dedup(docs, words_per_segment=3, min_df=3).collect()
    }
    assert out3 == {0: 0, 1: 0, 2: 0, 3: 0}


def test_semantic_dedup(spark):
    from pheknowlator_spark.operators.similarity import (
        kmeans_centroids,
        semantic_dedup,
    )

    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (3, [0.999, 0.01, 0.0]),  # near-dup of 0
            (4, [0.01, 0.999, 0.0]),  # near-dup of 1
            (5, [0.0, 0.0, 0.9]),     # scaled copy of 2 (cosine exactly 1)
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r
        for r in semantic_dedup(vecs, threshold=0.99, n_centroids=3).collect()
    }
    assert [out[i].keep for i in range(6)] == [True, True, True, False, False, False]
    assert out[3].centroid_id == "0" and out[5].centroid_id == "2"
    # trained-centroid variant: same grouping on this separable input
    cents = kmeans_centroids(vecs, n_centroids=3, iters=2)
    trained = {
        r.vec_id: r.keep
        for r in semantic_dedup(vecs, threshold=0.99, centroids=cents).collect()
    }
    assert trained == {0: True, 1: True, 2: True, 3: False, 4: False, 5: False}
    # threshold above any cosine: everything kept
    all_keep = semantic_dedup(vecs, threshold=1.01, n_centroids=3)
    assert all(r.keep for r in all_keep.collect())


def test_tfidf_topk(spark):
    from pheknowlator_spark.operators.corpus import tfidf_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry durian  "),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_topk(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r.rank)

    import math

    def idf(df, n=3):
        return math.log((1.0 + n) / (1.0 + df)) + 1.0

    # doc0: apple tf=2 df=1 beats banana tf=1 df=2
    assert [r.term for r in by_doc[0]] == ["apple", "banana"]
    assert by_doc[0][0].tf == 2 and by_doc[0][0].df == 1
    assert abs(by_doc[0][0].tfidf - 2 * idf(1)) < 1e-12
    # doc1: banana and cherry tie on tf=1 df=2 -> term-ascending break
    assert [r.term for r in by_doc[1]] == ["banana", "cherry"]
    assert [r.rank for r in by_doc[1]] == [1, 2]
    # doc2: cherry tf=2; trailing whitespace must not mint an empty term
    assert [r.term for r in by_doc[2]] == ["cherry", "durian"]
    assert all(r.term != "" for r in rows)
    # k larger than the vocabulary: every (doc, term) pair survives
    assert len(tfidf_topk(docs, k=100).collect()) == 6

    import pytest as _pytest

    with _pytest.raises(ValueError):
        tfidf_topk(docs, k=0)


def test_lm_score(spark):
    import math

    from pheknowlator_spark.operators.corpus import lm_score

    ref = spark.createDataFrame(
        [(100, "a a b")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [
            (0, "a b"),    # both in-vocab
            (1, "z"),      # OOV floor
            (2, "   "),    # no tokens -> no output row
        ],
        "doc_id long, text string",
    )
    # LM: c_a=2, c_b=1, T=3, V=2 -> p(a)=3/5, p(b)=2/5, oov=1/5
    out = {r.doc_id: r for r in lm_score(docs, ref).collect()}
    assert set(out) == {0, 1}
    exp0 = (math.log(3 / 5) + math.log(2 / 5)) / 2
    assert out[0].n_tokens == 2
    assert abs(out[0].avg_logp - exp0) < 1e-12
    assert abs(out[0].ppl - math.exp(-exp0)) < 1e-9
    # pure-OOV doc: ppl is exactly the smoothed denominator T+V
    assert abs(out[1].avg_logp - math.log(1 / 5)) < 1e-12
    assert abs(out[1].ppl - 5.0) < 1e-9
    # fluent text scores lower perplexity than garble
    assert out[0].ppl < out[1].ppl
