"""Deduplication suite over the documents table.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, and n-gram Jaccard near-dup — each expressed so the heavy lifting
is a hash-partitioned groupBy/join, never a corpus×corpus cross join:

* exact:    one shuffle on the 64-bit fingerprint.
* minhash:  signatures are per-row column math (no shuffle); candidate
  generation shuffles on (band, band_hash) buckets only; verification joins
  the (tiny) candidate set back to the shingle arrays.
* simhash:  per-row bit math + self-join on rotated prefix buckets.

At 100 TB the bucket join is the scale path: bucket population is bounded
(hot buckets indicate near-identical content → exactly what we want
grouped), and AQE skew-join splits the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pheknowlator_spark.functions.text import fingerprint64, shingles


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Keep the min-id representative per fingerprint group.

    One ``min_by`` hash aggregation (map-side partial combine: a single
    candidate row per fingerprint per partition crosses the shuffle) —
    no row_number window sort. The ordering key is a ``(id IS NULL, id)``
    struct rather than the bare id: ``min_by`` DROPS rows whose ordering
    value is NULL, so a fingerprint group whose ids are all NULL would
    otherwise yield an all-NULL row instead of a real one. With the
    struct, non-null ids win (min id), and an all-null-id group still
    keeps one of its real rows.
    """
    row = F.struct(*[F.col(c).alias(c) for c in docs.columns])
    order = F.struct(
        F.col("doc_id").isNull().alias("is_null"), F.col("doc_id").alias("id")
    )
    return (
        docs.groupBy(fingerprint64(F.col("text")).alias("__fp"))
        .agg(F.min_by(row, order).alias("__w"))
        .select("__w.*")
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
) -> DataFrame:
    """Per-doc MinHash signature as an array column — pure column math.

    h_i(x) = xxhash64(shingle, seed=i); signature[i] = min over shingles.

    Computed as ONE ``aggregate`` over the shingle array with an
    array-of-minima accumulator (the same shape as the simhash voting
    fix): the original ``num_hashes`` separate ``array_min(transform(sh,
    ...))`` projections each re-evaluated the shingle expression — Spark's
    subexpression elimination skips lambda-bearing expressions, so the
    split + k-gram + distinct pipeline ran ``num_hashes`` times per row
    (measured: 64 re-evals made signatures ~50× slower than this form on
    ~700-word pages). Here the shingle array is referenced once; the
    per-shingle cost is just the ``num_hashes`` seeded hashes.
    """
    sh = shingles(F.col("text"), 3)
    sig = F.aggregate(
        sh,
        F.array_repeat(F.lit(9223372036854775807), num_hashes),
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )
    return docs.select(F.col("doc_id"), sh.alias("shingles"), sig.alias("signature"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Shuffle key = (band, hash(band slice)) — never all-pairs. Returns
    [a, b] with a < b, distinct.

    The per-band structs are built INSIDE a ``transform`` over a
    1-element array wrapping the signature column: when Catalyst's
    CollapseProject inlines the upstream signature expression (an
    ``aggregate`` over the shingles), a plain ``F.array(*(...16
    slices...))`` would re-evaluate that aggregate once per band; binding
    it to a lambda variable guarantees a single evaluation per row.
    """
    banded = signatures.select(
        F.col("doc_id"),
        F.explode(
            F.flatten(
                F.transform(
                    F.array(F.col("signature")),
                    lambda sig: F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                F.xxhash64(
                                    F.concat_ws(
                                        ",",
                                        F.transform(
                                            F.slice(
                                                sig,
                                                b * rows_per_band + 1,
                                                rows_per_band,
                                            ),
                                            lambda x: x.cast("string"),
                                        ),
                                    )
                                ).alias("bucket"),
                            )
                            for b in range(bands)
                        ]
                    ),
                )
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    left = banded.select(
        "band", "bucket", F.col("doc_id").alias("a")
    )
    right = banded.select(
        "band", "bucket", F.col("doc_id").alias("b")
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    signatures: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-Jaccard over the candidate pairs only: [a, b, jaccard]."""
    sh = signatures.select(F.col("doc_id"), F.col("shingles"))
    a = sh.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sh_b"))
    joined = candidates.join(a, "a").join(b, "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        joined.select(
            "a", "b", (inter / F.greatest(union, F.lit(1.0))).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline → verified pairs [a, b, jaccard]."""
    sigs = minhash_signatures(docs, num_hashes=num_hashes)
    cands = minhash_lsh_candidates(sigs, bands=bands, rows_per_band=num_hashes // bands)
    return jaccard_verify(cands, sigs, threshold=threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard via an inverted shingle index (no LSH, exact):
    pairs sharing ≥1 shingle are scored — the brute-force oracle for
    ``minhash_near_duplicates`` at test scale. Shuffle = explode on shingle.
    """
    sh = docs.select(
        F.col("doc_id"), shingles(F.col("text"), 3).alias("shingles")
    )
    inv = sh.select(F.col("doc_id"), F.explode("shingles").alias("shingle"))
    pairs = (
        inv.alias("x")
        .join(inv.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    return jaccard_verify(pairs, sh, threshold=threshold)


def md5_hash64(col):
    """First 8 bytes of md5 as a signed 64-bit column, big-endian — the
    bit pattern of ``int.from_bytes(md5(s).digest()[:8], 'big')`` and of
    DuckDB's ``CAST('0x' || substring(md5(s), 1, 16) AS UBIGINT)``.

    Built from the top 15 hex digits (60 bits, fits signed long) shifted
    into place and OR'd with the 16th digit: ``shiftleft``/``bitwiseOR``
    are raw bit ops, so the sign bit wraps correctly with no ANSI
    arithmetic overflow. Slower than ``xxhash64`` (md5 + string slicing
    per shingle) — used where a SQL-reproducible hash is required.
    """
    h = F.md5(col)
    hi60 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    lo4 = F.conv(F.substring(h, 16, 1), 16, 10).cast("long")
    return F.shiftleft(hi60, 4).bitwiseOR(lo4)


def _bit_masks():
    # two's-complement mask for the sign bit; plain power of two otherwise
    return [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]


def simhash64(text_col, hash_fn=None):
    """64-bit SimHash as pure column math: per-shingle 64-bit hash,
    majority vote per bit via ONE sign aggregation over the shingle array
    (accumulator = array of 64 vote counters, merged with zip_with — the
    hash transform is referenced once, so an expensive ``hash_fn`` runs
    once per shingle, not 64 times as with per-bit aggregates).

    ``hash_fn`` maps a string column to a signed 64-bit hash column;
    defaults to ``F.xxhash64`` (fastest). Pass :func:`md5_hash64` for a
    hash DuckDB reproduces bit-exactly (the oracle-gated variant)."""
    if hash_fn is None:
        hash_fn = F.xxhash64
    sh = shingles(text_col, 2)
    hashes = F.transform(sh, lambda s: hash_fn(s))
    masks = _bit_masks()
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 64),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                mask_arr,
                lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    # fold votes → simhash with single-reference expressions all the way
    # down (indexing `votes` 64 times would re-evaluate the aggregate)
    return F.aggregate(
        F.zip_with(
            votes,
            mask_arr,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    hash_fn=None,
) -> DataFrame:
    """SimHash near-dup: candidates share at least one of ``max_hamming + 1``
    bit blocks (pigeonhole: hamming ≤ max_hamming guarantees a shared
    block), then exact hamming filter — so the result is EXACTLY the
    hamming-ball pair set (no false negatives), while candidate generation
    stays a (block, key) bucket join. Returns [a, b, hamming]."""
    blocks = max_hamming + 1
    if blocks > 64:
        raise ValueError("max_hamming must be < 64 (64-bit simhash)")
    # block boundaries cover all 64 bits, widths differ by at most one bit
    bounds = [round(i * 64 / blocks) for i in range(blocks + 1)]
    sh = docs.select(
        F.col("doc_id"),
        simhash64(F.col("text"), hash_fn=hash_fn).alias("sim"),
    )
    banded = sh.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("sim"), bounds[i])
                        .bitwiseAND(F.lit((1 << (bounds[i + 1] - bounds[i])) - 1))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sim", "bb.block", "bb.key")
    a = banded.select("block", "key", F.col("doc_id").alias("a"), F.col("sim").alias("sim_a"))
    b = banded.select("block", "key", F.col("doc_id").alias("b"), F.col("sim").alias("sim_b"))
    cands = (
        a.join(b, ["block", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cands.select("a", "b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def winnow_fingerprints(
    docs: DataFrame,
    shingle_k: int = 3,
    window: int = 4,
    hash_fn=None,
) -> DataFrame:
    """MOSS-style winnowing document fingerprints (rolling-hash selection):
    hash every ORDERED word k-gram, slide a ``window``-hash window, keep
    each window's minimum, distinct. Any shared word run of length
    ≥ shingle_k + window - 1 between two documents is guaranteed to share
    at least one fingerprint — the plagiarism/near-dup sketch that, unlike
    MinHash, localizes matches.

    Pure Column math (one projection + explode; the only shuffle is the
    caller's). Hashes are masked to 63 bits so the signed ordering equals
    DuckDB's unsigned ordering (oracle parity for :func:`md5_hash64`).
    Returns ``[doc_id, fingerprint]`` rows.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    max63 = (1 << 63) - 1
    # Each stage is materialized as a REAL column in its own projection.
    # Embedding the whole chain in one expression tree duplicates the
    # hash-array subtree inside every window reference, and higher-order
    # lambdas are interpreted without common-subexpression elimination —
    # the shingle hashes would be re-computed per window slot, turning an
    # O(n·w) selection into O(n²) hash work per document (measured 17 s →
    # 0.6 s on 300 sf0.01 docs).
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = docs.select(F.col("doc_id"), words.alias("__words"))
    w = F.col("__words")
    n = F.size(w)
    idx = F.sequence(F.lit(0), F.greatest(n - shingle_k, F.lit(0)))
    # ordered shingles — winnowing is positional (shingles() dedups)
    sh = F.when(
        n < shingle_k, F.array(F.concat_ws(" ", w))
    ).otherwise(
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(w, i + 1, shingle_k))
        )
    )
    d = d.select(F.col("doc_id"), sh.alias("__sh"))
    d = d.select(
        F.col("doc_id"),
        F.transform(
            F.col("__sh"), lambda s: hash_fn(s).bitwiseAND(F.lit(max63))
        ).alias("__h"),
    )
    h = F.col("__h")
    m = F.size(h)
    widx = F.sequence(F.lit(0), F.greatest(m - window, F.lit(0)))
    fps = F.array_distinct(
        F.when(m < window, F.array(F.array_min(h))).otherwise(
            F.transform(
                widx, lambda i: F.array_min(F.slice(h, i + 1, window))
            )
        )
    )
    return d.select(
        F.col("doc_id"), F.explode(fps).alias("fingerprint")
    ).distinct()


def winnow_pairs(
    docs: DataFrame,
    shingle_k: int = 3,
    window: int = 4,
    min_matches: int = 2,
    max_df: int | None = None,
    hash_fn=None,
) -> DataFrame:
    """Localized near-dup candidate pairs from shared winnowing
    fingerprints — the MOSS match score: ``[a, b, shared_fingerprints]``
    with a < b, one row per document pair sharing ≥ ``min_matches``
    selected fingerprints (each shared fingerprint witnesses a shared word
    run of length ≥ shingle_k + window - 1, so the count localizes HOW MUCH
    content overlaps, which MinHash's whole-document estimate cannot).

    Scale path mirrors :func:`minhash_lsh_candidates`: the only corpus-
    scale shuffles are keyed on ``fingerprint`` (bucket join) and the
    (a, b) pair aggregation — never all-pairs. ``max_df`` is the hot-bucket
    guard (MOSS's common-code elimination): a fingerprint present in more
    than ``max_df`` documents is boilerplate, not copy signal, and would
    contribute O(df²) pair rows — drop it before pairing. At 10^12 docs
    set it to a small constant (MOSS uses ~10); leaving it None is only
    safe on corpora known to lack ubiquitous runs.
    """
    fps = winnow_fingerprints(docs, shingle_k=shingle_k, window=window, hash_fn=hash_fn)
    if max_df is not None:
        kept = (
            fps.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fingerprint")
        )
        fps = fps.join(kept, "fingerprint")
    a = fps.select("fingerprint", F.col("doc_id").alias("a"))
    b = fps.select("fingerprint", F.col("doc_id").alias("b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_matches)
    )


def near_dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    state_store=None,
) -> DataFrame:
    """Near-duplicate CLUSTERS from a pair table: ``[doc_id,
    cluster_id]`` for every document, where ``cluster_id`` is the min doc
    id of its connected component over the pairs (singletons map to
    themselves).

    This is the step production dedup pipelines run between candidate
    pairing and representative selection: pairs alone over-delete (A~B,
    B~C ⇒ removing both B and C loses the A~C transitivity decision);
    clustering makes "keep exactly one per group" well-defined. Works
    over ANY pair generator — :func:`minhash_near_duplicates` (the scale
    path), :func:`winnow_pairs`, :func:`ngram_jaccard_pairs`, or
    :func:`embedding_near_duplicates`.

    Scale path: `graph_algos.connected_components` (min-label propagation
    + pointer jumping, hash-partitioned on node, O(log d) rounds,
    restartable via ``state_store``); the singleton fill-in is one
    left join against the (much smaller) paired-node label table.
    """
    from pheknowlator_spark.operators.graph_algos import connected_components

    cc = connected_components(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        state_store=state_store,
        stage_prefix="near_dup_cc",
    )
    return (
        docs.select(F.col("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def dedup_near(
    docs: DataFrame,
    pairs: DataFrame,
    state_store=None,
) -> DataFrame:
    """Keep one representative (the min-id member) per near-dup cluster —
    the end-to-end near-dedup a training pipeline applies to the corpus.
    The cluster table is doc_id→cluster_id (two longs), so the final
    filter is a semi join on the id, not a wide-row shuffle."""
    clusters = near_dup_clusters(docs, pairs, state_store=state_store)
    keep = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        F.col("doc_id")
    )
    return docs.join(keep, "doc_id", "left_semi")


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: [a, b, cosine].

    Scale path mirrors ``similarity.lsh_topk``: random-hyperplane LSH
    buckets both copies of the corpus, candidates share a (table, bucket)
    key, and only candidates get the exact cosine — never an all-pairs
    cross join. Pair recall is 1-(1-(1-θ/π)^bits)^tables: at the default
    8 bits × 6 tables that is ≈0.97 at θ ≈ 18.2° (cos 0.95) — i.e. ~3% of
    true pairs AT the threshold boundary are expected to miss bucketing
    (the exact-verify step filters false positives, not false negatives).
    Tighter duplicates collide with much higher probability (≈0.999 at
    cos 0.99; exactly 1.0 for identical vectors). ≥0.99 recall at cos 0.95
    would take 10 tables (≈0.996) and a proportionally larger bucketing
    fan-out.
    """
    from pheknowlator_spark.operators.similarity import (
        _lsh_buckets,
        _vector_dim,
        cosine,
    )

    dim = _vector_dim(vectors, dim)
    v = vectors.select(F.col("vec_id").alias("__id"), F.col("embedding").alias("__v"))
    buckets = _lsh_buckets(v, "__v", tables=6, bits=8, dim=dim).select(
        "__id", "table", "bucket"
    )

    # candidate generation moves IDS only: the (table, bucket) self-join
    # and the pair dedup shuffle two id columns, not two dim-length
    # vector payloads (the former shape amplified every vector ``tables``×
    # through the bucket exchange and hashed 2×dim doubles per row in the
    # distinct); the exact-verify vectors attach afterwards via two
    # id-keyed joins — the §8 "decide with small rows, move big rows
    # once" split
    left = buckets.select("table", "bucket", F.col("__id").alias("a"))
    right = buckets.select("table", "bucket", F.col("__id").alias("b"))
    cands = (
        left.join(right, ["table", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = v.select(F.col("__id").alias("a"), F.col("__v").alias("__va"))
    vb = v.select(F.col("__id").alias("b"), F.col("__v").alias("__vb"))
    return (
        cands.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def segment_occurrences(
    docs: DataFrame,
    words_per_segment: int = 20,
) -> DataFrame:
    """Non-overlapping ``words_per_segment``-word segments with their
    in-document position: ``[doc_id, seg_idx, segment]`` — the unit of
    span-level exact dedup (:func:`segment_dedup`).

    Pure column math: one split + one generated-sequence transform +
    posexplode, no shuffle. The word array is bound to a lambda variable
    (the 1-element-array ``transform`` idiom, see
    :func:`minhash_lsh_candidates`) so the split/lower/trim pipeline is
    evaluated once per row — referenced bare, CollapseProject would inline
    it into every per-segment ``slice`` call.
    """
    w = words_per_segment
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    segs = F.flatten(
        F.transform(
            F.array(words),
            lambda wds: F.transform(
                F.sequence(
                    F.lit(0),
                    (F.ceil(F.size(wds) / F.lit(w)) - 1).cast("int"),
                ),
                lambda i: F.concat_ws(" ", F.slice(wds, i * w + 1, w)),
            ),
        )
    )
    return docs.select(
        F.col("doc_id"), F.posexplode(segs).alias("seg_idx", "segment")
    )


def segment_dedup(
    docs: DataFrame,
    words_per_segment: int = 20,
    min_df: int = 2,
) -> DataFrame:
    """Span-level exact dedup with document reassembly (the
    "deduplicating training data" recipe of Lee et al. 2022, at segment
    rather than suffix-array granularity): every segment whose corpus
    frequency is ≥ ``min_df`` keeps only its globally-first occurrence
    (min ``(doc_id, seg_idx)``); all other occurrences are removed and the
    surviving segments are re-concatenated in document order. Returns
    ``[doc_id, clean_text, n_segments, n_removed]`` — one row per input
    document (a fully-duplicated document survives with empty
    ``clean_text``, which a downstream length filter then drops).

    100 TB path: the only corpus-scale shuffles are (1) the groupBy on the
    64-bit segment hash — count + ``min_by`` both partial-combine
    map-side, so one candidate row per (hash, partition) crosses the wire
    no matter how boilerplate-heavy the corpus is — (2) the hash-keyed
    join of occurrences back to their group verdicts, and (3) the per-doc
    reassembly groupBy. Grouping is by ``xxhash64(segment)`` rather than
    the segment text so hot groups shuffle 8-byte keys, not word spans
    (collision odds at 10^12 segments ≈ birthday(2^64) ≈ 3%, affecting
    single segments, not documents; use two independent hashes if that
    matters).
    """
    occ = segment_occurrences(docs, words_per_segment=words_per_segment)
    occ = occ.withColumn("__h", F.xxhash64("segment"))
    grp = occ.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__df"),
        F.min_by(
            F.struct(F.col("doc_id").alias("i"), F.col("seg_idx").alias("p")),
            F.struct(F.col("doc_id"), F.col("seg_idx")),
        ).alias("__first"),
    )
    keep = (F.col("__df") < min_df) | (
        (F.col("doc_id") == F.col("__first.i"))
        & (F.col("seg_idx") == F.col("__first.p"))
    )
    flagged = occ.join(grp, "__h").select(
        F.col("doc_id"), F.col("seg_idx"), F.col("segment"), keep.alias("__keep")
    )
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("seg_idx"), F.col("segment")),
                        )
                    )
                ),
                lambda s: s.segment,
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_removed"),
    )
