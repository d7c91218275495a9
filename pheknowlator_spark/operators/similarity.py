"""Similarity search over ``[vec_id, embedding]`` vector tables and
``[query_id, embedding]`` query tables (embedding: array<float>).

* ``brute_force_topk``  — exact cosine top-k: query-set × corpus join with
  the dot product as ``F.aggregate``/``zip_with`` column math (JVM-side),
  window top-k. Baseline/oracle path; cost Q×N — fine for dimension-sized
  query sets.
* ``lsh_topk``          — random-hyperplane LSH bucketing: corpus and
  queries hash to sign-pattern buckets; candidates share a bucket in any of
  ``tables`` hash tables; exact cosine re-rank on candidates only. The 100
  TB scale path: shuffle keys are (table, bucket), never all-pairs.
* ``ivf_topk``          — IVF-style coarse quantization: corpus assigned to
  nearest of k centroids (one broadcast join), queries probe ``nprobe``
  nearest centroids.
* ``kmeans_centroids``  — distributed spherical Lloyd k-means trainer for
  the IVF cells (broadcast assign + per-dimension mean per iteration;
  driver holds only the k×dim centroid table, like Spark MLlib k-means).

Each vector step has one implementation, the one place a vectorized
kernel swaps in: ``cosine`` scores, ``_lsh_buckets`` hashes (also for
``dedup.embedding_near_duplicates``), ``_nearest_centroid`` assigns
cells, ``_top_k`` ranks, ``_vector_dim`` resolves the dimensionality.
``brute_force_topk``, the exact reference, keeps its own scoring."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / F.greatest(_norm(a) * _norm(b), F.lit(1e-12))


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k per query: [query_id, vec_id, score, rank]."""
    c = corpus.select(F.col("vec_id"), F.col("embedding").alias("__cv"))
    q = queries.select(
        F.col("query_id"), F.col("embedding").alias("__qv")
    )
    scored = q.crossJoin(c).select(
        "query_id",
        "vec_id",
        cosine(F.col("__qv"), F.col("__cv")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(dim: int, bits: int, table: int) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (hash-seeded, no RNG
    state — reproducible across cluster sizes)."""
    import hashlib
    planes = []
    for b in range(bits):
        vec = []
        for d in range(dim):
            h = hashlib.md5(f"lsh:{table}:{b}:{d}".encode()).digest()
            v = int.from_bytes(h[:8], "big", signed=True) / 2**63
            vec.append(v)
        n = math.sqrt(sum(v * v for v in vec)) or 1.0
        planes.append([v / n for v in vec])
    return planes


def _bucket_structs(vec_col: str, tables: int, bits: int, dim: int) -> Column:
    """All tables' (table, bucket) pairs as ONE projection — exploding this
    array reads the vector table once, where a per-table union would scan
    it ``tables`` times (k× scan amplification at corpus scale).

    The whole bucketer is ONE generated SQL expression (a single py4j
    round trip): building it from per-literal ``F.lit`` Columns spent
    10+ s of driver time on a 12-table × 3-bit × 64-d config — thousands
    of py4j calls for a plan whose execution takes 2 s. String→double
    casts round-trip shortest-repr floats exactly."""
    structs = []
    for t in range(tables):
        planes = _hyperplanes(dim, bits, t)
        bit_terms = []
        for i, plane in enumerate(planes):
            arr = "array(" + ", ".join(
                f"CAST('{float(x)!r}' AS DOUBLE)" for x in plane
            ) + ")"
            dot = (
                f"aggregate(zip_with({vec_col}, {arr}, (x, y) -> x * y), "
                "0D, (a, v) -> a + v)"
            )
            bit_terms.append(
                f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)"
            )
        structs.append(
            f"named_struct('table', {t}, 'bucket', {' + '.join(bit_terms)})"
        )
    return F.expr("array(" + ", ".join(structs) + ")")


def _lsh_buckets(
    df: DataFrame, vec_col: str, tables: int, bits: int, dim: int
) -> DataFrame:
    """``df``'s columns plus ``table`` and ``bucket``: one row per hash
    table, every table's bucket of ``vec_col`` in one projection +
    explode."""
    return df.select(
        "*", F.explode(_bucket_structs(vec_col, tables, bits, dim)).alias("tb")
    ).select(
        *df.columns,
        F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"),
    )


def _vector_dim(df: DataFrame, dim: int | None) -> int:
    """``dim``, else the ``embedding`` column's ``{'dim': n}`` metadata (a
    driver-side ``first()`` probe would cost an extra job)."""
    if dim is None:
        dim = dict(df.schema["embedding"].metadata or {}).get("dim")
    if dim is None:
        raise ValueError(
            "the embedding dimensionality is unknown: pass dim= or attach "
            "{'dim': n} metadata to the embedding column"
        )
    return dim


def _top_k(scored: DataFrame, key: str, tie: str, k: int) -> DataFrame:
    """The ``k`` highest-``score`` rows per ``key`` (ties to the smaller
    ``tie``), ranked 1..k in a ``rank`` column."""
    w = Window.partitionBy(key).orderBy(F.col("score").desc(), F.col(tie).asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _nearest_centroid(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """``[vec_id, centroid_id, __cv]``: each vector's max-cosine centroid
    (ties to the smaller id) by one ``min_by`` hash aggregation over the
    broadcast centroids — one row per vector per partition crosses the
    shuffle, where a row_number window sorted k rows per vector."""
    c = vectors.select(F.col("vec_id"), F.col("embedding").alias("__cv"))
    sim = cosine(F.col("__cv"), F.col("__cent"))
    return (
        c.crossJoin(F.broadcast(centroids))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(F.col("centroid_id").alias("centroid_id"),
                         F.col("__cv").alias("__cv")),
                F.struct((-sim).alias("d"), F.col("centroid_id")),
            ).alias("__w")
        )
        .select("vec_id", F.col("__w.centroid_id").alias("centroid_id"),
                F.col("__w.__cv").alias("__cv"))
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    bits: int = 8,
    tables: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH + exact re-rank
    of the distinct (query, vector) pairs that share a bucket in any
    table. ``dim`` defaults to the ``embedding`` column's metadata."""
    dim = _vector_dim(corpus, dim)
    c = corpus.select(F.col("vec_id"), F.col("embedding").alias("__cv"))
    q = queries.select(F.col("query_id"), F.col("embedding").alias("__qv"))
    cands = (
        _lsh_buckets(q, "__qv", tables, bits, dim)
        .join(_lsh_buckets(c, "__cv", tables, bits, dim), ["table", "bucket"])
        .select("query_id", "vec_id", "__qv", "__cv")
        .distinct()
    )
    scored = cands.select(
        "query_id", "vec_id", cosine(F.col("__qv"), F.col("__cv")).alias("score")
    )
    return _top_k(scored, "query_id", "vec_id", k)


def kmeans_centroids(
    corpus: DataFrame, n_centroids: int = 16, iters: int = 5
) -> DataFrame:
    """Distributed spherical Lloyd k-means for IVF coarse quantization.

    Deterministic init (first ``n_centroids`` vectors by id), then per
    iteration: (1) assign every corpus vector to its max-cosine centroid —
    a broadcast join + ``min_by`` aggregation, no window sort; (2) new
    centroid = per-dimension mean of its members (``posexplode`` +
    hash-agg — one shuffle of n×dim scalar rows); (3) the k×dim result is
    collected to the driver and re-broadcast (centroids are dimension-
    sized; this is the same driver-side loop structure Spark MLlib's
    k-means uses). Cosine assignment is scale-invariant, so means are not
    re-normalized. Empty clusters keep their previous centroid.

    Returns ``[centroid_id, __cent]`` ready for :func:`ivf_topk`'s
    ``centroids=`` parameter.
    """
    cents = [
        (str(r[0]), [float(x) for x in r[1]])
        for r in corpus.orderBy("vec_id").limit(n_centroids)
        .select("vec_id", "embedding").collect()
    ]
    spark = corpus.sparkSession
    for _ in range(max(0, iters)):
        cent_df = spark.createDataFrame(
            cents, "centroid_id string, __cent array<double>"
        )
        means = (
            _nearest_centroid(corpus, cent_df)
            .select("centroid_id", F.posexplode("__cv").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cid: dict[str, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r.centroid_id, {})[r.pos] = r.m
        cents = [
            (
                cid,
                [by_cid[cid][p] for p in sorted(by_cid[cid])]
                if cid in by_cid
                else vec,  # empty cluster: keep previous centroid
            )
            for cid, vec in cents
        ]
    return spark.createDataFrame(
        cents, "centroid_id string, __cent array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: corpus partitioned by nearest centroid,
    queries probe ``nprobe`` cells. ``centroids`` defaults to a
    deterministic corpus sample (first n by id); pass
    :func:`kmeans_centroids` output for trained cells (tighter cells →
    higher recall at the same nprobe)."""
    cents = centroids if centroids is not None else (
        corpus.orderBy("vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("__cent")
        )
    )
    q = queries.select(F.col("query_id"), F.col("embedding").alias("__qv"))
    q_scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "score", cosine(F.col("__qv"), F.col("__cent"))
    )
    q_cells = _top_k(q_scored, "query_id", "centroid_id", nprobe).select(
        "query_id", "__qv", "centroid_id"
    )
    scored = q_cells.join(_nearest_centroid(corpus, cents), "centroid_id").select(
        "query_id", "vec_id", cosine(F.col("__qv"), F.col("__cv")).alias("score")
    )
    return _top_k(scored, "query_id", "vec_id", k)


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, call a
    vector a semantic duplicate if a LOWER-ID vector in the SAME cluster
    has cosine ≥ ``threshold``, keep one representative per duplicate
    group. Returns ``[vec_id, centroid_id, keep]`` for every input
    vector — the caller semi-joins ``keep`` back to the corpus (same
    contract shape as :func:`~pheknowlator_spark.operators.dedup.
    dedup_near`).

    ``centroids`` defaults to the deterministic first-``n_centroids``-
    by-id sample (fully re-derivable closed form — what the oracle gate
    checks); pass :func:`kmeans_centroids` output for trained cells.

    100 TB path: assignment is the same broadcast-centroid ``min_by``
    hash aggregation as :func:`ivf_topk` (no window sort); the pairwise
    cosine is confined WITHIN a cell — the self-join is keyed on
    ``centroid_id``, so its cost is Σ|cell|², bounded by the cluster
    granularity knob (SemDeDup's design point: k grows with the corpus so
    cells stay ~constant-sized), never corpus × corpus. Skewed cells are
    split by AQE; min-id keep semantics make the result independent of
    partitioning.
    """
    cents = centroids if centroids is not None else (
        vectors.orderBy("vec_id")
        .limit(n_centroids)
        .select(
            F.col("vec_id").cast("string").alias("centroid_id"),
            F.col("embedding").alias("__cent"),
        )
    )
    cells = _nearest_centroid(vectors, cents)
    left = cells.select(
        "centroid_id", F.col("vec_id").alias("a"), F.col("__cv").alias("__va")
    )
    right = cells.select(
        "centroid_id", F.col("vec_id").alias("b"), F.col("__cv").alias("__vb")
    )
    dups = (
        left.join(right, "centroid_id")
        .filter(
            (F.col("a") < F.col("b"))
            & (cosine(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
        )
        .select(F.col("b").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return cells.join(dups, "vec_id", "left").select(
        "vec_id", "centroid_id", F.col("__dup").isNull().alias("keep")
    )
