"""Training-corpus hygiene operators: benchmark-contamination checks and
deterministic stratified sampling.

These extend the document-table surface (SURVEY §2's LLM-data-pipeline
block) with the two corpus-prep steps a web-scale training pipeline runs
between dedup and tokenization: (1) drop documents that leak evaluation
data (n-gram overlap with a benchmark suite), and (2) downsample each
stratum (language / source / quality band) to a target mixture — by
fixed per-stratum fractions (:func:`stratified_sample`) or by token/
char budgets (:func:`budget_sample`) — with a deterministic hash: the
same rows survive on every run, every cluster size, and every retry,
which is what makes the sample reproducible and the job idempotently
resumable.

Scale notes (100 TB): benchmark suites are tiny relative to the corpus
(MMLU-sized: 10^4-10^5 grams), so the contamination join broadcasts the
benchmark gram set — the corpus side is one map-side explode + broadcast
hash join + partially-combined aggregation keyed by doc id; no
corpus-scale shuffle of raw grams against raw grams. Stratified sampling
is entirely map-side (a filter over a hash bucket) — zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import shingles

__all__ = [
    "budget_sample",
    "contamination_check",
    "dsir_weights",
    "host_quality_filter",
    "lm_score",
    "sample_bucket",
    "stratified_sample",
    "tfidf_topk",
]


def contamination_check(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """Documents sharing any word ``n``-gram with a benchmark document.

    Returns ``[doc_id, n_shared_grams, n_bench_docs]`` for contaminated
    docs only (no row ⇒ clean). ``n_shared_grams`` counts the distinct
    overlapping grams, ``n_bench_docs`` the distinct benchmark docs hit —
    the two numbers a decontamination policy thresholds on (single-gram
    collisions are noise at small ``n``; many grams or many suite docs is
    leakage).

    The benchmark gram set is broadcast; the corpus side never shuffles
    gram rows — only the per-doc aggregation keyed by ``doc_id`` (hit
    rows only, partially combined map-side).
    """
    dg = docs.select(
        F.col("doc_id"),
        F.explode(shingles(F.col("text"), n)).alias("gram"),
    )
    bg = (
        benchmark.select(
            F.col("bench_id").alias("__bench_id"),
            F.explode(shingles(F.col("text"), n)).alias("gram"),
        )
        .distinct()
    )
    return (
        dg.join(F.broadcast(bg), "gram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_shared_grams"),
            F.count_distinct("__bench_id").alias("n_bench_docs"),
        )
    )


def sample_bucket(col) -> F.Column:
    """Uniform bucket in ``[0, 2^20)`` from the top 5 hex digits of md5.

    md5 (not xxhash64) so the bucket is bit-exactly reproducible in ANSI
    SQL — DuckDB: ``CAST('0x' || substring(md5(x), 1, 5) AS BIGINT)`` —
    which keeps the sampling decision auditable outside Spark. 20 bits
    gives fraction granularity of ~1e-6, enough for corpus mixtures.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 5), 16, 10).cast(
        "long"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    default_fraction: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its id's hash
    bucket falls below ``fraction(stratum) * 2^20``.

    Unlike ``DataFrame.sampleBy`` (per-partition RNG: the surviving set
    depends on partitioning and retries), the decision is a pure function
    of the row id — reruns, resumed jobs, and different cluster sizes all
    keep exactly the same rows, so downstream artifacts are reproducible
    and the step composes with checkpoint/resume (``plans.checkpoint``).
    Map-side only: a literal-map lookup plus a filter; no shuffle, no
    driver state beyond the fractions dict.
    """
    if not fractions:
        mapping = F.lit(None).cast("double")
    else:
        mapping = F.create_map(
            *[
                F.lit(x)
                for k, v in fractions.items()
                for x in (k, float(v))
            ]
        )[F.col(strata_col)]
    frac = F.coalesce(mapping, F.lit(float(default_fraction)))
    return df.filter(
        sample_bucket(F.col(id_col)).cast("double") < frac * float(1 << 20)
    )


def budget_sample(
    df: DataFrame,
    strata_col: str,
    budgets: dict,
    weight_col: str,
    default_budget: float = 0.0,
) -> DataFrame:
    """Downsample each stratum to ≈ a target WEIGHT budget (tokens,
    characters, bytes): fraction = min(1, budget / stratum_weight),
    applied with the same deterministic md5 bucket as
    :func:`stratified_sample` — the corpus-mixing step that turns "2:1
    English:code, 50B tokens total" into per-row keep decisions.

    Already-under-budget strata keep every row (fraction capped at 1);
    the expected surviving weight of an over-budget stratum is the
    budget (hash buckets are uniform and independent of the weight
    column). Cost: ONE partially-combined aggregation producing a
    stratum-count-sized table (broadcast back), then a map-side filter —
    the corpus is scanned twice but never shuffled. Deterministic like
    ``stratified_sample``: the surviving set is a pure function of
    (ids, stratum weights), identical across partitionings and retries.
    """
    totals = df.groupBy(strata_col).agg(
        F.sum(F.col(weight_col)).cast("double").alias("__stratum_weight")
    )
    if not budgets:
        mapping = F.lit(None).cast("double")
    else:
        mapping = F.create_map(
            *[F.lit(x) for k, v in budgets.items() for x in (k, float(v))]
        )[F.col(strata_col)]
    frac = F.least(
        F.lit(1.0),
        F.coalesce(mapping, F.lit(float(default_budget)))
        / F.greatest(F.col("__stratum_weight"), F.lit(1.0)),
    )
    dim = totals.select(F.col(strata_col), frac.alias("__frac"))
    return (
        df.join(F.broadcast(dim), strata_col)
        .filter(
            sample_bucket(F.col("doc_id")).cast("double")
            < F.col("__frac") * 1048576.0
        )
        .drop("__frac")
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` keywords by smoothed TF-IDF
    (sklearn's formulation: ``idf = ln((1+N)/(1+df)) + 1``) — the keyword
    harvest a corpus pipeline runs to tag documents before mixing, and the
    textual analog of the synonym dictionary the reference builds from
    ontology labels (metadata harvest, SURVEY §2.8). Returns
    ``[doc_id, term, tf, df, tfidf, rank]`` with ``rank`` 1..k per
    document (ties broken by term ascending, fully deterministic).

    100 TB path: term frequencies and document frequencies are two
    partially-combined hash aggregations (tf keyed on (doc, term), df one
    count over the tf table keyed on term); the corpus size N joins in as
    a one-row broadcast, so no driver collect. The only window is the
    per-document top-k, partitioned by doc id — thousands of terms per
    partition, never corpus-wide. tf and df are exact integers and idf is
    one deterministic ``ln`` per distinct term, so the result is
    bit-reproducible across cluster sizes and retries.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    terms = docs.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id"),
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * (
                    F.log((F.lit(1.0) + F.col("__n")) / (F.lit(1.0) + F.col("df")))
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lm_score(
    docs: DataFrame,
    ref_docs: DataFrame,
) -> DataFrame:
    """CCNet-style language-model quality scoring (Wenzek et al. 2020):
    train a Laplace-smoothed unigram LM on a trusted reference slice,
    score every document by per-token log-probability; low-perplexity ≈
    fluent reference-like text, high-perplexity ≈ boilerplate/garble.
    ``p(w) = (c_w + 1) / (T + V)`` over reference token count ``T`` and
    vocabulary ``V``; unseen tokens get the unsmoothed-floor
    ``1 / (T + V)``. Returns ``[doc_id, n_tokens, avg_logp, ppl]``
    (``ppl = exp(-avg_logp)``) for every document with ≥1 token.

    100 TB path: the LM is vocabulary-sized (it derives from the
    reference slice, not the corpus) and broadcasts; T and V ride along
    as a one-row broadcast, so scoring is one map-side broadcast join +
    one partially-combined per-doc aggregation — no corpus-scale shuffle
    of tokens against tokens, no driver collect. The real CCNet uses a
    5-gram KenLM; the unigram here is the same plumbing with a
    SQL-re-derivable model (swap the broadcast dim for n-gram rows to
    upgrade).
    """
    def _tokens(df):
        return df.select(
            F.col("doc_id"),
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
        ).filter(F.col("term") != "")

    ref_tokens = _tokens(ref_docs)
    counts = ref_tokens.groupBy("term").agg(F.count(F.lit(1)).alias("__c"))
    stats = counts.agg(
        F.sum("__c").alias("__t"), F.count(F.lit(1)).alias("__v")
    )
    lm = (
        counts.crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                (F.col("__c") + F.lit(1)) / (F.col("__t") + F.col("__v"))
            ).alias("__logp"),
        )
    )
    scored = (
        _tokens(docs)
        .join(F.broadcast(lm), "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("doc_id"),
            F.coalesce(
                "__logp",
                F.log(F.lit(1.0) / (F.col("__t") + F.col("__v"))),
            ).alias("__s"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("__s") / F.count(F.lit(1))).alias("avg_logp"),
        F.exp(-(F.sum("__s") / F.count(F.lit(1)))).alias("ppl"),
    )


def host_quality_filter(
    pages: DataFrame,
    min_mean_quality: float = 0.5,
    min_pages: int = 1,
) -> DataFrame:
    """Gopher-style domain-level filtering (Rae et al. 2021 §A.1.1):
    score every page with the composite :func:`~..functions.text.
    quality_score`, aggregate the mean per host, and keep only pages
    whose host clears both a mean-quality floor and a minimum page
    count — spam/boilerplate farms fail as whole domains even when
    individual pages sneak past per-page filters.

    Adds ``host``, ``host_quality`` (mean), and ``host_pages`` columns.

    100 TB path: one partially-combined aggregation keyed by host (hosts
    ≪ pages), then the surviving-host dim broadcast back — the page
    table itself never shuffles and is scanned once (Spark reuses the
    scan across the agg subtree and the join probe side via the shared
    plan)."""
    from ..functions.text import quality_score

    host = F.regexp_extract(
        F.lower(
            F.regexp_extract(
                F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1
            )
        ),
        r"^([^:]*)",
        1,
    )
    scored = pages.withColumn("host", host).withColumn(
        "__q", quality_score(F.col("text"))
    )
    keep = (
        scored.groupBy("host")
        .agg(
            F.avg("__q").alias("host_quality"),
            F.count(F.lit(1)).alias("host_pages"),
        )
        .filter(
            (F.col("host_quality") >= min_mean_quality)
            & (F.col("host_pages") >= min_pages)
        )
    )
    return scored.join(F.broadcast(keep), "host").drop("__q")


def dsir_weights(
    docs: DataFrame,
    is_target,
    buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): fit hashed-unigram
    bag-of-words models over a target slice (``is_target``, a boolean
    Column over ``docs``) and over the raw corpus, then weight every
    document by its log-likelihood ratio ``Σ_tokens log p_target(h(t)) -
    log p_raw(h(t))`` with Laplace smoothing. High weight ≈ looks like
    the target distribution; resampling by these weights is the
    published recipe for domain-matched pretraining mixtures.

    Token buckets use the md5-derived hash (DuckDB-replayable; swap for
    ``xxhash64 % buckets`` in production for speed). Returns
    ``[doc_id, n_tokens, dsir_weight]``.

    100 TB path: the target flag is evaluated on the DOC row before the
    token explode, so BOTH hashed LMs (each ``buckets``-sized, 4096 rows)
    come out of ONE partially-combined aggregation over one tokenization
    pass (conditional count for the target side — the former shape
    tokenized the corpus three times and semi-joined the target ids
    against the exploded tokens); scoring is then a map-side broadcast
    join plus one per-doc aggregation, so the per-doc shuffle moves one
    combined row per document, never raw tokens. Two corpus scans total.
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % buckets
    ).alias("bucket")

    toks = (
        docs.select(
            F.col("doc_id"),
            is_target.cast("boolean").alias("__t"),
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .select("doc_id", "__t", bucket)
    )
    counts = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.count(F.when(F.col("__t"), F.lit(1))).alias("__ct"),
    )
    tots = counts.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    )
    s = F.lit(1.0)
    b = F.lit(float(buckets))
    ratio = (
        counts.crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            (
                F.log((F.col("__ct") + s) / (F.col("__tt") + s * b))
                - F.log((F.col("__cr") + s) / (F.col("__tr") + s * b))
            ).alias("__lr"),
        )
    )
    return (
        toks.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lr").alias("dsir_weight"),
        )
    )
