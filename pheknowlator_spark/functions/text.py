"""Text-analysis column expressions for the documents table.

All JVM-side (no UDFs): language-ID by stopword-hit ratio, quality scoring,
token counting (whitespace + BPE-ish regex), rolling-hash fingerprinting.
Designed to run in one projection pass over a 100 TB text column inside
whole-stage codegen.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (heuristic language ID)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}


def _word_set(col: Column) -> Column:
    return F.array_distinct(F.split(F.lower(col), r"\s+"))


def lang_id(col: Column) -> Column:
    """Best-guess language code ('und' when no markers hit).

    Deterministic argmax with lexicographic tie-break on the code.
    """
    words = _word_set(col)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(_LANG_MARKERS):  # later wins only on strict >
        hits = F.size(
            F.array_intersect(
                words, F.array(*[F.lit(m) for m in _LANG_MARKERS[lang]])
            )
        )
        improved = hits > best_hits
        best_lang = F.when(improved, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(improved, hits).otherwise(best_hits)
    return best_lang


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    trimmed = F.trim(col)
    return F.when(trimmed == "", 0).otherwise(F.size(F.split(trimmed, r"\s+")))


def token_count_bpe(col: Column) -> Column:
    """BPE-ish token count: words, numbers, and single punctuation marks
    counted separately (a cl100k-style pre-tokenizer approximation)."""
    toks = F.regexp_extract_all(
        col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0
    )
    return F.size(toks)


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band, punctuation ratio,
    stopword ratio, mean word length band — the standard web-corpus
    filters, one codegen'd expression."""
    n_chars = F.length(col)
    n_tokens = token_count_ws(col)
    words = F.split(F.lower(F.trim(col)), r"\s+")
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(words),
            F.array(*[F.lit(m) for m in _LANG_MARKERS["en"]]),
        )
    )
    punct = F.length(F.regexp_replace(col, r"[^!?.,;:]", ""))
    len_ok = (n_chars >= 100) & (n_chars <= 100_000)
    mean_wl = n_chars / F.greatest(n_tokens, F.lit(1))
    wl_ok = (mean_wl >= 3.0) & (mean_wl <= 12.0)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    punct_ok = punct_ratio < 0.2
    stop_ok = stop_hits >= 2
    return (
        len_ok.cast("double") * 0.25
        + wl_ok.cast("double") * 0.25
        + punct_ok.cast("double") * 0.25
        + stop_ok.cast("double") * 0.25
    )


def quality_score_py(text: str) -> float:
    """Python twin of ``quality_score`` for fused Arrow stages — MUST stay
    semantically identical to the Column version (parity-tested in
    tests/test_training_ops.py)."""
    import re as _re

    n_chars = len(text)
    trimmed = text.strip()
    tokens = _re.split(r"\s+", trimmed) if trimmed else []
    n_tokens = len(tokens)
    stop_hits = len(set(w for w in _re.split(r"\s+", trimmed.lower()) if w)
                    & set(_LANG_MARKERS["en"]))
    punct = sum(1 for ch in text if ch in "!?.,;:")
    len_ok = 100 <= n_chars <= 100_000
    mean_wl = n_chars / max(n_tokens, 1)
    wl_ok = 3.0 <= mean_wl <= 12.0
    punct_ok = punct / max(n_chars, 1) < 0.2
    stop_ok = stop_hits >= 2
    return 0.25 * len_ok + 0.25 * wl_ok + 0.25 * punct_ok + 0.25 * stop_ok


def fingerprint64(col: Column) -> Column:
    """Deterministic 64-bit document fingerprint (xxhash64 of normalized
    text) — exact-dup key."""
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.xxhash64(normalized)


def _bind(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable (the 1-element-array ``transform`` idiom, see
    ``operators/dedup.segment_occurrences``). Referenced bare, a
    multiply-used subexpression is inlined by CollapseProject into every
    consumer — for the word-split below that meant re-running the regex
    split once per OUTPUT GRAM (O(words²) regex work per document,
    measured 2.5 s per gram list over 5000 54-word docs vs 0.3 s bound).
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-gram shingle array (distinct) for Jaccard/MinHash."""
    words = F.split(F.lower(F.trim(col)), r"\s+")

    def build(wds):
        n = F.size(wds)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.concat_ws(" ", wds))).otherwise(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(" ", F.slice(wds, i + 1, k)),
                )
            )
        )

    return _bind(words, build)


def ngram_list(col: Column, k: int = 2) -> Column:
    """Word k-gram array WITH duplicates (unlike :func:`shingles`) — the
    multiset that repetition statistics count over."""
    words = F.split(F.lower(F.trim(col)), r"\s+")

    def build(wds):
        n = F.size(wds)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(n < k, F.array(F.concat_ws(" ", wds))).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(wds, i + 1, k)))
        )

    return _bind(words, build)


def repetition_stats(col: Column) -> Column:
    """Gopher-style repetition quality signals as one struct column:

    - ``top_word_frac``: occurrences of the most frequent word / total
      words — catches keyword-stuffed and boilerplate pages.
    - ``top_2gram_frac``: occurrences of the most frequent word 2-gram /
      total 2-grams.
    - ``dup_5gram_frac``: fraction of 5-grams that are repeats of an
      earlier 5-gram (1 − distinct/total) — catches templated spam whose
      unigram profile looks natural.

    Pure Column math (zero shuffles), LINEAR per row: the max-multiplicity
    count is the longest equal-run in the sorted gram array (one
    ``array_sort`` + one linear ``aggregate`` pass). The previous
    distinct×total nested-lambda scan was quadratic in document length
    with interpreted per-element evaluation — 256 s for 500 sf0.1
    documents vs ~1 s linear, and unusable on book-length texts. Equal
    counts by construction (sorting groups equal grams adjacently), so
    the emitted fractions are bit-identical.
    The reference has no corpus-quality layer; this extends its P1-P4
    row-filter stage (pkt_kg/edge_list.py) to document granularity.
    """

    def _max_frac(arr: Column) -> Column:
        srt = F.array_sort(arr)
        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc, x):
            run = F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                F.lit(1)
            )
            return F.struct(
                x.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        max_count = F.aggregate(srt, init, step)["best"]
        # empty array → NULL (the old array_max-over-empty semantics)
        max_count = F.when(F.size(arr) == 0, F.lit(None).cast("int")).otherwise(
            max_count
        )
        return max_count.cast("double") / F.greatest(
            F.size(arr), F.lit(1)
        ).cast("double")

    def build(gs):
        g5 = gs["g5"]
        dup5 = (F.size(g5) - F.size(F.array_distinct(g5))).cast(
            "double"
        ) / F.greatest(F.size(g5), F.lit(1)).cast("double")
        return F.struct(
            _max_frac(gs["g1"]).alias("top_word_frac"),
            _max_frac(gs["g2"]).alias("top_2gram_frac"),
            dup5.alias("dup_5gram_frac"),
        )

    # bind the three gram arrays once per row — each is referenced by
    # several consumers (sort, sizes, distinct) and would otherwise be
    # re-built per reference
    return _bind(
        F.struct(
            ngram_list(col, 1).alias("g1"),
            ngram_list(col, 2).alias("g2"),
            ngram_list(col, 5).alias("g5"),
        ),
        build,
    )


def chunk_documents(
    docs,
    max_tokens: int = 128,
    stride: int | None = None,
):
    """Explode documents into fixed-size whitespace-token windows —
    the chunking step between curation and tokenization in a training
    pipeline (and the indexing unit for retrieval): returns
    ``[doc_id, chunk_id, n_tokens, chunk]``.

    ``stride`` < ``max_tokens`` yields overlapping windows (RAG-style
    context overlap); the default ``stride = max_tokens`` tiles the
    document exactly. Chunk starts are ``i * stride`` for
    ``i = 0 .. floor((n_words - 1) / stride)``, so every word is covered
    and no chunk starts past the end; the tail chunk is short.

    Pure Column math — split, one ``transform`` over the start indices,
    one ``explode``; no shuffle, no UDF, and the chunk count per row is
    data-derived (no driver-side loop), so the operator is a single
    narrow stage at any corpus size.
    """
    if stride is None:
        stride = max_tokens
    if stride <= 0 or max_tokens <= 0:
        raise ValueError("max_tokens and stride must be positive")
    words = F.split(F.trim(F.col("text")), r"\s+")

    def build(wds):
        n = F.size(wds)
        last = ((n - 1) / F.lit(stride)).cast("long")
        return F.transform(
            F.sequence(
                F.lit(0).cast("long"), F.greatest(last, F.lit(0).cast("long"))
            ),
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.slice(wds, (i * stride + 1).cast("int"), max_tokens).alias(
                    "__w"
                ),
            ),
        )

    # bound once per row (see _bind) — referenced bare, the split re-ran
    # once per emitted chunk
    chunks = _bind(words, build)
    return (
        docs.select(F.col("doc_id"), F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.__w").cast("long").alias("n_tokens"),
            F.concat_ws(" ", F.col("c.__w")).alias("chunk"),
        )
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(col: Column) -> Column:
    """Mask emails and IPv4 literals (the two PII classes a web-scale
    training pipeline always scrubs before tokenization) and count what
    was masked, as one struct column ``(scrubbed, n_emails, n_ips)``.

    Emails are masked FIRST, then IPs are counted/masked on the
    email-masked text — a fixed order so the counts are well-defined when
    the patterns could overlap. Pure Column math (JVM regex inside
    codegen, no UDF); the patterns are deliberately RE2-compatible
    (no lookaround) so the identical regex runs in DuckDB/RE2 engines for
    auditing. Counts let a curation policy drop documents above a PII
    density threshold rather than just masking.
    """
    n_emails = F.size(F.regexp_extract_all(col, F.lit(PII_EMAIL_RE), F.lit(0)))
    no_email = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.size(
        F.regexp_extract_all(no_email, F.lit(PII_IPV4_RE), F.lit(0))
    )
    scrubbed = F.regexp_replace(no_email, PII_IPV4_RE, "<IP>")
    return F.struct(
        scrubbed.alias("scrubbed"),
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
    )


def token_length_distribution(
    docs,
    quantiles: list[float] | None = None,
):
    """Per-language token-length distribution — the dataset-curation stat
    that drives length-filter thresholds in training-data pipelines.

    Exact interpolated percentiles (Spark ``percentile``: (1-d)·a + d·b,
    the same formula DuckDB's ``quantile_cont`` uses, so the result is
    byte-comparable to a SQL oracle). One hash aggregation; at corpus scale
    swap in ``percentile_approx`` for a single-pass sketch — same call
    shape, documented error bound.

    Returns ``[lang, p50, p90, p99, n_docs]`` (for the default quantiles).
    """
    quantiles = quantiles or [0.5, 0.9, 0.99]
    # Decimal(repr(q)) formats without scientific notation (f"{5e-05}D"
    # would render an invalid '5e-05D' SQL literal)
    qlist = ", ".join(
        format(Decimal(repr(q)), "f") + "D" for q in quantiles
    )
    d = docs.select(
        F.col("lang"),
        token_count_ws(F.col("text")).alias("__tok"),
    )
    agg = d.groupBy("lang").agg(
        F.expr(f"percentile(__tok, array({qlist}))").alias("__q"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    def _plabel(q: float) -> str:
        # int(q*100) truncates (0.29*100 == 28.999... -> p28); exact
        # decimal arithmetic keeps p29/p99_9/p0_005 stable for any q
        pct = (Decimal(repr(q)) * 100).normalize()
        return "p" + format(pct, "f").replace(".", "_")

    cols = [F.col("lang")] + [
        F.col("__q")[i].alias(_plabel(q)) for i, q in enumerate(quantiles)
    ] + [F.col("n_docs")]
    return agg.select(*cols)
