"""URL canonicalization for web-corpus hygiene.

The reference keys everything on source URLs it downloads
(pkt_kg/downloads.py:106 downloads_data_from_url); a Common-Crawl-scale
corpus instead needs URL NORMALIZATION before any url-keyed dedup or
per-host aggregation — the same page is crawled as
``HTTP://Example.com:80/a?b=2&a=1#x`` and ``http://example.com/a?a=1&b=2``.
Parsing here is deliberately regexp-only (no ``parse_url``), so a SQL
oracle replays the identical extraction rules byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalize_urls",
    "latest_capture",
    "snapshot_diff",
    "bloom_build",
    "bloom_probe",
]


def normalize_urls(
    df: DataFrame,
    strip_www: bool = False,
) -> DataFrame:
    """Append ``norm_url`` and ``host`` columns: scheme and host
    lowercased, default port stripped (80/http, 443/https), fragment
    dropped, query parameters sorted lexicographically (empty query
    dropped), empty path normalized to ``/``. ``strip_www=True`` also
    removes a leading ``www.`` from the host. Percent-encoding is left
    untouched (normalizing it requires a character-table pass that is
    not worth an Arrow crossing here; callers needing it can chain a
    pandas UDF).

    100 TB plan: pure Column regexp/array expressions — whole-stage
    codegen, zero shuffles, zero Python; the query-param sort operates
    on the handful of ``&``-split tokens per row, never the corpus.
    """
    u = F.col("url")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = F.regexp_extract(hostport, r"^([^:]*)", 1)
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    is_default_port = (
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
        | (port == "")
    )
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    norm = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(is_default_port, F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        path,
        F.when(query == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), sorted_query)
        ),
    )
    return df.withColumn("norm_url", norm).withColumn("host", host)


def latest_capture(
    df: DataFrame,
    key_col: str = "norm_url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """CDX-style capture dedup: keep exactly one row per ``key_col`` — the
    latest ``ts_col``, ties broken by the lexicographically greatest full
    row (deterministic on any partitioning). The reference keeps one file
    per source url by overwriting on re-download
    (pkt_kg/downloads.py:106); at crawl scale the same page appears once
    per crawl and the newest capture wins.

    100 TB plan: one ``max_by`` hash aggregation — map-side partial
    combine ships ONE candidate row per key per partition, never the
    capture history (vs a row_number window, which shuffles every
    capture to sort it). The ordering struct makes ties explicit instead
    of partitioning-dependent.
    """
    others = [c for c in df.columns if c != key_col]
    row = F.struct(*[F.col(c) for c in others])
    # ordering = (ts NOT NULL, ts, remaining columns in table order) —
    # the not-null flag makes a NULL ts lose under max instead of being
    # silently dropped (same pattern as dedup_exact's min_by struct);
    # field-by-field struct comparison replays in SQL as
    # ORDER BY ts DESC NULLS LAST, col1 DESC, col2 DESC, ...
    tiebreak = [c for c in others if c != ts_col]
    order = F.struct(
        F.col(ts_col).isNotNull().alias("__has_ts"),
        F.col(ts_col).alias("__ts"),
        *[F.col(c).alias(f"__t{i}") for i, c in enumerate(tiebreak)],
    )
    out = df.groupBy(key_col).agg(F.max_by(row, order).alias("__w"))
    return out.select(key_col, *[F.col(f"__w.{c}").alias(c) for c in others])


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
) -> DataFrame:
    """Classify urls between two crawl snapshots: ``added`` (new only),
    ``removed`` (old only), ``changed`` (both, different content hash),
    ``unchanged``. The incremental-crawl planner's input — only ``added``
    + ``changed`` pages need re-extraction, which is what makes a
    10^12-document monthly refresh tractable.

    Both inputs must be one-row-per-key (run :func:`latest_capture`
    first). One shuffle: a full outer hash join on the key; the status
    column is a codegen'd CASE over the two sides' null-ness.
    """
    o = old.select(
        F.col("norm_url").alias("__k"), F.col("content_hash").alias("__old_h")
    )
    n = new.select(
        F.col("norm_url").alias("__k"), F.col("content_hash").alias("__new_h")
    )
    joined = o.join(n, "__k", "full_outer")
    status = (
        F.when(F.col("__old_h").isNull(), F.lit("added"))
        .when(F.col("__new_h").isNull(), F.lit("removed"))
        .when(F.col("__old_h") != F.col("__new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.col("__k").alias("norm_url"),
        status.alias("status"),
        F.col("__old_h").alias("old_hash"),
        F.col("__new_h").alias("new_hash"),
    )


def _bloom_positions(col, m_bits: int, k: int):
    """k deterministic bit positions in [0, m_bits) for a value: position
    j hashes ``"j:" + value`` through md5 and takes the top 32 bits mod m.
    md5 (not xxhash64) so the exact bit pattern replays in ANSI SQL —
    DuckDB: ``CAST('0x' || substring(md5(j || ':' || x), 1, 8) AS UBIGINT)
    % m`` — keeping membership decisions auditable outside Spark."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits
            )
            for j in range(k)
        ]
    )


def bloom_build(
    seen: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Build a Bloom filter over ``url`` as a tiny DataFrame of
    32-bit words: ``(word_idx, word)`` with ``word = bit_or`` of the
    members' bits. The crawl-frontier seen-set: no false negatives, a
    measurable deterministic false-positive rate (~``(1-e^{-kn/m})^k``).

    Words are 32-bit (packed in BIGINT) so every shift stays positive
    and two's-complement-free in both Spark and the SQL oracle.

    100 TB path: one partially-combined aggregation producing m/32 rows
    (a 64 KiB sketch for the default m=2^16) — the classic alternative
    to shuffling a 10^12-row seen-set into every frontier batch. The
    sketch broadcasts; probing (:func:`bloom_probe`) is then map-side.
    Size m for the real corpus (m ≈ 14.4 bits/key for 0.1% FP); the
    sketch stays ≪ executor memory up to 10^11 keys."""
    pos = F.explode(_bloom_positions(F.col("url"), m_bits, k)).alias(
        "pos"
    )
    return (
        seen.select(pos)
        .select(
            (F.col("pos") / 32).cast("long").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_probe(
    candidates: DataFrame,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Append ``maybe_seen`` to ``candidates``: true iff all ``k`` of the
    key's Bloom bits are set in ``bloom`` (from :func:`bloom_build` with
    the SAME m_bits/k). False ⇒ definitely new (the no-false-negative
    guarantee the crawl frontier relies on).

    The sketch joins in broadcast on word_idx; the verdict is one
    partially-combined ``bool_and`` per candidate key — candidates
    shuffle one row each, never per-probe rows."""
    probes = candidates.select(
        F.col("url"),
        F.posexplode(_bloom_positions(F.col("url"), m_bits, k)).alias(
            "__j", "pos"
        ),
    ).select(
        "url",
        "__j",
        (F.col("pos") / 32).cast("long").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("bit"),
    )
    hit = (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(
            "url",
            (
                F.coalesce(F.col("word"), F.lit(0))
                .bitwiseAND(F.col("bit"))
                != 0
            ).alias("__hit"),
        )
        .groupBy("url")
        .agg(F.bool_and("__hit").alias("maybe_seen"))
    )
    return candidates.join(hit, "url")
