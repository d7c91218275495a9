"""Structured Streaming surface.

The reference is wholly batch (SURVEY §2.11); this module makes the
engine's aggregations streaming-ready: the same transformations run over
``readStream`` sources with watermarked event-time windows, and the
webtext pipeline runs incrementally via ``foreachBatch`` (each micro-batch
is the batch pipeline over new pages, appended to the triple store through
the same StageStore layout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window counts by event_type; works identically on a batch
    DataFrame and a stream (watermark applied only when streaming)."""
    # windows/watermarks require TIMESTAMP (not NTZ/string); session TZ is
    # pinned UTC so the cast is value-preserving. Applied unconditionally so
    # batch and stream accept the same inputs (incl. string timestamps).
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.window(ts_col, window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("hour"), "event_type", "cnt")
    )


def sessionized_event_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session-window counts per key (dynamic-gap analog of the reference's
    per-entity grouping, streaming-ready): consecutive events of one key
    closer than ``gap`` merge into one session. Batch and stream run the
    same ``session_window`` aggregation; the batch result equals the SQL
    gaps-and-islands derivation (see the ``events_sessionized`` oracle).

    At scale this is ONE shuffle on the key (Spark merges overlapping
    windows inside the aggregation); streaming state is bounded by the
    watermark horizon per active key."""
    # cast unconditionally (batch/stream parity for string timestamps);
    # only the watermark is streaming-specific
    src = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if events.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("w"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def stream_events_from_parquet(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """File-source stream over an events directory (one file per
    micro-batch in tests)."""
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    else:
        static = spark.read.parquet(path)
        reader = reader.schema(static.schema)
    return reader.option("maxFilesPerTrigger", 1).parquet(path)


def incremental_build(
    spark: SparkSession,
    store,
    pages_path: str,
    entity_dictionary: DataFrame,
    checkpoint_dir: str,
    min_pages: int = 1,
    stage_prefix: str = "incr_triples",
    **pipeline_kwargs,
) -> list[str]:
    """End-to-end incremental KG rebuild: stream the pages directory and
    commit each micro-batch's triples as a ``StageStore`` stage.

    The Spark file-source checkpoint (``checkpoint_dir``) tracks which page
    files have been processed, so a re-run after new files land does
    DELTA-ONLY scan work — the sandbox analog of Iceberg incremental scans
    (SURVEY §2.11); the StageStore commit makes each batch's triples
    resumable/auditable via per-stage lineage rows. Returns the stage names
    committed by THIS call (empty when nothing new landed).

    With ``min_pages=1`` the per-batch pipeline is page-local (co-mention
    pairs never cross pages), so the distinct union of all committed batch
    stages (:func:`incremental_result`) equals a from-scratch rebuild over
    the full pages table — asserted in ``tests/test_incremental_build.py``.
    Corpus-frequency scoring (``min_pages > 1``) stays a batch-pass
    concern: re-score over :func:`incremental_result`'s inputs nightly.
    """
    from pheknowlator_spark.webtext.pipeline import run_pipeline

    committed: list[str] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        stage = f"{stage_prefix}_{batch_id:06d}"
        store.run(
            stage,
            lambda: run_pipeline(
                batch_df, entity_dictionary, min_pages=min_pages,
                **pipeline_kwargs,
            )["triples"],
        )
        committed.append(stage)

    stream = stream_events_from_parquet(spark, pages_path)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return committed


def incremental_result(
    spark: SparkSession, store, stage_prefix: str = "incr_triples"
) -> DataFrame:
    """Distinct union of every committed incremental triple stage — the
    current materialized KG. Reads committed snapshots only (resume path;
    no recompute)."""
    stages = [
        s for s in store.manifest()["stages"] if s.startswith(stage_prefix)
    ]
    if not stages:
        raise ValueError(f"no committed '{stage_prefix}_*' stages in {store.root}")
    out = None
    for s in stages:
        df = store.run(s, lambda: (_ for _ in ()).throw(
            RuntimeError(f"stage {s} vanished mid-read")))
        out = df if out is None else out.unionByName(df)
    return out.distinct()


def streaming_dedup(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Custom stateful operator: cross-micro-batch EXACT dedup via
    ``applyInPandasWithState`` — emits each normalized-text fingerprint's
    first-seen document (min id within the first batch that carries it)
    and suppresses every later duplicate, across batches.

    State is one row per fingerprint group (seen flag + representative),
    hash-partitioned by the shuffle — the streaming twin of
    ``dedup.dedup_exact``; a batch backfill and this operator agree on the
    surviving set (asserted in tests). At 10^12-doc scale state is bounded
    by distinct-content count and lives in the state store, not memory.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from pheknowlator_spark.functions.text import fingerprint64

    src = docs_stream.select(
        F.col(id_col).cast("string").alias("doc_id"),
        fingerprint64(F.col(text_col)).alias("fp"),
    )

    def dedup_fn(key, pdfs, state: GroupState):
        fp = key[0]
        if state.exists:
            # fingerprint already represented — suppress everything
            for _ in pdfs:
                pass
            yield pd.DataFrame({"doc_id": [], "fp": []}).astype(
                {"doc_id": "object", "fp": "int64"}
            )
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf["doc_id"].min()
                best = cand if best is None else min(best, cand)
        if best is None:
            yield pd.DataFrame({"doc_id": [], "fp": []}).astype(
                {"doc_id": "object", "fp": "int64"}
            )
            return
        state.update((1,))
        yield pd.DataFrame({"doc_id": [best], "fp": [fp]})

    return src.groupBy("fp").applyInPandasWithState(
        dedup_fn,
        outputStructType="doc_id string, fp long",
        stateStructType="seen int",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_capture_dedup(
    pages_stream: DataFrame,
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of :func:`pheknowlator_spark.webtext.urls.
    latest_capture`: canonicalize each capture's url and suppress
    re-crawls of the same ``norm_url`` arriving within the watermark
    horizon (``dropDuplicatesWithinWatermark``) — the continuous-ingest
    front door of the crawl pipeline. Streaming keeps the FIRST capture
    seen per horizon (freshness path, state evicted at the watermark);
    the nightly batch pass re-resolves to the globally LATEST capture via
    ``latest_capture`` (completeness path) — same split as
    ``incremental_build`` vs the batch re-score.

    State is one row per distinct in-horizon norm_url in the state store,
    not executor memory — bounded at 10^12-doc scale by crawl-rate ×
    horizon, not corpus size.
    """
    from pheknowlator_spark.webtext.urls import normalize_urls

    src = normalize_urls(pages_stream).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    if src.isStreaming:
        src = src.withWatermark(ts_col, watermark)
        return src.dropDuplicatesWithinWatermark(["norm_url"])
    # batch fallback: plain keep-one-per-key (ordering handled by
    # latest_capture when order matters)
    return src.dropDuplicates(["norm_url"])
