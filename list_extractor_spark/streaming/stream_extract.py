"""Streaming KG construction.

The reference is strictly batch (one serial run per class,
listExtractor.py:104-146).  A production corpus arrives continuously, so the
engine also exposes the extract stage as a Structured Streaming flow:

    readStream(parquet span docs) -> engine/linking.link_documents:
        driver lookups: one mapInArrow pass that extracts and links
        joins:          mapInArrow extract -> link joins [-> canonical join]
    -> append sink | versioned snapshot commit

Both sinks share the batch pipeline's link step and regime, read from plan
statistics when the query starts: snapshot-sized sides ride in the extract
kernel's broadcast linker, so a micro-batch is one mapInArrow pass inside
the sink's write; other sides keep the joins, planned again per batch.
The stream takes no redirects: it commits the rows of batch
``extract_candidates`` + ``resolve_links`` without redirects (then a
caller's ``canonical_map``).  Dedup is a batch post-pass over the sink (set
semantics need global state); watermarked windowed aggregation shows the
late-data pattern on the events stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.linking import link_documents
from ..engine.schemas import DOCUMENTS_SCHEMA


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of span documents (one parquet file per arrival)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )


def stream_triples(
    docs_stream: DataFrame,
    mention_index: DataFrame,
    sameas: DataFrame,
    linkable_keys,
    output_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    canonical_map: DataFrame | None = None,
):
    """Continuous extraction: every micro-batch runs the extract + link step
    (``link_documents``); append-only parquet sink (exactly-once via the
    streaming checkpoint).

    ``canonical_map``: optional STATIC (uri, canonical) snapshot applied
    in-stream — the standard slowly-updating-dimension pattern (identity
    dumps refresh on snapshot cadence, not per batch).  Global triple DEDUP
    stays a batch post-pass over the sink: set semantics need global state
    the append stream cannot hold."""
    triples = link_documents(
        docs_stream, mention_index, sameas, linkable_keys, canonical=canonical_map
    )
    writer = (
        triples.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_triples_versioned(
    docs_stream: DataFrame,
    mention_index: DataFrame,
    sameas: DataFrame,
    linkable_keys,
    table_path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    canonical_map: DataFrame | None = None,
):
    """Continuous extraction committed to the VERSIONED graph table: every
    micro-batch becomes one atomic append snapshot
    (engine/snapshots.write_graph_snapshot) — the streaming-into-Iceberg
    ingestion pattern, with the full snapshot toolkit (time travel,
    rollback, compaction, stats pruning) over the live table.

    Exactly-once without a side ledger: each commit carries the marker
    ``batch-<id>`` IN its manifest (atomic with the commit), and a replayed
    batch — foreachBatch re-runs the last batch after a crash/restart —
    finds its marker and skips.  Only the most recent batch can ever
    replay (the streaming checkpoint fences older ones), so
    expire_snapshots dropping old manifests cannot resurrect a duplicate.

    Readers are never blocked and never see a half batch: the ``current``
    pointer flips once per batch, after the batch's files are fully
    written."""
    from ..engine.snapshots import marker_committed, write_graph_snapshot

    triples = link_documents(
        docs_stream, mention_index, sameas, linkable_keys, canonical=canonical_map
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = f"batch-{batch_id}"
        if marker_committed(table_path, marker):
            return  # replayed batch after restart: already in the log
        write_graph_snapshot(batch_df, table_path, mode="append", marker=marker)

    writer = (
        triples.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def session_event_rollup(events_stream: DataFrame, gap: str = "8 hours"):
    """Gap-based sessionization as a STREAM via Spark's native
    session_window: windows merge while events keep arriving within the
    gap, the engine's dynamic-window state op.  Boundary semantics
    (empirically pinned in tests/test_streaming.py): an event EXACTLY
    ``gap`` after the previous one still MERGES — the merge bound is
    inclusive — so sessions break only when the silence strictly exceeds
    the gap, the SAME semantics as the batch operator in
    tda/sessionize.py.

    Output: (user_id, n_events, start_ts, end_ts) per session — start/end
    are the observed min/max event times (the window itself ends gap after
    the last event).  State per (user, open session) is O(1); complete-mode
    memory sink in the contract query, watermark + append in production."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
        .select("user_id", "n_events", "start_ts", "end_ts")
    )


def windowed_event_counts(events_stream: DataFrame, watermark: str = "10 minutes"):
    """Late-data pattern: watermarked 5-minute windows over the events stream
    (SURVEY.md §2.7: the reference has no streaming; this is the engine's
    native late-data aggregation)."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
