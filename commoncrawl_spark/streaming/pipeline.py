"""Structured Streaming surface: incremental crawl ingest + windowed stats.

The reference's streaming-shaped semantics (SURVEY.md §2.8) are batch
loops with checkpoints; the engine keeps the deterministic batch round
loop for the frontier (plans.frontier — ST3's ordering is reproducible
there), and offers this module for the genuinely unbounded inputs: a
landing directory of CDX/page files that should flow continuously into
the same dedup -> extract -> table pipeline.

- file-source readStream (exactly-once per file, like the reference's
  one-file-per-record batches, ST2);
- watermarked event-time windows for fetch-rate/lineage dashboards
  (replacing the reference's ad-hoc counters, A6/S8);
- ``foreachBatch`` bridges micro-batches into SnapshotTable commits so
  streaming and batch share one table layer (ST4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.cdx import CDX_RAW_SCHEMA


def stream_cdx_jsonl(spark: SparkSession, landing_dir: str,
                     max_files_per_trigger: int = 64) -> DataFrame:
    """S1 as a stream: new JSONL files in the landing dir become
    micro-batches; malformed lines null out (PERMISSIVE), matching the
    batch reader."""
    return (
        spark.readStream.schema(CDX_RAW_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("mode", "PERMISSIVE")
        .json(landing_dir)
        .withColumnRenamed("mime-detected", "mime_detected")
    )


def windowed_fetch_stats(events: DataFrame, ts_col: str = "event_ts",
                         window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Per-host fetch-rate over event-time windows with late-data bound —
    the streaming analog of the per-round metrics view
    (``CrawlJob.metrics_df``)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col("host"))
        .agg(
            F.count("*").alias("n_fetched"),
            F.sum(F.when(F.col("status") == "200", 1).otherwise(0)).alias("n_ok"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host", "n_fetched", "n_ok",
        )
    )


def stream_to_snapshot_table(stream: DataFrame, table_root: str,
                             checkpoint_dir: str, transform=None):
    """foreachBatch bridge: each micro-batch lands as one SnapshotTable
    commit (atomic, time-travelable), so batch readers see consistent
    snapshots while the stream runs. Returns the (not-yet-started) writer;
    call .start()/.trigger(...) at the call site."""
    from ..tables import SnapshotTable

    table = SnapshotTable(table_root)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        # skip if this epoch already committed (restart replay safety)
        snap = table.snapshot()
        if snap is not None and snap["metadata"].get("epoch") == epoch_id:
            return
        table.append(out, {"epoch": epoch_id})

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_crawl(
    spark: SparkSession,
    landing_dir: str,
    pages: DataFrame,
    table_root: str,
    checkpoint_dir: str,
):
    """The crawl pipeline as a STREAM: CDX files landing continuously ->
    per-micro-batch dedup (A2) -> status gate (F1) -> fetch lookup join
    (J2) -> Arrow extraction (C6) -> one SnapshotTable commit per batch.

    Composes the exact batch operators inside ``foreachBatch``, so
    streaming and batch crawls share one code path and one table layer;
    the file source's exactly-once tracking plus the epoch-deduped
    snapshot commit give end-to-end exactly-once per landed file across
    restarts (test-pinned). The deterministic ROUND loop
    (plans.frontier.CrawlJob) remains the ordering-reproducible mode;
    this is the continuous-ingest mode for unbounded landing dirs.

    Returns the not-yet-started writer: call
    ``.trigger(availableNow=True).start()`` (drain-now) or with a
    processingTime trigger (continuous)."""
    from ..operators.dedup import best_capture_per_url
    from ..operators.extraction import extract_articles, split_articles

    stream = stream_cdx_jsonl(spark, landing_dir)

    def transform(batch: DataFrame) -> DataFrame:
        # a stream has no stable file order, so the fold's arrival order
        # is data-derived (content columns form a deterministic total
        # order) — partition- and trigger-independent
        best = best_capture_per_url(
            batch, arrival_cols=("timestamp", "urlkey", "digest")
        )
        fetch = (
            best.filter(F.col("status") == "200")
            .select("url")
            .join(pages.select("url", "html"), "url")
        )
        ok, _failed = split_articles(extract_articles(fetch))
        return ok

    return stream_to_snapshot_table(stream, table_root, checkpoint_dir,
                                    transform)
