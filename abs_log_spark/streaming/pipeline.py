"""Streaming parse -> abstract -> enrich -> windowed minute aggregate.

Two execution shapes, both reusing the batch stages verbatim:

1. **Native windowed aggregation** (:func:`streaming_minute_agg`): event-time
   tumbling 1-minute windows with a watermark for late data. State-store
   friendly measures only (counts/sums/min/max — all mergeable); quantile
   sketches stay on the batch/foreachBatch path, mirroring the reference's
   own limitation that coarse regroupings carry totals only (see
   ``operators.aggregate.trend``).
2. **foreachBatch micro-batching** (:func:`run_stream_foreach_batch`): each
   micro-batch aggregates into the SAME lossless histogram partials the
   batch resume path uses (``operators.aggregate.minute_agg_hist_partials``
   with batch_id as the bucket), appended per batch;
   :func:`merge_stream_partials` folds them into final per-minute totals —
   including EXACT cross-batch quantiles, which the round-1 shape (per-batch
   minute_agg rows) could not merge. This is the shape that maps 1:1 onto
   the reference's cron increments ([PK] each cron run aggregates its new
   lines, MongoDB upserts merge them).

Scale notes: the streaming state for (1) is bounded by
|windows within watermark| x |sink, site, uri_abs| — small, because
abstraction collapses the URI space. The stream-static broadcast join keeps
enrichment shuffle-free; only the windowed groupBy shuffles.
"""

from __future__ import annotations

import math
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from abs_log_spark.catalog import Catalog
from abs_log_spark.plans.pipeline import PipelineConfig, transform

#: north-rule input schema ([B] input_hint) + the layout bucket column.
SEQUENCES_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False),
        StructField("part_bucket", IntegerType(), True),
    ]
)


def read_sequence_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a sequences parquet directory.

    On a cluster this is ``spark.readStream.table(...)`` against the Iceberg
    sequences table (incremental snapshot reads); the file source is the
    sandbox stand-in with identical downstream semantics.
    """
    r = spark.readStream.schema(SEQUENCES_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(path)


def two_batch_trigger(path: str) -> int:
    """``maxFilesPerTrigger`` that splits the parquet files actually in
    ``path`` into two micro-batches (given at least two files). Count the
    files, not the partitions requested of the writer: a partition that
    lands empty writes no file, and half the requested count can then
    cover every file in one batch."""
    files = [f for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")]
    return max(1, math.ceil(len(files) / 2))


def streaming_minute_agg(
    seq_stream: DataFrame,
    dim: DataFrame,
    watermark: str = "10 minutes",
    cfg: PipelineConfig | None = None,
) -> DataFrame:
    """Event-time 1-minute tumbling-window aggregate with late-data handling.

    Reuses the batch ``transform`` (Arrow parse + abstraction + broadcast
    enrich) — stateless stages apply to streaming DataFrames unchanged. Only
    valid rows enter the windowed state (invalid rows have no event time),
    but they are NEVER silently dropped: a named ``observe`` on the
    pre-filter stream counts them per micro-batch (surfaced in every
    StreamingQueryProgress under observedMetrics['routed_rows'] — the
    streaming twin of the batch invalid_hits accounting, zero extra pass).
    """
    routed = transform(seq_stream, dim, cfg).observe(
        "routed_rows",
        F.count(F.lit(1)).alias("rows_routed"),
        F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("rows_invalid"),
    )
    return (
        routed.where(F.col("valid"))
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 minute").alias("win"),
            F.col("sink"),
            F.col("site"),
            F.col("uri_abs"),
        )
        .agg(
            F.count("*").alias("pv"),
            F.sum("bytes").cast("long").alias("bytes_sum"),
            F.sum("rt").alias("rt_sum"),
            F.min("rt").alias("rt_min"),
            F.max("rt").alias("rt_max"),
            F.sum(F.when(F.col("status") >= 400, 1).otherwise(0)).alias("err_hits"),
        )
        .select(F.col("win.start").alias("minute"), "sink", "site", "uri_abs",
                "pv", "bytes_sum", "rt_sum", "rt_min", "rt_max", "err_hits")
    )


def merge_stream_partials(partials: DataFrame) -> DataFrame:
    """Fold per-batch histogram partials into final per-minute totals with
    EXACT quantiles (same schema/values as the single-pass batch aggregate).

    Exactly-once under foreachBatch replay: a crash between the partials
    append and the streaming checkpoint commit re-runs the SAME batch_id
    over the same input files; the deterministic transform re-appends
    BIT-IDENTICAL partial rows (the grain includes batch_id), so a full-row
    dropDuplicates restores exactly-once — without it every replayed batch
    double-counts pv/bytes/rt."""
    from abs_log_spark.operators.aggregate import merge_minute_agg_hist_partials

    return merge_minute_agg_hist_partials(partials.dropDuplicates())


def run_stream_foreach_batch(
    spark: SparkSession,
    cat: Catalog,
    input_path: str,
    dim: DataFrame,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], None] | None = None,
):
    """Micro-batch the stream through the full batch semantics.

    Each batch: transform -> histogram partials keyed by batch_id, appended
    to ``minute_agg_partials`` (append-only => replayable; the streaming
    checkpoint gives exactly-once batch ids, so a restarted query re-runs an
    uncommitted batch and re-appends bit-identical rows — the full-row dedup
    in :func:`merge_stream_partials` is the Iceberg-snapshot stand-in).
    Returns the started StreamingQuery.
    """
    cfg = cfg or PipelineConfig()
    stream = read_sequence_stream(spark, input_path, max_files_per_trigger)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        from abs_log_spark.operators.aggregate import minute_agg_hist_partials

        routed = transform(batch_df, dim, cfg)
        hist = minute_agg_hist_partials(
            routed.withColumn("batch_id", F.lit(batch_id)), bucket_col="batch_id"
        )
        cat.append(hist, "minute_agg_partials")
        if on_batch is not None:
            on_batch(batch_id, batch_df.count())

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
