"""Streaming parse -> abstract -> enrich -> windowed minute aggregate.

Two execution shapes, both reusing the batch stages verbatim:

1. **Native windowed aggregation** (:func:`streaming_minute_agg`): event-time
   tumbling 1-minute windows with a watermark for late data. State-store
   friendly measures only (counts/sums/min/max — all mergeable); quantile
   sketches stay on the batch/foreachBatch path, mirroring the reference's
   own limitation that coarse regroupings carry totals only (see
   ``log_show``'s ``trend`` view).
2. **foreachBatch micro-batching** (:func:`run_stream_foreach_batch`): each
   micro-batch is one cron increment of the batch pipeline — ``run_pipeline``
   over the batch with ``part_bucket = batch_id`` — so the stream feeds the
   same warehouse as the cron job (routed tables, checkpoint, histogram
   partials, and the ``minute_agg_*`` / ``errors_*`` summaries ``log_show``
   reads, EXACT quantiles included) and inherits its crash convergence. A
   replayed batch id is a done bucket, so it counts once. This is the shape
   that maps 1:1 onto the reference's cron increments ([PK] each cron run
   aggregates its new lines, MongoDB upserts merge them).

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
from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline, transform

#: the stream's offsets and commits, a hidden table of the warehouse it feeds.
STREAM_OFFSETS = "_stream_offsets"

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


def run_stream_foreach_batch(
    spark: SparkSession,
    cat: Catalog,
    input_path: str,
    dim: DataFrame,
    cfg: PipelineConfig | None = None,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    on_batch: Callable[[int, int], None] | None = None,
):
    """Micro-batch the stream through the cron cycle: each batch is one
    :func:`run_pipeline` increment keyed ``part_bucket = batch_id``, and
    ``on_batch(batch_id, rows_in)`` reports it.

    The stream's offsets live inside the warehouse it feeds
    (:data:`STREAM_OFFSETS`). Batch ids restart at 0 with a fresh offsets
    directory, and ``run_pipeline`` skips done buckets, so offsets kept apart
    from the warehouse would make a new stream skip every batch. One
    warehouse therefore takes one stream: Spark refuses a second input path
    against the same offsets. A restarted query re-runs an uncommitted batch
    over the same files: a no-op if its bucket is done, otherwise an
    idempotent bucket re-run. Returns the started StreamingQuery.
    """
    stream = read_sequence_stream(spark, input_path, max_files_per_trigger)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        vals = run_pipeline(
            spark,
            cat,
            batch_df.withColumn("part_bucket", F.lit(batch_id).cast("int")),
            dim,
            run_id=f"stream-{batch_id}",
            cfg=cfg,
        )
        if on_batch is not None:
            on_batch(batch_id, vals["rows_in"])

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", cat.path(STREAM_OFFSETS)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
