"""Streaming-pipeline driver query (SURVEY.md section 2.10).

Runs the foreachBatch micro-batched pipeline to completion (availableNow
trigger over a multi-file input => multiple real micro-batches, each one
``run_pipeline`` increment) and returns the warehouse's per-sink minute
summaries. The DuckDB oracle recomputes the same totals from the
closed-form field formulas — so a bug in the streaming wiring
(checkpointing, batch splits, the per-batch fold) breaks value equality,
not just row counts.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.catalog import Catalog
from abs_log_spark.plans.pipeline import routed_sinks
from abs_log_spark.queries import register
from abs_log_spark.queries.core import _PIPE_FIELDS_CTE, _PIPELINE_E2E_SQL
from abs_log_spark.sources.readers import sequences_from_documents
from abs_log_spark.sources.synth import gen_sources_dim
from abs_log_spark.streaming import run_stream_foreach_batch, two_batch_trigger


@register("streaming_minute_agg_fb", _PIPELINE_E2E_SQL)
def streaming_minute_agg_fb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched streaming pipeline vs the batch oracle: multi-file
    input, maxFilesPerTrigger=half => 2 micro-batches, each a cron increment
    of ``run_pipeline``, whose folded ``minute_agg_<sink>`` summaries must
    equal EXACTLY the single-pass aggregate — including the exact quantile
    columns (the oracle is the identical closed-form SQL the batch flagship
    uses). The file count is SIZE-ADAPTIVE: a parquet file is the
    micro-batch scan's split unit, so it is 2x the rebalanced sequences
    partition count, clamped to [4, 16], always split into exactly TWO
    micro-batches (trigger = half the files written; the summaries are
    batch-agnostic, oracle unchanged)."""
    work = tempfile.mkdtemp(prefix="abslog_stream_q_")
    input_dir = os.path.join(work, "input")
    seq = sequences_from_documents(spark, sf_dir)
    n_files = max(4, min(16, 2 * seq.rdd.getNumPartitions()))
    seq.repartition(n_files).write.parquet(input_dir)

    cat = Catalog(root=os.path.join(work, "wh"))
    dim = gen_sources_dim(spark, n_sources=20)
    q = run_stream_foreach_batch(
        spark,
        cat,
        input_dir,
        dim,
        max_files_per_trigger=two_batch_trigger(input_dir),
    )
    q.awaitTermination()

    merged = reduce(
        DataFrame.unionByName,
        [cat.read(spark, f"minute_agg_{s}") for s in routed_sinks(cat)],
    )
    out = merged.select(
        "sink",
        "site",
        "minute",
        "uri_abs",
        "pv",
        "bytes_sum",
        F.round("rt_sum", 6).alias("rt_sum"),
        F.round("rt_avg", 6).alias("rt_avg"),
        F.round("rt_min", 6).alias("rt_min"),
        F.round("rt_p25", 6).alias("rt_p25"),
        F.round("rt_p50", 6).alias("rt_p50"),
        F.round("rt_p75", 6).alias("rt_p75"),
        F.round("rt_max", 6).alias("rt_max"),
        "err_hits",
        "invalid_hits",
    )
    rows = out.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), ids AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged
)
SELECT user_id AS key,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM ids GROUP BY user_id, sess
"""


@register("sessionize_events", _SESSIONIZE_SQL)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) of the events stream per
    user — abs-log 'ip' view extended to visits. Batch twin of the
    applyInPandasWithState streaming operator (tests/test_sessionize.py
    proves stream==batch)."""
    from abs_log_spark.sources.readers import read_table
    from abs_log_spark.streaming.sessionize import sessionize_batch

    ev = read_table(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30, key_col="user_id")


_STREAM_WINDOW_SQL = f"""
{_PIPE_FIELDS_CTE}
SELECT sink, site, minute, uri_abs,
       CAST(count(*) AS BIGINT)   AS pv,
       CAST(sum(bytes) AS BIGINT) AS bytes_sum,
       round(sum(rt), 6)          AS rt_sum,
       round(min(rt), 6)          AS rt_min,
       round(max(rt), 6)          AS rt_max,
       CAST(sum(CASE WHEN status >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS err_hits
FROM f
GROUP BY 1, 2, 3, 4
"""


@register("streaming_windowed_agg", _STREAM_WINDOW_SQL)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native Structured Streaming event-time tumbling-window aggregate
    (watermarked state-store path, complete mode over a finite availableNow
    stream) vs the closed-form batch oracle."""
    import uuid

    from abs_log_spark.streaming import read_sequence_stream, streaming_minute_agg

    work = tempfile.mkdtemp(prefix="abslog_stream_w_")
    input_dir = os.path.join(work, "input")
    # size-adaptive file count (see streaming_minute_agg_fb): the single
    # availableNow batch scans one file per task, so the file count IS the
    # parse stage's parallelism — but 16 sub-MB files are pure overhead
    seq = sequences_from_documents(spark, sf_dir)
    n_files = max(4, min(16, 2 * seq.rdd.getNumPartitions()))
    seq.repartition(n_files).write.parquet(input_dir)

    agg = streaming_minute_agg(
        read_sequence_stream(spark, input_dir), gen_sources_dim(spark, n_sources=20)
    )
    qname = f"swin_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    q.awaitTermination()
    out = spark.table(qname).select(
        "sink",
        "site",
        "minute",
        "uri_abs",
        "pv",
        "bytes_sum",
        F.round("rt_sum", 6).alias("rt_sum"),
        F.round("rt_min", 6).alias("rt_min"),
        F.round("rt_max", 6).alias("rt_max"),
        "err_hits",
    )
    rows = out.collect()
    shutil.rmtree(work, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)
