"""SparkSession factory with the engine's standard configuration.

Scale rationale (100 TB / 1000-executor design, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  ([B] north_star: "AQE skew-join handling ... for hot sources").
- Arrow on: every Python crossing is an Arrow batch, never per-row
  ([B] input_hint: "vectorized pandas/Arrow UDFs (no per-row Python)").
- Session time zone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
- Dynamic partition overwrite: idempotent re-writes of routed partitions on
  resume (checkpoint/restart semantics, [B] north_rule "resumable from
  checkpoint").
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs applied to every session the engine creates. On a real cluster these
#: land in spark-defaults; values chosen to survive a 100x scale-up:
#: shuffle.partitions is a *starting* value — AQE coalesces down or splits
#: skewed partitions at runtime, so oversizing is safe.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Token arrays are wide (one int per character); keep Arrow batches
    # moderate so executor-python memory stays bounded at 100 TB scale.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # zstd, not snappy: measured on the 24M-row token-array write (the
    # pipeline's dominant I/O), zstd is BOTH ~40% faster to encode AND ~27%
    # smaller on disk (15-20s/881MB vs 27-41s/1.2GB) — snappy pays a slow
    # dictionary-encode on the wide int-array column for worse compression.
    # At 100 TB smaller output also means proportionally less shuffle/IO for
    # every downstream reader.
    "spark.sql.parquet.compression.codec": "zstd",
    # Encode tuning for the token-array write (measured on the real
    # dynamic-partition routed write, 4M rows local[8], min-of-3):
    # zstd level 1 + 4MB pages = 15.45s -> 13.69s (-11%) at IDENTICAL
    # output size (241 vs 242 MB) — the larger pages give zstd enough
    # context to offset the level drop, while level 1 cuts encode CPU.
    # Per-column dictionary disable and row-group size measured neutral
    # (the token column already overflows parquet's dict and falls back).
    "spark.hadoop.parquet.compression.codec.zstd.level": "1",
    "spark.hadoop.parquet.page.size": str(4 << 20),
    # Dynamic-partition writes: keep up to 8 writers open per task instead
    # of sort-before-write (measured on the real routed write, 4M rows
    # local[8], min-of-3: 14.85 -> 13.63 s, and the sort path's spill-
    # sensitive outliers — 21s walls — disappear). The salted layout
    # repartition already routes each task a handful of (sink, bucket)
    # groups, so 8 writers cover it; tasks exceeding the limit fall back
    # to sort-based for the remainder (no correctness edge). Memory per
    # writer is bounded by the data the task actually holds (<= one 32MB
    # input split), not by parquet.block.size.
    "spark.sql.maxConcurrentOutputFileWriters": "8",
    # local-mode friendly; AQE re-coalesces. On a 1000-executor cluster this
    # would be ~2-3x total cores instead.
    "spark.sql.shuffle.partitions": "64",
    # Let AQE coalesce a persisted plan's output partitions as it does every
    # other shuffle. Off by default (Spark 4.1), so a cached repartition or
    # join kept all 64 shuffle partitions and every stage reading it ran 64
    # tasks: a near-dup pass ran 280 tasks (27 coalesced). Measured on a
    # 4-core host, median op_s_p50 on near_dup_dedup 3.36 -> 2.09 s over 12
    # paired runs. The coalesced cache keeps its hash partitioning on the
    # key, so a groupBy on that key still plans no exchange.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Scan partitions must be sized by EXPANDED size, not compressed file
    # size: the token-array tables expand ~13x from zstd parquet to
    # in-memory rows (1.8 GB on disk -> ~24 GB of rows at 48M rows), so
    # Spark's 128 MB default hands each task ~1.6 GB of rows — the
    # dynamic-partition writer's per-task sort then exceeds the execution
    # pool once enough tasks run concurrently and the job collapses into
    # spill thrash (measured: 48M rows at local[16] went 238s -> 83s from
    # this conf alone; local[4] was unaffected because 4 oversized sorts
    # still fit). 32 MB compressed ~= 400 MB of rows per task.
    "spark.sql.files.maxPartitionBytes": "33554432",
    # Generated-class cache: one cron cycle (increment + the six log_show
    # views) touches ~176 distinct Janino classes and a process ~194, so the
    # default LRU of 100 evicted every class before its next use and each
    # warm cycle recompiled ~173 of them (and re-fed them to the JIT) —
    # measured on a 4-core host, median op_s_p50 on cron_increments 9.76 ->
    # 6.95 s at 1000. The near-dup dedup pass uses 58 and never hit the limit.
    # STATIC conf: it only takes effect when get_spark creates the session;
    # getOrCreate on an existing session ignores it. Check with
    # StageMetrics' ``codegen_compiles`` (0 on a warm run).
    "spark.sql.codegen.cache.maxEntries": "1000",
    # PySpark 4.1 wraps every pyspark.sql.functions call and Column operator
    # in _with_origin (pyspark/errors/utils.py): it looks up the active
    # session, the JVM origin class and this conf, walks the Python stack,
    # then sets and clears the JVM origin: F.col("a") + F.lit(1) costs 27
    # py4j round trips with it on and 7 off. Every cron cycle and near-dup
    # pass builds its plans from such calls. The cost: DataFrame error
    # messages lose the Python call-site line; the JVM error and the Python
    # traceback of the failing action remain.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "abs-log-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard confs."""
    builder = SparkSession.builder.appName(app_name).master(master or default_master())
    confs = dict(ENGINE_CONFS)
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
