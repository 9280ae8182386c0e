"""Checkpoint/resume over input partitions ([B] north_rule: "resumable from
checkpoint with per-partition lineage").

abs-log resumes via a per-file byte offset saved after each cron run ([PK]
offset/bookmark record). The Spark-first equivalent at 10^12 rows is
partition-level lineage: the input is laid out by ``part_bucket`` (hash of
doc_id — the Iceberg-bucket stand-in), a checkpoint table records each
bucket that completed the routed write, and a restart anti-joins the input
against completed buckets so only unfinished partitions are re-read (with a
partitioned source this prunes whole files, not just rows).

Idempotence: the routed write uses dynamic partition overwrite keyed by
``part_bucket`` — re-running a bucket replaces exactly that bucket, so a
crash between write and checkpoint append cannot duplicate rows.

The checkpoint table is a handful of rows per run, so it is read and
appended on the driver with pyarrow (``Catalog.read_arrow`` /
``Catalog.append_rows``): a Spark job per bookmark cost more scheduling
than the bookmark is worth. The files keep the columns and types Spark
writes, so Spark and DuckDB readers see one table whichever writer produced
a file (earlier Spark-written history included). Bucket expiry rewrites the
kept rows the same way and swaps them in with the catalog's journaled swap
(:func:`expire`); every read and append first recovers a swap a crash
interrupted (:meth:`Catalog.recover`).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from abs_log_spark.catalog import SWAP_STAGING, Catalog

CHECKPOINT_TABLE = "checkpoint"
CHECKPOINT_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("run_id", "stage", "partition_key", "status")]
    + [StructField("ts", TimestampType())]
)


def completed_partitions(spark: SparkSession, cat: Catalog, stage: str) -> set[str]:
    # a crash inside expire's swap can leave no live table until recovery
    # moves the kept rows in: reading first would re-ingest every bucket
    cat.recover()
    if not cat.exists(CHECKPOINT_TABLE):
        return set()
    keys = cat.read_arrow(
        CHECKPOINT_TABLE,
        columns=["partition_key"],
        filters=[("stage", "=", stage), ("status", "=", "done")],
    ).column("partition_key")
    return set(pc.unique(keys).to_pylist())


#: above this many completed buckets, the NOT-isin predicate (a linear chain
#: the optimizer evaluates per row and cannot index) gives way to a broadcast
#: anti-join against the done-set — O(1) hash probe per row, and the tiny
#: done relation ships once per executor.
ISIN_MAX_KEYS = 64


def filter_pending(df: DataFrame, done: set[str], key_col: str = "part_bucket") -> DataFrame:
    """Drop already-completed partitions. With a disk layout partitioned by
    ``key_col`` the small-set predicate becomes partition pruning at the
    scan; a long-history done-set (thousands of buckets) switches to a
    broadcast left_anti join instead of a thousands-deep isin chain."""
    if not done:
        return df
    # normalize NULL keys to a sentinel so both paths agree: a bare
    # ~isin(...) evaluates to NULL on a null key and silently DROPS the row,
    # while left_anti keeps it — behavior must not flip at ISIN_MAX_KEYS.
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("<null>"))
    if len(done) <= ISIN_MAX_KEYS:
        return df.where(~key.isin(*sorted(done)))
    spark = df.sparkSession
    done_df = spark.createDataFrame(
        [(k,) for k in sorted(done)], "_done_key string"
    )
    return df.join(F.broadcast(done_df), key == F.col("_done_key"), "left_anti")


def mark_done(
    spark: SparkSession,
    cat: Catalog,
    run_id: str,
    stage: str,
    partition_keys: list[str],
) -> None:
    if not partition_keys:
        return
    cat.recover()  # never append to a table stranded mid-swap
    now = datetime.now(timezone.utc)
    rows = [(run_id, stage, str(k), "done", now) for k in partition_keys]
    cat.append_rows(CHECKPOINT_TABLE, CHECKPOINT_SCHEMA, rows)


def expire(cat: Catalog, keys: set[str]) -> int:
    """Delete every checkpoint row whose ``partition_key`` is in ``keys``
    (a re-ingest of those buckets then reprocesses them). The kept rows,
    ``ts`` exact, are rewritten on the driver as one file in the
    :meth:`Catalog.append_rows` format and replace the table in one
    journaled :meth:`Catalog.swap` — no Spark job. Returns rows dropped."""
    cat.recover()
    if not cat.exists(CHECKPOINT_TABLE):
        return 0
    rows = cat.read_arrow(CHECKPOINT_TABLE, columns=CHECKPOINT_SCHEMA.names).to_pylist()
    kept = [tuple(r.values()) for r in rows if r["partition_key"] not in keys]
    cat.drop(SWAP_STAGING)
    cat.append_rows(SWAP_STAGING, CHECKPOINT_SCHEMA, kept)
    cat.swap([(SWAP_STAGING, CHECKPOINT_TABLE)])
    return len(rows) - len(kept)
