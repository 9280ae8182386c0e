"""Checkpoint/resume over input partitions ([B] north_rule: "resumable from
checkpoint with per-partition lineage").

abs-log resumes via a per-file byte offset saved after each cron run ([PK]
offset/bookmark record). The Spark-first equivalent at 10^12 rows is
partition-level lineage: the input is laid out by ``part_bucket`` (hash of
doc_id — the Iceberg-bucket stand-in), a checkpoint table records each
bucket that completed the routed write, and a restart filters the input by
one ``NOT part_bucket IN (done)`` predicate (:func:`bucket_in`), which Spark
keeps as a partition filter: completed bucket directories are never opened,
however long the history.

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

from collections.abc import Iterable
from datetime import datetime, timezone

import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from abs_log_spark.catalog import SWAP_STAGING, Catalog

CHECKPOINT_TABLE = "checkpoint"
CHECKPOINT_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("run_id", "stage", "partition_key", "status")]
    + [StructField("ts", TimestampType())]
)


def completed_partitions(cat: Catalog, stage: str) -> set[str]:
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


#: the directory name Spark writes and lists for a null ``part_bucket``; the
#: checkpoint, the partials lineage and :func:`bucket_in` spell the null
#: bucket this one way.
NULL_BUCKET = "__HIVE_DEFAULT_PARTITION__"


def bucket_in(keys: Iterable[str]) -> Column:
    """``part_bucket`` is one of ``keys`` (partition values as strings,
    :data:`NULL_BUCKET` for the null bucket), never null: ``~bucket_in(done)``
    keeps a null-bucket row until its key is done. ONE SQL expression, one
    JVM call (``Column.isin`` makes one per key); ``int()`` keeps checkpoint
    strings out of SQL text. Spark plans an IN list over 10 items as a hashed
    ``INSET`` partition filter, so a partitioned scan opens only the matching
    bucket directories at any set size."""
    keys = set(keys)
    ints = ", ".join(map(str, sorted({int(k) for k in keys - {NULL_BUCKET}})))
    hit = f"coalesce(part_bucket IN ({ints}), false)" if ints else "false"
    if NULL_BUCKET in keys:
        hit = f"part_bucket IS NULL OR {hit}"
    return F.expr(hit)


def filter_pending(df: DataFrame, done: set[str]) -> DataFrame:
    """Drop already-completed ``part_bucket``s; with a disk layout
    partitioned by ``part_bucket`` this is partition pruning at the scan."""
    return df.where(~bucket_in(done)) if done else df


def mark_done(cat: Catalog, run_id: str, stage: str, partition_keys: list[str]) -> None:
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
