"""Checkpoint/resume over input partitions ([B] north_rule: "resumable from
checkpoint with per-partition lineage").

abs-log resumes via a per-file byte offset saved after each cron run ([PK]
offset/bookmark record). The Spark-first equivalent at 10^12 rows is
partition-level lineage: the input is laid out by ``part_bucket`` (hash of
doc_id — the Iceberg-bucket stand-in), and a restart filters the input by
one predicate over the done buckets (:func:`bucket_in`), which Spark keeps
as a partition filter: completed bucket directories are never opened,
however long the history.

The done set is ONE file: the lineage of ``agg_partials``,
:data:`LINEAGE`, the buckets folded into it. It lives inside the table
directory, so the journaled :meth:`Catalog.swap` that replaces the table
replaces the done set with it — the parquet stand-in for Iceberg's one
metadata file per snapshot. A bucket is done exactly when its rows are in
the partials, so no second record can disagree with the first.

The ``checkpoint`` table is an append-only audit log, read by no run. Each
cycle stages one file of rows (``done`` for folded buckets, ``expired`` for
subtracted ones) and the new lineage under the swap staging with
:func:`mark_done`, and the cycle's one swap publishes them with the
partials, the routed partitions and the summaries, so all of them change in
one commit: replaying the log (the last status per key is ``done``) gives
:func:`completed_partitions` after every commit. The rows are written on
the driver with pyarrow (:meth:`Catalog.append_rows`) with the columns and
types Spark writes, so Spark and DuckDB read one table whichever writer
produced a file.

Idempotence: the routed write goes to a staging table, and the commit
moves each of its ``part_bucket`` directories over the live one, so
re-running a bucket replaces exactly that bucket's routed rows; a bucket
whose cycle never committed left no routed rows behind.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from datetime import datetime, timezone
from itertools import groupby

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from abs_log_spark.catalog import SWAP_STAGING, Catalog

CHECKPOINT_TABLE = "checkpoint"
CHECKPOINT_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("run_id", "stage", "partition_key", "status")]
    + [StructField("ts", TimestampType())]
)

#: the done set: lineage of ``agg_partials``, inside its directory (Spark,
#: DuckDB and ``footer_schema`` skip ``_`` names)
LINEAGE = "_folded_buckets.json"

#: where a cycle stages the next ``agg_partials`` table, lineage included
PARTIALS_STAGING = os.path.join(SWAP_STAGING, "agg_partials")


def completed_partitions(cat: Catalog) -> set[str]:
    """The done buckets: the ``agg_partials`` lineage, one JSON file, read
    after :meth:`Catalog.recover` finishes any swap a crash interrupted."""
    cat.recover()
    p = os.path.join(cat.path("agg_partials"), LINEAGE)
    if not os.path.exists(p):
        return set()
    with open(p) as f:
        return set(json.load(f))


#: the directory name Spark writes and lists for a null ``part_bucket``; the
#: done set, the audit log and :func:`bucket_in` spell the null bucket this
#: one way.
NULL_BUCKET = "__HIVE_DEFAULT_PARTITION__"


def bucket_in(keys: Iterable[str]) -> Column:
    """``part_bucket`` is one of ``keys`` (partition values as strings,
    :data:`NULL_BUCKET` for the null bucket), never null: ``~bucket_in(done)``
    keeps a null-bucket row until its key is done. ONE SQL expression, one
    JVM call (``Column.isin`` makes one per key); ``int()`` keeps key
    strings out of SQL text. Runs of consecutive keys become ``BETWEEN``
    terms and the rest one ``IN`` list, so cron and stream buckets, which
    grow in order, give a predicate of a few terms at any history length;
    Spark keeps it as a partition filter, so a partitioned scan opens only
    the matching bucket directories."""
    keys = set(keys)
    ints = sorted({int(k) for k in keys - {NULL_BUCKET}})
    runs = [[k for _, k in g] for _, g in groupby(enumerate(ints), lambda p: p[1] - p[0])]
    terms = [f"part_bucket BETWEEN {r[0]} AND {r[-1]}" for r in runs if len(r) > 1]
    singles = [str(r[0]) for r in runs if len(r) == 1]
    if singles:
        terms.append(f"part_bucket IN ({', '.join(singles)})")
    hit = f"coalesce({' OR '.join(terms)}, false)" if terms else "false"
    if NULL_BUCKET in keys:
        hit = f"part_bucket IS NULL OR {hit}"
    return F.expr(hit)


def filter_pending(df: DataFrame, done: set[str]) -> DataFrame:
    """Drop already-completed ``part_bucket``s; with a disk layout
    partitioned by ``part_bucket`` this is partition pruning at the scan."""
    return df.where(~bucket_in(done)) if done else df


def mark_done(
    cat: Catalog, run_id: str, done: set[str], keys: list[str], status: str = "done"
) -> tuple[str, str]:
    """Stage a commit's bookkeeping under :data:`SWAP_STAGING`: ``done``,
    the done set after the commit, as the lineage of the staged partials
    (:data:`PARTIALS_STAGING`, made here when the fold wrote no rows), and
    one checkpoint file of ``keys`` rows with ``status`` in its own staging
    directory. Returns the :meth:`Catalog.swap` move that publishes that
    file into the checkpoint table."""
    now = datetime.now(timezone.utc)
    rows = [(run_id, "routed", str(k), status, now) for k in keys]
    staging = os.path.join(SWAP_STAGING, CHECKPOINT_TABLE)
    name = cat.append_rows(staging, CHECKPOINT_SCHEMA, rows)
    os.makedirs(cat.path(PARTIALS_STAGING), exist_ok=True)
    with open(os.path.join(cat.path(PARTIALS_STAGING), LINEAGE), "w") as f:
        json.dump(sorted(done), f)
    return os.path.join(staging, name), os.path.join(CHECKPOINT_TABLE, name)
