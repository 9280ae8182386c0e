"""Parquet-backed table catalog with an Iceberg-ready interface.

[B] north_rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar and no network (SURVEY.md section 7), so the catalog writes partitioned
parquet directories behind the same call surface. Every caller goes through
:class:`Catalog` and never touches paths or formats directly.

Reads take the table schema from the footer Spark writes into every data
file (:func:`footer_schema`) instead of letting Spark infer it, which costs
one Spark job per read. Bookkeeping tables (checkpoint, metrics) are
appended a few rows at a time on the driver with pyarrow
(:meth:`Catalog.append_rows`): one parquet file per append, the same
columns, physical types and footer Spark writes, and no Spark job.

Every multi-step replace of live data goes through ONE crash-safe swap
(:meth:`Catalog.swap`): the caller drops the staging table and writes it
completely, a write-ahead journal appears atomically, idempotent moves and
removals run, and the journal is removed. :meth:`Catalog.recover` finishes
a journaled swap a crash interrupted, or rolls back one whose journal never
appeared; every entry point that reads or writes swapped state calls it
first.

Partition layout is the scale story: at 10^12 rows the input is laid out by
``(source, part_bucket)`` (hash-bucketed doc_id) so that (a) resume prunes
whole partitions with one partition filter on the done buckets,
(b) per-source skew is split across buckets, and (c) routed writes are
append-only per partition with dynamic partition overwrite giving
idempotent re-runs.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: footer key under which Spark stores a data file's schema as StructType JSON
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"

#: the one staging table of :meth:`Catalog.swap` (one swap is in flight at
#: a time) and its write-ahead journal, both at the warehouse root
SWAP_STAGING = "_swap_staging"
SWAP_JOURNAL = "_swap_journal.json"

#: Spark type name -> the arrow type that writes Spark's parquet physical
#: type (timestamps go out as INT96, see :meth:`Catalog.append_rows`)
_ARROW_TYPES = {
    "string": pa.string(),
    "long": pa.int64(),
    "timestamp": pa.timestamp("us", tz="UTC"),
}


def _first_data_file(path: str) -> str | None:
    """The first ``part-*.parquet`` file under a table directory, descending
    partition dirs in sorted order and skipping hidden (``.``/``_``) dirs
    and files the way Spark's file index does."""
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for f in sorted(files):
            if f.startswith("part-") and f.endswith(".parquet"):
                return os.path.join(root, f)
    return None


def footer_schema(path: str) -> StructType | None:
    """Data schema (partition columns excluded) of a table, read from the
    StructType Spark stored in the footer of its first data file; None when
    there is no data file or it carries no Spark schema."""
    f = _first_data_file(path)
    if f is None:
        return None
    try:
        meta = pq.read_metadata(f).metadata or {}
    except (OSError, ValueError):  # unreadable footer: let Spark report it
        return None
    raw = meta.get(SPARK_SCHEMA_KEY.encode())
    return StructType.fromJson(json.loads(raw)) if raw else None


@dataclass
class Catalog:
    """Minimal table catalog: name -> partitioned parquet dir under ``root``."""

    root: str

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        """True only if the table has data files (an empty partitioned write
        leaves just _SUCCESS — treated as non-existent so readers never hit
        schema-inference failures on data-less directories)."""
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.startswith("part-") or "=" in f for f in os.listdir(p)
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read a table with the schema from its footer, so the read itself
        runs no Spark job (schema inference runs one). Spark still discovers
        the partition columns from the directory names. Without a Spark
        footer the read falls back to inference."""
        path = self.path(table)
        schema = footer_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)

    def read_arrow(self, table: str, columns: list[str], filters=None) -> pa.Table:
        """Driver-side pyarrow read of a small table (no Spark job). Hidden
        ``.``/``_`` files, such as a crashed append's temp file, are skipped
        as Spark skips them. Timestamps come back in Spark's microseconds."""
        return pq.read_table(
            self.path(table), columns=columns, filters=filters,
            coerce_int96_timestamp_unit="us",
        )

    def append_rows(self, table: str, schema: StructType, rows: list[tuple]) -> str:
        """Append ``rows`` as ONE parquet file written on the driver with
        pyarrow — the bookkeeping-table write path, with no Spark job.

        The file matches what a Spark append writes: zstd, Spark's parquet
        types (``timestamp`` as INT96, so DuckDB and Spark read the same
        type from either writer's files), the StructType in the footer
        (so :meth:`read` needs no inference) and a ``part-`` name. It is
        written under a hidden temp name and renamed into place, so a crash
        mid-append leaves only a file every reader skips. Returns the file
        name."""
        arrow_schema = pa.schema(
            [pa.field(f.name, _ARROW_TYPES[f.dataType.typeName()]) for f in schema.fields],
            metadata={SPARK_SCHEMA_KEY: schema.json()},
        )
        data = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=arrow_schema
        )
        d = self.path(table)
        os.makedirs(d, exist_ok=True)
        name = f"part-{uuid.uuid4()}.zstd.parquet"
        tmp = os.path.join(d, f".{name}.tmp")
        pq.write_table(data, tmp, compression="zstd", use_deprecated_int96_timestamps=True)
        os.replace(tmp, os.path.join(d, name))
        return name

    def swap(self, moves: list[tuple[str, str]], removes: list[str] = ()) -> None:
        """Crash-safe replace of live paths by the completely written
        :data:`SWAP_STAGING` table. ``moves`` are ``(src, dst)`` file or
        directory pairs and ``removes`` are directories, all relative to the
        warehouse root; a move replaces its destination, and no removed
        directory may be a destination.

        The journal is written under a hidden temp name and renamed into
        place, so it either names every step or does not exist. Every step
        after it is idempotent (a move whose source is gone already ran),
        so :meth:`recover` can re-run it from any crash point."""
        tmp = self.path(f".{SWAP_JOURNAL}.tmp")
        with open(tmp, "w") as f:
            json.dump({"moves": moves, "removes": list(removes)}, f)
        os.replace(tmp, self.path(SWAP_JOURNAL))
        self.recover()

    def recover(self) -> None:
        """Finish the swap a crash interrupted (journal present), else roll
        back an uncommitted one: its staging and a temp journal left
        mid-write are dropped, and the live paths were never touched."""
        journal = self.path(SWAP_JOURNAL)
        if os.path.exists(journal):
            with open(journal) as f:
                j = json.load(f)
            for rel in j["removes"]:
                if os.path.isdir(self.path(rel)):
                    shutil.rmtree(self.path(rel))
            for src, dst in j["moves"]:
                src, dst = self.path(src), self.path(dst)
                if os.path.exists(src):  # else this move already ran
                    if os.path.isdir(dst):
                        shutil.rmtree(dst)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
        self.drop(SWAP_STAGING)
        for p in (self.path(f".{SWAP_JOURNAL}.tmp"), journal):
            if os.path.exists(p):
                os.remove(p)

    def partition_values(self, table: str, key: str = "part_bucket") -> set[str]:
        """Partition values of a table's top-level ``key=value`` dirs, from
        the directory listing alone (the parquet stand-in for an Iceberg
        partitions-metadata query — no Spark job, no file reads)."""
        p = self.path(table)
        if not os.path.isdir(p):
            return set()
        return {
            d.split("=", 1)[1]
            for d in os.listdir(p)
            if d.startswith(f"{key}=") and os.path.isdir(os.path.join(p, d))
        }

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
    ) -> None:
        """Write a table. With ``mode='overwrite'`` + partition columns and the
        session's ``partitionOverwriteMode=dynamic``, only the partitions
        present in ``df`` are replaced — the idempotence primitive behind
        checkpoint/resume (a re-run of a partition replaces exactly itself).
        """
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def append(self, df: DataFrame, table: str, partition_by: tuple[str, ...] = ()) -> None:
        self.write(df, table, partition_by, mode="append")

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    def promote_sink_tables(self, staging_table: str, table_prefix: str) -> list[str]:
        """Promote a staging write partitioned by ``_sink`` into per-sink
        tables by moving each ``_sink=S`` directory wholesale to
        ``<prefix>S``. The staging replaces the whole SET of ``<prefix>*``
        tables (summary tables are rewritten per run): a ``<prefix>`` table
        whose sink the staging lacks is dropped, so a sink with no rows left
        serves none. The data files keep their own ``sink`` column; ``_sink``
        exists only to drive the directory layout, so ONE write job fans out
        to N sink tables. Iceberg equivalent: ``REPLACE TABLE ... AS
        SELECT`` per sink, or a single table with sink partition."""
        staging = self.path(staging_table)
        sinks = sorted(
            d.split("=", 1)[1] for d in os.listdir(staging) if d.startswith("_sink=")
        ) if os.path.isdir(staging) else []
        if os.path.isdir(self.root):
            for t in os.listdir(self.root):
                if t.startswith(table_prefix) and t[len(table_prefix):] not in sinks:
                    shutil.rmtree(self.path(t))
        for sink in sinks:
            target = self.path(f"{table_prefix}{sink}")
            shutil.rmtree(target, ignore_errors=True)
            os.replace(os.path.join(staging, f"_sink={sink}"), target)
        shutil.rmtree(staging, ignore_errors=True)
        return sinks

    def promote_partitions(self, staging_table: str, table_prefix: str) -> dict[str, list[str]]:
        """Promote a staging write partitioned by (sink, <key>) into per-sink
        tables by moving partition directories: ``staging/sink=S/<key>=V`` ->
        ``<prefix>S/<key>=V`` (replacing any existing target partition).

        This is the parquet stand-in for Iceberg's atomic partition replace:
        ONE data pass writes every sink's rows; routing to per-sink tables is
        a metadata operation, not a second scan. Returns {sink: [key dirs]}.
        """
        staging = self.path(staging_table)
        moved: dict[str, list[str]] = {}
        if not os.path.isdir(staging):
            return moved
        for sink_dir in sorted(os.listdir(staging)):
            if not sink_dir.startswith("sink="):
                continue
            sink = sink_dir.split("=", 1)[1]
            target_root = self.path(f"{table_prefix}{sink}")
            os.makedirs(target_root, exist_ok=True)
            moved[sink] = []
            src_root = os.path.join(staging, sink_dir)
            for part_dir in sorted(os.listdir(src_root)):
                src = os.path.join(src_root, part_dir)
                if not os.path.isdir(src):
                    continue
                dst = os.path.join(target_root, part_dir)
                shutil.rmtree(dst, ignore_errors=True)
                os.replace(src, dst)
                moved[sink].append(part_dir)
        shutil.rmtree(staging, ignore_errors=True)
        return moved
