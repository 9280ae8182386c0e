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

Live data changes in ONE place. A cycle writes everything it changes to
staging tables, and one crash-safe swap (:meth:`Catalog.swap`) publishes it:
a write-ahead journal of idempotent moves and removals appears atomically,
the steps run, and the journal is removed. :meth:`Catalog.recover` runs
those steps, finishing a journaled swap a crash interrupted or rolling back
one whose journal never appeared; every entry point that reads or writes
swapped state calls it first. ``promote_*`` only list the moves that
publish a staging write.

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
        footer the read falls back to inference. Spark ignores a path with
        a hidden (``_``/``.``) name, so a staging table is read through its
        visible entries, with itself as the partition base path."""
        path = self.path(table)
        schema = footer_schema(path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        if not table.startswith(("_", ".")):
            return reader.parquet(path)
        entries = [os.path.join(path, d) for d in sorted(os.listdir(path)) if d[0] not in "_."]
        return reader.option("basePath", path).parquet(*entries)

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
        """Crash-safe replace of live paths by completely written staging
        tables: the ONE way a cycle publishes anything. ``moves`` are
        ``(src, dst)`` file or directory pairs, each ``src`` inside a staging
        table, and ``removes`` are directories, all relative to the warehouse
        root; removals run first, a move replaces its destination, and no
        removed directory may be a destination.

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
        """Finish the swap a crash interrupted (journal present) and drop the
        staging tables its moves came from, else roll back an uncommitted
        one: :data:`SWAP_STAGING` and a temp journal left mid-write are
        dropped, and the live paths were never touched. The only code that
        changes live paths."""
        journal = self.path(SWAP_JOURNAL)
        stagings = {SWAP_STAGING}
        if os.path.exists(journal):
            with open(journal) as f:
                j = json.load(f)
            for rel in j["removes"]:
                if os.path.isdir(self.path(rel)):
                    shutil.rmtree(self.path(rel))
            for src, dst in j["moves"]:
                stagings.add(src.split(os.sep, 1)[0])
                src, dst = self.path(src), self.path(dst)
                if os.path.exists(src):  # else this move already ran
                    if os.path.isdir(dst):
                        shutil.rmtree(dst)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.replace(src, dst)
        for t in sorted(stagings):
            self.drop(t)
        for p in (self.path(f".{SWAP_JOURNAL}.tmp"), journal):
            if os.path.exists(p):
                os.remove(p)

    def listdir(self, rel: str, prefix: str = "") -> list[str]:
        """Sorted names of the subdirectories of ``rel`` (relative to the
        root; "" is the root) that start with ``prefix``: a directory listing,
        no Spark job."""
        p = self.path(rel)
        if not os.path.isdir(p):
            return []
        return sorted(
            d for d in os.listdir(p)
            if d.startswith(prefix) and os.path.isdir(os.path.join(p, d))
        )

    def write(self, df: DataFrame, table: str, partition_by: tuple[str, ...] = ()) -> None:
        """Overwrite a table. With partition columns and the session's
        ``partitionOverwriteMode=dynamic``, only the partitions present in
        ``df`` are replaced — the idempotence primitive behind
        checkpoint/resume (a re-run of a partition replaces exactly itself).
        """
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    def promote_sink_tables(
        self, staging_table: str, table_prefix: str
    ) -> tuple[list[tuple[str, str]], list[str]]:
        """The :meth:`swap` steps that promote a staging write partitioned by
        ``_sink`` into per-sink tables: a move of each ``_sink=S`` directory
        wholesale to ``<prefix>S``, and a removal of each ``<prefix>`` table
        whose sink the staging lacks, so the staging replaces the whole SET
        of ``<prefix>*`` tables and a sink with no rows left serves none.
        The data files keep their own ``sink`` column; ``_sink`` exists only
        to drive the directory layout, so ONE write job fans out to N sink
        tables. Iceberg equivalent: ``REPLACE TABLE ... AS SELECT`` per
        sink, or a single table with sink partition."""
        sinks = [d.split("=", 1)[1] for d in self.listdir(staging_table, "_sink=")]
        moves = [(os.path.join(staging_table, f"_sink={s}"), f"{table_prefix}{s}") for s in sinks]
        removes = [t for t in self.listdir("", table_prefix) if t[len(table_prefix):] not in sinks]
        return moves, removes

    def promote_partitions(self, staging_table: str, table_prefix: str) -> list[tuple[str, str]]:
        """The :meth:`swap` moves that promote a staging write partitioned by
        (sink, <key>) into per-sink tables: ``staging/sink=S/<key>=V`` ->
        ``<prefix>S/<key>=V``, each replacing that target partition.

        This is the parquet stand-in for Iceberg's atomic partition replace:
        ONE data pass writes every sink's rows; routing to per-sink tables is
        a metadata operation, not a second scan."""
        return [
            (os.path.join(staging_table, s, d), os.path.join(f"{table_prefix}{s[len('sink='):]}", d))
            for s in self.listdir(staging_table, "sink=")
            for d in self.listdir(os.path.join(staging_table, s))
        ]
