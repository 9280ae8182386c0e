"""Readers for the driver-provided testdata plus the documents->sequences bridge.

``/root/testdata/sf*/`` holds TPC-H-ish tables + ``events``, ``documents``,
``embeddings`` (TESTDATA.md). ``sequences_from_documents`` derives the
north-rule input table deterministically FROM the driver's ``documents``
table (FIXTURES.md section B "bridging trick"): the rendered log line is a
pure function of ``doc_id``, so a DuckDB oracle can reproduce any aggregate
over the parsed fields without ever seeing an array column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.functions.tokens import tokenize_col
from abs_log_spark.sources.synth import log_line_expr

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Above this on-disk size a table is assumed to carry enough row groups to
#: scan in parallel on its own, so ``spread`` never shuffles it — the guard
#: that keeps the local-fixture fix a no-op at production scale (a 100 TB
#: table is thousands of row groups; repartitioning it would be a full
#: payload shuffle for nothing).
SPREAD_MAX_BYTES = 256 << 20

#: Per-partition byte target for ``spread``: partitions = bytes / target,
#: capped at the session's core count. Sized from a core-count sweep at two
#: scales (sf0.1 ~590 KB docs: n=8 beat n=32 on every regressed query —
#: 32-way repartition of a sub-MB table is pure task overhead; sf1.0
#: ~5.9 MB: the cap keeps full core fan-out, which measured best). Tiny
#: fixtures (sf0.01, 59 KB) yield n=1 and skip the shuffle entirely.
SPREAD_TARGET_BYTES = 64 << 10


def _scan_spread_units(path: str) -> tuple[int, int]:
    """(total_bytes, splittable_units) for a parquet file or directory.

    ``splittable_units`` = number of row groups (the real ceiling on scan
    parallelism: Spark assigns whole row groups to split byte-ranges, so a
    50k-row single-row-group file scans on ONE core no matter how many
    splits the size formula produces). Footer reads are driver-side and
    ~ms; capped at 64 files — past that the answer is already "plenty".
    """
    if os.path.isfile(path):
        files = [path]
    else:
        files = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
    total = sum(os.path.getsize(f) for f in files)
    if len(files) > 64:
        return total, len(files)
    try:
        import pyarrow.parquet as pq

        units = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        units = len(files)
    return total, units


def read_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Read a driver table; ``spread=True`` opts compute-heavy consumers into
    an explicit round-robin repartition to the session's core count when the
    file's own layout cannot feed that many scan tasks.

    Why: the driver fixtures are single-file, single-ROW-GROUP parquet
    (sf1.0 documents = 50k rows in one row group), and a row group is the
    atomic split unit — so every per-row-expensive stage (md5 shingling,
    signature folds, Arrow UDFs) otherwise runs on 1-2 of the session's
    cores regardless of ``maxPartitionBytes``. The repartition shuffles a
    few MB once to unlock N-way compute (guide §2.3: shuffle small bytes to
    move the work, not the other way around). Scale-adaptive on both axes:
    partition count = bytes / SPREAD_TARGET_BYTES capped at
    ``defaultParallelism`` (never a tuned constant — sub-MB tables get a
    handful of partitions, anything over ~2 MB/core gets full core
    fan-out), and tables big enough to carry their own parallelism
    (>= SPREAD_MAX_BYTES, or >= target row groups / files) are left
    alone, so on a real multi-TB table this is exactly the plain scan.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if spread:
        try:
            total, units = _scan_spread_units(path)
        except OSError:
            return df
        n = min(
            spark.sparkContext.defaultParallelism,
            max(1, (total + SPREAD_TARGET_BYTES - 1) // SPREAD_TARGET_BYTES),
        )
        if total < SPREAD_MAX_BYTES and units < n:
            df = df.repartition(int(n))
    return df


def sequences_from_documents(
    spark: SparkSession, sf_dir: str, materialized: bool = True
) -> DataFrame:
    """North-rule ``sequences`` derived from the driver ``documents`` table.

    doc_id/source come from documents; tokens spell the synthetic log line
    rendered from the numeric doc_id (same renderer as the pure-synth
    fixture, so parsing/abstraction behave identically).

    ``materialized`` (default): the derivation is written once per sf to a
    /tmp parquet cache and read back — the engine's real input is a TABLE,
    not an expression tree; without this, every query over sequences re-pays
    the fixture rendering (line format + tokenize) instead of a scan.
    """
    if materialized:
        # cache key = abs path + source-parquet mtime: distinct sf dirs with
        # the same basename cannot alias, and a regenerated documents fixture
        # invalidates the cache instead of serving stale sequences forever
        import hashlib

        src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
        try:
            mtime = str(int(os.path.getmtime(src)))
        except OSError:
            mtime = "0"
        label = os.path.basename(sf_dir.rstrip("/"))
        key = hashlib.md5(f"{src}|{mtime}".encode()).hexdigest()[:10]
        cache = f"/tmp/abslog_sequences_{label}_{key}"
        if not os.path.exists(os.path.join(cache, "_SUCCESS")):
            sequences_from_documents(spark, sf_dir, materialized=False).write.mode(
                "overwrite"
            ).parquet(cache)
        df = spark.read.parquet(cache)
        # Rebalance the scan for the Arrow-parse consumers. Unlike the
        # md5/HOF-heavy read_table(spread=True) paths (where per-row JVM
        # compute dominates and full core-count fan-out wins), the parse
        # path pays a fixed Python-worker/Arrow-batch cost per task, so it
        # wants FEWER, FULLER partitions: ~256 KB of this table ~= 7k rows
        # ~= a healthy Arrow batch. Measured at sf1.0 (50k rows, 1-file
        # cache): as-is 1.3-1.7 s, repartition(32) 1.3-1.9 s,
        # repartition(8) 0.84-0.98 s for the e2e minute aggregate. The
        # target scales with bytes and is capped at the session's cores,
        # so bigger inputs converge to plain core-count fan-out.
        try:
            total, units = _scan_spread_units(cache)
            n = min(
                spark.sparkContext.defaultParallelism,
                max(1, (total + (256 << 10) - 1) // (256 << 10)),
            )
            if total < SPREAD_MAX_BYTES and units != n:
                df = df.repartition(n)
        except OSError:
            pass
        return df
    # spread the source scan: the line render + tokenize are per-row heavy,
    # and with spread the derived relation carries defaultParallelism
    # partitions into the cache write (n files, one row group each)
    docs = read_table(spark, sf_dir, "documents", spread=True)
    i = F.col("doc_id").cast("long")
    line = log_line_expr(i)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokenize_col(line).alias("tokens"),
        F.col("source"),
    ).select(
        "doc_id",
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
        "source",
        F.pmod(F.xxhash64("doc_id"), F.lit(8)).cast("int").alias("part_bucket"),
    )
