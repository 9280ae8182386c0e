"""Round-6 spread internals: the size-scaled post-scan repartition must be
result-neutral, scale its partition count with bytes, and no-op whenever
the file layout already carries enough parallelism (the guard that makes
it safe at production scale)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from abs_log_spark.sources.readers import (
    SPREAD_TARGET_BYTES,
    _scan_spread_units,
    read_table,
)

SF = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")


def test_scan_spread_units_counts_row_groups_single_file():
    path = os.path.join(SF, "documents.parquet")
    total, units = _scan_spread_units(path)
    assert total == os.path.getsize(path)
    import pyarrow.parquet as pq

    assert units == pq.ParquetFile(path).metadata.num_row_groups


def test_scan_spread_units_directory(tmp_path, spark):
    out = str(tmp_path / "t.parquet")
    spark.range(1000).repartition(3).write.parquet(out)
    total, units = _scan_spread_units(out)
    assert units >= 3  # one row group per written file at this size
    assert total == sum(
        os.path.getsize(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    )


def test_spread_is_result_neutral_and_size_scaled(spark):
    plain = read_table(spark, SF, "documents")
    spread = read_table(spark, SF, "documents", spread=True)
    # identical rows (spread is a pure round-robin repartition)
    assert spread.exceptAll(plain).count() == 0
    assert plain.exceptAll(spread).count() == 0
    # partition count never exceeds cores, and never exceeds the
    # bytes-derived target for this (small) fixture
    n = spread.rdd.getNumPartitions()
    total, units = _scan_spread_units(os.path.join(SF, "documents.parquet"))
    expect = min(
        spark.sparkContext.defaultParallelism,
        max(1, (total + SPREAD_TARGET_BYTES - 1) // SPREAD_TARGET_BYTES),
    )
    assert n == max(expect, units) or n == units  # no-op keeps scan layout


def test_spread_noop_when_layout_already_parallel(tmp_path, spark, monkeypatch):
    """A table whose file count already reaches the computed target must
    NOT be repartitioned — the production-scale guard."""
    from abs_log_spark.sources import readers

    n_parts = spark.sparkContext.defaultParallelism
    assert n_parts > 1
    # a small byte target makes the computed target the core count (> 1),
    # so only the file-count guard can keep the scan as it is
    monkeypatch.setattr(readers, "SPREAD_TARGET_BYTES", 1)

    def spread_plan(files: int) -> str:
        out = str(tmp_path / f"sf{files}")
        spark.range(2000).select(
            F.col("id").alias("doc_id"), F.lit("x").alias("text")
        ).repartition(files).write.parquet(os.path.join(out, "documents.parquet"))
        df = read_table(spark, out, "documents", spread=True)
        return df._jdf.queryExecution().optimizedPlan().toString()

    # control: fewer files than the target -> the round-robin repartition
    assert "Repartition" in spread_plan(1)
    # plan contains no round-robin exchange: the scan's own files suffice
    plan = spread_plan(n_parts)
    assert "Repartition" not in plan, plan[:500]
