"""Catalog reads from parquet footers, and the bookkeeping tables that are
appended by pyarrow next to Spark-written files."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from abs_log_spark.catalog import footer_schema
from abs_log_spark.plans import checkpoint as ckpt
from abs_log_spark.plans.metrics import METRICS_TABLE, StageMetrics
from abs_log_spark.plans.pipeline import run_pipeline
from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim


def _rows(df) -> list[str]:
    return sorted(str(r) for r in df.collect())


def _part_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.startswith("part-") and f.endswith(".parquet")
    )


def test_catalog_read_footer_schema_matches_inference(spark, tmp_catalog):
    """The footer-derived read equals Spark's inferred read — schema,
    partition columns and rows — for the routed, partials and day-partitioned
    summary tables, the null ``day`` partition included."""
    seq = gen_sequences(spark, 600, invalid_every=10)
    run_pipeline(spark, tmp_catalog, seq, gen_sources_dim(spark), run_id="r1")
    tables = ["routed_sink_a", "agg_partials", "minute_agg_sink_a", "errors_sink_a"]
    null_day = os.path.join(tmp_catalog.path("minute_agg_sink_a"), "day=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(null_day)  # invalid lines: null minute -> null day
    for t in tables:
        path = tmp_catalog.path(t)
        assert footer_schema(path) is not None, t
        got, want = tmp_catalog.read(spark, t), spark.read.parquet(path)
        assert got.schema == want.schema, t
        assert _rows(got) == _rows(want) and got.count() > 0, t
    ma = tmp_catalog.read(spark, "minute_agg_sink_a")
    assert ma.where(F.col("day").isNull()).agg(F.sum("invalid_hits")).first()[0] > 0


def test_catalog_read_without_spark_footer_falls_back_to_inference(spark, tmp_catalog):
    plain = tmp_catalog.path("plain")
    os.makedirs(os.path.join(plain, "k=1"))
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}),
                   os.path.join(plain, "k=1", "part-0.parquet"))
    foreign = tmp_catalog.path("foreign")  # no part- file at all
    os.makedirs(foreign)
    pq.write_table(pa.table({"a": [3]}), os.path.join(foreign, "data_0.parquet"))
    for t in ("plain", "foreign"):
        path = tmp_catalog.path(t)
        assert footer_schema(path) is None
        got, want = tmp_catalog.read(spark, t), spark.read.parquet(path)
        assert got.schema == want.schema and _rows(got) == _rows(want)
    assert _rows(tmp_catalog.read(spark, "plain").select("a", "b", "k")) == [
        "Row(a=1, b='x', k=1)", "Row(a=2, b='y', k=1)"
    ]


def test_bookkeeping_tables_agree_across_writers_and_engines(spark, tmp_catalog, monkeypatch):
    """checkpoint and metrics tables built from Spark-written files plus
    pyarrow appends read the same rows in Spark and DuckDB, with the same
    ``ts`` type from either writer's files; a crashed append's temp file is
    ignored by both."""
    cat = tmp_catalog

    def audit(run_id, keys):
        now = datetime.now(timezone.utc)
        rows = [(run_id, "routed", k, "done", now) for k in keys]
        cat.append_rows(ckpt.CHECKPOINT_TABLE, ckpt.CHECKPOINT_SCHEMA, rows)

    ck_path, m_path = cat.path(ckpt.CHECKPOINT_TABLE), cat.path(METRICS_TABLE)
    # Spark-written history, as earlier runs and retention rewrites leave it
    spark.createDataFrame(
        [("r0", "routed", "0", "done"), ("r0", "other", "5", "done")],
        "run_id string, stage string, partition_key string, status string",
    ).withColumn("ts", F.current_timestamp()).write.mode("append").parquet(ck_path)
    spark.createDataFrame(
        [("r0", "pipeline", "0", 10, 9, 1, 10, 123)],
        "run_id string, stage string, partition_key string, rows_in long,"
        " rows_valid long, rows_invalid long, rows_routed long, wall_ms long",
    ).write.mode("append").parquet(m_path)
    spark_files = set(_part_files(ck_path))
    audit("r1", ["1", "2"])
    StageMetrics(spark).flush(spark, cat, "r1", ["1", "2"])

    # a crash between the temp write and the rename
    def crash(src, dst):
        raise OSError("crashed before rename")

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash)
        with pytest.raises(OSError):
            audit("r2", ["99"])
        with pytest.raises(OSError):
            StageMetrics(spark).flush(spark, cat, "r2", ["99"])
    for p in (ck_path, m_path):
        assert [f for f in os.listdir(p) if f.endswith(".tmp")], p

    arrow_files = set(_part_files(ck_path)) - spark_files
    assert len(arrow_files) == 1 and spark_files
    con = duckdb.connect()
    try:
        def duck(sql):
            return sorted(con.execute(sql).fetchall())

        # checkpoint: identical rows (ts as epoch micros) in both engines
        sp = cat.read(spark, ckpt.CHECKPOINT_TABLE)
        assert sp.schema["ts"].dataType == TimestampType()
        sp_rows = sorted(
            tuple(r) for r in sp.select(
                "run_id", "stage", "partition_key", "status", F.unix_micros("ts")
            ).collect()
        )
        dk_rows = duck(
            "SELECT run_id, stage, partition_key, status, epoch_us(ts)"
            f" FROM read_parquet('{ck_path}/*.parquet')"
        )
        assert sp_rows == dk_rows and len(sp_rows) == 4
        assert {r[2] for r in sp_rows if r[1] == "routed"} == {"0", "1", "2"}
        # ts has one type per engine, whichever writer produced the file
        for f in sorted(spark_files | arrow_files):
            assert spark.read.parquet(f).schema["ts"].dataType == TimestampType(), f
            desc = dict(
                (r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM '{f}'").fetchall()
            )
            assert desc["ts"] == "TIMESTAMP", f

        # metrics: identical rows and long columns in both engines
        m = cat.read(spark, METRICS_TABLE)
        assert m.schema["wall_ms"].dataType == LongType()
        m_rows = sorted(tuple(r) for r in m.collect())
        assert m_rows == duck(f"SELECT * FROM read_parquet('{m_path}/*.parquet')")
        assert [r[2] for r in m_rows] == ["0", "1,2"]
    finally:
        con.close()
