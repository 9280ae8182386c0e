"""Structured Streaming variant (SURVEY.md 2.10): the batch stages composed
into readStream must produce exactly the batch answers."""

from __future__ import annotations

import math

import pytest

from abs_log_spark.operators.aggregate import minute_agg
from abs_log_spark.plans.pipeline import transform
from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim
from abs_log_spark.streaming import (
    merge_stream_partials,
    read_sequence_stream,
    run_stream_foreach_batch,
    streaming_minute_agg,
    two_batch_trigger,
)

N = 3000


@pytest.fixture()
def seq_input(spark, tmp_path):
    seq = gen_sequences(spark, N, invalid_every=100)
    input_dir = str(tmp_path / "input")
    seq.repartition(3).write.parquet(input_dir)
    return seq, input_dir


def _rows(df, cols):
    return {
        tuple(str(r[c]) for c in cols[0]): [r[c] for c in cols[1]]
        for r in df.collect()
    }


KEYS = ["sink", "site", "minute", "uri_abs"]


def test_native_windowed_agg_equals_batch(spark, tmp_path, seq_input):
    """Event-time tumbling-window streaming agg (complete mode) == batch
    minute_agg on the valid rows, window-for-minute."""
    seq, input_dir = seq_input
    dim = gen_sources_dim(spark)
    agg = streaming_minute_agg(read_sequence_stream(spark, input_dir), dim)
    q = (
        agg.writeStream.format("memory")
        .queryName("mstream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_native"))
        .start()
    )
    q.awaitTermination()
    got = _rows(spark.table("mstream"), (KEYS, ["pv", "bytes_sum", "err_hits"]))

    batch = minute_agg(transform(seq, dim)).where("pv > 0")
    want = _rows(batch, (KEYS, ["pv", "bytes_sum", "err_hits"]))
    assert got == want

    # invalid rows never enter the windowed state but are accounted for via
    # the named observe on every micro-batch progress (streaming twin of
    # batch invalid_hits)
    observed = [
        p.observedMetrics["routed_rows"]
        for p in q.recentProgress
        if "routed_rows" in p.observedMetrics
    ]
    assert sum(m["rows_invalid"] for m in observed) == N // 100
    assert sum(m["rows_routed"] for m in observed) == N


def test_foreachbatch_partials_merge_to_batch_answer(spark, tmp_path, tmp_catalog, seq_input):
    """Micro-batched foreachBatch histogram partials, merged, == single-pass
    batch agg on EVERY measure — exact quantiles included (they survive the
    cross-batch merge), plus the invalid-row null-key group."""
    seq, input_dir = seq_input
    dim = gen_sources_dim(spark)
    q = run_stream_foreach_batch(
        spark,
        tmp_catalog,
        input_dir,
        dim,
        checkpoint_dir=str(tmp_path / "ckpt_fb"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    partials = tmp_catalog.read(spark, "minute_agg_partials")
    n_batches = partials.select("batch_id").distinct().count()
    assert n_batches >= 2, "multi-file input must produce multiple micro-batches"

    merged = merge_stream_partials(partials)
    exact_cols = ["pv", "bytes_sum", "err_hits", "invalid_hits"]
    float_cols = ["rt_sum", "rt_avg", "rt_min", "rt_p25", "rt_p50", "rt_p75", "rt_max"]
    got = _rows(merged, (KEYS, exact_cols + float_cols))
    want = _rows(
        minute_agg(transform(seq, dim), exact_quantiles=True),
        (KEYS, exact_cols + float_cols),
    )

    assert set(got) == set(want)
    for k, g in got.items():
        w = want[k]
        assert g[: len(exact_cols)] == w[: len(exact_cols)], k
        for gg, ww in zip(g[len(exact_cols):], w[len(exact_cols):]):
            if gg is None and ww is None:
                continue
            assert math.isclose(gg, ww, rel_tol=1e-9, abs_tol=1e-9), (k, gg, ww)


def test_foreachbatch_replay_is_exactly_once(spark, tmp_path, tmp_catalog, seq_input):
    """Crash-recovery scenario: the partials append committed but the
    streaming checkpoint did not, so the restarted query re-runs the same
    batch_id and re-appends identical partial rows. The merge must dedup on
    (batch_id, keys) so measures are NOT double-counted."""
    seq, input_dir = seq_input
    dim = gen_sources_dim(spark)
    q = run_stream_foreach_batch(
        spark,
        tmp_catalog,
        input_dir,
        dim,
        checkpoint_dir=str(tmp_path / "ckpt_replay"),
        max_files_per_trigger=1,
    )
    q.awaitTermination()

    partials = tmp_catalog.read(spark, "minute_agg_partials")
    clean = merge_stream_partials(partials)
    cols = ["pv", "bytes_sum", "err_hits", "invalid_hits", "rt_p50"]
    want = _rows(clean, (KEYS, cols))

    # simulate the replay: batch 0's rows land a second time, bit-identical
    replay = partials.where("batch_id = 0")
    assert replay.count() > 0
    tmp_catalog.append(replay, "minute_agg_partials")

    merged = merge_stream_partials(tmp_catalog.read(spark, "minute_agg_partials"))
    got = _rows(merged, (KEYS, cols))
    assert got == want


def test_two_batch_trigger_counts_files_written(spark, tmp_path, tmp_catalog):
    """Partitions that land empty write no file: the two-batch trigger is
    half the files on disk, not half the partitions asked of the writer
    (half of 4 requested would read both written files in one batch)."""
    from pyspark.sql import functions as F

    # two sources that hash to shuffle partitions 0 and 1 of 4
    seq = gen_sequences(spark, 600).where(F.col("source").isin("src0", "src2"))
    input_dir = str(tmp_path / "input")
    seq.repartition(4, "source").write.parquet(input_dir)
    assert two_batch_trigger(input_dir) == 1  # 2 files written, not 4
    rows: dict[int, int] = {}
    q = run_stream_foreach_batch(
        spark,
        tmp_catalog,
        input_dir,
        gen_sources_dim(spark),
        checkpoint_dir=str(tmp_path / "ckpt_two"),
        max_files_per_trigger=two_batch_trigger(input_dir),
        on_batch=rows.__setitem__,
    )
    q.awaitTermination()
    assert [p.batchId for p in q.recentProgress] == [0, 1]
    assert all(rows.values()) and sum(rows.values()) == seq.count()


def _seq_rows(spark, minute_events):
    """Build sequences rows whose rendered log lines carry chosen minutes
    (within the fixture's 2h window): one row per (minute, seq) pair."""
    from pyspark.sql import Row

    def line(minute, i):
        return (
            f'10.0.0.{i % 250} - [01/Jan/2024:{minute // 60:02d}:{minute % 60:02d}:00 +0000] '
            f'"GET /search HTTP/1.1" 200 1000 0.100'
        )

    rows = []
    for j, m in enumerate(minute_events):
        text = line(m, j)
        toks = [ord(c) for c in text]
        rows.append(Row(doc_id=f"d{j}", tokens=toks, n_tok=len(toks),
                        source="src0", part_bucket=0))
    return spark.createDataFrame(rows, schema="doc_id string, tokens array<int>, n_tok int, source string, part_bucket int")


def test_watermark_append_semantics(spark, tmp_path):
    """Append-mode event-time guarantees: late data within the watermark
    delay is aggregated; each window is emitted exactly once, only after the
    watermark passes it; open windows are withheld. (Dropping of too-late
    rows is best-effort in Spark and intentionally NOT asserted.)"""
    import glob
    import os
    import shutil

    from abs_log_spark.sources.synth import gen_sources_dim

    input_dir = str(tmp_path / "wm_in")
    os.makedirs(input_dir)

    def add_slice(i, minutes, mtime):
        """One named parquet file per slice with a controlled mtime so the
        file source's oldest-first ordering is deterministic."""
        staging = str(tmp_path / f"wm_stage_{i}")
        _seq_rows(spark, minutes).coalesce(1).write.parquet(staging)
        src = glob.glob(os.path.join(staging, "part-*.parquet"))[0]
        dst = os.path.join(input_dir, f"slice{i}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (mtime, mtime))

    base = 1_700_000_000
    add_slice(0, [0, 1, 2, 2, 2, 3, 4, 5], base)  # 3 hits at minute 2
    # a late minute-2 event rides with the minute-60 event that will push
    # the watermark to 00:50 -> it must be counted (within the 10-min delay
    # when it arrived)
    add_slice(1, [60, 2], base + 60)
    add_slice(2, [61], base + 120)  # advances wm past 00:51; 60/61 stay open

    from abs_log_spark.streaming import read_sequence_stream, streaming_minute_agg

    agg = streaming_minute_agg(
        read_sequence_stream(spark, input_dir, max_files_per_trigger=1),
        gen_sources_dim(spark),
        watermark="10 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("wmtest")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.table("wmtest").collect()
    got = {str(r["minute"]): r["pv"] for r in rows}

    assert len(rows) == len(got), "append mode must emit each window once"
    # open windows (beyond the final watermark) are withheld
    assert "2024-01-01 01:00:00" not in got and "2024-01-01 01:01:00" not in got
    # closed windows all emitted; the late-but-in-delay event is counted
    assert got == {
        "2024-01-01 00:00:00": 1,
        "2024-01-01 00:01:00": 1,
        "2024-01-01 00:02:00": 4,
        "2024-01-01 00:03:00": 1,
        "2024-01-01 00:04:00": 1,
        "2024-01-01 00:05:00": 1,
    }, got
