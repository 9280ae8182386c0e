"""Structured Streaming variant (SURVEY.md 2.10): the batch stages composed
into readStream must produce exactly the batch answers."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException

from abs_log_spark.operators.aggregate import minute_agg
from abs_log_spark.plans.pipeline import transform
from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim
from abs_log_spark.streaming import (
    read_sequence_stream,
    run_stream_foreach_batch,
    streaming_minute_agg,
    two_batch_trigger,
)
from abs_log_spark.streaming.pipeline import STREAM_OFFSETS

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


def _drain(spark, cat, input_dir, dim) -> list[tuple[int, int]]:
    """Run the foreachBatch stream over ``input_dir`` to the end, one file
    per micro-batch; returns the ``(batch_id, rows_in)`` pairs reported."""
    rows: list[tuple[int, int]] = []
    run_stream_foreach_batch(
        spark, cat, input_dir, dim, max_files_per_trigger=1,
        on_batch=lambda bid, n: rows.append((bid, n)),
    ).awaitTermination()
    return rows


def _batches(cat) -> list[str]:
    """The checkpoint's ``partition_key`` column, one entry per row, sorted."""
    keys = cat.read_arrow("checkpoint", columns=["partition_key"]).column("partition_key")
    return sorted(keys.to_pylist(), key=int)


def test_foreachbatch_feeds_the_cron_warehouse(
    spark, tmp_catalog, seq_input, reference_catalog, summaries
):
    """Each micro-batch is one ``run_pipeline`` increment keyed by its batch
    id: the stream's ``minute_agg_*`` and ``errors_*`` summaries equal the
    full recompute on every compared measure (exact p50 included), and the
    checkpoint holds one row per batch."""
    seq, input_dir = seq_input
    dim = gen_sources_dim(spark)
    rows = _drain(spark, tmp_catalog, input_dir, dim)

    assert len(rows) >= 2, "multi-file input must produce multiple micro-batches"
    assert sum(n for _, n in rows) == N
    assert _batches(tmp_catalog) == [str(bid) for bid, _ in rows]
    want = summaries(reference_catalog(seq, dim))
    assert summaries(tmp_catalog) == want and want


@pytest.mark.parametrize("replay", ["uncommitted_batch", "crash_in_mark_done"])
def test_foreachbatch_replay_counts_once(
    spark, tmp_catalog, seq_input, reference_catalog, summaries, monkeypatch, count_jobs,
    replay,
):
    """Real replays converge to the reference. ``uncommitted_batch``: the
    last batch's commit is lost, so the restarted query re-runs it over the
    same files; its bucket is done, so it is a no-op that reads 0 rows and
    submits no Spark job.
    ``crash_in_mark_done``: batch 1 dies after its routed rows, partials
    and summaries are staged, before its one commit, so none of it is live;
    the restart re-runs batch 1, then batch 2."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq, input_dir = seq_input
    dim = gen_sources_dim(spark)

    if replay == "uncommitted_batch":
        last = _drain(spark, tmp_catalog, input_dir, dim)[-1][0]
        commits = os.path.join(tmp_catalog.path(STREAM_OFFSETS), "commits")
        for name in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(commits, name)):
                os.remove(os.path.join(commits, name))
        replayed, jobs = count_jobs(lambda: _drain(spark, tmp_catalog, input_dir, dim))
        assert replayed == [(last, 0)]
        assert jobs == 0
    else:
        mark_done = ckpt.mark_done

        def crash_on_batch_1(cat, run_id, done, keys, status="done"):
            if "1" in keys:
                raise RuntimeError("injected crash in mark_done")
            return mark_done(cat, run_id, done, keys, status)

        with monkeypatch.context() as m:
            m.setattr(ckpt, "mark_done", crash_on_batch_1)
            with pytest.raises(StreamingQueryException):
                _drain(spark, tmp_catalog, input_dir, dim)
        assert ckpt.completed_partitions(tmp_catalog) == {"0"}
        assert [bid for bid, _ in _drain(spark, tmp_catalog, input_dir, dim)] == [1, 2]

    assert _batches(tmp_catalog) == ["0", "1", "2"]
    want = summaries(reference_catalog(seq, dim))
    assert summaries(tmp_catalog) == want and want


def test_one_input_per_warehouse(spark, tmp_path, tmp_catalog, seq_input, summaries):
    """The offsets live in the warehouse, so a second input path cannot feed
    it: batch ids would restart at 0 and collide with done buckets. Spark
    refuses the second path and the summaries stay as they were."""
    seq, input_dir = seq_input
    dim = gen_sources_dim(spark)
    _drain(spark, tmp_catalog, input_dir, dim)
    before = summaries(tmp_catalog)

    other = str(tmp_path / "other_input")
    gen_sequences(spark, 300).write.parquet(other)
    with pytest.raises(StreamingQueryException, match="basePath"):
        _drain(spark, tmp_catalog, other, dim)
    assert summaries(tmp_catalog) == before and before


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
