"""End-to-end pipeline: routing invariants, aggregates, resume idempotency."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from abs_log_spark.operators.aggregate import minute_agg
from abs_log_spark.plans.pipeline import run_pipeline, transform
from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

N = 600


def test_routing_and_token_equality(spark):
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)
    # every input row routed exactly once (J3 semantics)
    assert routed.count() == N
    assert routed.where(F.col("sink").isNull()).count() == 0
    # token-array equality per routed row vs input [B]
    bad = (
        routed.alias("r")
        .join(seq.alias("s"), "doc_id")
        .where(F.col("r.tokens") != F.col("s.tokens"))
        .count()
    )
    assert bad == 0
    # sink fan-out matches the dim rule (source k -> sink k%3)
    per_sink = {r.sink: r.c for r in routed.groupBy("sink").agg(F.count("*").alias("c")).collect()}
    assert sum(per_sink.values()) == N and set(per_sink) <= {"sink_a", "sink_b", "sink_c"}


def test_sources_dim_is_a_local_relation(spark):
    """The dimension is a LocalTableScan, so the routed write's broadcast
    starts no Python-worker job; its rows are the source -> sink/site/region
    rule."""
    from abs_log_spark.operators.enrich import enrich

    dim = gen_sources_dim(spark)
    plan = dim._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert sorted(tuple(r) for r in dim.collect()) == sorted(
        (f"src{k}", ("sink_a", "sink_b", "sink_c")[k % 3], f"site{k % 4}",
         ("us", "eu", "ap")[k % 3])
        for k in range(10)
    )
    assert gen_sources_dim(spark, n_sources=20).count() == 20
    joined = enrich(spark.range(12).selectExpr("concat('src', id) AS source"), dim)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan and "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    assert {r.source: r.sink for r in joined.collect()}["src11"] == "sink_default"


def test_minute_agg_matches_bruteforce(spark):
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)
    agg = minute_agg(routed)
    # cross-check one group against a driver-side brute force
    rows = routed.where(F.col("valid")).collect()
    import collections
    import statistics

    groups = collections.defaultdict(list)
    for r in rows:
        minute = r.ts.replace(second=0, microsecond=0)
        groups[(r.sink, r.site, minute, r.uri_abs)].append(r)
    got = {
        (r.sink, r.site, r.minute, r.uri_abs): r
        for r in agg.where(F.col("uri_abs").isNotNull()).collect()
    }
    assert set(got) == set(groups)
    for k, rs in groups.items():
        g = got[k]
        assert g.pv == len(rs)
        assert g.bytes_sum == sum(r.bytes for r in rs)
        assert abs(g.rt_sum - sum(r.rt for r in rs)) < 1e-9
        assert g.err_hits == sum(1 for r in rs if r.status >= 400)
        rts = sorted(r.rt for r in rs)
        assert g.rt_min == rts[0] and g.rt_max == rts[-1]
        qs = statistics.quantiles(rts, n=4, method="inclusive") if len(rts) > 1 else [rts[0]] * 3
        assert abs(g.rt_p50 - qs[1]) < 1e-9
    # invalid rows land in the null-key group, never dropped
    inv = agg.where(F.col("uri_abs").isNull()).agg(F.sum("invalid_hits").alias("i")).collect()[0].i
    assert inv == N // 10


def test_trend_regroup(spark):
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.log_show import build_view

    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    m = minute_agg(transform(seq, dim))
    hourly = build_view(m, "trend", group_by="hour")
    assert hourly.agg(F.sum("pv")).collect()[0][0] == m.agg(F.sum("pv")).collect()[0][0]
    assert hourly.select("bucket").distinct().count() == 2  # 2-hour fixture window


def test_pipeline_run_and_resume(spark, tmp_catalog):
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    r1 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    assert r1["rows_in"] == N and r1["buckets_processed"] == 8
    total = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total == N
    agg1 = {
        s: tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    }
    # re-run: all buckets checkpointed -> nothing reprocessed, outputs identical
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 0 and r2["buckets_skipped"] == 8
    total2 = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total2 == N  # no duplicates
    for s, v in agg1.items():
        assert tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0] == v


def test_rerun_with_nothing_pending_returns_zero_row_counts(
    spark, tmp_catalog, tmp_path, monkeypatch, summaries
):
    """A run whose input is all done commits nothing: no ``Catalog.swap``,
    no summary write, at most the routed write's two Spark jobs over the
    production input layout (the pending filter prunes every partition),
    the summaries and the done set unchanged. It still appends its
    ``metrics`` row and returns the four row counts that row records, as
    0."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.plans import checkpoint as ckpt

    input_dir = str(tmp_path / "sequences")
    gen_sequences(spark, N, invalid_every=10).write.partitionBy("part_bucket").parquet(
        input_dir
    )
    seq = spark.read.parquet(input_dir)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    snap, done = summaries(tmp_catalog), ckpt.completed_partitions(tmp_catalog)
    calls = []
    write = Catalog.write

    def logged_write(self, df, table, *args, **kwargs):
        calls.append(table)
        return write(self, df, table, *args, **kwargs)

    sc = spark.sparkContext

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    with monkeypatch.context() as m:
        m.setattr(Catalog, "swap", lambda *a, **k: calls.append("swap"))
        m.setattr(Catalog, "write", logged_write)
        before = job_ids()
        r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
        jobs = len(job_ids() - before)
    assert calls == ["_routed_staging"]
    assert 0 < jobs <= 2, jobs
    counts = ("rows_in", "rows_valid", "rows_invalid", "rows_routed")
    assert r2["buckets_processed"] == 0
    assert {k: r2.get(k) for k in counts} == dict.fromkeys(counts, 0)
    rows = tmp_catalog.read_arrow(
        "metrics", columns=["run_id", *counts], filters=[("run_id", "=", "r2")]
    ).to_pylist()
    assert rows == [{"run_id": "r2", **dict.fromkeys(counts, 0)}]
    assert summaries(tmp_catalog) == snap and snap
    assert ckpt.completed_partitions(tmp_catalog) == done


def test_pipeline_partial_resume(spark, tmp_catalog):
    """Simulate a crash after half the buckets: second run completes the rest."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    half = seq.where(F.col("part_bucket") < 4)
    run_pipeline(spark, tmp_catalog, half, dim, run_id="r1")
    done = ckpt.completed_partitions(tmp_catalog)
    assert done == {"0", "1", "2", "3"}
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 4  # only the missing half
    total = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total == N


def test_hist_partials_merge_equals_exact_minute_agg(spark):
    """The incremental-resume primitive: per-bucket histogram partials folded
    back together must equal the exact single-pass aggregate on EVERY column
    (including exact quantiles and the invalid-row null-key group)."""
    import math

    from abs_log_spark.operators.aggregate import (
        merge_minute_agg_hist_partials,
        minute_agg_hist_partials,
    )

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    routed = transform(seq, dim)

    merged = merge_minute_agg_hist_partials(minute_agg_hist_partials(routed))
    full = minute_agg(routed)

    cols = full.columns
    def keyed(df):
        return {
            tuple(str(r[k]) for k in ("sink", "site", "minute", "uri_abs")): r
            for r in df.collect()
        }

    got, want = keyed(merged), keyed(full)
    assert set(got) == set(want) and len(want) > 0
    for k, w in want.items():
        g = got[k]
        for c in cols[4:]:
            gv, wv = g[c], w[c]
            if gv is None and wv is None:
                continue
            assert math.isclose(gv, wv, rel_tol=1e-9, abs_tol=1e-12), (k, c, gv, wv)


def test_incremental_agg_on_resume(spark, tmp_catalog, reference_catalog, summaries):
    """A resumed run's summary aggregation reads ONLY the new buckets (the
    increment), yet the final summaries equal a full recompute."""
    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    half = seq.where(F.col("part_bucket") < 4)
    run_pipeline(spark, tmp_catalog, half, dim, run_id="r1")
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 4

    # (a) the resumed run's aggregate input is the increment, not the history
    n_increment = seq.where(F.col("part_bucket") >= 4).count()
    assert 0 < n_increment < N
    assert r2["rows_agg_input"] == n_increment

    # (b) the scan that feeds the partials is partition-pruned to the new
    # buckets (the isin predicate lands in PartitionFilters)
    import contextlib
    import io

    pruned = tmp_catalog.read(spark, "routed_sink_a").where(
        F.col("part_bucket").isin([4, 5, 6, 7])
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "part_bucket" in plan.split("PartitionFilters", 1)[1][:200]

    # (c) summaries identical to a from-scratch full recompute
    want = summaries(reference_catalog(seq, dim))
    assert summaries(tmp_catalog) == want and want


def test_null_bucket_is_a_bucket_like_any_other(spark, tmp_catalog, reference_catalog, summaries):
    """Input rows with a null ``part_bucket`` land in Spark's null partition
    of every table; the run summarizes them like any bucket, checkpoints
    them as NULL_BUCKET, and a re-run skips them."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq = gen_sequences(spark, N, invalid_every=10)
    seq = seq.withColumn("part_bucket", F.when(F.col("part_bucket") != 0, F.col("part_bucket")))
    dim = gen_sources_dim(spark)
    r1 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    assert r1["rows_in"] == N and r1["buckets_processed"] == 8
    assert summaries(tmp_catalog) == summaries(reference_catalog(seq, dim))
    assert ckpt.NULL_BUCKET in ckpt.completed_partitions(tmp_catalog)

    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 0 and r2["buckets_skipped"] == 8


def test_incremental_agg_bucket_rerun_idempotent(
    spark, tmp_catalog, monkeypatch, reference_catalog, summaries
):
    """Re-running a bucket whose cycle crashed inside its swap, before the
    journal landed (routed rows, partials and summaries staged, nothing
    committed), routes and folds it once instead of double-counting."""
    import os

    from abs_log_spark.catalog import SWAP_JOURNAL
    from abs_log_spark.plans import checkpoint as ckpt

    class Crash(Exception):
        pass

    seq = gen_sequences(spark, N)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq.where(F.col("part_bucket") < 7), dim, run_id="r1")
    replace = os.replace

    def crash_at_journal(src, dst):
        if dst.endswith(SWAP_JOURNAL):
            raise Crash
        return replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crash_at_journal)
        with pytest.raises(Crash):
            run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert ckpt.completed_partitions(tmp_catalog) == {str(b) for b in range(7)}

    r3 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r3")
    assert r3["buckets_processed"] == 1
    assert r3["rows_agg_input"] == seq.where(F.col("part_bucket") == 7).count()
    assert summaries(tmp_catalog) == summaries(reference_catalog(seq, dim))


def test_crash_inside_the_fold_leaves_live_warehouse_untouched(
    spark, tmp_catalog, monkeypatch, reference_catalog, summaries
):
    """A crash inside the fold, after the routed write, leaves every live
    table as it was: the cycle's routed rows stay in the staging, so no
    routed bucket exists that is not done. The re-run over the same input
    ingests the bucket again, and the summaries equal a full recompute."""
    from abs_log_spark.plans import checkpoint as ckpt, pipeline

    class Crash(Exception):
        pass

    def crash(*args, **kwargs):
        raise Crash

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq.where(F.col("part_bucket") < 7), dim, run_id="r1")

    def live():
        return {
            t: sorted(os.path.relpath(os.path.join(d, f), tmp_catalog.root)
                      for d, _, fs in os.walk(tmp_catalog.path(t)) for f in fs)
            for t in os.listdir(tmp_catalog.root) if not t.startswith(("_", "."))
        }

    snap = live()
    with monkeypatch.context() as m:
        m.setattr(pipeline, "compact_partials", crash)
        with pytest.raises(Crash):
            run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert live() == snap  # bucket 7 has no routed partition
    assert ckpt.completed_partitions(tmp_catalog) == {str(b) for b in range(7)}

    r3 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r3")
    assert r3["buckets_processed"] == 1
    assert r3["rows_agg_input"] == seq.where(F.col("part_bucket") == 7).count()
    assert ckpt.completed_partitions(tmp_catalog) == {str(b) for b in range(8)}
    assert summaries(tmp_catalog) == summaries(reference_catalog(seq, dim))


def test_missing_agg_partials_table_backfills(spark, tmp_catalog, summaries):
    """A warehouse whose whole agg_partials table is gone has lost its done
    set with it: the next run re-ingests every bucket of its input (the
    routed partitions are replaced, not added to), so the summaries come
    back unchanged instead of being rebuilt from an empty partials table."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    snap = summaries(tmp_catalog)
    tmp_catalog.drop("agg_partials")
    assert ckpt.completed_partitions(tmp_catalog) == set()
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 8 and r2["rows_agg_input"] == N
    assert ckpt.completed_partitions(tmp_catalog) == {str(b) for b in range(8)}
    assert summaries(tmp_catalog) == snap and snap


def test_deleted_checkpoint_table_is_not_state(spark, tmp_catalog, summaries):
    """The checkpoint table is an audit log no run reads: with it deleted,
    the next run over the same input still skips every done bucket and the
    summaries do not move."""
    from abs_log_spark.plans import checkpoint as ckpt

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    snap = summaries(tmp_catalog)
    tmp_catalog.drop(ckpt.CHECKPOINT_TABLE)
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 0 and r2["buckets_skipped"] == 8
    assert summaries(tmp_catalog) == snap and snap


def test_aligned_mode_matches_unaligned(spark, tmp_path):
    """input_aligned (shuffle-free routing over layout-clustered input) must
    produce identical routed counts and minute aggregates to the default
    shuffled path."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    seq = gen_sequences(spark, 5000, invalid_every=250)
    aligned_dir = str(tmp_path / "aligned_in")
    seq.repartitionByRange(8, "source", "part_bucket", "doc_id").write.parquet(aligned_dir)
    dim = gen_sources_dim(spark)

    outs = {}
    for mode, cfg in (
        ("shuffled", PipelineConfig(resume=False)),
        ("aligned", PipelineConfig(resume=False, input_aligned=True)),
    ):
        cat = Catalog(root=str(tmp_path / f"wh_{mode}"))
        src = spark.read.parquet(aligned_dir) if mode == "aligned" else seq
        run_pipeline(spark, cat, src, dim, run_id=mode, cfg=cfg)
        agg = cat.read(spark, "minute_agg_sink_a")
        outs[mode] = sorted(
            (str(r["minute"]), r["uri_abs"], r["pv"], r["bytes_sum"], r["err_hits"])
            for r in agg.collect()
        )
    assert outs["aligned"] == outs["shuffled"]
    assert len(outs["aligned"]) > 0


def test_exclusion_filter(spark):
    """P4: valid rows matching exclude_uri never enter routing/stats;
    invalid rows are still counted."""
    from abs_log_spark.plans.pipeline import PipelineConfig, transform
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    seq = gen_sequences(spark, 1000, invalid_every=100)
    dim = gen_sources_dim(spark)
    base = transform(seq, dim)
    excl = transform(seq, dim, PipelineConfig(exclude_uri=r"^/static/"))
    n_static = base.where("valid and uri rlike '^/static/'").count()
    assert n_static > 0
    assert excl.count() == base.count() - n_static
    assert excl.where("valid and uri rlike '^/static/'").count() == 0
    assert (
        excl.where("not valid").count() == base.where("not valid").count()
    )


def test_zipf_skew_and_aligned_layout_balance(spark):
    """The synth fixture is Zipf-hot (src0 ~ half the rows — the [B] 'hot
    sources' axis); range-clustering on (source, part_bucket, doc_id)
    splits that hot source across partitions so no task exceeds ~2x the
    mean — the layout half of the skew story (AQE skew-join is conf)."""
    from pyspark.sql import functions as F

    from abs_log_spark.sources.synth import gen_sequences

    seq = gen_sequences(spark, 20000)
    frac = (
        seq.where("source = 'src0'").count() / 20000
    )
    assert 0.4 < frac < 0.6, f"src0 fraction {frac} not Zipf-hot"

    aligned = seq.repartitionByRange(16, "source", "part_bucket", "doc_id")
    sizes = (
        aligned.withColumn("p", F.spark_partition_id())
        .groupBy("p").count().select("count").toPandas()["count"]
    )
    assert sizes.max() <= 2.0 * sizes.mean(), (
        f"aligned layout leaves a straggler partition: {sorted(sizes)}"
    )


@pytest.fixture()
def small_advisory_size(spark):
    """AQE's advisory partition size cut to 64 KB for one test, so a few
    thousand rows make a partition dir AQE splits."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    yield
    spark.conf.set(key, old)


def _data_files(cat, rel: str) -> list[str]:
    return [f for f in os.listdir(cat.path(rel)) if f.startswith("part-")]


def test_summary_write_splits_a_hot_sink_day(spark, tmp_catalog, small_advisory_size):
    """The summary write rebalances on ``(_sink, day)``: each day of a hot
    sink is split into several files written by several tasks, a small
    sink's day stays one file, and every row comes back once."""
    from abs_log_spark.plans.pipeline import fan_out_summary

    day0 = F.lit("2026-01-01 00:00:00").cast("timestamp")
    hot = spark.range(0, 40000, numPartitions=4).select(
        F.lit("hot").alias("sink"),
        (day0 + F.make_interval(days=F.col("id") % 2, mins=F.col("id") % 1440)).alias("minute"),
        F.sha2(F.col("id").cast("string"), 256).alias("uri_abs"),
        F.col("id").alias("pv"),
    )
    cold = hot.where("pv < 10").withColumns({"sink": F.lit("cold"), "minute": day0})
    summary = hot.unionByName(cold)
    cat = tmp_catalog
    cat.swap(*fan_out_summary(cat, "minute_agg_", summary))

    for day in ("2026-01-01", "2026-01-02"):
        assert len(_data_files(cat, f"minute_agg_hot/day={day}")) > 1
    assert cat.listdir("minute_agg_cold") == ["day=2026-01-01"]
    assert len(_data_files(cat, "minute_agg_cold/day=2026-01-01")) == 1
    cols = ["sink", "minute", "uri_abs", "pv"]
    got = cat.read(spark, "minute_agg_hot").unionByName(cat.read(spark, "minute_agg_cold"))
    assert sorted(got.select(cols).collect()) == sorted(summary.select(cols).collect())


def test_routed_write_splits_a_hot_partition_dir(spark, tmp_catalog, small_advisory_size):
    """The routed write rebalances on ``(sink, part_bucket)``: the hot
    ``src0`` rows of ``sink_a`` land as several files in one partition dir,
    a small sink's dir is one file, and every routed row keeps its token
    array."""
    hot = gen_sequences(spark, 8000, buckets=1, partitions=4).where("source = 'src0'")
    cold = gen_sequences(spark, 200, buckets=1).where("source = 'src1'")
    seq = hot.unionByName(cold)
    run_pipeline(spark, tmp_catalog, seq, gen_sources_dim(spark), run_id="r1")

    assert len(_data_files(tmp_catalog, "routed_sink_a/part_bucket=0")) > 1
    assert len(_data_files(tmp_catalog, "routed_sink_b/part_bucket=0")) == 1
    routed = tmp_catalog.read(spark, "routed_sink_a").unionByName(
        tmp_catalog.read(spark, "routed_sink_b")
    )
    cols = ["doc_id", "tokens"]
    assert sorted(routed.select(cols).collect()) == sorted(seq.select(cols).collect())


def test_crashed_staging_recovery(spark, tmp_catalog):
    """A crash mid-staging-write leaves _routed_staging behind; the next run
    must clear it and produce exactly the clean-run outputs (idempotence of
    the promote protocol)."""
    import os

    from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    # simulate a crashed run: stale partial staging with garbage partitions
    stale = tmp_catalog.path("_routed_staging")
    os.makedirs(os.path.join(stale, "sink=sink_a", "part_bucket=99"))
    with open(os.path.join(stale, "sink=sink_a", "part_bucket=99", "part-junk.parquet"), "w") as f:
        f.write("not parquet")

    seq = gen_sequences(spark, 2000, invalid_every=0)
    dim = gen_sources_dim(spark)
    summary = run_pipeline(spark, tmp_catalog, seq, dim, run_id="recover",
                           cfg=PipelineConfig(resume=True))
    assert summary["rows_in"] == 2000
    assert not os.path.exists(stale)
    # garbage bucket never promoted
    assert not os.path.exists(tmp_catalog.path("routed_sink_a") + "/part_bucket=99")
    total = sum(
        tmp_catalog.read(spark, f"routed_{s}").count()
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"routed_{s}")
    )
    assert total == 2000


def test_resumed_increment_bookkeeping_runs_no_spark_jobs(spark, tmp_catalog, monkeypatch):
    """A cron increment is bound by scheduling, not data: the checkpoint
    read and mark, the metrics row and the catalog's schema lookups run on
    the driver and add no Spark job to a resumed one-bucket run."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.plans import checkpoint as ckpt
    from abs_log_spark.plans.metrics import StageMetrics

    seq = gen_sequences(spark, N, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq.where(F.col("part_bucket") < 7), dim, run_id="r1")

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set[int]:
        # job-start events reach the status store through the async
        # listener bus; drain it so no job escapes the count
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    added: dict[str, int] = {}

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            before = job_ids()
            try:
                return fn(*args, **kwargs)
            finally:
                added[name] = added.get(name, 0) + len(job_ids() - before)

        return wrapper

    for owner, attr in (
        (ckpt, "completed_partitions"),
        (ckpt, "mark_done"),
        (StageMetrics, "flush"),
        (Catalog, "read"),
    ):
        monkeypatch.setattr(owner, attr, counting(attr, getattr(owner, attr)))

    before = job_ids()
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    total = len(job_ids() - before)
    assert r2["buckets_processed"] == 1 and r2["buckets_skipped"] == 7
    assert total > 0  # the counter sees the run's own write jobs
    # every wrapped call ran (its key is present) and added no job
    assert added == {"completed_partitions": 0, "mark_done": 0, "flush": 0, "read": 0}


def test_warm_increment_compiles_no_generated_code(spark, tmp_catalog, tmp_path):
    """A long-lived engine process (cron loop, report server, foreachBatch)
    must keep its generated classes cached across cycles. A cron cycle (one
    increment, then the log_show reports) touches more distinct classes
    than Spark's default codegen cache of 100 holds; a cache that small
    evicts them before their next use and recompiles every cycle."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.log_show import build_view, table_for_view

    # the production layout: the bucket predicate is a partition filter,
    # not a literal compiled into generated code
    input_dir = str(tmp_path / "sequences")
    gen_sequences(spark, N, invalid_every=10).write.partitionBy("part_bucket").parquet(
        input_dir
    )
    seq = spark.read.parquet(input_dir)
    dim = gen_sources_dim(spark)
    runs = []
    for k in (6, 7, 8):
        runs.append(
            run_pipeline(
                spark, tmp_catalog, seq.where(F.col("part_bucket") < k), dim, run_id=f"r{k}"
            )
        )
        for view, kw in (
            ("request", {}),
            ("trend", {}),
            ("error", {}),
            ("error", {"pivot": True}),
            ("detail", {"uri": "/api/user/*/profile"}),
            ("ip", {}),
        ):
            df = tmp_catalog.read(spark, table_for_view("sink_a", view))
            build_view(df, view, sink="sink_a", **kw).collect()
    assert [r["buckets_processed"] for r in runs] == [6, 1, 1]
    assert runs[-1]["codegen_compiles"] == 0, [r["codegen_compiles"] for r in runs]


def test_resume_cost_does_not_grow_with_done_buckets(spark, tmp_path):
    """A one-bucket increment runs the same Spark jobs over 16 or 70 done
    buckets of real routed history: the pending filter prunes the input
    scan to the increment's partitions, and the fold reads the increment
    from the routed staging, never the routed tables, whose listing would
    cost a Spark job per sink past 32 partition directories. The count
    includes the summary writes' pool-thread jobs, which carry no job
    group."""
    from abs_log_spark.catalog import Catalog

    input_dir = str(tmp_path / "sequences")
    gen_sequences(spark, 71 * 8, buckets=71).coalesce(1).write.partitionBy(
        "part_bucket"
    ).parquet(input_dir)
    seq = spark.read.parquet(input_dir)
    dim = gen_sources_dim(spark)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    def counted_increment(history: int) -> tuple[dict, int]:
        cat = Catalog(root=str(tmp_path / f"wh_{history}"))
        run_pipeline(spark, cat, seq.where(F.col("part_bucket") < history), dim, run_id="h")
        before = job_ids()
        vals = run_pipeline(spark, cat, seq.where(F.col("part_bucket") <= history), dim,
                            run_id="inc")
        return vals, len(job_ids() - before)

    short, long = counted_increment(16), counted_increment(70)
    for (vals, _), history in ((short, 16), (long, 70)):
        assert vals["buckets_processed"] == 1 and vals["buckets_skipped"] == history
        assert vals["rows_in"] == seq.where(F.col("part_bucket") == history).count() > 0
    assert short[1] == long[1], (short[1], long[1])


def test_bucket_in_ranges_keep_what_an_in_list_keeps(spark):
    """``bucket_in`` range-encodes runs of consecutive keys; on random gappy
    key sets (the null bucket in some) it keeps exactly the rows a plain IN
    list keeps, and it is never null."""
    import random

    from abs_log_spark.plans import checkpoint as ckpt

    rng = random.Random(11)
    df = spark.range(130).select(
        F.when(F.col("id") % 17 != 5, F.col("id")).cast("int").alias("part_bucket")
    )
    sets = [set(), {ckpt.NULL_BUCKET}, {"3"}, {"3", "4"}, {str(k) for k in range(130)}]
    for _ in range(16):
        p = rng.choice((0.2, 0.6, 0.95))
        keys = {str(k) for k in range(-5, 135) if rng.random() < p}
        if rng.random() < 0.5:
            keys.add(ckpt.NULL_BUCKET)
        sets.append(keys)

    def in_list(keys):
        ints = ", ".join(k for k in keys if k != ckpt.NULL_BUCKET)
        hit = f"coalesce(part_bucket IN ({ints}), false)" if ints else "false"
        return F.expr(f"part_bucket IS NULL OR {hit}" if ckpt.NULL_BUCKET in keys else hit)

    rows = df.select(*[
        c for i, keys in enumerate(sets)
        for c in (ckpt.bucket_in(keys).alias(f"r{i}"), in_list(keys).alias(f"l{i}"))
    ]).collect()
    for i, keys in enumerate(sets):
        got = [r[f"r{i}"] for r in rows]
        assert None not in got and got == [r[f"l{i}"] for r in rows], sorted(keys)


def test_bucket_in_contiguous_keys_stay_a_short_partition_filter(spark, tmp_path):
    """At 10^5 done keys that form runs, the pending predicate is a few
    terms, not a 10^5-item list, and Spark keeps it in the scan's
    PartitionFilters: only the pending bucket directories are read."""
    from abs_log_spark.plans import checkpoint as ckpt

    path = str(tmp_path / "t")
    spark.range(400).select(
        F.col("id"), (F.col("id") % 40).cast("int").alias("part_bucket")
    ).write.partitionBy("part_bucket").parquet(path)
    done = {str(k) for k in range(10**5)} - {str(k) for k in range(30, 40)}
    pred = ckpt.bucket_in(done)
    assert str(pred).count(" OR ") <= 2 and len(str(pred)) < 200, str(pred)

    pending = ckpt.filter_pending(spark.read.parquet(path), done)
    plan = pending._jdf.queryExecution().executedPlan().toString()
    assert "part_bucket" in plan.split("PartitionFilters", 1)[1][:200], plan
    assert pending.count() == 100
