"""Report-surface extras: approx-distinct scale path, retention expiry."""

from __future__ import annotations

from pyspark.sql import functions as F

from abs_log_spark.operators.retention import expire_buckets
from abs_log_spark.sources.readers import read_table

SF_DIR = "/root/testdata/sf0.001"


def test_approx_count_distinct_close_to_exact(spark):
    """G9 scale path: HLL sketch within 5% of exact distinct per group."""
    ev = read_table(spark, SF_DIR, "events")
    df = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
    )
    for r in df.collect():
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"]), r


def test_log_show_ip_excludes_invalid_rows(spark):
    """[PK] log_show ip counts PARSED hits per source; invalid lines have no
    attributable request and must not inflate per-source hits."""
    import sys, os  # noqa: E401

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.log_show import build_view

    rows = [
        ("src0", 100, True), ("src0", 100, True), ("src0", None, False),
        ("src2", 7, True), ("src1", 50, True), ("src1", None, False), ("src1", None, False),
    ]
    df = spark.createDataFrame(rows, "source string, bytes long, valid boolean")
    view = build_view(df, "ip")
    assert dict(view.dtypes) == {"source": "string", "hits": "bigint", "bytes": "bigint",
                                 "hits_pct": "double", "rank": "int"}
    out = {r.source: (r.hits, r.bytes, r.rank) for r in view.collect()}
    # the src1/src2 tie on hits ranks by source
    assert out == {"src0": (2, 200, 1), "src1": (1, 50, 2), "src2": (1, 7, 3)}


def test_log_show_detail_filters_uri_and_invalid(spark):
    import sys, os  # noqa: E401

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.log_show import build_view

    rows = [
        ("/search", "q=*", 10, 0.5, True),
        ("/search", "q=*", 20, 0.5, True),
        ("/search", "id=*", 30, 0.5, True),
        ("/item/*", "q=*", 40, 0.5, True),
        (None, None, None, None, False),
    ]
    df = spark.createDataFrame(
        rows, "uri_abs string, args_abs string, bytes long, rt double, valid boolean"
    )
    out = build_view(df, "detail", uri="/search").collect()
    got = {(r.uri_abs, r.args_abs): (r.hits, r.hits_pct) for r in out}
    assert got == {("/search", "q=*"): (2, 66.6667), ("/search", "id=*"): (1, 33.3333)}


def test_log_show_error_pivot_layout(spark):
    import sys, os  # noqa: E401

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.log_show import build_view

    rows = [
        ("s", "2024-01-01 00:00:00", 404, 3),
        ("s", "2024-01-01 00:00:00", 500, 1),
        ("s", "2024-01-01 00:01:00", 404, 2),
    ]
    df = spark.createDataFrame(
        rows, "sink string, minute string, status int, hits long"
    ).withColumn("minute", F.to_timestamp("minute"))
    view = build_view(df, "error", pivot=True)
    assert view.dtypes == [("minute", "timestamp"), ("404", "bigint"), ("500", "bigint")]
    out = view.collect()
    assert [r["404"] for r in out] == [3, 2]
    assert [r["500"] for r in out] == [1, 0]  # absent combo filled with 0
    # an empty window has no status columns: the minute column, no rows
    empty = build_view(df.where(F.col("hits") < 0), "error", pivot=True).toPandas()
    assert list(empty.columns) == ["minute"] and len(empty) == 0


def test_expire_buckets_keeps_all_state_consistent(spark, tmp_catalog):
    """Expiring buckets must drop routed data, histogram partials, AND the
    done set together (logging ``expired`` audit rows), then rebuild
    summaries — otherwise the next merge resurrects expired data or a
    re-ingest silently skips."""
    from abs_log_spark.plans import checkpoint as ckpt
    from abs_log_spark.plans.pipeline import run_pipeline, routed_sinks
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    seq = gen_sequences(spark, 600, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")
    pv_all = sum(
        tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    )

    res = expire_buckets(spark, tmp_catalog, ["0", "1"])
    assert res["partials_subtracted"] == 2 and res["routed_partitions"] >= 2
    kept = {"2", "3", "4", "5", "6", "7"}
    assert ckpt.completed_partitions(tmp_catalog) == kept
    expired = tmp_catalog.read_arrow(
        ckpt.CHECKPOINT_TABLE, columns=["partition_key"], filters=[("status", "=", "expired")]
    ).column("partition_key").to_pylist()
    assert sorted(expired) == ["0", "1"]
    assert all(
        {d.split("=", 1)[1] for d in tmp_catalog.listdir(f"routed_{s}", "part_bucket=")} <= kept
        for s in routed_sinks(tmp_catalog)
    )
    pv_after = sum(
        tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    )
    # ground truth: pv counts exactly the VALID rows of the surviving buckets
    from abs_log_spark.plans.pipeline import transform

    valid_expired = (
        transform(seq.where("part_bucket < 2"), dim).where("valid").count()
    )
    assert valid_expired > 0
    assert pv_after == pv_all - valid_expired

    # re-ingesting the expired buckets reprocesses them (no longer done)
    r2 = run_pipeline(spark, tmp_catalog, seq, dim, run_id="r2")
    assert r2["buckets_processed"] == 2
    pv_back = sum(
        tmp_catalog.read(spark, f"minute_agg_{s}").agg(F.sum("pv")).collect()[0][0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    )
    assert pv_back == pv_all


def test_expire_every_bucket_leaves_no_summary(spark, tmp_catalog, monkeypatch, capsys):
    """Expiring every bucket leaves no summary table behind: log_show finds
    nothing to serve (exit 2) instead of the expired rows."""
    import os
    import sys

    from abs_log_spark import session
    from abs_log_spark.plans import checkpoint as ckpt
    from abs_log_spark.plans.pipeline import run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs import log_show

    seq = gen_sequences(spark, 600, invalid_every=10)
    run_pipeline(spark, tmp_catalog, seq, gen_sources_dim(spark), run_id="r1")
    assert tmp_catalog.exists("minute_agg_sink_a")

    expire_buckets(spark, tmp_catalog, [str(b) for b in range(8)])
    assert ckpt.completed_partitions(tmp_catalog) == set()
    assert tmp_catalog.read(spark, "agg_partials").count() == 0
    left = [t for t in os.listdir(tmp_catalog.root) if t.startswith(("minute_agg_", "errors_"))]
    assert left == []
    monkeypatch.setattr(session, "get_spark", lambda **kw: spark)
    for view in ("request", "error"):
        assert log_show.main([tmp_catalog.root, "sink_a", view]) == 2
    assert "no table" in capsys.readouterr().err


def test_summary_tables_day_partitioned_and_pruned(spark, tmp_catalog):
    """Summary tables carry a day=date(minute) partition: a time-ranged
    report prunes whole partition directories (PartitionFilters) instead of
    row-filtering all summary files; null-minute invalid groups survive the
    round trip in the null partition."""
    import datetime

    from abs_log_spark.plans.pipeline import run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    seq = gen_sequences(spark, 600, invalid_every=10)
    dim = gen_sources_dim(spark)
    run_pipeline(spark, tmp_catalog, seq, dim, run_id="r1")

    df = tmp_catalog.read(spark, "minute_agg_sink_a")
    assert "day" in df.columns
    # layout on disk: day= dirs under the table root
    import os

    assert any(
        d.startswith("day=") for d in os.listdir(tmp_catalog.path("minute_agg_sink_a"))
    )
    ranged = df.where(F.col("day") >= F.lit(datetime.date(2024, 1, 1)))
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "day" in plan.split("PartitionFilters", 1)[1][:220]
    # invalid-line group (null minute -> null day partition) is intact
    inv = sum(
        tmp_catalog.read(spark, f"minute_agg_{s}")
        .where(F.col("minute").isNull())
        .agg(F.coalesce(F.sum("invalid_hits"), F.lit(0))).first()[0]
        for s in ("sink_a", "sink_b", "sink_c")
        if tmp_catalog.exists(f"minute_agg_{s}")
    )
    assert inv == 600 // 10


def test_expire_buckets_drops_routed_partitions(spark, tmp_catalog):
    """With nothing folded to subtract, expiry is one swap that only drops
    the buckets' routed partition directories."""
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("part_bucket")
    )
    tmp_catalog.write(df, "routed_x", partition_by=("part_bucket",))
    res = expire_buckets(spark, tmp_catalog, ["0", "2", "9"])
    assert res == {"partials_subtracted": 0, "routed_partitions": 2}
    left = tmp_catalog.read(spark, "routed_x")
    assert set(r[0] for r in left.select("part_bucket").distinct().collect()) == {1, 3}


def _log_show():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs import log_show

    return log_show


def test_log_show_views_job_counts_are_pinned(spark, tmp_catalog):
    """Each view is one SQL plan: the keyless windows of request/ip (and the
    one-endpoint window of detail --uri) run in the aggregate's stage behind
    a one-partition coalesce, so a view is one aggregate's two jobs; the
    pivot reads its status columns with one aggregate and sums them in one
    GROUP BY, four jobs in all. The count includes the table read."""
    from datetime import datetime

    from abs_log_spark.plans.pipeline import run_pipeline
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    ls = _log_show()
    run_pipeline(spark, tmp_catalog, gen_sequences(spark, 600, invalid_every=10),
                 gen_sources_dim(spark), run_id="r1")
    sc = spark.sparkContext
    window = (datetime(2024, 1, 1, 0, 30), datetime(2024, 1, 1, 1, 30))
    limits = (
        ("request", {}, None, 2),
        ("trend", {"group_by": "hour"}, window, 2),
        ("error", {}, None, 2),
        ("error", {"pivot": True}, window, 4),
        ("detail", {"uri": "/api/user/*/profile"}, None, 2),
        ("ip", {}, window, 2),
    )
    for i, (view, kw, win, limit) in enumerate(limits):
        group = f"log_show_view_{i}"
        sc.setJobGroup(group, view)
        try:
            df = tmp_catalog.read(spark, ls.table_for_view("sink_a", view))
            if win:
                ts = "ts" if view in ("detail", "ip") else "minute"
                df = df.where((F.col(ts) >= F.lit(win[0])) & (F.col(ts) < F.lit(win[1])))
            out = ls.build_view(df, view, sink="sink_a", **kw).toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert len(out) > 0, (view, kw)
        assert jobs <= limit, (view, kw, jobs)


def test_log_show_request_parity_and_types(spark):
    """request: hits ties rank by uri_abs, percentages are doubles of the
    period total, hits and bytes stay longs."""
    ls = _log_show()
    m = spark.createDataFrame(
        [("/b", 5, 10, 1.0), ("/a", 3, 20, 2.0), ("/a", 2, 30, 3.0), ("/c", 7, 40, 4.0)],
        "uri_abs string, pv long, bytes_sum long, rt_sum double",
    )
    out = ls.build_view(m, "request", limit=2)
    assert out.columns == ["rank", "uri_abs", "hits", "hits_pct", "bytes", "bytes_pct",
                           "time", "time_pct"]
    types = dict(out.dtypes)
    assert types["rank"] == "int"
    assert types["hits"] == types["bytes"] == "bigint"
    assert {types[c] for c in ("hits_pct", "bytes_pct", "time", "time_pct")} == {"double"}
    assert [tuple(r) for r in out.collect()] == [
        (1, "/c", 7, 41.1765, 40, 40.0, 4.0, 40.0),
        (2, "/a", 5, 29.4118, 50, 50.0, 5.0, 50.0),
    ]
