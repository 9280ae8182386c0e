"""Shared Spark fixture: one session for the whole test run (local mode)."""

from __future__ import annotations

import pytest

from abs_log_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="abs-log-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_catalog(tmp_path):
    from abs_log_spark.catalog import Catalog

    return Catalog(root=str(tmp_path / "warehouse"))


SF_DIR = "/root/testdata/sf0.001"


def error_view(routed):
    """abs-log's ``error`` report recomputed from routed rows: hits per
    (sink, minute, status) over the valid rows with status >= 400 ([PK]
    ``log_show.py`` error view) — the reference the production derivation
    from histogram partials (``aggregate.errors_from_hist_partials``) must
    equal."""
    from pyspark.sql import functions as F

    return (
        routed.where(F.col("valid") & (F.col("status") >= 400))
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("sink", "minute", "status")
        .agg(F.count("*").alias("hits"))
    )


@pytest.fixture()
def reference_catalog(spark, tmp_path):
    """Builder for the full-recompute reference that incremental summaries
    must equal: route ``seq`` in one pass, then write every summary table
    from ALL routed history (exact quantiles, no partials, no fold).
    Returns the reference Catalog."""
    from abs_log_spark.catalog import Catalog
    from abs_log_spark.operators.aggregate import minute_agg
    from abs_log_spark.plans.pipeline import (
        fan_out_summary,
        routed_sinks,
        routed_union,
        transform,
    )

    def build(seq, dim):
        cat = Catalog(root=str(tmp_path / "wh_full"))
        cat.write(transform(seq, dim), "_routed_staging",
                  partition_by=("sink", "part_bucket"))
        cat.swap(cat.promote_partitions("_routed_staging", "routed_"))
        allr = routed_union(spark, cat, routed_sinks(cat))
        steps = [
            fan_out_summary(cat, "minute_agg_", minute_agg(allr)),
            fan_out_summary(cat, "errors_", error_view(allr)),
        ]
        cat.swap([m for ms, _ in steps for m in ms], [r for _, rs in steps for r in rs])
        return cat

    return build


@pytest.fixture()
def summaries(spark):
    """``summaries(cat)``: every per-sink summary table's rows, sorted, float
    sums rounded — what an incremental warehouse and its
    ``reference_catalog`` must agree on."""

    def rows(cat) -> dict[str, list[tuple]]:
        out = {}
        for s in ("sink_a", "sink_b", "sink_c"):
            if cat.exists(f"minute_agg_{s}"):
                out[f"minute_agg_{s}"] = sorted(
                    (str(r["minute"]), str(r["uri_abs"]), r["pv"], r["bytes_sum"],
                     round(r["rt_sum"] or 0, 6), round(r["rt_p50"] or 0, 6), r["err_hits"],
                     r["invalid_hits"])
                    for r in cat.read(spark, f"minute_agg_{s}").collect()
                )
            if cat.exists(f"errors_{s}"):
                out[f"errors_{s}"] = sorted(
                    (str(r["minute"]), r["status"], r["hits"])
                    for r in cat.read(spark, f"errors_{s}").collect()
                )
        return out

    return rows
