"""Minute-grained summary aggregates — the heart of abs-log's semantics.

Reference behavior ([PK] ``log_analyse.py``): per (site, minute, uri_abs)
accumulate hits (PV), byte totals, response-time totals, and a quartile
sketch (min/25%/50%/75%/max) of request_time; count invalid lines and
error statuses alongside. Hand-rolled dict accumulation merged across
multiprocessing workers == a partial+final hash aggregate, which Spark's
``groupBy().agg()`` provides natively (map-side combine is automatic).

Quantiles are EXACT on every path. The production summaries fold one-row
histogram partials (:func:`partial_rows` -> :func:`sum_partials` ->
:func:`merge_minute_agg_hist_partials`) whose (rt, count) histogram is
lossless, so no sketch is needed at any scale; :func:`minute_agg` is the
single-pass aggregate over routed rows, the independent reference the fold
is checked against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

GROUP_KEYS = ("sink", "site", "minute", "uri_abs")

_QS = (0.25, 0.5, 0.75)


def minute_agg(routed: DataFrame) -> DataFrame:
    """Per-minute summary per (sink, site, minute, uri_abs), in one pass over
    routed rows, with exact quartiles from ONE array-form ``percentile``.

    Invalid rows (``valid=false``) carry null minute/uri_abs and land in a
    dedicated null-key group with ``invalid_hits`` — never silently dropped
    ([PK] abs-log reports invalid_hits next to hits).
    """
    df = routed.withColumn("minute", F.date_trunc("minute", F.col("ts")))
    ps = F.array(*[F.lit(p) for p in _QS])
    aggs = [
        F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("pv"),
        F.coalesce(F.sum("bytes"), F.lit(0)).cast("long").alias("bytes_sum"),
        F.sum("rt").alias("rt_sum"),
        F.avg("rt").alias("rt_avg"),
        F.min("rt").alias("rt_min"),
        F.percentile("rt", ps).alias("_rt_q"),
        F.max("rt").alias("rt_max"),
        F.sum(F.when(F.col("status") >= 400, 1).otherwise(0)).alias("err_hits"),
        F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("invalid_hits"),
    ]
    out = df.groupBy(*[F.col(k) for k in GROUP_KEYS]).agg(*aggs)
    return out.select(
        *GROUP_KEYS,
        "pv",
        "bytes_sum",
        "rt_sum",
        "rt_avg",
        "rt_min",
        F.element_at("_rt_q", 1).alias("rt_p25"),
        F.element_at("_rt_q", 2).alias("rt_p50"),
        F.element_at("_rt_q", 3).alias("rt_p75"),
        "rt_max",
        "err_hits",
        "invalid_hits",
    )


#: the measures of a histogram partial: exact integer sums, so partials of
#: disjoint row sets add (and subtract) group by group
PARTIAL_MEASURES = ("pv", "bytes_sum", "rt_cnt", "err_hits", "invalid_hits")


def partial_rows(routed: DataFrame, sign: int = 1) -> DataFrame:
    """Each routed row as a ONE-ROW histogram partial at the grain (keys...,
    status, rt), its measures multiplied by ``sign`` (-1 takes the rows back
    out of a fold). A projection, no shuffle: one group-by over any union of
    these rows and stored partials is the fold, with one exchange."""
    minute = F.date_trunc("minute", F.col("ts"))

    def one(cond):
        return F.when(cond, sign).otherwise(0).cast("long")

    return routed.select(
        *[minute.alias(k) if k == "minute" else F.col(k) for k in GROUP_KEYS],
        F.col("status"),
        F.col("rt"),
        one(F.col("valid")).alias("pv"),
        (F.coalesce(F.col("bytes"), F.lit(0)) * sign).cast("long").alias("bytes_sum"),
        one(F.col("rt").isNotNull()).alias("rt_cnt"),
        one(F.col("status") >= 400).alias("err_hits"),
        one(~F.col("valid")).alias("invalid_hits"),
    )


def sum_partials(rows: DataFrame) -> DataFrame:
    """Sum partial rows group by group at their grain (every non-measure
    column)."""
    grain = [c for c in rows.columns if c not in PARTIAL_MEASURES]
    return rows.groupBy(*grain).agg(*[F.sum(m).cast("long").alias(m) for m in PARTIAL_MEASURES])


def minute_agg_hist_partials(routed: DataFrame) -> DataFrame:
    """MERGEABLE minute-agg partials — the incremental-resume path's unit of
    work ([B] north_rule: incremental runs must not re-scan completed
    history): :func:`partial_rows` summed by :func:`sum_partials`.

    Grain: (keys..., status, rt). Carrying the distinct rt values
    WITH their counts makes the partial a lossless histogram: every
    minute_agg measure — including EXACT quantiles — re-derives from
    partials alone, so an incremental run aggregates only its new buckets
    and the final summary is a fold over the (tiny) partials table, never
    the routed history. ``status`` rides in the grain so the error view
    ALSO derives from the same partials — one scan of the increment feeds
    every summary (statuses are a handful of values; the grain growth is
    bounded).

    Scale: partial size per group is bounded by the rt value resolution
    (milliseconds here — the reference logs %.3f request_time [PK]); for a
    continuous measure, quantize rt at this stage (the partial becomes the
    sketch).
    """
    return sum_partials(partial_rows(routed))


def merge_minute_agg_hist_partials(partials: DataFrame) -> DataFrame:
    """Fold histogram partials into the exact minute_agg result (same schema
    and values as :func:`minute_agg` over the full history — verified by the
    oracle twin and pytest equivalence).

    Quantiles use Spark's frequency-weighted exact ``percentile`` over the
    (rt, rt_cnt) histogram — identical interpolation to percentile over the
    expanded raw values. Null rt rows (the invalid-line group) are ignored by
    the aggregate; their frequency is clamped to 1 to satisfy the positive-
    frequency requirement.
    """
    ps = F.array(*[F.lit(p) for p in _QS])
    q = F.percentile(F.col("rt"), ps, F.greatest(F.col("rt_cnt"), F.lit(1)))
    out = partials.groupBy(*[F.col(k) for k in GROUP_KEYS]).agg(
        F.sum("pv").cast("long").alias("pv"),
        F.sum("bytes_sum").cast("long").alias("bytes_sum"),
        F.sum(F.col("rt") * F.col("rt_cnt")).alias("rt_sum"),
        (F.sum(F.col("rt") * F.col("rt_cnt")) / F.sum("rt_cnt")).alias("rt_avg"),
        F.min("rt").alias("rt_min"),
        q.alias("_rt_q"),
        F.max("rt").alias("rt_max"),
        F.sum("err_hits").cast("long").alias("err_hits"),
        F.sum("invalid_hits").cast("long").alias("invalid_hits"),
    )
    return out.select(
        *GROUP_KEYS,
        "pv",
        "bytes_sum",
        "rt_sum",
        "rt_avg",
        "rt_min",
        F.element_at("_rt_q", 1).alias("rt_p25"),
        F.element_at("_rt_q", 2).alias("rt_p50"),
        F.element_at("_rt_q", 3).alias("rt_p75"),
        "rt_max",
        "err_hits",
        "invalid_hits",
    )


def errors_from_hist_partials(partials: DataFrame) -> DataFrame:
    """abs-log's ``error`` report ([PK] ``log_show.py`` error view): hits per
    (sink, minute, error status), derived from the SAME histogram partials
    as the minute summary — no second scan of the routed increment. The
    tests' full-recompute reference (``reference_catalog`` in
    ``tests/conftest.py``) counts the valid routed rows with status >= 400
    instead. The two agree: rows with status >= 400 are valid by
    construction (invalid lines parse to null status), so their pv is
    exactly the error hit count."""
    return (
        partials.where(F.col("status") >= 400)
        .groupBy("sink", "minute", "status")
        .agg(F.sum("pv").cast("long").alias("hits"))
    )
