"""Report CLI over the pipeline warehouse — abs-log's ``log_show`` restated.

[PK] reference surface: ``log_show <site> [-f ymdHM -t ymdHM -l N
-g minute|ten_min|hour|day] [request | distribution | error | ip]`` querying
the MongoDB minute docs and printing fixed-width tables. Here the minute
docs are the pipeline's ``minute_agg_<sink>`` / ``errors_<sink>`` parquet
tables and every view is one Spark SQL plan over them — the aggregation runs
in Spark, not the client.

Usage:
    python jobs/log_show.py WAREHOUSE SINK request [--limit 10] [--from 202401010000] [--to ...]
    python jobs/log_show.py WAREHOUSE SINK trend --group-by hour
    python jobs/log_show.py WAREHOUSE SINK error
"""

from __future__ import annotations

import argparse
import sys


def _parse_ymdhm(s: str):
    from datetime import datetime

    return datetime.strptime(s, "%Y%m%d%H%M")


def table_for_view(sink: str, view: str) -> str:
    """Which warehouse table a view reads: error -> errors_<sink>;
    detail/ip drill past the minute summaries into the routed rows
    (column-pruned parquet read: args_abs/source/measures only);
    everything else reads the minute summaries."""
    if view == "error":
        return f"errors_{sink}"
    if view in ("detail", "ip"):
        return f"routed_{sink}"
    return f"minute_agg_{sink}"


#: ``--group-by`` grain -> the SQL expression of a minute's trend bucket
_GRAIN = {
    "minute": "minute",
    "ten_min": "timestamp_seconds(floor(unix_timestamp(minute) / 600) * 600)",
    "hour": "date_trunc('hour', minute)",
    "day": "date_trunc('day', minute)",
}

# Each view is one SQL text: one analysed plan per view instead of a chain of
# DataFrame calls, each analysed on its own. ``{df}`` is the input relation,
# ``:uri`` a bound parameter, the other fields are SQL fragments. ``100.0D``:
# a plain ``100.0`` is a DECIMAL literal.
#
# The keyless windows of ``request`` and ``ip`` sit on a COALESCE(1)-hinted
# aggregate: it is already one partition, so the windows need no
# ``Exchange SinglePartition`` and run in the aggregate's stage (2 jobs).
# The grouped rows are abstract URIs or sources, so they stay few.
_REQUEST_SQL = """
SELECT rank, uri_abs, hits, hits_pct, bytes, bytes_pct, round(`time`, 3) AS `time`, time_pct
FROM (
  SELECT *, row_number() OVER (ORDER BY hits DESC, uri_abs) AS rank,
         round(hits * 100.0D / sum(hits) OVER (), 4) AS hits_pct,
         round(bytes * 100.0D / sum(bytes) OVER (), 4) AS bytes_pct,
         round(`time` * 100.0D / sum(`time`) OVER (), 4) AS time_pct
  FROM (SELECT /*+ COALESCE(1) */ uri_abs, sum(pv) AS hits, sum(bytes_sum) AS bytes,
               sum(rt_sum) AS `time`
        FROM {df} GROUP BY uri_abs))
WHERE rank <= {limit}"""

_IP_SQL = """
SELECT source, hits, bytes, hits_pct, rank
FROM (
  SELECT *, round(hits * 100.0D / sum(hits) OVER (), 4) AS hits_pct,
         row_number() OVER (ORDER BY hits DESC, source) AS rank
  FROM (SELECT /*+ COALESCE(1) */ source, count(*) AS hits, sum(bytes) AS bytes
        FROM {df} WHERE valid GROUP BY source))
WHERE rank <= {limit}"""

# One endpoint's rows are one partition too; over every endpoint the
# windows stay partitioned by uri_abs.
_DETAIL_SQL = """
SELECT uri_abs, args_abs, hits, bytes, `time`, hits_pct, rank
FROM (
  SELECT *, round(hits * 100.0D / sum(hits) OVER (PARTITION BY uri_abs), 4) AS hits_pct,
         row_number() OVER (PARTITION BY uri_abs ORDER BY hits DESC, args_abs) AS rank
  FROM (SELECT {hint} uri_abs, args_abs, count(*) AS hits, sum(bytes) AS bytes,
               round(sum(rt), 3) AS `time`
        FROM {df} WHERE valid {uri_filter} GROUP BY uri_abs, args_abs))
WHERE rank <= {limit}"""

_TREND_SQL = """
SELECT {bucket} AS bucket, sum(pv) AS pv, CAST(sum(bytes_sum) AS BIGINT) AS bytes_sum,
       sum(rt_sum) AS rt_sum, min(rt_min) AS rt_min, max(rt_max) AS rt_max,
       sum(err_hits) AS err_hits, sum(invalid_hits) AS invalid_hits
FROM {df} {uri_filter} GROUP BY 1 ORDER BY bucket LIMIT {limit}"""

_ERROR_SQL = """
SELECT status, sum(hits) AS hits FROM {df} GROUP BY status ORDER BY hits DESC LIMIT {limit}"""

# The pivot's column set is read by one aggregate; the minute rows are then
# one GROUP BY with a FILTER sum per status: one exchange, where
# ``pivot(values)`` plans two and ``pivot()`` adds discovery jobs.
_STATUSES_SQL = "SELECT sort_array(collect_set(status)) FROM {df}"
_PIVOT_SQL = "SELECT minute{sums} FROM {df} GROUP BY minute ORDER BY minute LIMIT {limit}"


def build_view(df, view: str, *, sink: str = "", uri: str | None = None,
               limit: int = 10, group_by: str = "hour", pivot: bool = False):
    """Pure DataFrame -> DataFrame report views ([PK] log_show.py layouts);
    ``df`` is the table named by :func:`table_for_view`. Rank ties break by
    the group key; ``sink`` names the table's sink and changes no view."""

    def sql(text: str, **parts):
        text = text.format(df="{df}", limit=int(limit), **parts)
        return df.sparkSession.sql(text, {"uri": uri} if uri else None, df=df)

    if view == "request":
        return sql(_REQUEST_SQL)
    if view in ("trend", "distribution"):
        # reference name: 'distribution' — per-bucket totals, optionally for
        # a single abstracted endpoint ([PK] log_show request distribution
        # <uri>). Quantiles do not re-aggregate from quartile columns, so
        # (like the reference) the coarse view carries totals only.
        if group_by not in _GRAIN:
            raise ValueError(f"unknown grain: {group_by}")
        return sql(_TREND_SQL, bucket=_GRAIN[group_by],
                   uri_filter="WHERE uri_abs = :uri" if uri else "")
    if view == "detail":
        # reference: log_show request detail <uri> — per-args breakdown of
        # one abstracted endpoint ([PK] log_show.py detail view)
        return sql(_DETAIL_SQL, hint="/*+ COALESCE(1) */" if uri else "",
                   uri_filter="AND uri_abs = :uri" if uri else "")
    if view == "ip":
        # reference: log_show ip — top sources by PARSED hits ([PK] ip view);
        # invalid lines have no attributable request and never count here
        return sql(_IP_SQL)
    if view == "error":
        if not pivot:
            return sql(_ERROR_SQL)
        # G7 optional layout: minute rows x status columns, absent
        # (minute, status) cells 0. Statuses are integers.
        statuses = sql(_STATUSES_SQL).first()[0]
        sums = "".join(
            f", coalesce(sum(hits) FILTER (WHERE status = {int(s)}), 0) AS `{s}`"
            for s in statuses
        )
        return sql(_PIVOT_SQL, sums=sums)
    raise ValueError(f"unknown view: {view}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="abs-log-spark report CLI")
    p.add_argument("warehouse")
    p.add_argument("sink")
    p.add_argument("view", choices=["request", "trend", "distribution", "error", "detail", "ip"])
    p.add_argument("--uri", default=None, help="uri_abs filter (detail / trend views)")
    p.add_argument("--from", dest="t_from", default=None, help="YYYYMMDDHHMM")
    p.add_argument("--to", dest="t_to", default=None, help="YYYYMMDDHHMM")
    p.add_argument("-l", "--limit", type=int, default=10)
    p.add_argument(
        "-g", "--group-by", default="hour", choices=["minute", "ten_min", "hour", "day"]
    )
    p.add_argument("--pivot", action="store_true",
                   help="error view: minute rows x status columns")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from abs_log_spark.catalog import Catalog
    from abs_log_spark.session import get_spark

    spark = get_spark(app_name="abs-log-spark:log_show", master=args.master)
    cat = Catalog(root=args.warehouse)

    table = table_for_view(args.sink, args.view)
    if not cat.exists(table):
        print(f"no table {table} under {args.warehouse}", file=sys.stderr)
        return 2
    df = cat.read(spark, table)
    ts_col = "ts" if args.view in ("detail", "ip") else "minute"
    # summary tables are partitioned by day: the coarse day predicate prunes
    # whole partition directories at the scan (PartitionFilters), the minute
    # predicate then row-filters inside the boundary days only
    has_day = "day" in df.columns
    if args.t_from:
        t0 = _parse_ymdhm(args.t_from)
        df = df.where(F.col(ts_col) >= F.lit(t0))
        if has_day:
            df = df.where(F.col("day") >= F.lit(t0.date()))
    if args.t_to:
        t1 = _parse_ymdhm(args.t_to)
        df = df.where(F.col(ts_col) < F.lit(t1))
        if has_day:
            df = df.where(F.col("day") <= F.lit(t1.date()))

    out = build_view(df, args.view, sink=args.sink, uri=args.uri,
                     limit=args.limit, group_by=args.group_by, pivot=args.pivot)
    print(out.toPandas().to_string(index=False))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
