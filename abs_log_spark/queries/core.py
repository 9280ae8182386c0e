"""Core driver queries: pipeline semantics + log_show reports + classic SQL.

Every Spark query has a DuckDB oracle twin. Determinism rules used
throughout (so the driver's exact value-hash agrees across engines):

- money-like double sums -> integer cents: SUM(CAST(ROUND(x*100,0) AS BIGINT))
  (bit-exact: the scaling product is IEEE-identical in both engines, the
  rounded int sums associate exactly).
- small float aggregates -> round(...,6) after aggregation.
- counts -> BIGINT on both sides (DuckDB SUM(int) is HUGEINT, always cast).
- ranking ties -> explicit deterministic tie-break columns in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from abs_log_spark.functions.abstract import args_abs_col, uri_abs_col
from abs_log_spark.functions.tokens import detokenize_udf, tokenize_udf
from abs_log_spark.operators.aggregate import minute_agg
from abs_log_spark.plans.pipeline import transform
from abs_log_spark.queries import register
from abs_log_spark.sources.readers import read_table, sequences_from_documents
from abs_log_spark.sources.synth import args_expr, gen_sources_dim, uri_expr

# ---------------------------------------------------------------------------
# events: the minute-aggregation oracle surface (G1-G5, W3, G7)
# ---------------------------------------------------------------------------

_EVENTS_MINUTE_SQL = """
SELECT date_trunc('minute', ts) AS minute,
       event_type,
       CAST(count(*) AS BIGINT)            AS pv,
       round(sum(value), 6)                AS value_sum,
       round(avg(value), 6)                AS value_avg,
       round(min(value), 6)                AS value_min,
       round(quantile_cont(value, 0.25),6) AS value_p25,
       round(quantile_cont(value, 0.5), 6) AS value_p50,
       round(quantile_cont(value, 0.75),6) AS value_p75,
       round(max(value), 6)                AS value_max
FROM events
GROUP BY 1, 2
"""


@register("events_minute_agg", _EVENTS_MINUTE_SQL)
def events_minute_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs-log per-minute summary semantics on the events stream: PV +
    totals + exact min/q1/q2/q3/max distribution ([PK] abs-log's signature
    output; exact `percentile` for DuckDB quantile_cont parity)."""
    # spread: the exact-percentile partial aggregation is per-row expensive
    # and the fixture is a single-row-group file (measured 3.05 -> 2.22 s
    # warm at sf1.0); the extra exchange moves no more bytes than the
    # aggregate shuffle already does
    ev = read_table(spark, sf_dir, "events", spread=True)
    return ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute"),
        F.col("event_type"),
    ).agg(
        F.count("*").alias("pv"),
        F.round(F.sum("value"), 6).alias("value_sum"),
        F.round(F.avg("value"), 6).alias("value_avg"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("value_p25"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("value_p50"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("value_p75"),
        F.round(F.max("value"), 6).alias("value_max"),
    )


_EVENTS_TREND_SQL = """
SELECT date_trunc('hour', ts) AS bucket,
       CAST(count(*) AS BIGINT) AS pv,
       round(sum(value), 6)     AS value_sum,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err_hits
FROM events
GROUP BY 1
"""


@register("events_trend_hour", _EVENTS_TREND_SQL)
def events_trend_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log_show 'distribution' view regrouped to hour grain (W3)."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
        F.count("*").alias("pv"),
        F.round(F.sum("value"), 6).alias("value_sum"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("err_hits"),
    )


_EVENTS_ERROR_SQL = """
SELECT date_trunc('day', ts) AS day,
       event_type AS status_key,
       CAST(count(*) AS BIGINT) AS hits,
       round(quantile_cont(value, 0.5), 6) AS value_p50
FROM events
WHERE event_type IN ('error', 'timeout')
GROUP BY 1, 2
"""


@register("events_error_view", _EVENTS_ERROR_SQL)
def events_error_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log_show 'error' view analog (G7): error-class breakdown per day."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("error", "timeout"))
        .groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type").alias("status_key"),
        )
        .agg(
            F.count("*").alias("hits"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("value_p50"),
        )
    )


_EVENTS_JSON_SQL = """
SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) % 10 AS k_bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 6) AS value_sum
FROM events
GROUP BY 1
"""


@register("events_props_json", _EVENTS_JSON_SQL)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (scalar surface 2.8): pull k out of the
    JSON props column, bucket it, aggregate."""
    ev = read_table(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# Abstraction + tokens on documents (A1/A2, P5)
# ---------------------------------------------------------------------------

#: Closed-form SQL twins of synth.uri_expr / args_expr (doc_id arithmetic).
_URI_SQL_EXPR = """
CASE (doc_id % 5)
  WHEN 0 THEN '/api/user/' || ((doc_id*13) % 100000)::VARCHAR || '/profile'
  WHEN 1 THEN '/item/' || md5(doc_id::VARCHAR)
  WHEN 2 THEN '/static/app.js'
  WHEN 3 THEN '/order/' || ((doc_id*13) % 100000)::VARCHAR || '/detail/'
           || substr(md5(doc_id::VARCHAR),1,8) || '-' || substr(md5(doc_id::VARCHAR),9,4)
           || '-' || substr(md5(doc_id::VARCHAR),13,4) || '-' || substr(md5(doc_id::VARCHAR),17,4)
           || '-' || substr(md5(doc_id::VARCHAR),21,12)
  ELSE '/search'
END
"""

_URI_ABS_SQL_EXPR = """
CASE (doc_id % 5)
  WHEN 0 THEN '/api/user/*/profile'
  WHEN 1 THEN '/item/*'
  WHEN 2 THEN '/static/app.js'
  WHEN 3 THEN '/order/*/detail/*'
  ELSE '/search'
END
"""

_ARGS_SQL_EXPR = """
CASE (doc_id % 3)
  WHEN 0 THEN ''
  WHEN 1 THEN 'q=' || (CASE (doc_id % 5) WHEN 0 THEN 'alpha' WHEN 1 THEN 'bravo'
               WHEN 2 THEN 'charlie' WHEN 3 THEN 'delta' ELSE 'echo' END)
            || '&page=' || (doc_id % 40)::VARCHAR
  ELSE 'id=' || ((doc_id*13) % 100000)::VARCHAR
END
"""

_ARGS_ABS_SQL_EXPR = """
CASE (doc_id % 3) WHEN 0 THEN '' WHEN 1 THEN 'q=*&page=*' ELSE 'id=*' END
"""

_URI_ABSTRACTION_SQL = f"""
SELECT doc_id,
       {_URI_SQL_EXPR} AS uri,
       {_URI_ABS_SQL_EXPR} AS uri_abs,
       {_ARGS_SQL_EXPR} AS args,
       {_ARGS_ABS_SQL_EXPR} AS args_abs
FROM documents
"""


@register("uri_abstraction", _URI_ABSTRACTION_SQL)
def uri_abstraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 against golden values: the engine abstracts realistic URIs
    (digits, md5-hex, uuid segments); the oracle states the expected
    patterns in closed form. Any abstraction-rule bug breaks equality."""
    docs = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    df = docs.select(
        "doc_id", uri_expr(i).alias("uri"), args_expr(i).alias("args")
    )
    return df.select(
        "doc_id",
        "uri",
        uri_abs_col(F.col("uri")).alias("uri_abs"),
        "args",
        args_abs_col(F.col("args")).alias("args_abs"),
    )


_TOKENS_ROUNDTRIP_SQL = """
SELECT doc_id, CAST(length(text) AS INT) AS n_tok, text AS text_rt
FROM documents
"""


@register("tokens_roundtrip", _TOKENS_ROUNDTRIP_SQL)
def tokens_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 invariant: tokenize -> detokenize round-trips byte-identically
    (the per-row token-equality contract [B], demonstrated on real text)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = tokenize_udf(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tok"),
        detokenize_udf(toks).alias("text_rt"),
    )


# ---------------------------------------------------------------------------
# Enrichment + the full pipeline (J1, G1-G5, R1)
# ---------------------------------------------------------------------------

_SINK_SQL_EXPR = """
CASE (CAST(substr(source, 4) AS INT) % 3)
  WHEN 0 THEN 'sink_a' WHEN 1 THEN 'sink_b' ELSE 'sink_c' END
"""

_ENRICH_SQL = f"""
SELECT {_SINK_SQL_EXPR} AS sink,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY 1
"""


@register("enrich_route_counts", _ENRICH_SQL)
def enrich_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast-join enrichment on the source dimension, then the
    per-sink fan-out counts ([B] 'matching per-sink aggregate counts')."""
    docs = read_table(spark, sf_dir, "documents")
    dim = gen_sources_dim(spark, n_sources=20)
    out = docs.join(F.broadcast(dim), "source", "left")
    return out.groupBy("sink").agg(
        F.count("*").alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
    )


#: Closed-form field derivation for the pipeline oracle: every parsed field
#: is a pure function of doc_id (the synth renderer's formulas, restated in
#: SQL), so DuckDB reproduces the minute aggregate WITHOUT parsing.
_PIPE_FIELDS_CTE = f"""
WITH f AS (
  SELECT
    CASE (CAST(substr(source, 4) AS INT) % 3)
      WHEN 0 THEN 'sink_a' WHEN 1 THEN 'sink_b' ELSE 'sink_c' END AS sink,
    'site' || (CAST(substr(source, 4) AS INT) % 4)::VARCHAR AS site,
    TIMESTAMP '2024-01-01 00:00:00' + (doc_id % 120) * INTERVAL 1 MINUTE AS minute,
    {_URI_ABS_SQL_EXPR} AS uri_abs,
    CASE WHEN (doc_id % 50) < 45 THEN 200 WHEN (doc_id % 50) < 48 THEN 404 ELSE 500 END AS status,
    100 + (doc_id * doc_id) % 20000 AS bytes,
    0.001 * (1 + (doc_id * 31) % 5000) AS rt
  FROM documents
)
"""

_PIPELINE_E2E_SQL = f"""
{_PIPE_FIELDS_CTE}
SELECT sink, site, minute, uri_abs,
       CAST(count(*) AS BIGINT)  AS pv,
       CAST(sum(bytes) AS BIGINT) AS bytes_sum,
       round(sum(rt), 6)          AS rt_sum,
       round(avg(rt), 6)          AS rt_avg,
       round(min(rt), 6)          AS rt_min,
       round(quantile_cont(rt, 0.25), 6) AS rt_p25,
       round(quantile_cont(rt, 0.5), 6)  AS rt_p50,
       round(quantile_cont(rt, 0.75), 6) AS rt_p75,
       round(max(rt), 6)          AS rt_max,
       CAST(sum(CASE WHEN status >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS err_hits,
       CAST(0 AS BIGINT) AS invalid_hits
FROM f
GROUP BY 1, 2, 3, 4
"""


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = sequences_from_documents(spark, sf_dir)
    dim = gen_sources_dim(spark, n_sources=20)
    return transform(seq, dim)


def _e2e_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = minute_agg(_routed(spark, sf_dir))
    return agg.select(
        "sink",
        "site",
        "minute",
        "uri_abs",
        "pv",
        "bytes_sum",
        F.round("rt_sum", 6).alias("rt_sum"),
        F.round("rt_avg", 6).alias("rt_avg"),
        F.round("rt_min", 6).alias("rt_min"),
        F.round("rt_p25", 6).alias("rt_p25"),
        F.round("rt_p50", 6).alias("rt_p50"),
        F.round("rt_p75", 6).alias("rt_p75"),
        F.round("rt_max", 6).alias("rt_max"),
        "err_hits",
        "invalid_hits",
    )


@register("pipeline_e2e_minute_agg", _PIPELINE_E2E_SQL)
def pipeline_e2e_minute_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: the full tokens -> parse (Arrow UDF) -> abstract -> enrich
    -> minute aggregate pipeline; the oracle recomputes the aggregate from
    the closed-form field formulas without any parsing. Exercises every
    stage end-to-end — a bug anywhere (detokenize, regex, timestamp,
    abstraction, join, agg) breaks the match."""
    return _e2e_agg(spark, sf_dir)


@register("pipeline_incremental_agg", _PIPELINE_E2E_SQL)
def pipeline_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-resume aggregation path (S1/R2 at 10^12 rows): the
    routed relation is aggregated into lossless rt-HISTOGRAM partials
    (operators.aggregate.minute_agg_hist_partials), then the
    partials are folded back (frequency-weighted exact percentile) — and the
    result must match the SAME closed-form oracle as the single-pass
    flagship. Proves a resumed run can aggregate only its new buckets and
    merge, with zero drift (exact quantiles included)."""
    from abs_log_spark.operators.aggregate import (
        merge_minute_agg_hist_partials,
        minute_agg_hist_partials,
    )

    merged = merge_minute_agg_hist_partials(
        minute_agg_hist_partials(_routed(spark, sf_dir))
    )
    return merged.select(
        "sink",
        "site",
        "minute",
        "uri_abs",
        "pv",
        "bytes_sum",
        F.round("rt_sum", 6).alias("rt_sum"),
        F.round("rt_avg", 6).alias("rt_avg"),
        F.round("rt_min", 6).alias("rt_min"),
        F.round("rt_p25", 6).alias("rt_p25"),
        F.round("rt_p50", 6).alias("rt_p50"),
        F.round("rt_p75", 6).alias("rt_p75"),
        F.round("rt_max", 6).alias("rt_max"),
        "err_hits",
        "invalid_hits",
    )


_TOPN_SQL = f"""
{_PIPE_FIELDS_CTE}
, agg AS (
  SELECT sink, uri_abs, CAST(count(*) AS BIGINT) AS pv
  FROM f GROUP BY 1, 2
), ranked AS (
  SELECT sink, uri_abs, pv,
         CAST(row_number() OVER (PARTITION BY sink ORDER BY pv DESC, uri_abs) AS INT) AS rank,
         round(pv * 100.0 / sum(pv) OVER (PARTITION BY sink), 4) AS pv_pct
  FROM agg
)
SELECT sink, uri_abs, pv, rank, pv_pct FROM ranked WHERE rank <= 3
"""


@register("topn_uri_per_sink", _TOPN_SQL)
def topn_uri_per_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2: log_show's top-N endpoints per sink with %-of-total."""
    routed = _routed(spark, sf_dir)
    agg = routed.groupBy("sink", "uri_abs").agg(F.count("*").alias("pv"))
    # pct before rank: the rank filter then sits right on the ranking window,
    # and Spark plans a partial top-3 (WindowGroupLimit) before the window
    w = Window.partitionBy("sink")
    agg = agg.withColumn("pv_pct", F.round(F.col("pv") * 100.0 / F.sum("pv").over(w), 4))
    top = agg.withColumn("rank", F.row_number().over(w.orderBy(F.desc("pv"), "uri_abs")))
    return top.where("rank <= 3").select("sink", "uri_abs", "pv", "rank", "pv_pct")


# ---------------------------------------------------------------------------
# Classic relational coverage on the TPC-H-ish tables (G, J, W, O)
# ---------------------------------------------------------------------------

_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_price_cents,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


@register("tpch_q1_pricing", _TPCH_Q1_SQL)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary (hash agg w/ map-side combine)."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100, 0).cast("long")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_price_cents"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_price_cents"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_REGION_REVENUE_SQL = """
SELECT r_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1
"""


@register("region_revenue", _REGION_REVENUE_SQL)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: fact lineitem joined through orders/customer
    to broadcast dims nation/region. On a cluster: lineitem->orders is the
    only shuffle join; the dims broadcast (F.broadcast hints)."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


_TOP_CUSTOMERS_SQL = """
WITH rev AS (
  SELECT r_name, c_custkey, c_name,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  GROUP BY 1, 2, 3
)
SELECT r_name, c_custkey, c_name, revenue_cents, rank FROM (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY r_name ORDER BY revenue_cents DESC, c_custkey) AS INT) AS rank
  FROM rev
) WHERE rank <= 3
"""


@register("top_customers_per_region", _TOP_CUSTOMERS_SQL)
def top_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + ranking window: top-3 customers by revenue per region (W1)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    rev = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_custkey", "c_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("revenue_cents"))
    )
    w = Window.partitionBy("r_name").orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("r_name", "c_custkey", "c_name", "revenue_cents", "rank")
    )


_SALTED_SQL = """
SELECT source, CAST(count(*) AS BIGINT) AS n
FROM documents
GROUP BY 1
"""


@register("salted_source_counts", _SALTED_SQL)
def salted_source_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: two-phase salted aggregation over the skew axis — partial count
    per (source, salt) then final combine; result must equal a plain
    groupBy (the oracle)."""
    docs = read_table(spark, sf_dir, "documents")
    partial = docs.withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(16))
    ).groupBy("source", "_salt").agg(F.count("*").alias("_n"))
    return partial.groupBy("source").agg(F.sum("_n").cast("long").alias("n"))


_TOP_USERS_SQL = """
WITH u AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS hits, round(sum(value), 6) AS value_sum
  FROM events GROUP BY 1
)
SELECT user_id, hits, value_sum, rank, hits_pct FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY hits DESC, user_id) AS INT) AS rank,
         round(hits * 100.0 / sum(hits) OVER (), 4) AS hits_pct
  FROM u
) WHERE rank <= 10
"""


@register("top_users", _TOP_USERS_SQL)
def top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: abs-log's ``ip`` view analog — top sources (users) by hits with
    %-of-total against the period total ([PK] ``log_show ip``)."""
    ev = read_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count("*").alias("hits"),
        F.round(F.sum("value"), 6).alias("value_sum"),
    )
    u = u.withColumn(
        "hits_pct", F.round(F.col("hits") * 100.0 / F.sum("hits").over(Window.partitionBy()), 4)
    )
    top = u.withColumn("rank", F.row_number().over(Window.orderBy(F.desc("hits"), "user_id")))
    return top.where("rank <= 10").select("user_id", "hits", "value_sum", "rank", "hits_pct")


_SET_OPS_SQL = """
WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
both_u AS (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM purchasers),
click_only AS (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM purchasers)
SELECT 'click_and_purchase' AS segment, CAST(count(*) AS BIGINT) AS n_users FROM both_u
UNION ALL
SELECT 'click_only', CAST(count(*) AS BIGINT) FROM click_only
"""


@register("set_ops_user_segments", _SET_OPS_SQL)
def set_ops_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 (intersect/except): audience segmentation via set operators —
    users who both clicked and purchased vs click-only. DataFrame
    ``intersect``/``exceptAll`` on distinct keys == SQL INTERSECT/EXCEPT;
    Catalyst plans both as (broadcastable) semi/anti hash joins, one
    shuffle each on user_id."""
    ev = read_table(spark, sf_dir, "events")
    clickers = ev.where(F.col("event_type") == "click").select("user_id").distinct()
    purchasers = ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    both_u = clickers.intersect(purchasers).agg(F.count("*").alias("n_users"))
    click_only = clickers.exceptAll(purchasers).agg(F.count("*").alias("n_users"))
    return both_u.select(
        F.lit("click_and_purchase").alias("segment"), "n_users"
    ).unionByName(click_only.select(F.lit("click_only").alias("segment"), "n_users"))


_DISTINCT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS pv,
       CAST(count(DISTINCT user_id) AS BIGINT) AS uniq_users
FROM events GROUP BY 1
"""


@register("distinct_user_counts", _DISTINCT_SQL)
def distinct_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G9: exact distinct counts per event_type (distinct visitors per view,
    [PK] abs-log summaries). Exact ``count_distinct`` here for oracle parity;
    the 10^12-row path swaps in ``approx_count_distinct`` (HLL sketch, no
    second shuffle) — accuracy-tested in tests/test_reports.py."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("pv"),
        F.count_distinct("user_id").alias("uniq_users"),
    )


_ABS_RULES_SQL = f"""
WITH base AS (
  SELECT doc_id,
         'site' || ((doc_id % 4))::VARCHAR AS site,
         {_URI_ABS_SQL_EXPR} AS uri_abs
  FROM documents
), ruled AS (
  SELECT site,
         CASE
           WHEN site = 'site0' AND regexp_matches(uri_abs, '^/static/') THEN '/static/*'
           WHEN regexp_matches(uri_abs, '^/order/\\*/detail/\\*$') THEN '/order/*'
           ELSE uri_abs
         END AS uri_abs
  FROM base
)
SELECT site, uri_abs, CAST(count(*) AS BIGINT) AS pv
FROM ruled GROUP BY 1, 2
"""


@register("abs_custom_rules", _ABS_RULES_SQL)
def abs_custom_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-site custom abstraction overrides (abs_special config analog):
    first matching (site, pattern) rule rewrites uri_abs; rules are data,
    compiled to a when-chain."""
    from abs_log_spark.functions.abstract import apply_abs_rules

    docs = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    base = docs.select(
        F.concat(F.lit("site"), (i % 4).cast("string")).alias("site"),
        uri_abs_col(uri_expr(i)).alias("uri_abs"),
    )
    ruled = apply_abs_rules(base)
    return ruled.groupBy("site", "uri_abs").agg(F.count("*").alias("pv"))


_ROLLUP_SQL = f"""
{_PIPE_FIELDS_CTE}
SELECT coalesce(site, 'ALL') AS site,
       coalesce(uri_abs, 'ALL') AS uri_abs,
       CAST(count(*) AS BIGINT) AS pv,
       CAST(sum(bytes) AS BIGINT) AS bytes_sum,
       CAST(grouping(site) * 2 + grouping(uri_abs) AS INT) AS lvl
FROM f
GROUP BY ROLLUP (site, uri_abs)
"""


@register("rollup_site_uri", _ROLLUP_SQL)
def rollup_site_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical margins via ROLLUP (site -> uri_abs -> grand total) over
    the routed relation — the report-margin surface Catalyst provides free
    (expands to grouping sets, one shuffle). grouping() bits disambiguate
    data 'ALL' from margin rows."""
    routed = _routed(spark, sf_dir)
    return (
        routed.rollup("site", "uri_abs")
        .agg(
            F.count("*").alias("pv"),
            F.sum("bytes").cast("long").alias("bytes_sum"),
            (F.grouping("site") * 2 + F.grouping("uri_abs")).cast("int").alias("lvl"),
        )
        .select(
            F.coalesce(F.col("site"), F.lit("ALL")).alias("site"),
            F.coalesce(F.col("uri_abs"), F.lit("ALL")).alias("uri_abs"),
            "pv",
            "bytes_sum",
            "lvl",
        )
    )


_BRAND_NATION_SQL = """
SELECT p_brand,
       n_name AS supp_nation,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       round(sum(l_quantity), 6) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


@register("brand_nation_revenue", _BRAND_NATION_SQL)
def brand_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style profit slice: revenue per (part brand, supplier
    nation). Completes driver-table coverage (part + supplier). part and
    supplier broadcast (dims); lineitem never shuffles for the joins."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("p_brand", F.col("n_name").alias("supp_nation"))
        .agg(
            F.sum(cents).alias("revenue_cents"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
    )
