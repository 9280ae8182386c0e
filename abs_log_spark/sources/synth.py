"""Deterministic synthetic north-rule tables (FIXTURES.md section A).

Everything is a pure Spark expression over ``spark.range(n)`` — no RNG at
plan time, no wall clock, no data files — so the same ``n`` always produces
byte-identical tables on any cluster size (the property the local[8] vs
local[32] scaling evidence depends on).

``sequences``: (doc_id, tokens:array<int32>, n_tok:int32, source, part_bucket)
where ``tokens`` spells a synthetic nginx-style access-log line (A1a) and
``source`` is Zipf-skewed (src0 ~ 50% of rows — the hot key for AQE-skew and
the salted layout shuffle, [B] "hot sources").

``sources_dim``: the broadcast enrichment dimension (source -> sink, site,
region) including a deliberately unmapped source test case (handled by the
left join default in enrich).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.functions.tokens import tokenize_col

N_SOURCES = 10
SINK_OF = {0: "sink_a", 1: "sink_b", 2: "sink_c"}  # source k -> sink by k % 3
DEFAULT_SINK = "sink_default"

_WORDS = ("alpha", "bravo", "charlie", "delta", "echo")


def _uuid_from_md5(md5col):
    return F.concat_ws(
        "-",
        F.substring(md5col, 1, 8),
        F.substring(md5col, 9, 4),
        F.substring(md5col, 13, 4),
        F.substring(md5col, 17, 4),
        F.substring(md5col, 21, 12),
    )


def ip_expr(i):
    return F.format_string("10.%d.%d.%d", i % 7, (i / 7).cast("long") % 13, i % 251)


def time_local_expr(i):
    """nginx $time_local; minute spread over a fixed 2h window (A1a)."""
    minute_idx = i % 120
    return F.format_string(
        "01/Jan/2024:%02d:%02d:%02d +0000",
        (minute_idx / 60).cast("long"),
        minute_idx % 60,
        i % 60,
    )


def method_expr(i):
    return F.when(i % 10 < 8, "GET").otherwise("POST")


def uri_expr(i):
    """5 URI templates cycling on i%5, with volatile digit/hex/uuid segments
    the abstraction step must collapse. Closed-form in i so a SQL oracle can
    state the expected uri_abs as literals (CASE i%5)."""
    md5i = F.md5(i.cast("string"))
    num = (i * 13) % 100000
    return (
        F.when(i % 5 == 0, F.format_string("/api/user/%d/profile", num))
        .when(i % 5 == 1, F.concat(F.lit("/item/"), md5i))
        .when(i % 5 == 2, F.lit("/static/app.js"))
        .when(
            i % 5 == 3,
            F.concat(
                F.lit("/order/"),
                num.cast("string"),
                F.lit("/detail/"),
                _uuid_from_md5(md5i),
            ),
        )
        .otherwise(F.lit("/search"))
    )


def args_expr(i):
    num = (i * 13) % 100000
    word = F.element_at(
        F.array(*[F.lit(w) for w in _WORDS]), (i % len(_WORDS) + 1).cast("int")
    )
    return (
        F.when(i % 3 == 0, F.lit(""))
        .when(i % 3 == 1, F.format_string("q=%s&page=%d", word, i % 40))
        .otherwise(F.format_string("id=%d", num))
    )


def status_expr(i):
    return (
        F.when(i % 50 < 45, F.lit(200))
        .when(i % 50 < 48, F.lit(404))
        .otherwise(F.lit(500))
    )


def bytes_expr(i):
    return 100 + (i * i) % 20000


def rt_str_expr(i):
    return F.format_string("%.3f", F.lit(0.001) * (1 + (i * 31) % 5000))


def log_line_expr(i):
    """Render the canonical access-log line for row index ``i`` (a Column).

    Format: ``<ip> - [<time_local>] "<method> <uri>[?<args>] HTTP/1.1"
    <status> <bytes> <rt>`` — FIXTURES.md A1a, all fields deterministic in i.
    """
    uri = uri_expr(i)
    args = args_expr(i)
    target = F.when(args == "", uri).otherwise(F.concat(uri, F.lit("?"), args))
    return F.format_string(
        '%s - [%s] "%s %s HTTP/1.1" %d %d %s',
        ip_expr(i),
        time_local_expr(i),
        method_expr(i),
        target,
        status_expr(i),
        bytes_expr(i),
        rt_str_expr(i),
    )


def source_expr(doc_id):
    """Zipf-ish source: ~50% src0 (hot), rest uniform src1..src9."""
    hot = F.pmod(F.xxhash64(doc_id, F.lit(7)), F.lit(2)) == 0
    tail = F.concat(
        F.lit("src"), (F.pmod(F.xxhash64(doc_id), F.lit(N_SOURCES - 1)) + 1).cast("string")
    )
    return F.when(hot, F.lit("src0")).otherwise(tail)


def gen_sequences(
    spark: SparkSession,
    n: int,
    buckets: int = 8,
    invalid_every: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """The north-rule input table ([B] input_hint schema).

    ``invalid_every``: if > 0, every k-th row's tokens spell a corrupt line
    (regex non-match) to exercise invalid-line accounting.
    ``buckets``: hash-bucket count for the explicit (source, part_bucket)
    layout — the stand-in for Iceberg bucket partitioning at 10^12 rows.
    """
    rng = spark.range(n, numPartitions=partitions) if partitions else spark.range(n)
    i = F.col("id")
    line = log_line_expr(i)
    if invalid_every > 0:
        line = F.when(
            i % invalid_every == invalid_every - 1,
            F.concat(F.lit("CORRUPT-LINE-"), i.cast("string")),
        ).otherwise(line)
    doc_id = F.format_string("doc%010d", i)
    df = rng.select(
        doc_id.alias("doc_id"),
        tokenize_col(line).alias("tokens"),
        source_expr(doc_id).alias("source"),
    )
    return df.select(
        "doc_id",
        "tokens",
        F.size("tokens").cast("int").alias("n_tok"),
        "source",
        F.pmod(F.xxhash64("doc_id"), F.lit(buckets)).cast("int").alias("part_bucket"),
    )


def gen_sources_dim(spark: SparkSession, n_sources: int = N_SOURCES) -> DataFrame:
    """Broadcast dimension: source -> sink/site/region (FIXTURES.md A2).

    An inline ``VALUES`` table, so a local relation: the broadcast in
    ``enrich`` reads a ``LocalTableScan``. ``createDataFrame`` over a Python
    list would plan a Python RDD, and every increment's broadcast would run
    a job through Python workers before the routed write could start."""
    rows = ", ".join(
        f"('src{k}', '{SINK_OF[k % 3]}', 'site{k % 4}', '{('us', 'eu', 'ap')[k % 3]}')"
        for k in range(n_sources)
    )
    return spark.sql(f"SELECT * FROM VALUES {rows} AS dim(source, sink, site, region)")


def gen_documents(
    spark: SparkSession,
    n: int,
    words: int = 40,
    vocab: int = 1000,
    dup_every: int = 10,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic text corpus for dedup/text-op scaling runs:
    (doc_id, text) where every word is a closed-form hash of (base_id,
    position) over a ``vocab``-word vocabulary, and every ``dup_every``-th
    row is a NEAR-DUPLICATE of its predecessor (same base words, distinct
    final word) — known positives for MinHash/SimHash at any scale, with
    bucket sizes ~2 so candidate-pair volume stays linear in ``n`` (the
    honest throughput shape: signatures dominate, no mega-cluster blowup).
    Pure Spark expressions over range(n): byte-identical on any cluster
    size, like gen_sequences."""
    rng = spark.range(n, numPartitions=partitions) if partitions else spark.range(n)
    i = F.col("id")
    is_dup = (i % dup_every == 0) & (i > 0)
    base = F.when(is_dup, i - 1).otherwise(i)

    def word(j: int):
        return F.concat(
            F.lit("w"), F.pmod(F.xxhash64(base, F.lit(j)), F.lit(vocab)).cast("string")
        )

    last = F.when(~is_dup, word(words - 1)).otherwise(
        F.concat(F.lit("x"), i.cast("string"))
    )
    text = F.concat_ws(" ", *[word(j) for j in range(words - 1)], last)
    return rng.select(i.alias("doc_id"), text.alias("text"))
