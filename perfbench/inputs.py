"""Seeded input generators for the benchmark workloads.

Every table is a pure Spark expression over a ``spark.range`` window whose
start is derived from the workload seed, reusing the public
``abs_log_spark.sources.synth`` expressions (``log_line_expr``,
``source_expr``, ``tokenize_col`` and the ``gen_documents`` word hashing).
A different seed renders different rows of the same shape: ~50 % of rows
from the hot source ``src0``, exactly one corrupt line in 1000, and one
document in 10 planted as a near-duplicate of its predecessor.

Inputs are written to parquet during set-up; the program under test only
ever reads the stored tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.functions.tokens import tokenize_col
from abs_log_spark.sources.synth import SINK_OF, log_line_expr, source_expr

#: row-index stride between seeds; every window starts on a multiple of
#: 1000, so "i % 1000 == 999" marks exactly rows/1000 corrupt lines
WINDOW_STRIDE = 1_000_000
#: seeds map onto this many disjoint windows (doc ids stay 10 digits)
WINDOWS = 1000
CORRUPT_EVERY = 1000
DUP_EVERY = 10


def window_start(seed: int) -> int:
    return (seed % WINDOWS) * WINDOW_STRIDE


def sink_of_source(k: int) -> str:
    return SINK_OF[k % 3]


def _sequences(spark: SparkSession, start: int, n: int, bucket: F.Column) -> DataFrame:
    i = F.col("id")
    line = F.when(
        i % CORRUPT_EVERY == CORRUPT_EVERY - 1,
        F.concat(F.lit("CORRUPT-LINE-"), i.cast("string")),
    ).otherwise(log_line_expr(i))
    doc_id = F.format_string("doc%010d", i)
    return spark.range(start, start + n).select(
        doc_id.alias("doc_id"),
        tokenize_col(line).alias("tokens"),
        source_expr(doc_id).alias("source"),
        bucket.cast("int").alias("part_bucket"),
    ).select(
        "doc_id", "tokens", F.size("tokens").cast("int").alias("n_tok"),
        "source", "part_bucket",
    )


def write_cron_input(
    spark: SparkSession,
    path: str,
    seed: int,
    history_buckets: int,
    history_rows: int,
    increments: int,
    increment_rows: int,
) -> None:
    """The sequences table a cron deployment appends to, partitioned by
    ``part_bucket``: buckets ``0..history_buckets-1`` hold
    ``history_rows`` rows each (pre-loaded during set-up), the following
    ``increments`` buckets hold ``increment_rows`` rows each (one per
    timed cron cycle)."""
    start = window_start(seed)
    hist_n = history_buckets * history_rows
    i = F.col("id")
    hist = _sequences(spark, start, hist_n, F.floor((i - start) / history_rows))
    inc = _sequences(
        spark,
        start + hist_n,
        increments * increment_rows,
        history_buckets + F.floor((i - start - hist_n) / increment_rows),
    )
    hist.unionByName(inc).write.partitionBy("part_bucket").parquet(path)


def write_documents(spark: SparkSession, path: str, seed: int, n: int,
                    words: int = 40, vocab: int = 1000) -> None:
    """``gen_documents``' corpus over the seed's row window: every word is
    ``w<xxhash64(base, position) mod vocab>``, and every row with
    ``doc_id % 10 == 0`` repeats its predecessor's words except the last
    (a planted near-duplicate pair ``(doc_id - 1, doc_id)``)."""
    start = window_start(seed)
    i = F.col("id")
    is_dup = (i % DUP_EVERY == 0) & (i > start)
    base = F.when(is_dup, i - 1).otherwise(i)

    def word(j: int) -> F.Column:
        return F.concat(
            F.lit("w"), F.pmod(F.xxhash64(base, F.lit(j)), F.lit(vocab)).cast("string")
        )

    last = F.when(~is_dup, word(words - 1)).otherwise(F.concat(F.lit("x"), i.cast("string")))
    text = F.concat_ws(" ", *[word(j) for j in range(words - 1)], last)
    spark.range(start, start + n).select(i.alias("doc_id"), text.alias("text")).write.parquet(path)


def planted_pairs(seed: int, n: int) -> int:
    """Number of planted near-duplicate pairs in a document window."""
    start = window_start(seed)
    return (start + n - 1) // DUP_EVERY - start // DUP_EVERY
