"""Loud-failure guards: ANN dim mismatches error instead of silently
returning wrong results; the resume filter stays a partition filter at any
done-set size and never drops a null-bucket row before its key is done."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from abs_log_spark.operators.ann import centroid_ivf_assign, lsh_bucket_knn
from abs_log_spark.plans.checkpoint import NULL_BUCKET, filter_pending


def _emb(spark, dim):
    return spark.range(6).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: (i * (F.col("id") + 1)).cast("float") / 100,
        ).alias("embedding"),
    )


def test_ann_dim_mismatch_raises(spark):
    """A 3-dim embedding against the 64-dim scheme must ERROR (previously:
    zip_with null-padded, every sign collapsed to '0', scores went NULL)."""
    bad = _emb(spark, 3)
    with pytest.raises(Exception, match="dimension"):
        centroid_ivf_assign(bad).collect()
    q = bad.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_embedding"))
    with pytest.raises(Exception, match="dimension"):
        lsh_bucket_knn(bad, q).collect()


def test_ann_dim_parameter_plumbs(spark):
    """Non-default dims work end-to-end when passed through."""
    e = _emb(spark, 8)
    assigned = centroid_ivf_assign(e, n_lists=4, dim=8).collect()
    assert len(assigned) == 6
    assert all(0 <= r.ivf_list < 4 for r in assigned)


def test_simhash_feature_overflow_raises(spark):
    """A doc with > 32767 distinct shingles would overflow the packed 16-bit
    lanes and silently corrupt its signature; it must ERROR instead."""
    from abs_log_spark.functions.similarity import simhash_signature

    n_words = 32771  # 32769 distinct 3-gram shingles from distinct words
    big = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(n_words)),
                        lambda i: F.concat(F.lit("w"), i.cast("string"))),
            " ",
        ).alias("text"),
    )
    with pytest.raises(Exception, match="distinct"):
        simhash_signature(big).collect()
    # one word under the cap is fine
    ok = spark.range(1).select(
        F.col("id").alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(32769)),
                        lambda i: F.concat(F.lit("w"), i.cast("string"))),
            " ",
        ).alias("text"),
    )
    assert simhash_signature(ok).count() == 1


@pytest.fixture(scope="module")
def bucketed_input(spark, tmp_path_factory):
    """Parquet input partitioned by ``part_bucket``: buckets 0..199 and the
    null bucket, 3 rows each."""
    path = str(tmp_path_factory.mktemp("pending") / "sequences")
    b = F.col("id") % 201
    spark.range(201 * 3).select(
        "id", F.when(b < 200, b).cast("int").alias("part_bucket")
    ).coalesce(1).write.partitionBy("part_bucket").parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("n_done", [2, 64, 65, 190])
def test_filter_pending_is_one_partition_filter(bucketed_input, n_done):
    """Rows equal a brute-force filter at every done-set size, null-bucket
    rows stay until NULL_BUCKET is done, and the scan prunes partitions
    (no join against the done set, which would read every partition)."""
    rows = [(r.id, r.part_bucket) for r in bucketed_input.collect()]
    done = {str(k) for k in range(n_done)}
    for keys, nulls_kept in ((done, 3), (done | {NULL_BUCKET}, 0)):
        got = filter_pending(bucketed_input, keys)
        want = [
            i for i, b in rows if (NULL_BUCKET if b is None else str(b)) not in keys
        ]
        assert sorted(r.id for r in got.collect()) == sorted(want)
        assert got.where(F.col("part_bucket").isNull()).count() == nulls_kept
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "part_bucket" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        assert "LeftAnti" not in plan and "BroadcastHashJoin" not in plan
