"""AQE sizes persisted relations like any other shuffle.

The near-dup operators persist shuffled relations (the band-bucket
``repartition``, the pair and label joins of ``near_dup_clusters``). With
``canChangeCachedPlanOutputPartitioning`` off, AQE leaves a cached plan's
output at ``spark.sql.shuffle.partitions`` and every stage that reads the
cache runs that many tasks, however small the data.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from abs_log_spark import cache
from abs_log_spark.operators.curation import near_dup_clusters
from abs_log_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_pairs,
    with_near_dup_copies,
)
from abs_log_spark.queries import load_all
from abs_log_spark.session import ENGINE_CONFS
from abs_log_spark.sources.synth import gen_documents

CONF = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


def _exchanges_above_cache(node) -> list[str]:
    """Exchange nodes of a physical plan, not descending into cached
    relations (their own plan holds the exchange that built them)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    if node.nodeName() == "InMemoryTableScan":
        return []
    found = [node.nodeName()] if "Exchange" in node.nodeName() else []
    kids = node.children()
    for i in range(kids.size()):
        found += _exchanges_above_cache(kids.apply(i))
    return found


def test_cached_repartition_is_coalesced_and_keeps_its_partitioning(spark):
    assert spark.conf.get(CONF) == "true"
    bb = spark.range(2000).select(
        (F.col("id") % 4).alias("band"),
        (F.col("id") % 97).alias("bucket"),
        F.col("id").alias("doc_id"),
    )
    cached = bb.repartition("band", "bucket").persist()
    try:
        cached.count()
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert cached.rdd.getNumPartitions() < width
        members = cached.groupBy("band", "bucket").agg(
            F.collect_list("doc_id").alias("members")
        )
        assert len(members.collect()) == 4 * 97
        # the coalesced cache is still hash-partitioned on the bucket key
        plan = members._jdf.queryExecution().executedPlan()
        assert _exchanges_above_cache(plan) == []
    finally:
        cached.unpersist()


def _duck(query: str, docs_dir: str) -> set[tuple]:
    """Rows of a registered query's oracle SQL over ``docs_dir``."""
    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')"
        )
        return set(con.sql(load_all()[query][1]).fetchall())
    finally:
        con.close()


def test_near_dup_passes_run_no_stage_at_shuffle_width(spark, tmp_path):
    """MinHash pairs, SimHash pairs and dup clusters over a 4-file corpus at
    the engine's shuffle width: no stage runs more tasks than the session
    has cores, and every output equals its DuckDB twin."""
    # the DuckDB twins append the near-copies to ``documents`` themselves;
    # the Spark side reads the corpus with its copies as 4 parquet files
    orig_dir, docs_dir = str(tmp_path / "documents"), str(tmp_path / "corpus")
    gen_documents(spark, 3000, partitions=4).write.parquet(orig_dir)
    with_near_dup_copies(spark.read.parquet(orig_dir)).coalesce(4).write.parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def stage_tasks(group: str, action) -> tuple[list, list[int]]:
        sc.setJobGroup(group, group)
        try:
            rows = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        stages = {
            s for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        }
        infos = [tracker.getStageInfo(s) for s in sorted(stages)]
        # skipped stages (shuffle output reused) run no task
        return rows, [i.numCompletedTasks for i in infos if i and i.numCompletedTasks]

    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", ENGINE_CONFS["spark.sql.shuffle.partitions"])
    handles: list = []
    try:
        minhash, m_tasks = stage_tasks(
            "minhash", lambda: minhash_lsh_pairs(docs, persisted_out=handles).collect()
        )
        simhash, s_tasks = stage_tasks(
            "simhash",
            lambda: simhash_pairs(docs, max_hamming=12, persisted_out=handles).collect(),
        )
        labels = near_dup_clusters(
            docs, minhash_lsh_pairs(docs, persisted_out=handles).select("doc_a", "doc_b")
        )
        clusters, c_tasks = stage_tasks(
            "clusters",
            lambda: labels.groupBy("cluster_id")
            .agg(F.count("*").alias("n_members"))
            .where(F.col("n_members") > 1)
            .collect(),
        )
        # the last round's label cache, a join output
        label_partitions = labels.rdd.getNumPartitions()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
        for h in handles:
            h.unpersist()
        cache.release_all()

    cores = sc.defaultParallelism
    assert m_tasks and max(m_tasks) <= cores, m_tasks
    assert s_tasks and max(s_tasks) <= cores, s_tasks
    # each round's edge union scans the pair cache twice, so that stage
    # runs twice the pair cache's partitions
    assert c_tasks and max(c_tasks) <= 2 * cores, c_tasks
    assert label_partitions <= cores

    assert len(minhash) > 3000  # planted pairs plus the appended copies
    assert {tuple(r) for r in minhash} == _duck("dedup_minhash_lsh", orig_dir)
    assert {tuple(r) for r in simhash} == _duck("dedup_simhash", orig_dir)
    assert {tuple(r) for r in clusters} == _duck("curation_dup_clusters", orig_dir)


def test_engine_confs_turn_off_python_origin_capture(spark):
    """Per-call Python origin capture makes a Column expression cost 27 py4j
    round trips instead of 7; the engine session runs with it off."""
    from pyspark.errors.utils import is_debugging_enabled

    assert ENGINE_CONFS["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
