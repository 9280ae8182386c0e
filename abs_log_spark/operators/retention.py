"""Old-data expiry (SURVEY.md S5) — abs-log's retention cleanup.

Reference behavior ([PK] config-driven retention): drop old data so the
stores stay bounded. The summaries are re-derived from ``agg_partials`` at
every run, so expiry acts on the inputs of that fold, never on the summary
tables themselves: :func:`expire_buckets` removes whole input buckets from
the histogram partials, the done set and the routed tables in ONE journaled
:meth:`Catalog.swap`, then rebuilds the summaries. The 10^12-row routed
tables are expired by dropping whole ``part_bucket`` partitions (directory
removal, never a rewrite); a crash at any step of the swap rolls forward or
back at the next entry, so expired buckets never come back half-expired.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from abs_log_spark.catalog import Catalog


def expire_buckets(spark: SparkSession, cat: Catalog, buckets: list[str]) -> dict:
    """Consistently expire input buckets EVERYWHERE they left state: their
    contribution to ``agg_partials``, their place in the done set (logged as
    ``expired`` checkpoint rows) and every ``routed_*`` table's partitions,
    in one commit — then rebuild the summary tables from the remaining
    partials (no summary table is left when nothing remains).

    Dropping only the routed partitions would leave the buckets' partials
    behind, and the next ``rebuild_summaries`` would resurrect expired data;
    dropping them in a second step would let a crash between the two leave
    routed partitions that the next run folds again. Re-ingesting an expired
    bucket is a run over input that carries it. Iceberg equivalent: partition
    DELETEs on the routed tables + a partials rewrite in one transaction,
    then the summary REPLACE.
    """
    from abs_log_spark.plans.pipeline import rebuild_summaries, routed_sinks, subtract_compacted

    dirs = [f"routed_{sink}/part_bucket={b}" for sink in routed_sinks(cat) for b in buckets]
    removes = [d for d in dirs if os.path.isdir(cat.path(d))]
    dropped = {
        "partials_subtracted": subtract_compacted(spark, cat, buckets, "expire", removes),
        "routed_partitions": len(removes),
    }
    rebuild_summaries(spark, cat)
    return dropped
