"""Old-data expiry (SURVEY.md S5) — abs-log's retention cleanup.

Reference behavior ([PK] config-driven retention): drop old data so the
stores stay bounded. The summaries are re-derived from ``agg_partials`` at
every run, so expiry acts on the inputs of that fold, never on the summary
tables themselves: :func:`expire_buckets` removes whole input buckets from
the routed tables, the histogram partials and the checkpoint, then rebuilds
the summaries. The 10^12-row routed tables are expired by dropping whole
``part_bucket`` partitions (directory removal, never a rewrite); the
partials subtraction and the checkpoint rewrite go through the catalog's
journaled swap (:meth:`Catalog.swap`), so a crash at any step rolls forward
or back at the next entry.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from abs_log_spark.catalog import Catalog


def expire_buckets(spark: SparkSession, cat: Catalog, buckets: list[str]) -> dict:
    """Consistently expire input buckets EVERYWHERE they left state: their
    contribution to ``agg_partials``, every ``routed_*`` table's partitions,
    and the checkpoint rows — then rebuild the summary tables from the
    remaining partials (no summary table is left when nothing remains).

    This is the expiry the incremental-aggregation design requires: dropping
    only the routed partitions would leave the buckets' partials behind, and
    the next ``rebuild_summaries`` would resurrect expired data; leaving the
    checkpoint rows would make a later re-ingest of the same bucket key
    silently skip. One call keeps all four surfaces in lockstep. Iceberg
    equivalent: partition DELETEs on the routed tables + a partials
    rewrite + checkpoint DELETE + the summary REPLACE, in one transaction
    group.
    """
    from abs_log_spark.plans import checkpoint as ckpt
    from abs_log_spark.plans.pipeline import rebuild_summaries, routed_sinks, subtract_compacted

    # subtract the buckets' exact partials BEFORE the routed drop, which is
    # the data the recompute reads
    dropped = {"partials_subtracted": subtract_compacted(spark, cat, buckets)}
    dropped["routed_partitions"] = sum(
        expire_routed_buckets(cat, f"routed_{sink}", buckets) for sink in routed_sinks(cat)
    )
    dropped["checkpoint_rows"] = ckpt.expire(cat, {str(b) for b in buckets})
    rebuild_summaries(spark, cat)
    return dropped


def expire_routed_buckets(cat: Catalog, table: str, buckets: list[str]) -> int:
    """Drop whole partition directories of a routed table (the scale path —
    a metadata/file operation, no data rewrite). ``buckets`` are partition
    values of the table's layout key, e.g. ``["0", "1"]`` for part_bucket.
    """
    root = cat.path(table)
    dropped = 0
    for b in buckets:
        p = os.path.join(root, f"part_bucket={b}")
        if os.path.isdir(p):
            shutil.rmtree(p)
            dropped += 1
    return dropped
