"""Old-data expiry (SURVEY.md S5) — abs-log's retention cleanup.

Reference behavior ([PK] config-driven retention): drop old data so the
stores stay bounded. The summaries are derived from ``agg_partials`` in
every commit, so expiry acts on the inputs of that fold, never on the
summary tables alone: :func:`expire_buckets` is one cycle with no new rows.
It takes whole input buckets out of the histogram partials and the done
set, re-derives the summaries, and drops the buckets' routed partitions
(directory removal, never a rewrite), all in ONE journaled
:meth:`Catalog.swap`; a crash at any step leaves the warehouse expired or
not, never half-expired.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from abs_log_spark.catalog import Catalog
from abs_log_spark.plans import checkpoint as ckpt


def expire_buckets(spark: SparkSession, cat: Catalog, buckets: list[str]) -> dict:
    """Consistently expire input buckets EVERYWHERE they left state, in one
    commit: their contribution to ``agg_partials`` (recomputed from their
    routed rows and subtracted), their place in the done set (logged as
    ``expired`` checkpoint rows), every ``routed_*`` table's partitions, and
    the summary tables (none is left when nothing remains).

    Dropping only the routed partitions would leave the buckets' partials
    behind, and the summaries would keep serving expired data; dropping
    them in a second step would let a crash between the two leave one half
    expired. Re-ingesting an expired bucket is a run over input that
    carries it. Iceberg equivalent: partition DELETEs on the routed tables,
    a partials rewrite and the summary REPLACE in one transaction.
    """
    from abs_log_spark.plans.pipeline import commit_cycle, routed_dirs

    done = ckpt.completed_partitions(cat)
    victims = sorted(set(map(str, buckets)) & done)
    removes = routed_dirs(cat, buckets)
    commit_cycle(spark, cat, "expire", done, [], victims, removes=removes)
    return {"partials_subtracted": len(victims), "routed_partitions": len(removes)}
