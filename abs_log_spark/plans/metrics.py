"""Lineage metrics ([B] north_rule: "per-partition lineage + metrics").

Row counts are collected with ``DataFrame.observe`` — accumulator-style
metrics piggybacking on the job's own actions, ZERO extra passes over the
data (a ``df.count()`` audit at 10^12 rows would be a full extra scan).
The one row per run is appended to the ``metrics`` table on the driver with
pyarrow (``Catalog.append_rows``), so recording a run costs no Spark job.
The run's count of freshly compiled generated classes is read from the
driver JVM's codegen counter, also without a Spark action.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from abs_log_spark.catalog import Catalog

METRICS_TABLE = "metrics"
METRICS_SCHEMA = StructType(
    [StructField(c, StringType()) for c in ("run_id", "stage", "partition_key")]
    + [
        StructField(c, LongType())
        for c in ("rows_in", "rows_valid", "rows_invalid", "rows_routed", "wall_ms")
    ]
)


def codegen_compile_count(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this driver JVM so far (in
    local mode the executors share it). Flat across a warm run when every
    class the run needs is still in the codegen cache."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(codegen.METRIC_COMPILATION_TIME().getCount())


class StageMetrics:
    """Attach observation points to the flowing DataFrame, then persist the
    collected values once the terminal action has run."""

    def __init__(self, spark: SparkSession) -> None:
        self.observations: dict[str, Observation] = {}
        self.t0 = time.monotonic()
        self.timings: dict[str, float] = {}
        self._last = self.t0
        self._compiles0 = codegen_compile_count(spark)

    def mark(self, phase: str) -> None:
        """Record wall time since the previous mark under ``phase``."""
        now = time.monotonic()
        self.timings[phase] = round(now - self._last, 3)
        self._last = now

    def observe_input(self, df: DataFrame) -> DataFrame:
        obs = Observation("input")
        self.observations["input"] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows_in"))

    def observe_routed(self, df: DataFrame) -> DataFrame:
        obs = Observation("routed")
        self.observations["routed"] = obs
        return df.observe(
            obs,
            F.count(F.lit(1)).alias("rows_routed"),
            F.sum(F.when(F.col("valid"), 1).otherwise(0)).alias("rows_valid"),
            F.sum(F.when(~F.col("valid"), 1).otherwise(0)).alias("rows_invalid"),
        )

    def observe_agg_input(self, df: DataFrame) -> DataFrame:
        """Rows entering the incremental-summary aggregation — on a resumed
        run this must equal the INCREMENT size, not the total history (the
        test hook proving the aggregate never re-scans completed buckets)."""
        obs = Observation("agg_input")
        self.observations["agg_input"] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows_agg_input"))

    def flush(
        self, spark: SparkSession, cat: Catalog, run_id: str, partition_keys: list[str]
    ) -> dict:
        """Append this run's row to ``metrics`` (driver-side pyarrow write,
        no Spark job) and return the collected values plus phase timings and
        ``codegen_compiles``, the classes compiled since construction (kept
        out of the ``metrics`` row: one footer schema per table).

        Every observation point must have been consumed by an action before
        this call: ``Observation.get`` blocks until its action has run, and
        waits forever for one that never does. An action over empty input
        completes it with a count of 0 and null sums, or, when adaptive
        execution pruned the observed subtree as empty, with no row at all;
        both read as zero counts."""
        wall_ms = int((time.monotonic() - self.t0) * 1000)
        compiles = codegen_compile_count(spark) - self._compiles0
        vals: dict = {"wall_ms": wall_ms}
        for obs in self.observations.values():
            try:
                vals.update(obs.get)
            except Py4JJavaError:
                # the action ran on empty input and AQE replaced the
                # observed subtree by an empty relation: no metrics row
                pass
        # empty input -> null sums; no pending rows -> no observed values
        vals = {k: (0 if v is None else v) for k, v in vals.items()}
        counts = {
            k: int(vals.get(k, 0))
            for k in ("rows_in", "rows_valid", "rows_invalid", "rows_routed")
        }
        vals.update(counts)
        row = (
            run_id,
            "pipeline",
            ",".join(map(str, sorted(partition_keys))),
            *counts.values(),
            wall_ms,
        )
        cat.append_rows(METRICS_TABLE, METRICS_SCHEMA, [row])
        vals["timings"] = dict(self.timings)
        vals["codegen_compiles"] = compiles
        return vals
