"""spark-submit entry point for the STREAMING pipeline variant.

The always-on counterpart of jobs/run_pipeline.py: micro-batches a
sequences directory (or, on a cluster, an Iceberg table stream) through
foreachBatch, each micro-batch one ``run_pipeline`` increment keyed by its
batch id. The stream feeds the same warehouse tables as the cron job, so
``jobs/log_show.py`` serves it. Its offsets live inside the warehouse: one
warehouse takes one stream (or one bucketed batch input, never both).

Usage (finite drain, e.g. backfill):
    python jobs/run_stream.py --input /data/sequences --warehouse /tmp/swh \
        --available-now

Usage (continuous):
    spark-submit --py-files dist/abs_log_spark.zip jobs/run_stream.py \
        --input /data/sequences --warehouse /wh
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="abs-log-spark streaming pipeline")
    p.add_argument("--input", required=True, help="sequences parquet dir to stream")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--available-now", action="store_true",
        help="drain everything currently in the input, then stop (backfill mode)",
    )
    args = p.parse_args(argv)

    from abs_log_spark.catalog import Catalog
    from abs_log_spark.session import get_spark
    from abs_log_spark.sources.synth import gen_sources_dim
    from abs_log_spark.streaming import run_stream_foreach_batch

    spark = get_spark(app_name="abs-log-spark:stream", master=args.master)
    cat = Catalog(root=args.warehouse)
    dim = gen_sources_dim(spark)

    batches: list[tuple[int, int]] = []
    q = run_stream_foreach_batch(
        spark,
        cat,
        args.input,
        dim,
        max_files_per_trigger=args.max_files_per_trigger,
        available_now=args.available_now,
        on_batch=lambda bid, n: batches.append((bid, n)),
    )
    q.awaitTermination()

    print(json.dumps({"batches": len(batches), "rows_by_batch": batches}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
