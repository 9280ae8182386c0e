"""spark-submit entry point for the batch pipeline ([B] north_rule:
"run via spark-submit --py-files").

Usage (local smoke):
    spark-submit --py-files abs_log_spark.zip jobs/run_pipeline.py \
        --synth-rows 100000 --warehouse /tmp/wh --run-id run1

    python jobs/run_pipeline.py --synth-rows 10000 --warehouse /tmp/wh

On a cluster the ``--input`` form reads an existing sequences table
(parquet dir; Iceberg identifier once the runtime jar is present) instead of
synthesizing one.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="abs-log-spark batch pipeline")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="path of an existing sequences table (parquet)")
    src.add_argument("--synth-rows", type=int, help="synthesize N input rows instead")
    p.add_argument("--warehouse", required=True, help="output catalog root dir")
    p.add_argument("--run-id", required=True)
    p.add_argument("--master", default=None, help="override spark master")
    p.add_argument("--buckets", type=int, default=8, help="part_bucket count for synth")
    p.add_argument("--invalid-every", type=int, default=0, help="corrupt every k-th synth row")
    p.add_argument(
        "--no-resume", action="store_true",
        help="re-ingest every input bucket: subtract the done buckets' folded "
        "rows, then route and fold the whole input again",
    )
    p.add_argument(
        "--repeat", type=int, default=1,
        help="run the pipeline N times (fresh warehouse per rep) in ONE JVM, "
        "printing one JSON line per rep — steady-state (warm-JIT) benchmarking",
    )
    p.add_argument(
        "--aligned", action="store_true",
        help="input is clustered by (source, part_bucket): skip the layout shuffle",
    )
    p.add_argument(
        "--exclude-uri", default=None,
        help="regex: valid rows with matching uri are dropped before routing",
    )
    args = p.parse_args(argv)

    from abs_log_spark.catalog import Catalog
    from abs_log_spark.plans.pipeline import PipelineConfig, run_pipeline
    from abs_log_spark.session import get_spark
    from abs_log_spark.sources.synth import gen_sequences, gen_sources_dim

    spark = get_spark(app_name=f"abs-log-spark:{args.run_id}", master=args.master)
    cat = Catalog(root=args.warehouse)
    if args.input:
        seq = spark.read.parquet(args.input)
    else:
        seq = gen_sequences(
            spark, args.synth_rows, buckets=args.buckets, invalid_every=args.invalid_every
        )
    dim = gen_sources_dim(spark)
    cfg = PipelineConfig(
        resume=not args.no_resume,
        input_aligned=args.aligned,
        exclude_uri=args.exclude_uri,
    )
    if args.repeat == 1:
        summary = run_pipeline(spark, cat, seq, dim, run_id=args.run_id, cfg=cfg)
        print(json.dumps({"run_id": args.run_id, **{k: v for k, v in summary.items()}}))
    else:
        import shutil
        import time

        for rep in range(args.repeat):
            wh = f"{args.warehouse.rstrip('/')}_rep{rep}"
            shutil.rmtree(wh, ignore_errors=True)
            t0 = time.monotonic()
            summary = run_pipeline(
                spark, Catalog(root=wh), seq, dim, run_id=f"{args.run_id}_r{rep}", cfg=cfg
            )
            summary["rep"] = rep
            summary["wall_ms"] = int((time.monotonic() - t0) * 1000)
            print(json.dumps({"run_id": args.run_id, **summary}), flush=True)
            shutil.rmtree(wh, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
