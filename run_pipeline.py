"""spark-submit entry point for the sampling pipeline.

    spark-submit --py-files asp_spark.zip run_pipeline.py \
        --input  s3://bucket/sequences/           \
        --config sampling.yml                     \
        --checkpoint s3://bucket/ckpt             \
        --output s3://bucket/out                  \
        [--batches N] [--streaming] [--vacuum]

On a cluster the session comes from spark-submit's conf (master,
executors); locally it falls back to local[$SPARK_GRAFT_CPUS]. With
``flush_on_shutdown: true`` in the YAML the run ends with the shutdown
flush, and the printed JSON carries its counts under ``"flush"``. Build
the zip from the repository root with:
zip -r asp_spark.zip atlassian_sampling_processor_spark
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(description="tail-sampling pipeline")
    ap.add_argument(
        "--input",
        required=True,
        help="sequences table: a parquet path, or iceberg:catalog.db.table",
    )
    ap.add_argument("--config", required=True, help="policy YAML")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batches", type=int, default=None)
    ap.add_argument("--streaming", action="store_true", help="consume --input as a file stream")
    ap.add_argument(
        "--vacuum",
        action="store_true",
        help="after the run, drop state-chain segments shadowed by the newest "
        "base snapshot (long-running jobs; disables time-travel to vacuumed versions)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from atlassian_sampling_processor_spark.config import load_config
    from atlassian_sampling_processor_spark.pipeline import SamplingPipeline

    spark = SparkSession.builder.appName("atlassian-sampling-spark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    engine, policies = load_config(args.config)
    pipe = SamplingPipeline(spark, policies, engine, args.checkpoint, args.output)

    if args.streaming:
        from atlassian_sampling_processor_spark.streaming import run_streaming, stream_sequences

        run_streaming(pipe, stream_sequences(spark, args.input))
        results = []
    else:
        from atlassian_sampling_processor_spark.io_formats import read_table

        results = pipe.run(read_table(spark, args.input), n_batches=args.batches)

    out = {
        "batches": [vars(r) for r in results],
        "kept": sum(r.kept for r in results),
        "dropped": sum(r.dropped for r in results),
    }
    if engine.flush_on_shutdown:
        out["flush"] = pipe.flush()
    if args.vacuum:
        last = pipe.store.last_committed_batch()
        if last is not None:
            for table in ("pending_state", "pending_spans", "decision_state"):
                pipe.store.vacuum(table, last)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
