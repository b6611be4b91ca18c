"""spark-submit entry point: checkpointed extraction over a transcripts table.

    spark-submit --py-files b2xtranslator_spark.zip scripts/job.py \
        --input  <transcripts parquet/iceberg path> \
        --output <output dir> [--run-id r1] [--groups 64]

On a cluster, parallelism/executors come from spark-submit --conf /
--num-executors; this script only declares the job. Resume semantics:
re-running with the same --run-id skips committed groups
(pipeline.run_with_checkpoints).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def builder() -> SparkSession.Builder:
    """The job's session builder, WITHOUT master(): spark-submit / the
    cluster manager decides it, with task.cpus, the shuffle partitions and
    the driver heap. The other settings are plans.session.JOB_CONF."""
    from b2xtranslator_spark.plans.session import JOB_CONF

    return SparkSession.builder.appName("b2x-extract").config(map=JOB_CONF)


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default="run-1")
    p.add_argument("--groups", type=int, default=64)
    args = p.parse_args()

    from b2xtranslator_spark.pipeline import run_with_checkpoints

    spark = builder().getOrCreate()
    stats = run_with_checkpoints(
        spark, args.input, args.output, args.run_id, n_groups=args.groups
    )
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
