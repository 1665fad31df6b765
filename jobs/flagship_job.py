"""spark-submit entry point for the flagship pipeline (north rule: the
whole pipeline launches via `spark-submit --py-files` on multi-executor
clusters).

Local sandbox:

    make package
    spark-submit --master 'local[8]' --py-files dist/diagonal_b6_spark.zip \
        jobs/flagship_job.py --images 100000 --checkpoint /tmp/flagship_ckpt

Cluster: swap --master/--deploy-mode and point --input at the Iceberg
image table location; everything else is identical.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--images", type=int, default=100_000, help="rows to synthesize if no --input")
    p.add_argument("--input", default=None, help="parquet path of an existing image table")
    p.add_argument("--checkpoint", default=None, help="manifest + partitioned output root")
    p.add_argument("--strategy", choices=["broadcast", "bucketed"], default="bucketed")
    p.add_argument("--zooms", default="12,16")
    args = p.parse_args()

    # imports resolved from the --py-files zip on executors
    from pyspark.sql import SparkSession

    from diagonal_b6_spark.pipeline import run_flagship
    from diagonal_b6_spark.session import ENGINE_CONF

    spark = SparkSession.builder.appName("diagonal_b6_flagship").config(map=ENGINE_CONF).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    counters = run_flagship(
        spark,
        n_images=args.images,
        checkpoint_root=args.checkpoint,
        strategy=args.strategy,
        zooms=tuple(int(z) for z in args.zooms.split(",")),
        images_path=args.input,
    )
    print("FLAGSHIP_RESULT " + json.dumps(counters))
    spark.stop()


if __name__ == "__main__":
    main()
