"""spark-submit entry point for cluster runs.

Packaging + launch (the north rule's ``spark-submit --py-files`` path):

    cd /root/repo && zip -r /tmp/oblate_spark.zip oblate_spark
    spark-submit \
        --master yarn --deploy-mode cluster \
        --num-executors 250 --executor-cores 4 --executor-memory 16g \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.shuffle.partitions=2000 \
        --conf spark.executor.extraJavaOptions="-XX:+UseParallelGC" \
        --py-files /tmp/oblate_spark.zip \
        cluster/submit_validation.py \
        --table s3://bucket/images --out s3://bucket/validation_run_42

The code is master-agnostic: everything in ``oblate_spark`` builds
plans against whatever SparkSession exists. Executor sizing note: the
payload kernel runs one python worker per task slot — budget ~1 core +
~1 GB per slot for the python side (the reason executor-cores stays
moderate). Each group's violations are written by ``ResumableRun``,
which is the run's resume point.
"""

from __future__ import annotations

import argparse


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--table", required=True, help="parquet/Iceberg path of the image+caption table")
    parser.add_argument("--out", required=True, help="output directory for the run (report, violations, manifest)")
    parser.add_argument("--group-size", type=int, default=64, help="files per resumable checkpoint group")
    parser.add_argument("--phash-tolerance", type=int, default=0)
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("oblate_spark_validation").getOrCreate()

    from oblate_spark.checkpoint import ResumableRun
    from oblate_spark.operators.images import release_report, validate_image_table

    run = ResumableRun(spark, args.table, args.out, group_size=args.group_size)

    def job(gdf):
        return validate_image_table(gdf, phash_tolerance=args.phash_tolerance)

    manifest = run.run(job, cleanup=release_report)
    done = sum(1 for g in manifest["groups"].values() if g["done"])
    print(f"completed {done}/{len(run.groups)} groups; violations at {args.out}")


if __name__ == "__main__":
    main()
