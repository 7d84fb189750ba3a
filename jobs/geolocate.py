"""spark-submit entry point: geolocate a pages table end-to-end.

The north rule's deployment shape — the engine running as a packaged job on
a multi-executor cluster — looks like:

    python -m zipfile -c dist/proj_spark.zip proj_spark
    spark-submit --master spark://...:7077 \
        --py-files dist/proj_spark.zip \
        --conf spark.sql.session.timeZone=UTC \
        --conf spark.sql.adaptive.enabled=true \
        jobs/geolocate.py --pages /data/pages_parquet --out /data/geo_out \
        --buckets 256

In this sandbox the same file runs against the synthetic fixture:

    spark-submit --master 'local[8]' --py-files dist/proj_spark.zip \
        jobs/geolocate.py --sf-dir /root/testdata/sf0.001 --out /tmp/geo_out

Pipeline (all JVM-side until the one Arrow crossing):
pages(url, warc_ts, html, text, lang) -> regex coordinate extraction ->
domain filter -> webmerc tile (z configurable) + S2 L12 cell -> parquet.
CheckpointedJob runs it once over every pending hash-bucket of url and
commits the buckets one by one (kill-and-rerun resumable; per-bucket
lineage + metrics in the manifest, the Iceberg snapshot-summary analogue —
see proj_spark/checkpoint.py). The S2 step is a per-row map that keeps
url, as CheckpointedJob requires.

The job NEVER calls .collect() on data: the driver only reads the manifest.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", help="parquet path of a pages table "
                    "(url, warc_ts, html, text, lang)")
    ap.add_argument("--sf-dir", help="synthesize pages from this testdata "
                    "dir instead of reading --pages")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--zoom", type=int, default=10)
    ap.add_argument("--max-buckets", type=int, default=None,
                    help="process at most N buckets this invocation "
                    "(resume later runs the rest)")
    args = ap.parse_args(argv)
    if not args.pages and not args.sf_dir:
        ap.error("one of --pages / --sf-dir is required")

    # Under spark-submit the session (master, executors, confs) comes from
    # the submit command; builder.getOrCreate() attaches to it. Defaults
    # here only fill holes when run as a bare python script.
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.appName("proj_spark_geolocate")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())

    from proj_spark.checkpoint import CheckpointedJob
    from proj_spark.pagesgen import extract_from_table_cte, materialize_pages

    if args.pages:
        spark.read.parquet(args.pages).createOrReplaceTempView("pages_tbl")
    else:
        materialize_pages(spark, args.sf_dir, args.out + "_pages_fixture")

    z = args.zoom
    extracted = spark.sql(f"""
      WITH {extract_from_table_cte('pages_tbl')}
      SELECT url, lat, lon,
             CAST(floor((lon + 180.0D) / 360.0D * {2**z}.0D) AS BIGINT) AS tx,
             CAST(floor((1.0D - ln(tan(pi()/4.0D + radians(lat)/2.0D)) / pi())
                        / 2.0D * {2**z}.0D) AS BIGINT) AS ty
      FROM extracted
      WHERE lat IS NOT NULL AND ABS(lat) <= 85.06D AND ABS(lon) <= 180.0D""")

    def add_s2(df):
        from proj_spark.kernels import s2cell
        from proj_spark.stages import numpy_udf
        return df.withColumn("s2_cell",
                             numpy_udf("long")(s2cell.cell12)("lon", "lat"))

    job = CheckpointedJob("geolocate", args.out, args.buckets, key_col="url",
                          job_desc=f"extract+webmerc z{z}+s2 L12")
    t0 = time.monotonic()
    n = job.run(extracted, add_s2, input_path=args.pages or args.sf_dir,
                max_buckets=args.max_buckets)
    done = len(job.completed_buckets())
    print(f"geolocate: processed {n} buckets this run, "
          f"{done}/{args.buckets} committed, {time.monotonic() - t0:.1f}s; "
          f"manifest: {job.manifest_path}")
    return 0 if done == args.buckets else 3  # 3 = partial (resume to finish)


if __name__ == "__main__":
    sys.exit(main())
