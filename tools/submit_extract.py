"""Cluster job entry point for ``spark-submit --py-files`` (north_rule
launch mode).

Build the dependency zip and submit:

    cd /root/repo && zip -qr /tmp/pdfextract_spark.zip pdfextract_spark
    spark-submit --master local[8] \\
        --py-files /tmp/pdfextract_spark.zip \\
        tools/submit_extract.py \\
        --input /root/testdata/sf0.001 --output /tmp/extract_job_out \\
        --buckets 16 --resume

On a real cluster ``--master`` changes (YARN/k8s), and ``--output``
must be a path that ``pyarrow.fs`` opens from the driver and from
every executor: a shared mount, or an ``hdfs://``, ``s3://``,
``gs://`` or ``abfs://`` URI.  A local path stays local, never
resolved against ``fs.defaultFS``.  Hadoop-only
schemes such as ``s3a://`` are refused before any Spark job runs;
credentials come from pyarrow's own chain, not ``spark.hadoop.*``,
and ``hdfs://`` needs libhdfs on every executor.  The job is a single narrow
stage plus bucketed commits, so executor count scales it linearly.
The run is resumable: re-submitting after a failure skips buckets
with committed lineage.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="sf dir with documents.parquet, or a transcripts parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--batch", type=int, default=16)
    ap.add_argument("--turns-per-doc", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--skip-errors", action="store_true",
                    help="emit sentinel rows for failing turns instead of aborting")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("pdfextract-spark-extract")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from pdfextract_spark.sinks import run_extraction_job
    from pdfextract_spark.sources import synth_transcripts

    transcripts = synth_transcripts(
        spark, args.input, turns_per_doc=args.turns_per_doc
    )
    lineage = run_extraction_job(
        spark,
        transcripts,
        args.output,
        n_buckets=args.buckets,
        buckets_per_batch=args.batch,
        resume=args.resume,
        on_error=("skip" if args.skip_errors else "fail"),
    )
    # one Spark job over the lineage for the whole summary
    stats = lineage.agg(
        F.sum("rows_out"), F.sum("refs_matched"), F.count("*")
    ).first()
    print(
        json.dumps(
            {
                "rows_out": stats[0],
                "refs_matched": stats[1],
                "lineage_rows": stats[2],
                "output": args.output,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
