"""spark-submit entry point: pages table → physical inverted index.

The SAME job runs on local mode and on a multi-executor cluster — all
resources/master/shuffle settings come from the spark-submit command line,
which is how the N-vs-4N scaling contract is exercised
(BENCH/BASELINE.md measures this build at two parallelism levels):

    zip -r importpipeline_spark.zip importpipeline_spark
    spark-submit \
        --master <cluster-or-local> \
        --py-files importpipeline_spark.zip \
        jobs/build_index_job.py \
        --input /data/pages --root /data/index \
        --n-shards 4096 --run-id run42 --input-snapshot snap42

The build is the segment-resumable path (per-shard lineage + metrics,
kill/resume bit-identical — importpipeline_spark/index/segments.py); re-submitting
after a failure resumes from the last finished segment. Input is any table of
(url string, warc_ts timestamp, html binary-or-string, …) — Common-Crawl-style
pages; on a cluster with an Iceberg catalog, pass --format iceberg and the
table name as --input.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages table path/name")
    ap.add_argument("--format", default="parquet")
    ap.add_argument("--root", required=True, help="index root directory")
    ap.add_argument("--n-shards", type=int, default=64,
                    help="doc-range shards; scale with corpus size so each "
                         "task's posting slice stays memory-bounded")
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--input-snapshot", default="snap1")
    args = ap.parse_args()

    # conf (master, executors, shuffle partitions, AQE) comes from the
    # spark-submit command line — this job never hard-codes a master
    spark = SparkSession.builder.appName("importpipeline-build-index").getOrCreate()
    from importpipeline_spark.index.segments import (
        build_index_resumable,
        read_lineage,
    )

    pages = spark.read.format(args.format).load(args.input)
    pidx = build_index_resumable(
        spark, pages, args.root, n_shards=args.n_shards,
        run_id=args.run_id, input_snapshot=args.input_snapshot,
    )
    lin = read_lineage(spark, args.root)
    seg_summary = (
        lin.agg(
            F.count(F.lit(1)).alias("segments"),
            F.sum("n_docs").alias("docs"),
            F.sum("n_postings").alias("postings"),
        ).first()
        if lin is not None
        else None
    )
    print(json.dumps({
        "root": args.root,
        "n_docs": pidx.stats["n_docs"],
        "avgdl": pidx.stats["avgdl"],
        "segments": int(seg_summary.segments) if seg_summary else None,
        "lineage_docs": int(seg_summary.docs or 0) if seg_summary else None,
        "lineage_postings": int(seg_summary.postings or 0) if seg_summary else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
