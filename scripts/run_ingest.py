"""spark-submit entry point for the CDC ingest job.

The cluster deployment mode from BASELINE.json: package the engine and
submit, e.g. ::

    cd /root/repo && mkdir -p dist && \
      python -c "import shutil; shutil.make_archive('dist/dps', 'zip', '.', 'data_pipelines_spark')"
    spark-submit --master <cluster> --py-files dist/dps.zip \
      scripts/run_ingest.py \
      --log-dir /data/changelog --table-root /data/lake/pages \
      --checkpoint /data/ckpt --buckets 1024 --stateful

The session comes from spark-submit's own conf (master, executors, memory);
this script only sets engine-level SQL conf. ``--generate N`` writes a
deterministic synthetic change log first (smoke/demo mode), so the same
file doubles as the single-node benchmark driver.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser(description="CDC change-log -> lake table ingest")
    ap.add_argument("--log-dir", required=True, help="change-log parquet directory")
    ap.add_argument("--table-root", required=True, help="lake table root")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--max-files-per-trigger", type=int, default=4)
    ap.add_argument("--stateful", action="store_true", help="stateful LWW pre-filter")
    ap.add_argument("--change-filter", action="store_true", help="hash no-op filter")
    ap.add_argument("--extract-fields", action="store_true")
    ap.add_argument("--no-decode", action="store_true")
    ap.add_argument("--watermark", default="30 minutes")
    ap.add_argument("--branch", default=None, metavar="NAME",
                    help="write-audit-publish: stage every batch on this "
                         "branch; main is untouched until --publish")
    ap.add_argument("--publish", choices=["ff", "rebase"], default=None,
                    help="publish the --branch after the stream drains "
                         "(ff = fast-forward, rebase = replay if diverged); "
                         "omit to leave the branch staged for a later audit")
    ap.add_argument("--generate", type=int, default=0, metavar="N",
                    help="first generate an N-event synthetic log (seed 42)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("cdc-ingest")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .getOrCreate()
    )
    # size shuffle/state partitions to the cluster, not Spark's default 200 —
    # with the stateful filter each trigger touches every state partition, so
    # 200 near-empty state stores would dominate small triggers.
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(2 * spark.sparkContext.defaultParallelism)
    )

    from data_pipelines_spark.gen.changegen import change_stream, write_change_log
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    if args.generate:
        changes = change_stream(
            spark, n_events=args.generate, n_keys=max(64, args.generate // 8), seed=42
        )
        write_change_log(changes, args.log_dir, n_segments=16)
        schema = changes.schema
    else:
        schema = spark.read.parquet(args.log_dir).schema

    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=args.table_root,
            n_buckets=args.buckets,
            decode=not args.no_decode,
            extract_fields=args.extract_fields,
            change_filter=args.change_filter,
            branch=args.branch,
        ),
    )
    t0 = time.time()
    q = pipe.run_stream(
        args.log_dir,
        args.checkpoint,
        schema,
        max_files_per_trigger=args.max_files_per_trigger,
        stateful_filter=args.stateful,
        watermark=args.watermark,
    )
    q.awaitTermination()
    if q.exception():
        print(f"stream failed: {q.exception()}", file=sys.stderr)
        sys.exit(1)
    elapsed = time.time() - t0
    published = None
    # after a publish the result lives on main, not on the branch handle
    out = pipe.table
    if args.branch and args.publish:
        published = pipe.publish_branch(mode=args.publish)
        out = pipe.main_table
    rows = out.read().count()
    report = [r.asDict() for r in pipe.throughput_report().collect()]
    events = sum(r["rows_in"] for r in report)
    print(
        json.dumps(
            {
                "elapsed_sec": round(elapsed, 2),
                "final_rows": rows,
                "batches": len(report),
                "rows_merged": events,
                "rows_per_sec": round(events / elapsed, 1) if elapsed else None,
                "table_version": out.current_version(),
                "branch": args.branch,
                "published_version": published,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
