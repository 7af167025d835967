"""CLI entry point — the reference's
``python -m citibike_data_process --file-{local,remote} --read-local
--make-local`` (citibike_data_process/main.py:27-51) re-expressed for the
Spark engine:

    # local mode (--file-local analog)
    python -m citibike_deep_dive_spark \
        --input-dir ./archives --warehouse ./warehouse \
        [--export-db ./CitibikeData.db] [--s3-bucket B --s3-key K] \
        [--top-k 30] [--cpus 8]

    # remote mode (--file-remote analog: bucket listing -> state-gated
    # download -> same pipeline; ingestion.py:61-102)
    python -m citibike_deep_dive_spark \
        --remote-listing-url https://host/bucket/ --warehouse ./warehouse \
        [--download-dir ./downloads] [--workers 5] ...
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="citibike_deep_dive_spark")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input-dir", help="directory of trip-data zips (local mode)")
    src.add_argument(
        "--remote-listing-url",
        help="bucket-listing URL to fetch archives from (remote mode)",
    )
    p.add_argument("--warehouse", required=True, help="parquet warehouse directory")
    p.add_argument(
        "--download-dir",
        default=None,
        help="remote mode: archive cache dir (default: <warehouse>/_downloads)",
    )
    p.add_argument(
        "--workers", type=int, default=5, help="remote mode: parallel downloads"
    )
    p.add_argument("--state", default=None, help="state table path (default: <warehouse>/_state)")
    p.add_argument("--export-db", default=None, help="also export a DuckDB file artifact")
    p.add_argument("--s3-bucket", default=None, help="upload the DuckDB file to this bucket")
    p.add_argument("--s3-key", default=None, help="S3 key for the upload")
    p.add_argument("--top-k", type=int, default=30, help="routes enriched per year")
    p.add_argument("--cpus", default=None, help="local[] parallelism override")
    args = p.parse_args(argv)
    if bool(args.s3_bucket) != bool(args.s3_key):
        p.error("--s3-bucket and --s3-key must be given together")
    if args.s3_bucket and not args.export_db:
        p.error("--s3-bucket/--s3-key upload the --export-db file; give --export-db")

    from pyspark.sql import SparkSession

    from .session import get_spark

    t0 = time.time()
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(
        app_name="citibike-pipeline",
        master=f"local[{args.cpus}]" if args.cpus else None,
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.remote_listing_url:
        from .sources.remote import run_remote_pipeline

        result = run_remote_pipeline(
            spark,
            listing_url=args.remote_listing_url,
            warehouse_dir=args.warehouse,
            state_path=args.state,
            download_dir=args.download_dir,
            top_k=args.top_k,
            workers=args.workers,
        )
    else:
        from .pipeline import run_pipeline

        result = run_pipeline(
            spark,
            input_dir=args.input_dir,
            warehouse_dir=args.warehouse,
            state_path=args.state,
            top_k=args.top_k,
        )
    print(
        f"processed {len(result.processed)} new archive(s), "
        f"skipped {result.skipped} already-ingested"
    )

    if args.export_db:
        from .sources.export import export_warehouse_to_duckdb, upload_file_to_s3

        tables = export_warehouse_to_duckdb(args.warehouse, args.export_db)
        print(f"exported {len(tables)} table(s) to {args.export_db}")
        if args.s3_bucket:
            upload_file_to_s3(args.export_db, args.s3_bucket, args.s3_key)
            print(f"uploaded to s3://{args.s3_bucket}/{args.s3_key}")

    print(f"elapsed {time.time() - t0:.1f}s")
    if not preexisting:  # don't tear down a session the caller owns
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
