"""Export sinks: DuckDB-file artifact + S3 upload (S14) + bucket-listing
parse (S1).

The reference's terminal artifact is a single DuckDB file uploaded to S3
for the website to consume (citibike_data_process/data_processing/export/
export_data.py:24-31). Our warehouse is Parquet (the scale substrate);
this module materializes the same portable DuckDB-file artifact from it
driver-side — the 100 TB tables stay in Parquet/S3, only the (small)
derived analytics tables travel into the .db file.

S3 transfer parity: multipart threshold/concurrency/chunk sizes mirror
the reference's TransferConfig (shared_util/s3_functions.py:11-16);
boto3 is import-gated so the engine has no hard cloud dependency.
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
from collections.abc import Callable

import duckdb


def export_warehouse_to_duckdb(warehouse_dir: str, db_path: str) -> list[str]:
    """Materialize each parquet table under ``warehouse_dir`` as a table in
    a DuckDB file (CREATE OR REPLACE — idempotent re-export)."""
    tables = sorted(
        d for d in os.listdir(warehouse_dir)
        if os.path.isdir(os.path.join(warehouse_dir, d)) and not d.startswith("_")
    )
    if os.path.exists(db_path):
        os.remove(db_path)
    con = duckdb.connect(db_path)
    try:
        for t in tables:
            glob = os.path.join(warehouse_dir, t, "**", "*.parquet")
            con.execute(
                f'CREATE OR REPLACE TABLE "{t}" AS '
                f"SELECT * FROM read_parquet('{glob}')"
            )
    finally:
        con.close()
    return tables


def parse_bucket_listing_xml(xml_text: str) -> list[str]:
    """S1: extract <Key> names from an S3 ListBucket XML document
    (ingestion.py:61-77 — stdlib ElementTree instead of BeautifulSoup)."""
    root = ET.fromstring(xml_text)
    # S3 namespaces the document; match on localname.
    return [
        el.text
        for el in root.iter()
        if el.tag.rsplit("}", 1)[-1] == "Key" and el.text
    ]


def upload_file_to_s3(
    path: str,
    bucket: str,
    key: str,
    progress: Callable[[int], None] | None = None,
) -> None:
    """S14: multipart upload with the reference's TransferConfig numbers
    (threshold 25 KB, 20 concurrent, 50 KB chunks, s3_functions.py:11-16).

    Requires boto3 + credentials at call time; the engine itself never
    imports boto3 at module load.
    """
    try:
        import boto3
        from boto3.s3.transfer import TransferConfig
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise RuntimeError(
            "boto3 is required for S3 upload; install it or export the "
            "DuckDB file locally"
        ) from exc
    config = TransferConfig(
        multipart_threshold=1024 * 25,
        max_concurrency=20,
        multipart_chunksize=1024 * 50,
        use_threads=True,
    )
    boto3.client("s3").upload_file(
        path, bucket, key, Config=config, Callback=progress
    )
