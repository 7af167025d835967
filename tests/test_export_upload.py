"""Hermetic S3 upload (S14): the real boto3 multipart transfer path
against an in-process moto S3 — no credentials, no network. Flips the
S3/S14 upload half from import-gated to executed evidence (the download
half already has the local-HTTP pattern in test_remote.py)."""

from __future__ import annotations

import os
import zipfile

import pytest

try:
    import boto3
    from moto import mock_aws
except ImportError:  # pragma: no cover - environment-dependent
    pytest.skip("boto3/moto not installed", allow_module_level=True)

from citibike_deep_dive_spark.sources.export import upload_file_to_s3

from tests.trips_fixture import modern_era_pdf

BUCKET = "tripdata-artifacts"


@pytest.fixture()
def s3_env(monkeypatch):
    """moto-backed S3 with throwaway credentials in env, like any
    credentialed runtime would provide."""
    for var in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                "AWS_SECURITY_TOKEN", "AWS_SESSION_TOKEN"):
        monkeypatch.setenv(var, "testing")
    monkeypatch.setenv("AWS_DEFAULT_REGION", "us-east-1")
    with mock_aws():
        boto3.client("s3").create_bucket(Bucket=BUCKET)
        yield boto3.client("s3")


def test_upload_multipart_roundtrip(s3_env, tmp_path):
    """A payload well past the 25 KB multipart threshold travels through
    the TransferConfig path (20 concurrent 50 KB chunks) and reads back
    byte-identical; the progress callback accounts for every byte."""
    payload = os.urandom(256 * 1024)  # 256 KB -> ~6 multipart chunks
    src = tmp_path / "analytics.db"
    src.write_bytes(payload)

    seen = []
    upload_file_to_s3(str(src), BUCKET, "exports/analytics.db",
                      progress=seen.append)

    body = s3_env.get_object(
        Bucket=BUCKET, Key="exports/analytics.db"
    )["Body"].read()
    assert body == payload
    assert sum(seen) == len(payload)


def test_upload_small_file_single_part(s3_env, tmp_path):
    """Below the multipart threshold the same call degrades to a single
    PUT — same API surface either side of the threshold."""
    src = tmp_path / "tiny.db"
    src.write_bytes(b"duckdb-artifact")
    upload_file_to_s3(str(src), BUCKET, "exports/tiny.db")
    body = s3_env.get_object(Bucket=BUCKET, Key="exports/tiny.db")["Body"].read()
    assert body == b"duckdb-artifact"


@pytest.mark.pipeline
def test_cli_uploads_the_exported_db(s3_env, spark, tmp_path):
    """``--export-db`` with ``--s3-bucket``/``--s3-key`` uploads the
    DuckDB file the run exported, byte for byte."""
    from citibike_deep_dive_spark.__main__ import main

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    with zipfile.ZipFile(inbox / "202307-citibike-tripdata.csv.zip", "w") as z:
        z.writestr("202307-citibike-tripdata.csv", modern_era_pdf().to_csv(index=False))
    db = tmp_path / "CitibikeData.db"
    rc = main(
        [
            "--input-dir", str(inbox),
            "--warehouse", str(tmp_path / "wh"),
            "--export-db", str(db),
            "--s3-bucket", BUCKET,
            "--s3-key", "exports/CitibikeData.db",
        ]
    )
    assert rc == 0
    body = s3_env.get_object(Bucket=BUCKET, Key="exports/CitibikeData.db")["Body"].read()
    assert body == db.read_bytes()
