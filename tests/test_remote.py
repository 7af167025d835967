"""Remote ingestion mode: bucket-listing fetch → state-gated download →
pipeline, against a REAL local HTTP server (hermetic, no network)."""

from __future__ import annotations

import io
import threading
import zipfile
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from citibike_deep_dive_spark.pipeline import DERIVED_TABLES
from citibike_deep_dive_spark.sources.remote import (
    download_archive,
    fetch_listing,
    get_with_retries,
    run_remote_pipeline,
)
from citibike_deep_dive_spark.sources.state import load_state

from tests.trips_fixture import modern_era_pdf

pytestmark = pytest.mark.pipeline

ZIP_KEY = "202307-citibike-tripdata.csv.zip"

LISTING_XML = f"""<?xml version="1.0" encoding="UTF-8"?>
<ListBucketResult xmlns="http://s3.amazonaws.com/doc/2006-03-01/">
  <Name>tripdata</Name>
  <Contents><Key>{ZIP_KEY}</Key></Contents>
  <Contents><Key>JC-202307-citibike-tripdata.csv.zip</Key></Contents>
  <Contents><Key>index.html</Key></Contents>
  <Contents><Key>2012-citibike-tripdata.zip</Key></Contents>
</ListBucketResult>"""


def _zip_payload() -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "202307-citibike-tripdata.csv", modern_era_pdf().to_csv(index=False)
        )
    return buf.getvalue()


@pytest.fixture()
def bucket_server():
    """Local fake of the public tripdata bucket: GET / → listing XML,
    GET /<key> → archive bytes. Counts requests per path."""
    payload = _zip_payload()
    hits: dict[str, int] = {}

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802
            hits[self.path] = hits.get(self.path, 0) + 1
            if self.path == "/":
                body = LISTING_XML.encode()
            elif self.path == f"/{ZIP_KEY}":
                body = payload
            else:
                self.send_response(404)
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # silence
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}", hits
    finally:
        server.shutdown()
        thread.join(timeout=5)


def test_fetch_listing_parses_keys(bucket_server):
    url, _ = bucket_server
    keys = fetch_listing(url + "/")
    assert ZIP_KEY in keys and "index.html" in keys  # filtering happens later


def test_remote_pipeline_end_to_end_idempotent(bucket_server, spark, tmp_path):
    url, hits = bucket_server
    wh = str(tmp_path / "warehouse")

    result = run_remote_pipeline(spark, url + "/", wh, backoff=0)
    # JC-, html and pre-2013 keys filtered; only the monthly zip processed
    assert [(c.year, c.month) for c in result.processed] == [(2023, 7)]
    assert hits[f"/{ZIP_KEY}"] == 1

    trips = spark.read.parquet(f"{wh}/trips")
    assert trips.count() > 0

    # second run: state-gated BEFORE download → no archive bytes fetched
    again = run_remote_pipeline(spark, url + "/", wh, backoff=0)
    assert again.processed == [] and again.skipped == 1
    assert hits[f"/{ZIP_KEY}"] == 1, "already-ingested archive was re-downloaded"


def test_cli_remote_mode_ingests_once(bucket_server, spark, tmp_path, capsys):
    """``--remote-listing-url`` runs the remote flow: the archive is
    downloaded and ingested once, and a rerun downloads nothing."""
    from citibike_deep_dive_spark.__main__ import main

    url, hits = bucket_server
    wh = tmp_path / "warehouse"
    argv = ["--remote-listing-url", url + "/", "--warehouse", str(wh)]

    assert main(argv) == 0
    assert "processed 1 new archive(s), skipped 0" in capsys.readouterr().out
    assert hits[f"/{ZIP_KEY}"] == 1
    assert (wh / "_downloads" / ZIP_KEY).exists()
    assert spark.read.parquet(str(wh / "trips")).count() > 0

    assert main(argv) == 0
    assert "processed 0 new archive(s), skipped 1" in capsys.readouterr().out
    assert hits[f"/{ZIP_KEY}"] == 1, "already-ingested archive was re-downloaded"


def test_download_cache_short_circuits(bucket_server, tmp_path):
    url, hits = bucket_server
    d = str(tmp_path / "dl")
    p1 = download_archive(url, ZIP_KEY, d, backoff=0)
    p2 = download_archive(url, ZIP_KEY, d, backoff=0)
    assert p1 == p2 and hits[f"/{ZIP_KEY}"] == 1


def test_download_replaces_an_empty_cached_file(bucket_server, tmp_path):
    """A zero-byte file in the cache is not a cached archive: it is
    downloaded again."""
    url, hits = bucket_server
    d = tmp_path / "dl"
    d.mkdir()
    (d / ZIP_KEY).write_bytes(b"")
    path = download_archive(url, ZIP_KEY, str(d), backoff=0)
    assert hits[f"/{ZIP_KEY}"] == 1
    assert zipfile.ZipFile(path).namelist() == ["202307-citibike-tripdata.csv"]


def test_failed_download_raises_and_writes_nothing(bucket_server, spark, tmp_path):
    """An archive whose download fails on every retry stops the run with
    the error, before any table or state is written."""
    url, _ = bucket_server
    archive_gets = []

    def http_get(u: str) -> bytes:
        if u.endswith(ZIP_KEY):
            archive_gets.append(u)
            raise ConnectionError("archive unreachable")
        return LISTING_XML.encode()

    wh = tmp_path / "warehouse"
    with pytest.raises(ConnectionError, match="archive unreachable"):
        run_remote_pipeline(spark, url + "/", str(wh), http_get=http_get, backoff=0)
    assert len(archive_gets) == 3
    assert load_state(str(wh / "_state")) == {}
    assert [t for t in DERIVED_TABLES if (wh / t).exists()] == []


def test_get_with_retries_backoff_then_success():
    calls = {"n": 0}

    def flaky(url: str) -> bytes:
        calls["n"] += 1
        if calls["n"] < 3:
            raise ConnectionError("boom")
        return b"ok"

    assert get_with_retries("http://x/", flaky, max_retries=3, backoff=0) == b"ok"
    assert calls["n"] == 3

    calls["n"] = 0
    with pytest.raises(ConnectionError):
        get_with_retries("http://x/", flaky, max_retries=2, backoff=0)
