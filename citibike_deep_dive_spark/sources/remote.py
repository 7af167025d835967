"""Remote ingestion mode (S1 + S3-transfer + the reference's
``--file-remote`` flow).

Reference: citibike_data_process/data_processing/ingestion/ingestion.py:61-102
— GET the public bucket listing, filter keys (no 'JC-', no '.html',
year >= 2013), state-gate against StatusData, download the NEW zips with a
thread pool, then feed them through the same per-archive import loop as
local mode. Re-expressed here as:

    fetch listing XML → parse_bucket_listing_xml (export.py)
    → discover_listing (discovery.py) → new_files state gate (state.py)
    → parallel driver-side download into a cache dir
    → pipeline.ingest_new: process_archive per file, saving state after each

Design notes:
- HTTP is injectable (``http_get``) so tests run against a local fake
  server or a plain callable — the engine has no hard dependency on any
  specific HTTP client; the default uses stdlib urllib.
- Downloads are retried with exponential backoff (the reference applies
  this discipline to its HTTP calls, update_tripsmap.py:137-151) and are
  cached by file name: a re-run never re-downloads an archive that is
  already staged, so the flow is idempotent end to end.
- Only the DRIVER downloads — the work list is a few thousand names and
  each zip lands on local disk for the executor-side extract/parse path.
  At 100 TB the archives would live in object storage and be read
  directly by the cluster; this mode exists for parity with the
  reference's single-node fetch loop.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession

from .discovery import CandidateFile, discover_listing
from .export import parse_bucket_listing_xml

HttpGet = Callable[[str], bytes]


def _default_http_get(url: str, timeout: float = 60.0) -> bytes:
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        return resp.read()


def get_with_retries(
    url: str,
    http_get: HttpGet | None = None,
    max_retries: int = 3,
    backoff: float = 2.0,
) -> bytes:
    """GET with the reference's retry discipline: ``max_retries`` attempts,
    ``backoff ** attempt`` sleep between them (update_tripsmap.py:137-151)."""
    get = http_get or _default_http_get
    for attempt in range(max_retries):
        try:
            return get(url)
        except Exception:
            if attempt >= max_retries - 1:
                raise
            time.sleep(backoff**attempt if backoff else 0)
    raise AssertionError("unreachable")


def fetch_listing(listing_url: str, http_get: HttpGet | None = None) -> list[str]:
    """S1: GET the bucket listing and extract its <Key> names."""
    xml_text = get_with_retries(listing_url, http_get).decode("utf-8")
    return parse_bucket_listing_xml(xml_text)


def download_archive(
    listing_url: str,
    key: str,
    download_dir: str,
    http_get: HttpGet | None = None,
    max_retries: int = 3,
    backoff: float = 2.0,
) -> str:
    """Fetch one archive key into ``download_dir`` (cached: an existing
    non-empty file short-circuits, making re-runs free)."""
    os.makedirs(download_dir, exist_ok=True)
    local = os.path.join(download_dir, os.path.basename(key))
    if os.path.exists(local) and os.path.getsize(local) > 0:
        return local
    url = listing_url.rstrip("/") + "/" + key
    payload = get_with_retries(url, http_get, max_retries, backoff)
    tmp = local + ".part"
    with open(tmp, "wb") as fh:
        fh.write(payload)
    os.replace(tmp, local)
    return local


def download_archives(
    listing_url: str,
    candidates: list[CandidateFile],
    download_dir: str,
    http_get: HttpGet | None = None,
    workers: int = 5,
    backoff: float = 2.0,
) -> dict[str, str]:
    """Thread-pooled download of the gated work list (the reference's
    parallel_file_upload batches, ingestion.py:79-81). Returns
    {listing key -> local path}; order-independent, cache-idempotent."""
    def fetch(cand: CandidateFile) -> tuple[str, str]:
        return cand.name, download_archive(
            listing_url, cand.name, download_dir, http_get, backoff=backoff
        )

    with ThreadPoolExecutor(max_workers=max(1, workers)) as pool:
        return dict(pool.map(fetch, candidates))


def run_remote_pipeline(
    spark: SparkSession,
    listing_url: str,
    warehouse_dir: str,
    state_path: str | None = None,
    staging_dir: str | None = None,
    download_dir: str | None = None,
    top_k: int = 30,
    http_get: HttpGet | None = None,
    workers: int = 5,
    backoff: float = 2.0,
):
    """The reference's remote flow end to end, state-gated BEFORE any
    download (new_file_check runs on the key list, ingestion.py:66-77, so
    already-ingested archives cost zero bytes), then the same per-archive
    loop as local mode (``pipeline.ingest_new``)."""
    from ..pipeline import ingest_new

    download_dir = download_dir or os.path.join(warehouse_dir, "_downloads")

    def fetch(todo: list[CandidateFile]) -> list[CandidateFile]:
        local = download_archives(
            listing_url, todo, download_dir, http_get, workers=workers, backoff=backoff
        )
        return [CandidateFile(local[c.name], c.year, c.month) for c in todo]

    return ingest_new(
        spark,
        discover_listing(fetch_listing(listing_url, http_get)),
        warehouse_dir,
        state_path,
        staging_dir,
        top_k=top_k,
        fetch=fetch,
    )
