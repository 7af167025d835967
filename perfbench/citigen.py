"""Seeded Citibike trip-archive generator.

Writes zip archives shaped like the public trip-data bucket:

- legacy yearly archives ``YYYY-citibike-tripdata.zip``: ``Start Time`` /
  ``Stop Time`` headers, ``M/d/yyyy H:mm:ss`` and ``M/d/yyyy H:mm``
  timestamps, ``Subscriber``/``Customer`` user types, one CSV member per
  month, the last months inside a nested zip member;
- modern monthly archives ``YYYYMM-citibike-tripdata.csv.zip``: ISO
  timestamps (some with milliseconds), ``member``/``casual``, and the
  ``start_lat``/``start_lng`` columns that the canonical header map swaps
  (a share of rows also carries the pair swapped in the file itself);

plus a ``__MACOSX`` junk member in every archive. Station popularity is
Zipf-skewed. Each dirty-row class of ``tests/trips_fixture.py`` appears at
a fixed rate, and every archive returns the ground-truth counts the
benchmark checks against.

Single process, numpy ``default_rng(seed)``: the same seed and arguments
give byte-identical archives.
"""

from __future__ import annotations

import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np
import pandas as pd

# Dirty-row classes at fixed rates. The first four are dropped by the
# ingest filters; a self-loop is valid (it only skips the trips table).
DIRTY_RATES = {
    "blacklisted": 0.010,  # start station is a depot/test station
    "empty_id": 0.010,  # empty start station id
    "zero_coords": 0.010,  # start coordinates 0, 0
    "wrong_year": 0.005,  # starts in the year before the archive's year
    "self_loop": 0.020,  # start station == end station
}
DROPPED = ("blacklisted", "empty_id", "zero_coords", "wrong_year")
BLACKLISTED_NAME = "NYCBS Depot - STY - Valet Scan"
ZIPF_S = 1.1
SUBSCRIBER_SHARE = 0.85
MODERN_SWAPPED_SHARE = 0.05

LEGACY_COLUMNS = [
    "Trip Duration", "Start Time", "Stop Time",
    "Start Station ID", "Start Station Name",
    "Start Station Latitude", "Start Station Longitude",
    "End Station ID", "End Station Name",
    "End Station Latitude", "End Station Longitude",
    "Bike ID", "User Type",
]
MODERN_COLUMNS = [
    "ride_id", "rideable_type", "started_at", "ended_at",
    "start_station_name", "start_station_id",
    "end_station_name", "end_station_id",
    "start_lat", "start_lng", "end_lat", "end_lng", "member_casual",
]

_STREETS = [f"W {n} St" for n in range(1, 60)] + [f"E {n} St" for n in range(1, 60)]
_AVENUES = [
    "1 Ave", "2 Ave", "3 Ave", "Lexington Ave", "Park Ave", "Madison Ave",
    "5 Ave", "6 Ave", "7 Ave", "8 Ave", "9 Ave", "10 Ave", "11 Ave",
    "Broadway", "Amsterdam Ave", "Columbus Ave",
]


@dataclass
class Stations:
    names: np.ndarray
    legacy_ids: np.ndarray
    modern_ids: np.ndarray
    lat: np.ndarray
    lon: np.ndarray
    popularity: np.ndarray  # Zipf probabilities, shuffled over stations


def make_stations(rng: np.random.Generator, n: int) -> Stations:
    grid = [f"{s} & {a}" for s in _STREETS for a in _AVENUES]
    if n > len(grid):
        raise ValueError(f"at most {len(grid)} stations")
    pick = rng.choice(len(grid), size=n, replace=False)
    names = np.array([grid[i] for i in pick], dtype=object)
    weights = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    weights = weights[rng.permutation(n)]
    return Stations(
        names=names,
        legacy_ids=np.array([str(72 + i) for i in range(n)], dtype=object),
        modern_ids=np.array([f"{5000 + 7 * i}.{i % 100:02d}" for i in range(n)], dtype=object),
        lat=np.round(rng.uniform(40.65, 40.85, n), 6),
        lon=np.round(rng.uniform(-74.03, -73.90, n), 6),
        popularity=weights / weights.sum(),
    )


@dataclass
class ArchiveTruth:
    """Ground truth for one archive: the rows the ingest must keep."""

    name: str
    year: int
    month: int | None
    valid: int
    subscribers: int
    customers: int


def _fmt2(x: np.ndarray) -> pd.Series:
    return pd.Series(x).astype(str).str.zfill(2)


def _trips(
    rng: np.random.Generator,
    st: Stations,
    n: int,
    year: int,
    month: int | None,
) -> tuple[dict[str, np.ndarray], np.ndarray]:
    """Draw n trips: station indices, start/end instants, dirty classes."""
    start = rng.choice(len(st.names), size=n, p=st.popularity)
    end = rng.choice(len(st.names), size=n, p=st.popularity)
    lo = np.datetime64(f"{year}-{month:02d}-01" if month else f"{year}-01-01", "s")
    if month:
        hi = lo.astype("datetime64[M]") + np.timedelta64(1, "M")
    else:
        hi = np.datetime64(f"{year + 1}-01-01", "M")
    span = int((hi.astype("datetime64[s]") - lo) / np.timedelta64(1, "s"))
    t0 = lo + rng.integers(0, span, n).astype("timedelta64[s]")
    dur = rng.integers(180, 3600, n).astype("timedelta64[s]")

    # one uniform draw assigns at most one class per row
    u = rng.random(n)
    cls = np.full(n, "", dtype=object)
    edge = 0.0
    for name, rate in DIRTY_RATES.items():
        cls[(u >= edge) & (u < edge + rate)] = name
        edge += rate
    end = np.where(cls == "self_loop", start, end)
    # a self-loop drawn by chance (same station twice) is a self-loop too
    cls[(cls == "") & (start == end)] = "self_loop"
    wrong = cls == "wrong_year"
    t0[wrong] = np.datetime64(f"{year - 1}-12-31T20:00:00", "s") + rng.integers(
        0, 3 * 3600, int(wrong.sum())
    ).astype("timedelta64[s]")
    return {"start": start, "end": end, "t0": t0, "t1": t0 + dur}, cls


def _legacy_ts(t: np.ndarray, seconds: np.ndarray) -> pd.Series:
    """``M/d/yyyy H:mm[:ss]`` without zero-padding of month, day, hour."""
    ts = pd.DatetimeIndex(t)
    base = (
        pd.Series(ts.month).astype(str) + "/" + pd.Series(ts.day).astype(str) + "/"
        + pd.Series(ts.year).astype(str) + " " + pd.Series(ts.hour).astype(str)
        + ":" + _fmt2(ts.minute)
    )
    return base.where(~seconds, base + ":" + _fmt2(ts.second))


def _modern_ts(t: np.ndarray, millis: np.ndarray, ms: np.ndarray) -> pd.Series:
    """``yyyy-MM-dd HH:mm:ss`` and, for a share of rows, ``.SSS``."""
    base = pd.Series(np.datetime_as_string(t, unit="s")).str.replace("T", " ", regex=False)
    return base.where(~millis, base + "." + pd.Series(ms).astype(str).str.zfill(3))


def _legacy_frame(rng, st: Stations, tr, cls) -> pd.DataFrame:
    n = len(cls)
    s, e = tr["start"], tr["end"]
    slat, slon = st.lat[s].copy(), st.lon[s].copy()
    zero = cls == "zero_coords"
    slat[zero], slon[zero] = 0.0, 0.0
    sname = st.names[s].copy()
    sname[cls == "blacklisted"] = BLACKLISTED_NAME
    sid = st.legacy_ids[s].copy()
    sid[cls == "empty_id"] = ""
    with_seconds = rng.random(n) < 0.5
    return pd.DataFrame(
        {
            "Trip Duration": ((tr["t1"] - tr["t0"]) / np.timedelta64(1, "s")).astype(int),
            "Start Time": _legacy_ts(tr["t0"], with_seconds),
            "Stop Time": _legacy_ts(tr["t1"], with_seconds),
            "Start Station ID": sid,
            "Start Station Name": sname,
            "Start Station Latitude": slat,
            "Start Station Longitude": slon,
            "End Station ID": st.legacy_ids[e],
            "End Station Name": st.names[e],
            "End Station Latitude": st.lat[e],
            "End Station Longitude": st.lon[e],
            "Bike ID": rng.integers(14000, 40000, n),
            "User Type": np.where(rng.random(n) < SUBSCRIBER_SHARE, "Subscriber", "Customer"),
        },
        columns=LEGACY_COLUMNS,
    )


def _modern_frame(rng, st: Stations, tr, cls, tag: str) -> pd.DataFrame:
    n = len(cls)
    s, e = tr["start"], tr["end"]
    slat, slon = st.lat[s].copy(), st.lon[s].copy()
    zero = cls == "zero_coords"
    slat[zero], slon[zero] = 0.0, 0.0
    # some files carry the pair swapped; the bbox repair undoes it
    swapped = (rng.random(n) < MODERN_SWAPPED_SHARE) & ~zero
    slat, slon = np.where(swapped, slon, slat), np.where(swapped, slat, slon)
    sname = st.names[s].copy()
    sname[cls == "blacklisted"] = BLACKLISTED_NAME
    sid = st.modern_ids[s].copy()
    sid[cls == "empty_id"] = ""
    millis = rng.random(n) < 0.3
    ms = rng.integers(0, 1000, n)
    return pd.DataFrame(
        {
            "ride_id": tag + pd.Series(np.arange(n)).astype(str).str.zfill(8),
            "rideable_type": np.where(rng.random(n) < 0.6, "classic_bike", "electric_bike"),
            "started_at": _modern_ts(tr["t0"], millis, ms),
            "ended_at": _modern_ts(tr["t1"], millis, ms),
            "start_station_name": sname,
            "start_station_id": sid,
            "end_station_name": st.names[e],
            "end_station_id": st.modern_ids[e],
            "start_lat": slat,
            "start_lng": slon,
            "end_lat": st.lat[e],
            "end_lng": st.lon[e],
            "member_casual": np.where(rng.random(n) < SUBSCRIBER_SHARE, "member", "casual"),
        },
        columns=MODERN_COLUMNS,
    )


def _csv(df: pd.DataFrame) -> bytes:
    return df.to_csv(index=False).encode()


def _zip_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, payload in members:
            # a fixed member time keeps the archive bytes a function of the seed
            info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, payload, compresslevel=1)
    return buf.getvalue()


def _truth(
    name: str, year: int, month: int | None, cls: np.ndarray, subscriber: np.ndarray
) -> ArchiveTruth:
    kept = ~np.isin(cls, DROPPED)
    return ArchiveTruth(
        name=name, year=year, month=month, valid=int(kept.sum()),
        subscribers=int((kept & subscriber).sum()),
        customers=int((kept & ~subscriber).sum()),
    )


def write_legacy_year(
    out_dir: str, rng: np.random.Generator, st: Stations, year: int, n: int
) -> ArchiveTruth:
    """A yearly legacy archive: one CSV per month, months 10-12 inside a
    nested zip, plus ``__MACOSX`` junk."""
    tr, cls = _trips(rng, st, n, year, None)
    df = _legacy_frame(rng, st, tr, cls)
    month = pd.DatetimeIndex(tr["t0"]).month.to_numpy()
    # wrong-year rows (December of year-1) ride along in January's member
    month = np.where(cls == "wrong_year", 1, month)
    prefix = f"{year}-citibike-tripdata"
    top, nested = [], []
    for m in range(1, 13):
        member = (f"{prefix}/{year}{m:02d}-citibike-tripdata.csv", _csv(df[month == m]))
        (nested if m >= 10 else top).append(member)
    top.append((f"{prefix}/{year}-citibike-tripdata_q4.zip", _zip_bytes(nested)))
    top.append((f"__MACOSX/{prefix}/._{year}01-citibike-tripdata.csv", b"\x00\x05\x16\x07junk"))
    name = f"{prefix}.zip"
    with open(os.path.join(out_dir, name), "wb") as fh:
        fh.write(_zip_bytes(top))
    return _truth(name, year, None, cls, df["User Type"].to_numpy() == "Subscriber")


def write_modern_month(
    out_dir: str, rng: np.random.Generator, st: Stations, year: int, month: int, n: int
) -> ArchiveTruth:
    """A monthly modern archive split into two CSV members, plus junk."""
    tr, cls = _trips(rng, st, n, year, month)
    df = _modern_frame(rng, st, tr, cls, tag=f"{year}{month:02d}")
    prefix = f"{year}{month:02d}-citibike-tripdata"
    half = n // 2
    members = [
        (f"{prefix}_1.csv", _csv(df.iloc[:half])),
        (f"{prefix}_2.csv", _csv(df.iloc[half:])),
        (f"__MACOSX/._{prefix}_1.csv", b"\x00\x05\x16\x07junk"),
    ]
    name = f"{prefix}.csv.zip"
    with open(os.path.join(out_dir, name), "wb") as fh:
        fh.write(_zip_bytes(members))
    return _truth(name, year, month, cls, df["member_casual"].to_numpy() == "member")
