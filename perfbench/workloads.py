"""The workloads: closed loop, one client, one process.

Each workload sets up (inputs from the seed, warehouse pre-build, warm-up),
then runs *passes*: a fixed list of operations, each timed on its own.
Output checks run after each pass, outside every timed region. With a
tracer, every operation is one trace run (``new_run``) and the benchmark
opens the spans the package does not: the operation itself and, for a
catalog query, its execution.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

import checks
import citigen
import tablegen

TOP_K = 30


@dataclass
class Op:
    kind: str  # backfill | refresh | redrop | query
    name: str
    latency_s: float  # unstolen time (Stopwatch); every metric uses it
    work: int  # valid trips ingested, or 1 per query
    ok: bool = True
    wall_s: float = 0.0


@dataclass
class _Collected:
    """The part of a DataFrame ``oracle_harness.compare`` reads, kept after
    the DataFrame has run."""

    rows: list
    columns: list[str]

    def collect(self) -> list:
        return self.rows


@dataclass
class PassResult:
    ops: list[Op]
    problems: list[str] = field(default_factory=list)
    rows_kept: int = 0  # trips the heatmap gained during the pass
    notes: dict = field(default_factory=dict)


def _cpu_ticks() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole machine so far, from
    /proc/stat; (0, 0) where the kernel does not report them."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal ...
    return v[0] + v[1] + v[2] + v[5] + v[6], (v[7] if len(v) > 7 else 0)


class Stopwatch:
    """Wall time of an interval, and its *unstolen* time.

    On a shared virtual machine the hypervisor keeps runnable vCPUs off the
    physical cores (steal), so wall times follow the neighbours' load as
    much as the program's. Over the interval the machine's threads were
    runnable for busy + stolen ticks and ran for the busy ones, so the time
    the interval would take on an unshared machine is estimated as
    wall * busy / (busy + stolen). Without steal it is the wall time."""

    def __init__(self) -> None:
        self.t0, self.c0 = time.perf_counter(), _cpu_ticks()

    def stop(self) -> tuple[float, float, int, int]:
        """(wall s, unstolen s, busy ticks, stolen ticks)."""
        wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.c0, _cpu_ticks()))
        unstolen = wall * busy / (busy + stolen) if busy > 0 else wall
        return wall, unstolen, busy, stolen


def _timed(fn) -> tuple[float, float, object, str]:
    """Run fn; return (unstolen s, wall s, result, error text or '')."""
    watch = Stopwatch()
    try:
        result, err = fn(), ""
    except Exception:  # an operation that raises is counted as failed
        result, err = None, traceback.format_exc(limit=3)
    wall, unstolen, _, _ = watch.stop()
    return unstolen, wall, result, err


def _span(tracer, name: str, new_run: bool = False):
    return tracer.span(name, new_run=new_run) if tracer else nullcontext()


class _Ledger:
    """Ground truth of everything ingested into one warehouse."""

    def __init__(self) -> None:
        self.valid = self.subscribers = self.customers = self.archives = 0
        self.per_year: dict[int, int] = {}

    def add(self, t: citigen.ArchiveTruth) -> None:
        self.valid += t.valid
        self.subscribers += t.subscribers
        self.customers += t.customers
        self.archives += 1
        self.per_year[t.year] = self.per_year.get(t.year, 0) + 1

    def check(self, warehouse: str, db_path: str) -> list[str]:
        return checks.check_warehouse(
            warehouse, db_path, os.path.join(warehouse, "_state"),
            self.valid, self.subscribers, self.customers,
            self.archives, self.per_year, TOP_K,
        )


def _ingest(spark, inbox: str, warehouse: str, db_path: str):
    """One pipeline call plus the export the website reads. Both calls go
    through module attributes, so a tracer's wrappers see them."""
    from citibike_deep_dive_spark import pipeline
    from citibike_deep_dive_spark.sources import export

    result = pipeline.run_pipeline(spark, inbox, warehouse, top_k=TOP_K)
    if result.processed:
        export.export_warehouse_to_duckdb(warehouse, db_path)
    return result


class BackfillRefresh:
    """The incremental ETL end to end, in two timed phases per pass.

    Backfill: an empty warehouse ingests a backlog of large archives (a
    legacy yearly zip and a modern monthly zip) in one pipeline call plus
    the export; per-row work dominates, and ``throughput_per_s`` is its
    valid trips per second.

    Refresh: with that backlog as history, small months land one at a
    time in the inbox, which keeps every old archive. Each landing is timed
    until the pipeline returns and the export is written, so per-archive
    fixed cost dominates; ``latency_*`` are these latencies. March lands,
    then April, then February (out of order), then April again, which must
    be a cheap no-op.

    Every pass starts from an empty warehouse; pass i's refresh months are
    in year 2023 + i.
    """

    name = "backfill_refresh"
    min_passes = 1
    latency_kind, throughput_kind = "refresh", "backfill"
    latency_ops_per_pass = 3
    LEGACY_TRIPS = 40_000
    MODERN_TRIPS = 40_000
    MONTH_TRIPS = 5_000
    WARM_TRIPS = 5_000
    STATIONS = 800
    PATTERN = ((3, "refresh"), (4, "refresh"), (2, "refresh"), (4, "redrop"))
    NOOP_MAX_SHARE = 0.25  # a re-drop may cost at most this share of a refresh

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = os.path.join(work, self.name), seed
        self.passes = 0

    def setup(self, spark) -> dict[str, float]:
        t0 = time.perf_counter()
        self.rng = np.random.default_rng(self.seed)
        self.st = citigen.make_stations(self.rng, self.STATIONS)
        self.backlog = os.path.join(self.work, "backlog")
        self.landing = os.path.join(self.work, "landing")
        warm = os.path.join(self.work, "warm-inbox")
        for d in (self.backlog, self.landing, warm):
            os.makedirs(d)
        self.truth = [
            citigen.write_legacy_year(self.backlog, self.rng, self.st, 2019, self.LEGACY_TRIPS),
            citigen.write_modern_month(self.backlog, self.rng, self.st, 2023, 7, self.MODERN_TRIPS),
        ]
        # both header eras, and a second archive that merges into the
        # tables the first wrote, so every path the timed operations take
        # is compiled before them
        citigen.write_legacy_year(warm, self.rng, self.st, 2018, self.WARM_TRIPS)
        citigen.write_modern_month(warm, self.rng, self.st, 2023, 6, self.WARM_TRIPS)
        t1 = time.perf_counter()
        wh = os.path.join(self.work, "warm-wh")
        _ingest(spark, warm, wh, wh + ".db")
        shutil.rmtree(wh)
        return {"inputs_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def run_pass(self, spark, tracer=None) -> PassResult:
        self.passes += 1
        base = os.path.join(self.work, f"pass{self.passes}")
        inbox, wh, db = (os.path.join(base, n) for n in ("inbox", "wh", "CitibikeData.db"))
        shutil.copytree(self.backlog, inbox)
        ingest = lambda: _ingest(spark, inbox, wh, db)  # noqa: E731
        ledger = _Ledger()
        res = PassResult([])

        def record(kind: str, name: str, work: int, fn, want: int) -> bool:
            with _span(tracer, kind, new_run=True):
                lat, wall, result, err = _timed(fn)
            op = Op(kind, name, lat, work, ok=not err, wall_s=wall)
            res.ops.append(op)
            if err:
                res.problems.append(f"{kind} {name} raised:\n{err}")
            elif len(result.processed) != want:
                op.ok = False
                res.problems.append(
                    f"{kind} {name} processed {len(result.processed)} archives, want {want}"
                )
            return op.ok

        if record("backfill", "backlog", sum(t.valid for t in self.truth), ingest,
                  len(self.truth)):
            for t in self.truth:
                ledger.add(t)
        res.problems += ledger.check(wh, db)

        year = 2023 + self.passes
        landed: dict[int, citigen.ArchiveTruth] = {}
        for month, kind in self.PATTERN:
            if kind == "refresh":
                truth = citigen.write_modern_month(
                    self.landing, self.rng, self.st, year, month, self.MONTH_TRIPS
                )
                landed[month] = truth
            else:  # the same archive arrives again
                truth = landed[month]
                shutil.copyfile(os.path.join(inbox, truth.name),
                                os.path.join(self.landing, truth.name))
            src, dst = os.path.join(self.landing, truth.name), os.path.join(inbox, truth.name)
            # landing is the atomic rename into the inbox
            land_and_ingest = lambda: (os.replace(src, dst), ingest())[1]  # noqa: E731
            want = 1 if kind == "refresh" else 0
            if record(kind, truth.name, truth.valid * want, land_and_ingest, want) and want:
                ledger.add(truth)

        refresh = [o.latency_s for o in res.ops if o.kind == "refresh" and o.ok]
        for o in res.ops:
            if o.kind == "redrop" and refresh and o.latency_s > self.NOOP_MAX_SHARE * min(refresh):
                o.ok = False
                res.problems.append(
                    f"re-drop {o.name} took {o.latency_s:.3f} s, not a cheap no-op "
                    f"(fastest refresh {min(refresh):.3f} s)"
                )
        res.problems += ledger.check(wh, db)
        res.rows_kept = checks.heatmap_total(wh)
        if os.path.exists(db):
            res.notes["trips_duplicate_rows"] = checks.trips_duplicate_rows(db)
        shutil.rmtree(base, ignore_errors=True)
        return res

    def final_checks(self, spark) -> dict[str, list[str]]:
        return {}


class CatalogQueries:
    """The reference-parity and shared-operator subset of the catalog's
    headline queries at sf0.1. Every execution rebuilds its plan, so no
    checkpoint or cache from an earlier run subsidizes it; only the JVM and
    code generation are warmed, by two untimed runs of every query: one
    collects the rows ``final_checks`` compares with the query's DuckDB
    oracle on the same tables, the other is an untimed pass."""

    name = "catalog_queries"
    min_passes = 3
    latency_kind = throughput_kind = "query"
    SF = 0.1
    QUERIES = (
        "linegraph_conditional_counts",
        "heatmap_hourly_counts",
        "dock_flow_full_outer",
        "monthly_to_yearly_rollup",
        "additive_upsert_merge",
        "topk_per_group_window",
        "dock_deep_merge_nested_maps",
        "route_waypoints_enrichment",
        "dedup_exact",
        "text_quality_scores",
    )
    latency_ops_per_pass = len(QUERIES)

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = os.path.join(work, self.name), seed

    def setup(self, spark) -> dict[str, float]:
        from citibike_deep_dive_spark.plans import CATALOG

        t0 = time.perf_counter()
        self.data = os.path.join(self.work, "sf")
        tablegen.generate(self.data, self.SF, self.seed)
        t1 = time.perf_counter()
        self.warm_rows = {}
        for q in self.QUERIES:
            df = CATALOG[q].build(spark, self.data)
            self.warm_rows[q] = _Collected(df.collect(), df.columns)
        # the JIT is still compiling after one run: a pass once warmed
        # runs about a quarter faster than the first
        self.run_pass(spark)
        return {"inputs_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def run_pass(self, spark, tracer=None) -> PassResult:
        from citibike_deep_dive_spark.plans import CATALOG

        res = PassResult([])
        for q in self.QUERIES:
            def run(q=q):
                df = CATALOG[q].build(spark, self.data)
                with _span(tracer, "plans.exec"):
                    df.write.format("noop").mode("overwrite").save()

            with _span(tracer, "query", new_run=True):
                lat, wall, _, err = _timed(run)
            res.ops.append(Op("query", q, lat, 1, ok=not err, wall_s=wall))
            if err:
                res.problems.append(f"query {q} raised:\n{err}")
        return res

    def final_checks(self, spark) -> dict[str, list[str]]:
        """Each query's warm-up rows against its DuckDB oracle, on the
        tables the passes time."""
        from citibike_deep_dive_spark.plans import CATALOG
        from tests.oracle_harness import compare, duckdb_connection

        con = duckdb_connection(self.data)
        try:
            out = {}
            for q in self.QUERIES:
                oracle = CATALOG[q].oracle
                if oracle is not None:
                    out[q] = [f"{q}: {p}" for p in compare(self.warm_rows[q], con, oracle)]
            return out
        finally:
            con.close()


WORKLOADS = {w.name: w for w in (BackfillRefresh, CatalogQueries)}
