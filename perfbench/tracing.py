"""In-memory span tracer and Spark event-log attribution.

The tracer wraps public functions from outside the package: it rebinds the
names ``citibike_deep_dive_spark.pipeline`` calls through, the DuckDB
export function in ``sources.export`` and ``CATALOG[name].build``, and
restores every one of them on ``uninstall``. Each span records name,
start, end, parent, run id and a few attributes. While a span is open,
its id is the thread's Spark job group, so every Spark job it launches is
attributed to it when the event log is read after the session stops.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import time
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"
TABLES = ("linegraph", "heatmap", "dock", "trips")


@dataclasses.dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    run_id: str
    start: float
    end: float = 0.0
    attrs: dict = dataclasses.field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; ``write`` dumps them as JSON lines."""

    def __init__(self, spark_context) -> None:
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[Callable[[], None]] = []
        self._runs = 0

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, new_run: bool = False, **attrs) -> Iterator[Span]:
        """Open a span; ``new_run`` starts a new run id (one operation)."""
        sp = self._open(name, new_run, attrs)
        try:
            yield sp
        finally:
            self._close(sp)

    def _open(self, name: str, new_run: bool, attrs: dict) -> Span:
        parent = self._stack[-1] if self._stack else None
        if new_run or parent is None:
            self._runs += 1
            run_id = f"r{self._runs}"
        else:
            run_id = parent.run_id
        sp = Span(
            sid=f"s{len(self.spans)}",
            name=name,
            parent=parent.sid if parent else None,
            run_id=run_id,
            start=time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setLocalProperty(JOB_GROUP, sp.sid)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        self.sc.setLocalProperty(JOB_GROUP, self._stack[-1].sid if self._stack else None)

    def wrap(self, owner, attr: str, name: str | Callable[..., str], on_result=None) -> None:
        """Rebind ``owner.attr`` (module attribute) to a span-recording
        wrapper. ``name`` may be a function of the call arguments (so
        ``write_table`` spans carry the table name); ``on_result(span,
        args, result)`` may add attributes."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            with self.span(label) as sp:
                result = original(*args, **kwargs)
            if on_result is not None:  # outside the span: not the layer's time
                on_result(sp, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append(lambda: setattr(owner, attr, original))

    def wrap_catalog(self, catalog: dict, names: Iterable[str]) -> None:
        for qname in names:
            spec = catalog[qname]

            def build(spark, sf_dir, _orig=spec.build):
                with self.span("plans.build"):
                    return _orig(spark, sf_dir)

            catalog[qname] = dataclasses.replace(spec, build=build)
            self._undo.append(lambda q=qname, s=spec: catalog.__setitem__(q, s))

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(dataclasses.asdict(sp)) + "\n")

    # -- queries over the span tree ----------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def jobs_under(self, jobs: list["JobStats"], name: str) -> list["JobStats"]:
        """Jobs launched inside any span called ``name`` (or its children)."""
        by_id = {s.sid: s for s in self.spans}

        def inside(sid: str | None) -> bool:
            cur = by_id.get(sid)
            while cur is not None:
                if cur.name == name:
                    return True
                cur = by_id.get(cur.parent)
            return False

        return [js for js in jobs if inside(js.group)]


def install_pipeline_spans(tracer: Tracer) -> None:
    """Wrap every public function ``pipeline`` calls, as bound there, plus
    the DuckDB export."""
    from citibike_deep_dive_spark import pipeline
    from citibike_deep_dive_spark.sources import export

    def zip_attrs(sp, args, result):
        sp.attrs["bytes_in"] = os.path.getsize(args[0])
        sp.attrs["csv_bytes_out"] = sum(os.path.getsize(p) for p in result)
        sp.attrs["csv_rows"] = sum(_data_rows(p) for p in result)

    def gate_attrs(sp, args, result):
        sp.attrs["new"] = len(result)
        sp.attrs["skipped"] = len(args[0]) - len(result)

    def export_attrs(sp, args, result):
        sp.attrs["db_bytes"] = os.path.getsize(args[1])

    w = tracer.wrap
    w(pipeline, "run_pipeline", "pipeline.run")
    w(pipeline, "process_archive", "pipeline.archive")
    w(pipeline, "extract_to_staging", "zips.extract", zip_attrs)
    w(pipeline, "read_staged_csvs", "zips.read")
    w(pipeline, "normalize_trips", "normalize.plan")
    w(pipeline, "read_table", lambda spark, wh, name: f"op.{name}.read")
    w(pipeline, "write_table", lambda df, wh, name: f"op.{name}.write")
    w(pipeline, "linegraph_update", "op.linegraph.build")
    w(pipeline, "heatmap_update", "op.heatmap.build")
    for fn in ("dock_aggregate", "dock_merge"):
        w(pipeline, fn, "op.dock.build")
    for fn in ("trip_aggregate", "top_trips", "enrich_routes", "tripsmap_update"):
        w(pipeline, fn, "op.trips.build")
    w(pipeline, "discover_local", "discovery.list")
    w(pipeline, "load_state", "state.load")
    w(pipeline, "new_files", "state.gate", gate_attrs)
    w(pipeline, "advance_state", "state.advance")
    w(pipeline, "save_state", "state.save")
    w(export, "export_warehouse_to_duckdb", "export.duckdb", export_attrs)


def _data_rows(csv_path: str) -> int:
    """Lines after the header (generated CSVs quote no newlines)."""
    with open(csv_path, "rb") as fh:
        return sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b"")) - 1


# -- event log ---------------------------------------------------------------


@dataclasses.dataclass
class JobStats:
    group: str | None  # the span id that was the job group
    tasks: int = 0
    bytes_written: int = 0
    records_written: int = 0
    shuffle_bytes: int = 0
    csv_run_s: float = 0.0  # executor run time of stages that scan CSV
    csv_wall_s: float = 0.0  # submission-to-completion time of those stages


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task totals from the (stopped) session's JSON event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(f)]
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    csv_stages: set[int] = set()
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    group = (ev.get("Properties") or {}).get(JOB_GROUP)
                    jobs[jid] = JobStats(group=group)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
                    if "Scan csv" in scopes:
                        csv_stages.add(info["Stage ID"])
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    jid = stage_job.get(info["Stage ID"])
                    if jid is not None and info["Stage ID"] in csv_stages:
                        jobs[jid].csv_wall_s += (
                            info["Completion Time"] - info["Submission Time"]) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if jid is None or not m:
                        continue
                    js = jobs[jid]
                    js.tasks += 1
                    out = m.get("Output Metrics", {})
                    js.bytes_written += out.get("Bytes Written", 0)
                    js.records_written += out.get("Records Written", 0)
                    js.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    if ev["Stage ID"] in csv_stages:
                        js.csv_run_s += m.get("Executor Run Time", 0) / 1000.0
    return list(jobs.values())


# -- per-layer metrics ---------------------------------------------------------


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _mean(xs: list[float]) -> float:
    return _per(sum(xs), len(xs))


def layer_metrics(tracer: Tracer, jobs: list[JobStats], rows_kept: int) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0.
    ``rows_kept`` is what the heatmap gained over the traced passes."""

    def durations(name: str) -> list[float]:
        return [s.duration for s in tracer.named(name)]

    def attr(name: str, key: str) -> list[float]:
        return [s.attrs[key] for s in tracer.named(name)]

    m: dict[str, float] = {}
    n_arch = len(tracer.named("pipeline.archive"))
    m["zips.extract_s"] = _mean(durations("zips.extract"))
    m["zips.bytes_in"] = _mean(attr("zips.extract", "bytes_in"))
    m["zips.csv_bytes_out"] = _mean(attr("zips.extract", "csv_bytes_out"))

    arch_jobs = tracer.jobs_under(jobs, "pipeline.archive")
    rows_in = sum(attr("zips.extract", "csv_rows"))
    m["normalize.rows_in"] = _per(rows_in, n_arch)
    m["normalize.rows_kept"] = _per(rows_kept, n_arch)
    m["normalize.keep_ratio"] = _per(rows_kept, rows_in)
    m["normalize.scan_exec_s"] = _per(sum(js.csv_run_s for js in arch_jobs), n_arch)
    m["normalize.scan_s"] = _per(sum(js.csv_wall_s for js in arch_jobs), n_arch)

    m["discovery.list_s"] = _mean(durations("discovery.list"))
    m["state.load_s"] = _mean(durations("state.load"))
    m["state.save_s"] = _mean(durations("state.save"))
    m["state.gate_new"] = sum(attr("state.gate", "new"))
    m["state.gate_skipped"] = sum(attr("state.gate", "skipped"))

    for t in TABLES:
        build = sum(durations(f"op.{t}.read")) + sum(durations(f"op.{t}.build"))
        n_w = len(tracer.named(f"op.{t}.write"))
        wjobs = tracer.jobs_under(jobs, f"op.{t}.write")
        m[f"op.{t}.build_s"] = _per(build, n_arch)
        # the first write of an archive fills the cache of normalized trips
        # (CSV scan, timestamp parsing, filters); that stage time is
        # normalize.scan_s, not the table's write
        scan = sum(js.csv_wall_s for js in wjobs)
        m[f"op.{t}.write_s"] = _per(max(0.0, sum(durations(f"op.{t}.write")) - scan), n_w)
        m[f"op.{t}.rows"] = _per(sum(js.records_written for js in wjobs), n_w)
        m[f"op.{t}.bytes_written"] = _per(sum(js.bytes_written for js in wjobs), n_w)

    m["pipeline.archive_s"] = _mean(durations("pipeline.archive"))
    m["pipeline.spark_jobs_per_archive"] = _per(len(arch_jobs), n_arch)
    m["pipeline.tasks_per_archive"] = _per(sum(js.tasks for js in arch_jobs), n_arch)
    m["pipeline.bytes_written_per_archive"] = _per(
        sum(js.bytes_written for js in arch_jobs), n_arch)
    m["pipeline.shuffle_bytes_per_archive"] = _per(
        sum(js.shuffle_bytes for js in arch_jobs), n_arch)

    m["export.s"] = _mean(durations("export.duckdb"))
    m["export.db_bytes"] = _mean(attr("export.duckdb", "db_bytes"))

    n_q = len(tracer.named("query"))
    q_jobs = tracer.jobs_under(jobs, "query")
    m["plans.build_s"] = _mean(durations("plans.build"))
    m["plans.exec_s"] = _mean(durations("plans.exec"))
    m["plans.spark_jobs"] = _per(len(q_jobs), n_q)
    m["plans.tasks"] = _per(sum(js.tasks for js in q_jobs), n_q)
    m["plans.shuffle_bytes"] = _per(sum(js.shuffle_bytes for js in q_jobs), n_q)
    return m
