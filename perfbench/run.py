"""Repository benchmark: Citibike backfill, monthly refresh and catalog
queries against ``local[$SPARK_GRAFT_CPUS]``.

    python3 perfbench/run.py --workload backfill_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``;
every file the run writes stays under ``.perfbench-work/`` (removed at the
end) and ``.perfbench-out/`` (span dumps). ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` runs the workload traced in a session
with the Spark event log on, then as many passes untraced in a new session,
and reports the per-layer metrics. Every end-to-end time is unstolen time:
wall time less the share the hypervisor stole (``workloads.Stopwatch``).
The last line of stdout is the result JSON;
the line before it carries host context and the sample details. The exit
code is non-zero if any operation fails or any output check does.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench-work")
OUT = os.path.join(ROOT, ".perfbench-out")
PACKAGE = "citibike_deep_dive_spark"
# unless SPARK_DRIVER_MEMORY is set: on 4 vCPUs the package's 8g default
# ran the catalog queries about a fifth slower and less steadily, and
# doubled the peak RSS (see README)
DRIVER_MEMORY = "2g"


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _pids(spark) -> tuple[str, str]:
    """This Python driver process and the JVM behind the session."""
    return "self", str(spark._jvm.java.lang.ProcessHandle.current().pid())


def _hwm_mb(pid: str) -> float:
    """Peak resident set size of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _reset_hwm(pids) -> bool:
    """Restart each process's peak RSS from its current RSS, so the peak
    covers only what runs afterwards; False if the kernel refuses."""
    try:
        for pid in pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
    except OSError:
        return False
    return True


def _prepare_env() -> str:
    """Pin every scratch location inside the checkout; returns the CPU
    count the session will use."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(WORK, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    for d in (tmp, os.environ["SPARK_LOCAL_DIRS"], OUT):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    return cpus


def _start_session(event_log: str | None = None):
    from citibike_deep_dive_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # -XX:-UsePerfData: no hsperfdata files outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        # explicit both ways: a later session in this process must not
        # inherit an earlier one's setting
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.dir": event_log, "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def _stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _tail(samples: list[float], n_min: int) -> tuple[float, float]:
    """(value, percentile) of the tail: the highest percentile with at
    least ten samples beyond it in the workload's minimum sample count
    ``n_min``. Fixing it by ``n_min`` keeps the percentile the same when a
    faster host fits more passes. When it would not be above the median
    (``n_min`` < 21), the tail is the maximum."""
    s = sorted(samples)
    if n_min < 21:
        return s[-1], 100.0
    frac = (n_min - 10) / n_min
    return s[max(0, math.ceil(frac * len(s)) - 1)], 100.0 * frac


def _run_passes(wl, spark, seconds: float, passes: int | None = None, tracer=None):
    """Whole passes until ``seconds`` of operation time (at least
    ``min_passes``), or exactly ``passes``."""
    results, measured = [], 0.0
    while True:
        r = wl.run_pass(spark, tracer)
        results.append(r)
        measured += sum(o.latency_s for o in r.ops)
        if passes is not None:
            if len(results) >= passes:
                break
        elif measured >= seconds and len(results) >= wl.min_passes:
            break
    return results


def _account(wl, spark, results) -> tuple[list, list[str]]:
    """Apply pass and final checks to the operations; returns every
    operation and every failure message."""
    ops, problems = [], []
    for r in results:
        if r.problems:
            for o in r.ops:
                o.ok = False
        ops += r.ops
        problems += r.problems
    for name, found in wl.final_checks(spark).items():
        if found:
            problems += found
            for o in ops:
                if o.name == name:
                    o.ok = False
    return ops, problems


def _timings(wl, ops, time_of) -> tuple[float, float, float, float]:
    """(p50, tail, tail percentile, throughput) of the operations, each
    timed by ``time_of``."""
    lat = [time_of(o) for o in ops if o.kind == wl.latency_kind]
    tput = [o for o in ops if o.kind == wl.throughput_kind]
    tail, pct = _tail(lat, wl.min_passes * wl.latency_ops_per_pass)
    return statistics.median(lat), tail, pct, sum(o.work for o in tput) / sum(map(time_of, tput))


def end_to_end(wl, ops, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    p50, tail, pct, tput = _timings(wl, ops, lambda o: o.latency_s)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (p50, "s"),
        "latency_tail_s": (tail, "s"),
        "throughput_per_s": (tput, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    w50, wtail, _, wtput = _timings(wl, ops, lambda o: o.wall_s)
    detail = {
        "samples": sum(o.kind == wl.latency_kind for o in ops), "tail_percentile": pct,
        "wall_clock": {"latency_p50_s": w50, "latency_tail_s": wtail, "throughput_per_s": wtput},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, detail


PER_LAYER_UNITS = {
    "zips.extract_s": "s", "zips.bytes_in": "bytes", "zips.csv_bytes_out": "bytes",
    "normalize.rows_in": "count", "normalize.rows_kept": "count",
    "normalize.keep_ratio": "ratio", "normalize.scan_exec_s": "s", "normalize.scan_s": "s",
    "discovery.list_s": "s", "state.load_s": "s", "state.save_s": "s",
    "state.gate_new": "count", "state.gate_skipped": "count",
    **{
        f"op.{t}.{m}": u
        for t in ("linegraph", "heatmap", "dock", "trips")
        for m, u in (("build_s", "s"), ("write_s", "s"), ("rows", "count"),
                     ("bytes_written", "bytes"))
    },
    "pipeline.archive_s": "s", "pipeline.spark_jobs_per_archive": "count",
    "pipeline.tasks_per_archive": "count", "pipeline.bytes_written_per_archive": "bytes",
    "pipeline.shuffle_bytes_per_archive": "bytes",
    "export.s": "s", "export.db_bytes": "bytes",
    "plans.build_s": "s", "plans.exec_s": "s", "plans.spark_jobs": "count",
    "plans.tasks": "count", "plans.shuffle_bytes": "bytes",
    "session.start_s": "s", "trace.overhead_ratio": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    import workloads

    since_start = workloads.Stopwatch()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a checkout root",
              file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    cpus = _prepare_env()
    load_before = _loadavg()
    try:
        return _measure(args, workloads, cpus, load_before, since_start)
    finally:
        _stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)


def _measure(args, workloads, cpus, load_before, since_start) -> int:
    wl = workloads.WORKLOADS[args.workload](WORK, args.seed)
    log_dir = os.path.join(WORK, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = _start_session(event_log=log_dir)
    session_start_s = time.perf_counter() - t0
    setup_detail = {"session_start_s": session_start_s, **wl.setup(spark)}
    setup_wall_s, setup_s, _, _ = since_start.stop()

    driver_memory = spark.sparkContext.getConf().get("spark.driver.memory")
    if args.trace == 0:
        pids = _pids(spark)
        hwm_reset = _reset_hwm(pids)
        passes = workloads.Stopwatch()
        results = _run_passes(wl, spark, args.seconds)
        _, _, busy, stolen = passes.stop()
        peaks = {name: _hwm_mb(pid) for name, pid in zip(("python", "jvm"), pids)}
        peak = sum(peaks.values())
        ops, problems = _account(wl, spark, results)
        metrics, detail = end_to_end(wl, ops, setup_s, peak)
        detail["wall_clock"]["setup_s"] = setup_wall_s
        detail.update(
            steal_share=stolen / (busy + stolen) if busy + stolen else 0.0,
            notes=[r.notes for r in results], peak_rss_reset=hwm_reset,
            peak_rss_mb_by_process=peaks,
        )
        spark.stop()
    else:
        metrics, detail, ops, problems = _traced(args, wl, spark, log_dir, session_start_s)

    failed = sum(not o.ok for o in ops)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "spark_graft_cpus": int(cpus),
        "driver_memory": driver_memory,
        "loadavg_before": load_before, "loadavg_after": _loadavg(),
        "failed_ops_ratio": failed / len(ops), "setup": setup_detail, **detail,
        "ops": [[o.kind, o.name, round(o.latency_s, 4), round(o.wall_s, 4), o.ok] for o in ops],
    }
    print(json.dumps({"perfbench": context}))
    correct = not problems and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics,
    }))
    sys.stdout.flush()
    if not correct:
        print("perfbench: FAILED checks:\n" + "\n".join(problems or ["operation errors"]),
              file=sys.stderr)
        return 1
    return 0


def _traced(args, wl, spark, log_dir: str, session_start_s: float):
    """Traced passes right after set-up, in the event-logged session, so the
    per-layer numbers see the same warm-up state as an untraced run; then as
    many untraced passes in a new session without the event log. The later
    untraced phase is a little warmer, so the overhead ratio errs high."""
    import tracing
    from citibike_deep_dive_spark.plans import CATALOG

    def op_time(results) -> float:
        return sum(o.latency_s for r in results for o in r.ops)

    tracer = tracing.Tracer(spark.sparkContext)
    tracing.install_pipeline_spans(tracer)
    tracer.wrap_catalog(CATALOG, getattr(wl, "QUERIES", ()))
    try:
        traced = _run_passes(wl, spark, args.seconds / 2, tracer=tracer)
    finally:
        tracer.uninstall()
    spark.stop()

    spark = _start_session()
    plain = _run_passes(wl, spark, 0, passes=len(traced))
    ops, problems = _account(wl, spark, traced + plain)
    spark.stop()

    jobs = tracing.read_event_log(log_dir)
    values = tracing.layer_metrics(tracer, jobs, sum(r.rows_kept for r in traced))
    values["session.start_s"] = session_start_s
    values["trace.overhead_ratio"] = op_time(traced) / op_time(plain) - 1.0
    tracer.write(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    detail = {
        "traced_s": op_time(traced), "untraced_s": op_time(plain),
        "passes": len(traced), "spark_jobs": len(jobs),
        "notes": [r.notes for r in traced + plain],
    }
    return metrics, detail, ops, problems


if __name__ == "__main__":
    sys.exit(main())
