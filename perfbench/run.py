"""Benchmark of the rsyslog_spark flagship on local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload job_write --seed 1 --seconds 13 --trace 0

Workloads: job_write, stream_microbatch, bulk_counts. One process drives
Spark. It makes the seed's input (cached), times two cold set-ups (one
in a process of its own, then its own), then runs a fixed number of
units of the workload as a closed loop, checking every unit against the
DuckDB oracle. The lines printed name every metric with its unit; the last
stdout line is a JSON object with the bounded end-to-end metrics
(``--trace 0``) or, for a traced run, the per-layer metrics (``--trace 1``;
spans go to ``.perfbench/spans-<workload>-<seed>.jsonl``). See
perfbench/METRICS.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import asdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.coldstart import ROOT, WORK, pin_environment, setup_once  # noqa: E402

T0 = time.perf_counter()
# cold set-ups per untraced run; setup_s is their median. Each costs about
# 15 s on a 4-vCPU VM, and a third would push a full measurement (48 runs)
# past its 3420 s budget
SETUPS = 2
# jobs still running this long after the process started are cancelled
# and their unit fails, so a hung run ends well within the 180 s it may take
DEADLINE_S = 150.0
# the end-to-end metrics BENCHMARK.json bounds; the others are printed
GATED = ("setup_s", "cpu_ms_per_row")
TRACED = (0, 2)  # of the traced run's units 0-2: traced, untraced, traced
RECONCILE_TOL = (0.90, 1.02)  # trace.reconcile_ratio must fall in here
OVERHEAD_TOL = (0.80, 1.25)  # trace.overhead_ratio must fall in here


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": os.getloadavg()[0],
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def cold_setups(n: int) -> list[dict]:
    """``n`` cold set-ups, one after another, each in a process of its own
    that launches and stops its own JVM (see coldstart.py)."""
    out = []
    for _ in range(n):
        try:
            r = subprocess.run([sys.executable, "-m", "perfbench.coldstart"],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True,
                               timeout=60)
            out.append(json.loads(r.stdout.strip().splitlines()[-1]))
        except (subprocess.TimeoutExpired, IndexError, ValueError) as e:
            out.append({"start_s": 0.0, "warmup_s": 0.0, "cpu_s": 0.0,
                        "failures": [f"cold set-up: {type(e).__name__}"]})
    return out


def p75(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=4, method="inclusive")[2]


def run_units(fn, spark, inp, work, n, warms):
    """Closed loop: an untimed, checked unit on each input in ``warms``,
    then ``n`` units back to back. Returns (units, warm-up failures); a unit whose
    jobs were cancelled at the deadline fails, and so do those that never
    started."""
    from perfbench.workloads import Unit

    def one(k, inp=inp):
        try:
            return fn(spark, inp, work, k)
        except Exception as e:  # a unit that raises is a failed unit
            return Unit(0.0, 0, [], failures=[f"raised: {type(e).__name__}: {e}"[:500]])

    hung = threading.Event()

    def cancel():
        hung.set()
        spark.sparkContext.cancelAllJobs()

    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T0), cancel)
    timer.start()
    try:
        warm_failures = [f for w in warms for f in one(-1, w).failures]
        units = []
        for k in range(n):
            if hung.is_set():
                units.append(Unit(0.0, 0, [], failures=["not started: deadline"]))
            else:
                units.append(one(k))
    finally:
        timer.cancel()
    if hung.is_set():
        warm_failures.append(f"hung: jobs cancelled {DEADLINE_S} s after start")
    return units, warm_failures


def tally(workload: str, inp, units) -> tuple[int, int]:
    """(attempted, failed): micro-batches for the stream, else units."""
    per = inp.files if workload == "stream_microbatch" else 1
    return per * len(units), per * sum(1 for u in units if u.failures)


def cpu_ms_per_row(units) -> float:
    return statistics.median(
        1000 * u.cpu_s / u.rows if u.rows else 0.0 for u in units)


def end_to_end(units, setups, peak) -> dict:
    ok = [u for u in units if not u.failures] or units
    batches = [b for u in ok for b in u.batches] or [0.0]
    return {
        "setup_s": (statistics.median(s["cpu_s"] for s in setups), "s"),
        "setup_wall_s": (statistics.median(
            s["start_s"] + s["warmup_s"] for s in setups), "s"),
        "cpu_ms_per_row": (cpu_ms_per_row(ok), "ms/row"),
        "rows_per_s": (statistics.median(
            u.rows / u.seconds if u.seconds else 0.0 for u in ok), "rows/s"),
        "batch_p50_s": (statistics.median(batches), "s"),
        "batch_p75_s": (p75(batches), "s"),
        "peak_rss_mb": (peak / 2**20, "MB"),
    }


def noop_seconds(dfs, reps: int = 3) -> list[float]:
    """Median time of a noop write of each frame; the frames take turns,
    so a slow spell of the machine spreads over all of them."""
    out: list[list[float]] = [[] for _ in dfs]
    for _ in range(reps):
        for times, df in zip(out, dfs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
    return [statistics.median(t) for t in out]


def per_layer(spark, units, tracer, root, marker, captured, listener,
              setups) -> tuple[dict, list]:
    """Per-layer metrics of the last traced unit (see METRICS.md)."""
    from perfbench import spans as S

    sc = spark.sparkContext
    S.drain(sc)
    traced = [u for u in units if u.traced]
    plain = [u for u in units if not u.traced]
    unit = traced[-1]
    tree = tracer.subtree(root)
    stream_groups = {unit.query_run_id} - {""}
    stream_jobs = {j for g in stream_groups
                   for j in sc.statusTracker().getJobIdsForGroup(g)}
    # the unit's jobs: those of its spans and of its streaming query; the
    # output checks after the timed region run outside both
    run_jobs = set(tracer.jobs(tree)) | stream_jobs
    execs = [e for e in S.executions_since(spark, marker)
             if run_jobs.intersection(e.jobs)]
    sink_execs = [e for e in execs if "/sinks/" in e.root]

    def span_seconds(name):
        return [tracer.spans[i].seconds for i in tracer.named(name, root)]

    def jobs_of(name):
        return tracer.jobs(tracer.named(name, root))

    tasks_failed = S.failed_tasks(sc, sorted(run_jobs))

    # prefix probes: noop writes of the frames the traced run built
    scan_df, parsed = captured["parse"][-1][0][0], captured["parse"][-1][1]
    enriched = captured["lookup"][-1][1]
    annotated = captured["route"][-1][1][0]
    with tracer.span("probe.noop"):
        t_scan, t_parse, t_lookup, t_route = noop_seconds(
            [scan_df, parsed, enriched, annotated])

    progress = [p for p in listener.progress if p[0] in stream_groups and p[1] > 0]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    def dur(key):
        return med([p[2].get(key, 0) / 1000 for p in progress])

    layer_self = sum(tracer.self_seconds(i) for i in tree
                     if tracer.spans[i].name.split(".")[0] in S.LAYERS)
    rows_in = unit.rows

    def tot(key):
        return S.sum_totals(execs, key)

    ck = tracer.named("checkpoint.run_with_resume", root)
    return {
        "session.start_s": (med([s["start_s"] for s in setups]), "s"),
        "session.warmup_s": (med([s["warmup_s"] for s in setups]), "s"),
        "sources.scan_s": (t_scan, "s"),
        "sources.rows_in": (rows_in, "rows"),
        "parse.self_s": (t_parse - t_scan, "s"),
        "parse.python_total_s": (tot("python_total_s"), "s"),
        "parse.python_init_s": (tot("python_init_s"), "s"),
        "parse.python_bytes_sent": (tot("python_bytes_sent"), "B"),
        "parse.python_bytes_received": (tot("python_bytes_received"), "B"),
        "parse.python_rows_ratio": (tot("python_rows") / rows_in, "1"),
        "lookup.self_s": (t_lookup - t_parse, "s"),
        "lookup.broadcast_collect_s": (tot("broadcast_collect_s"), "s"),
        "lookup.broadcast_bytes": (tot("broadcast_bytes"), "B"),
        "lookup.broadcasts": (tot("broadcasts"), "count"),
        "route.compile_s": (med(span_seconds("route.compile")), "s"),
        "route.self_s": (t_route - t_lookup, "s"),
        "sinks.fan_out_s": (sum(span_seconds("sinks.fan_out")), "s"),
        "sinks.jobs": (len(jobs_of("sinks.fan_out"))
                       or len({j for e in sink_execs for j in e.jobs}), "count"),
        "sinks.cache_bytes": (med(captured.get("cache_bytes", [])), "B"),
        "sinks.bytes_written": (S.sum_totals(sink_execs, "bytes_written"), "B"),
        "sinks.shuffle_bytes": (S.sum_totals(sink_execs, "shuffle_bytes"), "B"),
        "checkpoint.self_s": (sum(tracer.self_seconds(i) for i in ck), "s"),
        "checkpoint.jobs": (len(jobs_of("checkpoint.run_with_resume")), "count"),
        "checkpoint.input_scans": (tot("input_scans"), "count"),
        "checkpoint.parse_failures_gap": (unit.parse_failures_gap, "rows"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.planning_s": (dur("queryPlanning"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.jobs_per_batch": (
            len(stream_jobs) / len(progress) if progress else 0.0, "count"),
        "run.jobs": (len(run_jobs), "count"),
        "run.tasks_failed": (tasks_failed, "count"),
        # rows per CPU-second, traced over untraced: CPU time, unlike
        # wall time, does not grow with hypervisor steal
        "trace.overhead_ratio": (cpu_ms_per_row(plain) / cpu_ms_per_row(traced), "1"),
        "trace.reconcile_ratio": (layer_self / tracer.spans[root].seconds, "1"),
    }, execs


def traced_run(spark, fn, args, inp, warms, work, setups):
    """Three units, the first and the last traced, so JIT warm-up weighs
    about the same on traced and untraced ones; per-layer metrics of the
    last traced unit. Writes the spans to .perfbench/spans-<workload>-<seed>.jsonl."""
    from perfbench import spans as S

    sc = spark.sparkContext
    tracer = S.Tracer(sc, f"{args.workload}-{args.seed}")
    listener = S.progress_listener()
    spark.streams.addListener(listener)
    captured: dict = {}
    last: dict = {}

    def unit(spark, inp, work, k):
        if k not in TRACED:
            return fn(spark, inp, work, k)
        S.drain(sc)
        last.update(marker=S.last_execution_id(spark), root=len(tracer.spans))
        with S.instrument(tracer, captured):
            u = fn(spark, inp, work, k, tracer.span)
        u.traced = True
        return u

    units, warm_failures = run_units(unit, spark, inp, work, 3, warms)
    if any(u.failures for u in units):
        return units, warm_failures, {}
    if args.workload == "stream_microbatch":
        # a batch-sized static frame for the prefix probes
        from rsyslog_spark.pipeline import build_flagship
        from rsyslog_spark.schema import TRANSCRIPT_SCHEMA

        one = sorted(f for f in os.listdir(inp.path) if f.endswith(".parquet"))[0]
        with S.instrument(tracer, captured):
            build_flagship(spark.read.schema(TRANSCRIPT_SCHEMA).parquet(
                os.path.join(inp.path, one)))
    metrics, execs = per_layer(spark, units, tracer, last["root"],
                               last["marker"], captured, listener, setups)
    tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"),
                [asdict(e) for e in execs])
    misses = 0
    for name, (lo, hi) in (("trace.reconcile_ratio", RECONCILE_TOL),
                           ("trace.overhead_ratio", OVERHEAD_TOL)):
        v = metrics[name][0]
        misses += not lo <= v <= hi
        print(f"check {name} {v:.3f} within [{lo}, {hi}]: "
              f"{'ok' if lo <= v <= hi else 'OUT OF TOLERANCE'}")
    metrics["trace.tolerance_misses"] = (misses, "count")
    return units, warm_failures, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rsyslog_spark")):
        print(f"rsyslog_spark/ not found under {ROOT}", file=sys.stderr)
        return 2
    cores = pin_environment()

    from perfbench import inputs, meter
    from perfbench.workloads import UNIT_S, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}", file=sys.stderr)
        return 2
    fn = WORKLOADS[args.workload]
    work = os.path.join(WORK, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = versions()

    # inputs (untimed): made by DuckDB, so no JVM runs before set-up
    t_start = time.perf_counter()
    cache = os.path.join(WORK, "cache")
    inp = inputs.for_workload(cache, args.workload, args.seed)
    warm = inputs.warmup(cache)

    # the warm-up unit: a batch job's hot loops JIT-compile only at volume
    # (its first unit at volume costs nearly twice the CPU of the next),
    # so it warms on its own input; a micro-batch is small anyway, and a
    # whole extra query would cost the stream a quarter of its run
    warm_unit = warm if args.workload == "stream_microbatch" else inp

    # set-up: every one launches a JVM; the traced run times only its own
    t_inputs = time.perf_counter()
    setups = cold_setups(0 if args.trace else SETUPS - 1)
    spark, own = setup_once(cores, warm)
    setups.append(own)
    failures = [f for s in setups for f in s["failures"]]

    t_loop, steal0 = time.perf_counter(), meter.steal_seconds()
    try:
        if args.trace:
            # the overhead ratio compares units within the run, so they
            # must be past the steep part of the JIT warm-up: after one
            # warm-up unit at size, the next still costs 1.2 to 1.5 times
            # the CPU of the one after it, which would swamp the tracing
            # overhead
            units, warm_failures, metrics = traced_run(
                spark, fn, args, inp, [inp, inp], work, setups)
        else:
            n = max(1, round(args.seconds / UNIT_S[args.workload]))
            with meter.PeakRss() as rss:
                units, warm_failures = run_units(
                    fn, spark, inp, work, n, [warm_unit])
            metrics = end_to_end(units, setups, rss.peak)
        t_stop, env["loop_steal_s"] = time.perf_counter(), meter.steal_seconds() - steal0
    finally:
        spark.stop()
        meter.end_descendants()
    t_end = time.perf_counter()

    attempted, failed = tally(args.workload, inp, units)
    failures += warm_failures
    known = sorted({m for u in units for m in u.known})
    for u in units:
        failures += u.failures

    print(f"env {json.dumps(env)}")
    print(f"workload {args.workload} seed {args.seed} rows {inp.rows} "
          f"first_id {inp.first_id} units {len(units)}")
    print(f"phases inputs {t_inputs - t_start:.1f} s, set-up "
          f"{t_loop - t_inputs:.1f} s, loop {t_stop - t_loop:.1f} s, "
          f"stop {t_end - t_stop:.1f} s; set-ups (start, warm-up, cpu) "
          + ", ".join(f"({s['start_s']:.2f}, {s['warmup_s']:.2f}, "
                      f"{s['cpu_s']:.2f})" for s in setups))
    for k, u in enumerate(units):
        print(f"unit {k} {u.seconds:.3f} s cpu {u.cpu_s:.2f} s batches "
              f"{' '.join(f'{b:.2f}' for b in u.batches)}"
              f"{' traced' if u.traced else ''}{' FAIL' if u.failures else ''}")
    for f in failures[:20]:
        print(f"check FAIL {f}")
    print(f"check sink_counts vs DuckDB oracle: "
          f"{'ok' if not failures else 'FAIL'}")
    for m in known:
        print(f"check known defect (ROADMAP item 3): FAIL {m}")
    print(f"metric failed_ratio = {failed / attempted:.4f} 1")
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    if not args.trace:
        metrics = {k: metrics[k] for k in GATED}
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
