"""Benchmark of the osm2garmin_spark tiling engine.

    python3 perfbench/run.py --workload tiling --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process starts Spark through
``osm2garmin_spark.session.get_spark`` on ``local[4]`` and runs one job at a
time (closed loop, one client). Inputs are generated from ``--seed``,
persisted, and warmed up by untimed jobs (the JVM keeps getting faster for
the first few jobs of a process); jobs are then timed for ``--seconds``.
Every job's output is checked against a reference computed after the timed
window by an independent path (``reference.py``).

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced jobs and reports the per-layer metrics of the traced
ones, the tracing overhead, and the set-up phases. Spans are written to
``.perfbench_work/trace/`` when the run ends. A human-readable summary goes
to stderr; the last line of stdout is the JSON result.

Exit code 0 means the run completed (``correct`` says whether every output
matched); a run that cannot start exits with 2 and prints no result.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: per-layer metric of each span: (self wall-time name, CPU name or None)
SPAN_METRICS = {
    "split.density": ("split.density_s", "split.density_cpu_s"),
    "split.quadtree": ("split.quadtree_s", None),
    "operators.tile_join.assign": ("operators.tile_join.assign_s",
                                   "operators.tile_join.assign_cpu_s"),
    "operators.range_join": ("operators.range_join.join_s",
                             "operators.range_join.cpu_s"),
    "operators.knn": ("operators.knn.knn_s", "operators.knn.cpu_s"),
    "pipeline.lineage.write": ("pipeline.lineage.write_s",
                               "pipeline.lineage.write_cpu_s"),
    "pipeline.lineage.resume": ("pipeline.lineage.resume_s", None),
    "pipeline.lineage.read": ("pipeline.lineage.read_s", None),
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def configure_env() -> None:
    """Pin the Spark environment and keep every file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a heap that starts small grows during the first jobs and adds
        # to their drift
        "SPARK_SUBMIT_OPTS": "-Xms3g -Dspark.ui.showConsoleProgress=false",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def descendants(pid: int) -> list:
    children = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM, and wait until it and its workers are gone."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    procs = [proc.pid] + descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()                   # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_job(wl, clock, tr=None):
    """One job: (wall s, CPU s, output or None if it raised)."""
    w0, c0 = clock.now()
    try:
        if tr is None:
            out = wl.job()
        else:
            with tr.span("job"):
                out = wl.job(tr)
    except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
        traceback.print_exc()
        out = None
    w1, c1 = clock.now()
    wl.after_job(out)
    return w1 - w0, c1 - c0, out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        from osm2garmin_spark.session import get_spark
        from workloads import WORKLOADS
    except ImportError as e:
        log(f"perfbench: cannot import the engine from {ROOT}: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; "
            f"choose from {sorted(WORKLOADS)}")
        return 2

    configure_env()
    spark = get_spark("perfbench")
    t_session = time.perf_counter()
    try:
        return measure(spark, args, t_session, WORKLOADS[args.workload])
    finally:
        stop_spark(spark)
        shutil.rmtree(os.path.join(WORK, "spark-local"), ignore_errors=True)


def measure(spark, args, t_session, workload_cls) -> int:
    from spans import Clock, Tracer

    clock = Clock(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
    wl = workload_cls(spark, WORK)

    t0 = time.perf_counter()
    wl.setup(args.seed)
    t_gen = time.perf_counter()
    warm_failed = 0
    for i in range(wl.warmup):
        wall, _, out = run_job(wl, clock)
        log(f"warm-up {i}: {wall:.3f} s")
        warm_failed += out is None
    t_ready = time.perf_counter()

    tracer = Tracer(clock)
    jobs = []                        # (traced, wall, cpu, output)
    start = time.perf_counter()
    # a traced run needs one untraced and one traced job at least
    while (len(jobs) < 1 + args.trace
           or time.perf_counter() - start < args.seconds):
        traced = bool(args.trace) and len(jobs) % 2 == 1
        tracer.job = len(jobs)
        wall, cpu, out = run_job(wl, clock, tracer if traced else None)
        log(f"job {len(jobs)}{' traced' if traced else ''}: "
            f"{wall:.3f} s wall, {cpu:.2f} s cpu")
        jobs.append((traced, wall, cpu, out))

    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    failed = sum(out is None for _, _, _, out in jobs)
    t_ref = time.perf_counter()
    try:
        ref = wl.reference(twin=bool(args.trace))
        log(f"reference: {time.perf_counter() - t_ref:.3f} s")
    except Exception:  # noqa: BLE001 - no reference means nothing verified
        traceback.print_exc()
        ref = None
    for i, (_, _, _, out) in enumerate(jobs):
        if out is not None and ref is not None:
            bad = wl.check(out, ref)
            if bad:
                log(f"job {i}: output mismatch in {bad}")
                failed += 1
    correct = ref is not None and failed == 0 and warm_failed == 0

    plain = [(w, c) for t, w, c, _ in jobs if not t]
    walls = [w for w, _ in plain]
    half = len(walls) // 2
    trend = (median(walls[half:]) / median(walls[:half])) if half else 1.0
    setup = {"session.start_s": t_session - T_PROCESS,
             "pipeline.synth.gen_s": t_gen - t0,
             "setup.warmup_s": t_ready - t_gen}
    metrics = {
        "job_s": (median(walls), "s"),
        "job_cpu_s": (median([c for _, c in plain]), "s"),
        "driver_rss_mb": (rss_mb, "MB"),
        "setup_s": (t_ready - T_PROCESS, "s"),
    }
    if args.trace:
        metrics = layer_metrics(jobs, tracer, setup, trend)
        tracer.write(os.path.join(WORK, "trace", f"{wl.name}-seed{args.seed}.json"))

    log(f"{wl.name} seed {args.seed}: {len(jobs)} jobs "
        f"({wl.warmup} warm-up), failed {failed}/{len(jobs)}, "
        f"trend (2nd half / 1st half median) {trend:.3f}")
    for k, (v, u) in metrics.items():
        log(f"  {k:36s} {v:14.4f} {u}")
    if not args.trace:
        for k, v in setup.items():
            log(f"  {k:36s} {v:14.4f} s")
    print(json.dumps({"correct": correct, "attempted": len(jobs),
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u}
                                  for k, (v, u) in metrics.items()}}))
    return 0


def layer_metrics(jobs, tracer, setup, trend) -> dict:
    """Per-layer medians over the traced jobs; layers a workload does not
    touch read 0."""
    from spans import self_times, span_cpu

    selfs = self_times(tracer.spans)
    cpus = span_cpu(tracer.spans)
    traced = [i for i, (t, _, _, out) in enumerate(jobs) if t and out is not None]
    m = {}
    for span, (wall_name, cpu_name) in SPAN_METRICS.items():
        m[wall_name] = (median([selfs[i].get(span, 0.0) for i in traced]), "s")
        if cpu_name:
            m[cpu_name] = (median([cpus[i].get(span, 0.0) for i in traced]), "s")
    counts = {}
    for i in traced:
        for k, v in jobs[i][3]["layer"].items():
            counts.setdefault(k, []).append(v)
    for name, unit in (("split.n_tiles", "count"),
                       ("split.occupied_cells", "count"),
                       ("operators.tile_join.assignments", "count"),
                       ("operators.tile_join.fanout", "ratio"),
                       ("operators.range_join.pairs", "count"),
                       ("operators.knn.rows", "count"),
                       ("pipeline.lineage.bytes_written", "B"),
                       ("pipeline.lineage.files_written", "count"),
                       ("pipeline.lineage.manifests", "count"),
                       ("pipeline.lineage.tiles_skipped", "count")):
        m[name] = (median(counts.get(name, [])), unit)
    for k, v in setup.items():
        m[k] = (v, "s")
    traced_wall = [jobs[i][1] for i in traced]
    plain_wall = [w for t, w, _, out in jobs if not t and out is not None]
    m["trace.job_s"] = (median(traced_wall), "s")
    m["trace.untraced_job_s"] = (median(plain_wall), "s")
    m["trace.overhead_ratio"] = (median(traced_wall) / median(plain_wall)
                                 if traced_wall and plain_wall else 0.0, "ratio")
    covered = [1.0 - selfs[i]["job"] / jobs[i][1] for i in traced]
    m["trace.layer_coverage"] = (median(covered), "ratio")
    m["steady.trend_ratio"] = (trend, "ratio")
    return m


if __name__ == "__main__":
    sys.exit(main())
