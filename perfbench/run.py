#!/usr/bin/env python3
"""Benchmark of the advisory engine: two closed-loop workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One client runs whole passes of the
workload's steps, back to back, until the timed steps add up to
``--seconds`` (at least one pass), on ``local[<cores>]``. Every step's
output is checked outside the timed region. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``, with the names and units ``BENCHMARK.json``
lists. What each metric and workload means is in ``perfbench/README.md``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _git_revision() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _make_workload(name: str, seed: int, run_dir: str):
    if name == "advisory_incremental":
        from perfbench.advisory import AdvisoryIncremental

        return AdvisoryIncremental(seed, run_dir)
    from perfbench.reads import GraphAndQueries

    return GraphAndQueries(seed, run_dir)


def _start_session(cores: int, extra: dict[str, str]):
    from advisorydatapipeline_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)


def _shutdown_jvm() -> None:
    """Stop the SparkContext and the JVM the session launched, and wait
    until the JVM has ended (the pyspark daemon stops with the
    SparkContext)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        if gw is not None:
            gw.shutdown()
    finally:
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _versions(spark, cores: int) -> dict:
    return {
        "cores": cores,
        "git_revision": _git_revision(),
        "spark": spark.version,
        "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def _load() -> dict:
    from bench import _foreign_spark_pids

    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {
        "loadavg": list(os.getloadavg()),
        "foreign_spark_pids": _foreign_spark_pids(),
        # time the hypervisor ran other guests on this machine's CPUs
        "steal_s": int(cpu[8]) / os.sysconf("SC_CLK_TCK"),
    }


def _warm_up(wl, spark, problems: list[str]) -> list[float]:
    from perfbench.harness import between_steps, run_step
    from perfbench.trace import NullTracer

    times = []
    for step in wl.warmup_steps():
        times.append(run_step(step, NullTracer(), problems).seconds)
        between_steps(spark)
    return times


def run(args, run_dir: str, spec: dict) -> tuple[dict, dict]:
    from perfbench.harness import PeakRss, Spans, measure
    from perfbench.trace import NullTracer, Tracer, by_span, event_log_conf, find_event_log, parse_event_log

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
    }
    problems: list[str] = []
    info: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "start": _load()}
    log_dir = os.path.join(run_dir, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf |= event_log_conf(log_dir)
    with PeakRss() as rss:
        wl = _make_workload(args.workload, args.seed, run_dir)
        t0 = time.perf_counter()
        spark = _start_session(cores, conf)
        start_s = time.perf_counter() - t0
        info["versions"] = _versions(spark, cores)
        wl.bind(spark)
        t1 = time.perf_counter()
        warm = _warm_up(wl, spark, problems)
        warmup_s = time.perf_counter() - t1
        setup_s = time.perf_counter() - T_START
        if args.trace:
            # the timed region with spans on, right after the warm-up as
            # in an untraced run; then once more without them, in a JVM
            # that has warmed up longer, so trace.overhead_frac
            # overstates the cost of the spans rather than hiding it
            tracer = Tracer(spark.sparkContext, args.workload)
            wl.tracer = tracer
            mt = measure(spark, wl.steps, args.seconds, tracer, rss)
            wl.tracer = NullTracer()
        m = measure(spark, wl.steps, args.seconds, NullTracer(), rss)
    info["warmup_step_s"] = [round(t, 3) for t in warm]
    info["peak_rss_mb"] = m.peak_rss_mb
    info["step_p50_s"] = statistics.median(s.seconds for s in m.steps)
    regions = [mt, m] if args.trace else [m]
    info["passes"] = [[(r.name, round(r.seconds, 3), r.ok) for r in p] for x in regions for p in x.passes]
    for x in regions:
        problems += x.problems

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "wall_s": m.wall_s,
            "input_rows_per_s": wl.input_rows / m.wall_s,
            "ok_frac": 1 - m.failed / len(m.steps),
        }
        wanted = spec["end_to_end"]
    else:
        spark.stop()  # completes the event log
        spark_by_span = by_span(parse_event_log(find_event_log(log_dir)))
        values = _layer_metrics(wl, Spans(tracer), spark_by_span, mt, cores) | {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "session.cold_step_s": warm[0],
            "memory.peak_rss_mb": m.peak_rss_mb,
            "trace.overhead_frac": mt.wall_s / m.wall_s - 1,
        }
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            spark_by_span,
        )
        # a layer the workload does not run reports 0
        values = dict.fromkeys((d["name"] for d in spec["per_layer"]), 0.0) | values
        wanted = spec["per_layer"]
    unknown = values.keys() - {d["name"] for d in wanted}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    info["end"] = _load()
    info["problems"] = sorted(set(problems))
    steps = [s for x in regions for s in x.steps]
    result = {
        "correct": not problems,
        "attempted": len(steps),
        "failed": sum(not s.ok for s in steps),
        "metrics": {d["name"]: {"value": values[d["name"]], "unit": d["unit"]} for d in wanted},
    }
    return info, result


def _layer_metrics(wl, spans, spark_by_span, m, cores) -> dict[str, float]:
    """Per-layer values of the traced region ``m``, per pass."""
    from perfbench.trace import SparkAgg

    total = SparkAgg()
    step_ids = [s["id"] for s in spans.spans if s["parent"] is None]
    for sid in step_ids:
        total.add(spans.subtree_agg(sid, spark_by_span))
    traced_wall = sum(m.pass_walls)
    n = len(m.passes)
    mb = 1 << 20
    return wl.layer_metrics(spans, spark_by_span) | {
        "spark.jobs": total.jobs / n,
        "spark.stages": total.stages / n,
        "spark.tasks": total.tasks / n,
        "spark.deserialize_s": total.deserialize_ms / 1000 / n,
        "spark.executor_run_s": total.executor_run_ms / 1000 / n,
        "spark.gc_s": total.gc_ms / 1000 / n,
        "spark.shuffle_read_mb": total.shuffle_read_bytes / mb / n,
        "spark.shuffle_write_mb": total.shuffle_write_bytes / mb / n,
        "spark.spill_mb": total.spill_bytes / mb / n,
        "spark.idle_core_frac": 1 - total.executor_run_ms / 1000 / (traced_wall * cores),
        "trace.attributed_frac": 1 - sum(spans.selfs[s] for s in step_ids) / traced_wall,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    spec = _spec()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "advisorydatapipeline_spark", "pipeline.py")):
        print(f"perfbench: no advisorydatapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a SIGTERM unwinds like an exception, so the JVM is stopped and the
    # run directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep every scratch file Spark, the JVM and Python write inside
    # this run's directory, removed at exit
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    try:
        info, result = run(args, run_dir, spec)
    finally:
        try:
            _shutdown_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it
    for p in info["problems"]:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps({"run": info}))
    for k, v in result["metrics"].items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"{args.workload} failed_frac = {result['failed'] / result['attempted']:.6g} ratio")
    print(f"{args.workload} peak_rss_mb = {info['peak_rss_mb']:.6g} MB")
    n = len(info["passes"][0])
    print(f"{args.workload} step_p50_s = {info['step_p50_s']:.6g} s (median of {n} steps)")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
