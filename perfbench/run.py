"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from
the seed under ``.perfbench_work/`` (removed again at exit), starts the
engine's SparkSession, makes one cold pass whose outputs are checked
and the workload's untimed warm passes, then runs timed passes in a
closed loop until ``--seconds`` have elapsed. Reported times are
granted time (``tracing.granted_seconds``): wall time scaled by the
share of wanted vCPU time the host granted. The last line of standard output is one JSON object::

    {"correct": …, "attempted": …, "failed": …, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a
separate run that enables Spark's event log and wraps the layer
functions; it reports the per-layer metrics and writes its spans to
``.perfbench_out/trace-<workload>-<seed>.json``. A human-readable
report goes to standard error.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing as tr  # noqa: E402

START = tr.clock()

import argparse  # noqa: E402
import json  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

import workloads as wls  # noqa: E402

ROOT = os.getcwd()
PACKAGE = tr.PACKAGE
#: Whole-run guard: the run must end well inside three minutes.
DEADLINE_S = 170
MAX_CORES = 8

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "rows_per_s": "rows/s",
}

#: Layer functions wrapped in the traced run: span name -> (module,
#: attribute path). Each must record a span on the listed workloads.
LAYER_FUNCS = {
    "catalog.load_table": (f"{PACKAGE}.catalog", "load_table", ("query_mix",)),
    "catalog.fan_out": (f"{PACKAGE}.catalog", "fan_out", ("query_mix",)),
    "sources.read": (f"{PACKAGE}.sources.registry", "DEFAULT.read", ("cdr_mediation",)),
    "sources.sink_write": (f"{PACKAGE}.sources.registry", "SINKS.write", wls.WORKLOADS),
    "plans.compile": (f"{PACKAGE}.plans.spec", "PipelineSpec.compile", ("cdr_mediation",)),
    "plans.run_batch_pipeline": (f"{PACKAGE}.plans.runner", "run_batch_pipeline", ("cdr_mediation",)),
    "operators.range_join": (f"{PACKAGE}.operators.joins", "range_join", ("cdr_mediation",)),
    "streaming.start_routed_stream": (f"{PACKAGE}.streaming.sinks", "start_routed_stream",
                                      ("cdr_mediation",)),
}

SPARK_METRICS = {
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.task_failures": ("task_failures", "count"),
    "spark.executor_run_s": ("executor_run_s", "s"),
    "spark.executor_cpu_s": ("executor_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
    "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes"),
    "spark.spill_bytes": ("spill_bytes", "bytes"),
    "spark.input_bytes": ("input_bytes", "bytes"),
    "spark.output_bytes": ("output_bytes", "bytes"),
    "python.bytes_to_worker": ("python_bytes_to_worker", "bytes"),
    "python.bytes_from_worker": ("python_bytes_from_worker", "bytes"),
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    units = {"session.start_s": "s", "session.warm_s": "s",
             "catalog.load_table.calls": "count", "catalog.load_table.s": "s",
             "catalog.fan_out.calls": "count", "catalog.fan_out.repartitioned": "ratio",
             "catalog.fan_out.s": "s",
             "sources.read.s": "s", "sources.sink_write.s": "s",
             "sources.bytes_written": "bytes", "sources.files_written": "count",
             "sources.write_amplification": "ratio",
             "plans.compile.s": "s", "plans.run_batch_pipeline.s": "s",
             "operators.range_join.s": "s",
             "streaming.drain_s": "s", "streaming.start_s": "s",
             "streaming.batch_ms_p50": "ms", "streaming.add_batch_ms_p50": "ms",
             "streaming.query_planning_ms_p50": "ms", "streaming.checkpoint_ms_p50": "ms",
             "streaming.checkpoint_share": "ratio", "streaming.state_rows_final": "count",
             "streaming.state_bytes_peak": "bytes"}
    for family, queries in wls.QUERY_FAMILIES.items():
        units[f"queries.{family}.s"] = "s"
        units[f"queries.{family}.python_bytes"] = "bytes"
        for q in queries:
            units[f"queries.{q}.build_s"] = "s"
            units[f"queries.{q}.run_s"] = "s"
    for name, (_key, unit) in SPARK_METRICS.items():
        units[name] = unit
    units["spark.busy_share"] = "ratio"
    units["process.peak_rss_mb"] = "MB"
    units["host.granted_share"] = "ratio"
    units["host.pass_wall_s"] = "s"
    units["trace.job_s"] = "s"
    units["trace.untraced_job_s"] = "s"
    units["trace.overhead_s"] = "s"
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def configure_env(run_dir: str, trace: bool) -> None:
    """Point every scratch location of Spark and Python inside the run
    directory, size the engine to this machine, and (traced run only)
    turn on the event log. Must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    paths = [ROOT, os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    args = ["--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{log_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def import_program() -> None:
    """Import the engine from this checkout; refuse any other copy."""
    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tests"))
    import importlib

    pkg = importlib.import_module(PACKAGE)
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise ImportError(f"{PACKAGE} resolved outside the checkout: {pkg.__file__}")
    import parity  # noqa: F401 — the oracle comparator the checks use


def install_tracer(tracer: tr.Tracer) -> None:
    import importlib

    for name, (module, path, _required) in LAYER_FUNCS.items():
        owner = importlib.import_module(module)
        *parents, attr = path.split(".")
        for p in parents:
            owner = getattr(owner, p)
        on_result = None
        if name == "catalog.fan_out":
            def on_result(args, kwargs, result):
                return {"repartitioned": int(result is not args[0])}
        tracer.patch(name, owner, attr, on_result)


def stop_program(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes) and
    wait until every process the run started has ended."""
    from pyspark import SparkContext

    started = tr.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for pid in tr.wait_gone(started, timeout=30):
        os.kill(pid, signal.SIGKILL)
    tr.wait_gone(started, timeout=10)


def run_pass(wl, ctx, pass_id: str, check: bool = False):
    c0 = tr.clock()
    res = wl.run_pass(ctx, pass_id, check=check)
    res.granted_s = tr.granted_seconds(c0, tr.clock())
    return res


def timed_loop(wl, ctx, seconds: float) -> list:
    """Closed loop: passes back to back until ``seconds`` of granted time
    have elapsed. Counting granted time keeps the number of passes the
    same on a busy host."""
    results = []
    while True:
        results.append(run_pass(wl, ctx, f"t{len(results)}"))
        if sum(p.granted_s for p in results) >= seconds:
            return results


def traced_loop(wl, ctx, seconds: float) -> tuple[list, list]:
    """Alternate traced and untraced passes until ``seconds`` of granted
    time have elapsed, so both sides have the same count. The traced pass
    of each pair runs first and is the colder one, which makes the
    measured tracing overhead an upper bound."""
    traced, untraced = [], []
    while True:
        ctx.tracer.active = True
        traced.append(run_pass(wl, ctx, f"t{len(traced)}"))
        ctx.tracer.active = False
        untraced.append(run_pass(wl, ctx, f"u{len(untraced)}"))
        if sum(p.granted_s for p in traced + untraced) >= seconds:
            return traced, untraced


def stream_metrics(passes) -> dict[str, float]:
    """The streaming layer, from ``StreamingQuery.recentProgress`` of the
    passes' stream steps: per-batch durations over every batch, state
    size per pass (0 on a workload without a stream step)."""
    batches = [b for p in passes for b in p.stream_progress]
    med = tr.median

    def ms(b, *keys):
        return sum(b["durationMs"].get(k, 0) for k in keys)

    trigger = [ms(b, "triggerExecution") for b in batches]
    ckpt = [ms(b, "walCommit", "commitOffsets", "latestOffset") for b in batches]

    def state(b, key):
        return sum(op.get(key) or 0 for op in b.get("stateOperators", []))

    with_batches = [p.stream_progress for p in passes if p.stream_progress]
    return {
        "streaming.batch_ms_p50": med(trigger),
        "streaming.add_batch_ms_p50": med(ms(b, "addBatch") for b in batches),
        "streaming.query_planning_ms_p50": med(ms(b, "queryPlanning") for b in batches),
        "streaming.checkpoint_ms_p50": med(ckpt),
        "streaming.checkpoint_share": sum(ckpt) / sum(trigger) if sum(trigger) else 0.0,
        "streaming.state_rows_final": med(state(bs[-1], "numRowsTotal") for bs in with_batches),
        "streaming.state_bytes_peak": med(max(state(b, "memoryUsedBytes") for b in bs)
                                          for bs in with_batches),
    }


def layer_metrics(wl, tracer, traced, untraced, event_steps, start_s, warm_s,
                  peak_mb) -> dict[str, float]:
    ids = [f"t{i}" for i in range(len(traced))]
    spans = tracer.per_pass(ids)
    med = tr.median

    def span_med(name: str, key: str = "s") -> float:
        return med(spans.get(name, {}).get(key, [0.0]))

    m = {"session.start_s": start_s, "session.warm_s": warm_s}
    m["catalog.load_table.calls"] = span_med("catalog.load_table", "calls")
    m["catalog.load_table.s"] = span_med("catalog.load_table")
    fan = spans.get("catalog.fan_out", {})
    m["catalog.fan_out.calls"] = span_med("catalog.fan_out", "calls")
    calls = sum(fan.get("calls", []))
    m["catalog.fan_out.repartitioned"] = sum(fan.get("repartitioned", [])) / calls if calls else 0.0
    m["catalog.fan_out.s"] = span_med("catalog.fan_out")
    m["sources.read.s"] = span_med("sources.read")
    m["sources.sink_write.s"] = span_med("sources.sink_write")
    out_bytes, out_files = wl.output_stats()
    m["sources.bytes_written"] = out_bytes
    m["sources.files_written"] = out_files
    m["sources.write_amplification"] = out_bytes / wl.input_bytes
    m["plans.compile.s"] = span_med("plans.compile")
    m["plans.run_batch_pipeline.s"] = span_med("plans.run_batch_pipeline")
    m["operators.range_join.s"] = span_med("operators.range_join")
    m.update(stream_metrics(traced))
    m["streaming.drain_s"] = span_med("streaming.drain")
    m["streaming.start_s"] = span_med("streaming.start_routed_stream")
    for family, queries in wls.QUERY_FAMILIES.items():
        for q in queries:
            m[f"queries.{q}.build_s"] = span_med(f"queries.{q}.build")
            m[f"queries.{q}.run_s"] = span_med(f"queries.{q}.run")
        # the family total per pass, so the JVM-only and the Python-worker
        # halves of the mix can be told apart
        per_pass = [sum(spans.get(f"queries.{q}.{part}", {}).get("s", [0.0] * len(ids))[i]
                        for q in queries for part in ("build", "run"))
                    for i in range(len(ids))]
        m[f"queries.{family}.s"] = med(per_pass)
        py = tr.per_pass_executor(event_steps, ids, steps_named=set(queries))
        m[f"queries.{family}.python_bytes"] = med(
            a + b for a, b in zip(py["python_bytes_to_worker"], py["python_bytes_from_worker"]))
    execs = tr.per_pass_executor(event_steps, ids)
    for name, (key, _unit) in SPARK_METRICS.items():
        m[name] = med(execs[key])
    m["spark.busy_share"] = med(
        run / (p.seconds * cores()) for run, p in zip(execs["executor_run_s"], traced))
    m["process.peak_rss_mb"] = peak_mb
    m["host.granted_share"] = med(p.granted_s / p.seconds for p in traced + untraced)
    m["host.pass_wall_s"] = med(p.seconds for p in untraced)
    m["trace.job_s"] = med(p.granted_s for p in traced)
    m["trace.untraced_job_s"] = med(p.granted_s for p in untraced)
    m["trace.overhead_s"] = m["trace.job_s"] - m["trace.untraced_job_s"]
    return m


def run(args) -> dict:
    work_root = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        configure_env(run_dir, args.trace)
        import_program()
        wl = wls.WORKLOADS[args.workload]()

        gen_start = tr.clock()
        input_rows = wl.generate(os.path.join(run_dir, "input"), args.seed)
        gen_end = tr.clock()
        log(f"generated {input_rows} input rows in {gen_end[0] - gen_start[0]:.2f}s (not part of setup_s)")

        from etl_work_flow_for_big_data_spark.session import get_spark

        t_start = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t_start
        tracer = tr.Tracer()
        ctx = wls.Context(spark=spark, tracer=tracer)
        wl.prepare(ctx)
        if args.trace:
            install_tracer(tracer)

        # the checked pass is the cold one: it pays JIT, codegen and the
        # Python worker pool start; the warm passes let JIT settle, so
        # the timed passes that follow are steady ones
        check = run_pass(wl, ctx, "check", check=True)
        warm = [run_pass(wl, ctx, f"w{i}") for i in range(wl.warm_passes)]
        warm_end = tr.clock()
        warm_s = check.seconds + sum(p.seconds for p in warm)
        setup_s = tr.granted_seconds(START, gen_start) + tr.granted_seconds(gen_end, warm_end)
        wall_setup = (gen_start[0] - START[0]) + (warm_end[0] - gen_end[0])
        t_verify = time.perf_counter()
        wl.verify(check)
        log(f"setup {setup_s:.2f}s granted, {wall_setup:.2f}s wall (session {start_s:.2f}s, "
            f"checked pass {check.seconds:.2f}s, warm passes "
            f"{', '.join(f'{p.seconds:.2f}s' for p in warm)}; output check "
            f"{time.perf_counter() - t_verify:.2f}s not part of setup_s)")
        for p in (check, *warm):
            log("setup steps " + " ".join(f"{k}={v:.3f}" for k, v in p.steps.items()))

        untraced = []
        if args.trace:
            passes, untraced = traced_loop(wl, ctx, args.seconds)
        else:
            passes = timed_loop(wl, ctx, args.seconds)
        peak_mb, peak_by_name = tr.tree_peak_rss_mb(os.getpid())
        log("peak RSS MB by process: " + ", ".join(f"{k} {v:.0f}" for k, v in peak_by_name.items()))
        t_stop = time.perf_counter()
        stop_program(spark)
        spark = None
        log(f"session stopped in {time.perf_counter() - t_stop:.2f}s")

        every = [check, *warm, *untraced, *passes]
        attempted = sum(p.attempted for p in every)
        failed = sum(p.failed for p in every)
        for p in every:
            for e in p.errors:
                log(f"FAILED {e}")
        job_s = tr.median(p.granted_s for p in passes)
        log(f"{len(passes)} timed passes, granted (wall): "
            + ", ".join(f"{p.granted_s:.3f}s ({p.seconds:.3f}s)" for p in passes))
        for p in passes:
            log("steps " + " ".join(f"{k}={v:.3f}" for k, v in p.steps.items()))
        correct = failed == 0

        if not args.trace:
            values = {"setup_s": setup_s, "job_s": job_s, "rows_per_s": input_rows / job_s}
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            steps = tr.parse_event_log(os.path.join(run_dir, "eventlog"))
            values = layer_metrics(wl, tracer, passes, untraced, steps, start_s, warm_s, peak_mb)
            metrics = {k: {"value": values[k], "unit": u} for k, u in per_layer_units().items()}
            ids = {f"t{i}" for i in range(len(passes))}
            seen = {s["name"] for s in tracer.spans if s["pass"] in ids}
            for name, (_m, _p, required) in LAYER_FUNCS.items():
                if args.workload in required and name not in seen:
                    correct = False
                    log(f"FAILED trace coverage: {name} recorded no span on {args.workload}")
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            out = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(out, {"workload": args.workload, "seed": args.seed,
                              "passes": {f"t{i}": p.seconds for i, p in enumerate(passes)},
                              "event_log_steps": steps})
            log(f"spans written to {out}; tracing overhead "
                f"{values['trace.overhead_s']:+.3f}s per pass "
                f"(traced {values['trace.job_s']:.3f}s vs untraced {values['trace.untraced_job_s']:.3f}s)")
        return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_program(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(work_root)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wls.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    def deadline(_sig, _frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    try:
        result = run(args)
    except ImportError as exc:
        log(f"cannot import the program from {ROOT}: {exc}")
        return 2
    finally:
        signal.alarm(0)
    print(json.dumps(result), flush=True)
    log(f"done after {time.perf_counter() - START[0]:.2f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
