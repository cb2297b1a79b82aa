"""Benchmark launcher: one workload, one driver process, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The launcher sizes the engine session
from the host (``SPARK_GRAFT_CPUS`` = usable CPUs, a driver heap that
fits the host's memory, engine scratch and temp files under
``.perfbench/`` in the checkout, the checkout on the Python workers'
path), then:

1. sets up once, from process start: imports, JVM launch, session,
   inputs generated from the seed and written (``setup_s``);
2. computes the workload's correctness reference (outside any timed
   pass);
3. runs the cold pass (first pass in the fresh session), then warm
   passes while another fits in ``--seconds`` (at least one);
4. checks every operation of every pass against the reference, after
   the pass's timer has stopped.  An operation fails if it raises,
   exceeds its time limit (jobs still running then are cancelled), or
   differs from the reference.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced warm passes (at least untraced, traced, untraced)
and reports per-layer metrics (medians over the traced passes) plus the
tracing overhead; spans are written to ``.perfbench/out/``.  The last
line of standard output is the result object; the line before it
carries host-window diagnostics.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "transcriptomics_data_integration_spark"
STATE = os.path.join(ROOT, ".perfbench")
MIN_WARM = 1
OP_LIMIT_S = 60.0  # per operation; a hang is cancelled and counted failed
PASS_BUDGET_S = 150.0  # no pass starts that would end later than this
HARD_LIMIT_S = 172.0  # abort without a result rather than overrun

FUNCTIONS = {
    "llmdata.dedup.connected_components": ("self_s", "jobs", "shuffle_mb"),
    "stats.ttest.moderated_t": ("self_s", "jobs"),
    "pipelines.meta.meta_analysis": ("self_s", "jobs"),
    "sources.tsv_matrix.read_matrix_tsv": ("self_s", "jobs"),
    "sources.tsv_matrix.write_matrix_tsv": ("self_s", "shuffle_mb"),
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def size_session(root: str) -> dict:
    """Environment for a session sized to this host; applied to
    ``os.environ`` before the JVM starts, and returned for the record."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(f.readline().split()[1]) / 2**20
    driver_gb = max(1, min(4, int(mem_gb / 4)))
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.ui.retainedJobs=100000",
        "--conf", "spark.ui.retainedStages=100000",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(STATE, 'warehouse')}",
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit),
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {**env, "host_mem_gb": round(mem_gb, 1)}


class OpTimer:
    """Cancels the engine's jobs if an operation outlives its limit."""

    def __init__(self, sc, limit_s: float):
        self.sc, self.limit_s, self.timed_out = sc, limit_s, False

    def _fire(self) -> None:
        self.timed_out = True
        self.sc.cancelAllJobs()

    def __enter__(self):
        self._timer = threading.Timer(self.limit_s, self._fire)
        self._timer.start()
        return self

    def __exit__(self, *exc):
        self._timer.cancel()
        self._timer.join()
        return False


def run_operation(op, sc, limit_s, span) -> tuple[object, str | None]:
    """(result, error) of one operation.  An operation that outlives its
    limit fails even when it ends on its own: the limit may pass on the
    driver, between jobs, where there is nothing to cancel."""
    with OpTimer(sc, limit_s) as timer:
        try:
            with span(op.layer, f"{op.layer}.{op.name}"):
                df = op.build()
            with span("action", f"action.{op.name}"):
                outcome = (op.deliver(df), None)
        except Exception as e:  # noqa: BLE001 -- counted, reported
            outcome = (None, f"{type(e).__name__}: {e}"[:300])
    if timer.timed_out:
        return None, "time limit exceeded"
    return outcome


def run_pass(wl, spark, monitor, tracer=None):
    """One pass; returns (wall_s, tree_cpu_s, {op: (result, error)},
    {op: wall_s})."""
    gc.collect()
    spark._jvm.System.gc()
    cpu0 = monitor.tree_cpu_s()
    t0 = time.perf_counter()
    outcomes: dict[str, tuple[object, str | None]] = {}
    op_s: dict[str, float] = {}

    def span(layer, name):
        return tracer.span(layer, name) if tracer and layer else nullcontext()

    with span("bench", "pass"):
        try:
            ops = wl.operations(spark)
        except Exception as e:  # noqa: BLE001 -- a broken pass fails every operation
            ops = []
            outcomes["<build>"] = (None, f"{type(e).__name__}: {e}"[:300])
        for op in ops:
            t_op = time.perf_counter()
            outcomes[op.name] = run_operation(op, spark.sparkContext, OP_LIMIT_S, span)
            op_s[op.name] = time.perf_counter() - t_op
    wall = time.perf_counter() - t0
    return wall, monitor.tree_cpu_s() - cpu0, outcomes, op_s


def run_traced_pass(wl, spark, monitor, tracer, runtime):
    """One pass with the layer functions rebound; returns (wall_s,
    {op: (result, error)}, per-layer metrics, spans)."""
    from perfbench.spans import SparkJobSource

    before = len(runtime._PERSISTED)
    tracer.install(PKG)
    tracer.recording = True
    try:
        wall, _cpu, outcomes, _ops = run_pass(wl, spark, monitor, tracer)
    finally:
        tracer.recording = False
        tracer.uninstall()
    tracer.attribute_jobs(SparkJobSource(spark.sparkContext))
    persisted = tracer.calls.get("runtime.register_persisted", 0)
    metrics = tracer.layer_metrics()
    metrics.update(tracer.function_metrics(FUNCTIONS))
    metrics["runtime.persisted"] = persisted
    metrics["runtime.evicted"] = persisted + before - len(runtime._PERSISTED)
    metrics["engine.tasks_failed"] = tracer.tasks_failed()
    dump = tracer.dump()
    tracer.reset()
    return wall, outcomes, metrics, dump


def check_pass(wl, outcomes, problems: list[str]) -> tuple[int, int]:
    """(attempted, failed) for one pass; problems are appended."""
    failed = 0
    for name, (result, err) in outcomes.items():
        found = [err] if err else wl.check(name, result)
        if found:
            failed += 1
            problems.append(f"{name}: {'; '.join(found)}")
    return len(outcomes), failed


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def percentile_supported(n: int) -> str:
    """Highest percentile with at least ten samples beyond it."""
    if n < 20:
        return "median only"
    return f"p{int(100 * (1 - 10 / n))}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(
        os.path.join(ROOT, "tools", "check.py")
    ):
        print(f"perfbench: {PKG}/ and tools/check.py must sit beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procstat, spans
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    def abort():
        print("perfbench: hard time limit reached, no result", file=sys.stderr, flush=True)
        os._exit(3)

    hard = threading.Timer(HARD_LIMIT_S - (time.perf_counter() - T_START), abort)
    hard.daemon = True
    hard.start()

    session_env = size_session(ROOT)
    monitor = procstat.TreeMonitor().start()
    load_start = procstat.loadavg()
    wl = WORKLOADS[args.workload](args.seed, os.path.join(STATE, "work", f"{args.workload}-s{args.seed}"))

    from transcriptomics_data_integration_spark.session import get_spark

    spark = gateway_proc = None
    try:
        ts = time.perf_counter()
        spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - ts
        spark.sparkContext.setLogLevel("ERROR")
        wl.stage()
        setup_s = time.perf_counter() - T_START
        sc = spark.sparkContext
        gateway_proc = sc._gateway.proc
        monitor.jvm_pid = gateway_proc.pid
        wl.prepare_reference()

        problems: list[str] = []
        attempted = failed = 0

        def account(outcomes):
            nonlocal attempted, failed
            a, f = check_pass(wl, outcomes, problems)
            attempted += a
            failed += f

        cold_s, _cold_cpu, outcomes, cold_ops = run_pass(wl, spark, monitor)
        account(outcomes)

        from transcriptomics_data_integration_spark import runtime

        tracer = None
        if args.trace:
            tracer = spans.Tracer(
                set_group=lambda g: sc.setLocalProperty("spark.jobGroup.id", g),
                worker_cpu=monitor.worker_cpu_s,
            )
            # plan the rebinding once (the count is reported); each traced
            # pass installs it and takes it out again
            n_wrapped = tracer.install(PKG)
            tracer.uninstall()
        warm, warm_cpu, warm_ops, traced, traced_metrics, span_dump = [], [], [], [], [], []
        deadline = time.perf_counter() + args.seconds
        est = cold_s
        while True:
            now = time.perf_counter()
            n_done = len(warm) + len(traced)
            # a traced run brackets its traced pass with untraced ones, so
            # the overhead estimate is not skewed by warm-up in either order
            if n_done >= MIN_WARM + 2 * args.trace and (now + est > deadline or now - T_START + est > PASS_BUDGET_S):
                break
            if tracer is not None and n_done % 2 == 1:
                wall, outcomes, m, dump = run_traced_pass(wl, spark, monitor, tracer, runtime)
                traced.append(wall)
                traced_metrics.append(m)
                span_dump.append(dump)
            else:
                wall, cpu, outcomes, ops = run_pass(wl, spark, monitor)
                warm_ops.append(ops)
                warm.append(wall)
                warm_cpu.append(cpu)
            account(outcomes)
            est = median(warm + traced)
            runtime.cleanup_persisted()
            spark.catalog.clearCache()

        calibration_s = procstat.calibration_kernel_s()
        load_end = procstat.loadavg()
        if args.trace:
            metrics = {
                k: {
                    "value": median([m[k] for m in traced_metrics]),
                    "unit": spans.UNITS.get(k.rsplit(".", 1)[1], "count"),
                }
                for k in traced_metrics[0]
            }
            metrics["session.start_s"] = {"value": session_start_s, "unit": "s"}
            metrics["trace.overhead_s"] = {"value": median(traced) - median(warm), "unit": "s"}
        else:
            values = {
                "setup_s": setup_s,
                "cold_pass_s": cold_s,
                "pass_s": median(warm),
                "cpu_s": median(warm_cpu),
                "peak_rss_mb": monitor.peak_rss_mb,
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}

        diagnostics = {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": wl.describe(),
            "session": session_env,
            "session_start_s": session_start_s,
            "cold_pass_s": cold_s,
            "warm_passes_s": warm,
            "cold_operations_s": cold_ops,
            "warm_operations_s": {k: median([o[k] for o in warm_ops if k in o]) for k in cold_ops},
            "pass_samples": len(warm),
            "pass_percentile_supported": percentile_supported(len(warm)),
            "failed_frac": failed / max(attempted, 1),
            "problems": problems[:10],
            "loadavg_start": load_start,
            "loadavg_end": load_end,
            "calibration_kernel_s": calibration_s,
        }
        if args.trace:
            diagnostics.update(
                traced_passes_s=traced,
                functions_wrapped=n_wrapped,
                attribution=(
                    "each job is charged to the innermost open span; a lazy function is "
                    "charged nothing and its plan is paid by the span whose call launches the job"
                ),
            )
        result = {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        out_dir = os.path.join(STATE, "out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump({"diagnostics": diagnostics, "result": result}, f, indent=1)
        if args.trace:
            with open(stem + "-spans.json", "w") as f:
                json.dump({"attribution": diagnostics["attribution"], "passes": span_dump}, f)

    finally:
        if spark is not None:
            spark.stop()
        if gateway_proc is not None:
            gateway_proc.stdin.close()
            gateway_proc.wait(timeout=30)
        monitor.stop()
        hard.cancel()
        wl.cleanup()
    print(json.dumps({"diagnostics": diagnostics}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
