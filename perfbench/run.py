"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload legis_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The engine runs on ``local[<cpus>]`` with
one client thread, a fixed 2g driver heap, the UI off and spill
directories inside ``.perfbench_work/``. A run measures one cold
iteration of the workload in a fresh JVM, so every run does the same
work; both workloads' iterations outlast the 10 s of ``--seconds``.
With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` the event log is on and the last line carries the
per-layer metrics instead. A report line before it holds the per-call
detail and the drift controls (a fixed-work calibration time, steal%,
load average and whether the run is comparable).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import stats  # noqa: E402
import eventlog as tr  # noqa: E402
from workloads import KERNEL_LAYERS, LAYERS, PHASES, WORKLOADS  # noqa: E402

SETUP_REPS = 3
# A fixed-size heap (-Xms = -Xmx) keeps the JVM's resident size from
# following G1's adaptive resizing, which made peak RSS vary ~25%
# between runs with a growable 4g heap.
DRIVER_MEM = "2g"
# a traced run also runs the same seed untraced; both must end in 180 s
UNTRACED_TIMEOUT_S = 100


class Context:
    """What an iteration sees: the session, its work directory, and
    ``call``, which times one public engine call and records its span."""

    def __init__(self, spark, work: Path, inputs, tracing: bool, rss: stats.PeakRss):
        self.spark = spark
        self.work = work
        self.inputs = inputs
        self.tracing = tracing
        self.rss = rss
        self.spans: list[tr.Span] = []
        self.calls: list[tuple[str, str, float]] = []  # (phase, name, seconds)
        self.counters: dict = {}
        self.current_phase = ""
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.span_on = False

    def phase(self, name: str) -> None:
        self.current_phase = name

    @contextmanager
    def span(self, layer: str, name: str):
        """Record a span and tag its jobs with the span's job group."""
        if not self.span_on:
            yield
            return
        sc = self.spark.sparkContext
        s = tr.Span(layer, name, time.time() * 1000.0)
        sc.setJobGroup(f"{tr.GROUP_PREFIX}{len(self.spans)}", f"{layer}.{name}")
        self.spans.append(s)
        try:
            yield
        finally:
            s.end_ms = time.time() * 1000.0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def call(self, layer: str, name: str, fn):
        """Run fn as one operation: attempted, timed, and on failure
        recorded and re-raised to end the iteration."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(layer, name):
                return fn()
        except Exception as e:
            self.fail(f"{layer}.{name}", e)
            raise
        finally:
            self.calls.append((self.current_phase, name, time.perf_counter() - t0))
            self.rss.sample()

    def fail(self, what: str, e: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {type(e).__name__}: {e}"[:500])


def release(spark) -> None:
    """Drop cached and checkpointed blocks left by the last iteration:
    unreferenced Python handles are collected, then a JVM GC lets the
    context cleaner remove the RDDs behind them."""
    gc.collect()
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024.0 * 1024.0)


def run_iteration(ctx: Context, wl, state, traced: bool):
    """One iteration plus its output check. Returns the iteration's wall
    seconds, or None when an operation or the check failed."""
    ctx.span_on = traced
    ctx.current_phase = ""
    failed_before = ctx.failed
    t0 = time.perf_counter()
    try:
        res = wl.iteration(ctx, state)
        wall = time.perf_counter() - t0
        ctx.current_phase = "check"
        ctx.attempted += 1
        try:
            with ctx.span("bench", "check"):
                wl.check(ctx, state, res)
        except Exception as e:
            ctx.fail("check", e)
            return None
        return wall
    except Exception as e:
        if ctx.failed == failed_before:  # raised outside an engine call
            ctx.attempted += 1
            ctx.fail("iteration", e)
        return None
    finally:
        ctx.span_on = False
        res = None  # let release() collect this iteration's frames
        release(ctx.spark)


def generate(wl, seed: int, work: Path):
    """The workload's inputs, made in a forked child before the session
    starts, so that generating them stays out of the peak RSS."""
    path = work / "inputs.pkl"
    pid = os.fork()
    if pid == 0:
        code = 1
        try:
            with open(path, "wb") as f:
                pickle.dump(wl.generate(seed, work), f)
            code = 0
        except BaseException:
            traceback.print_exc()
        finally:
            os._exit(code)
    _, status = os.waitpid(pid, 0)
    if os.waitstatus_to_exitcode(status) != 0:
        raise RuntimeError("input generation failed")
    with open(path, "rb") as f:
        return pickle.load(f)


def untraced_run_s(workload: str, seed: int, seconds: float) -> float:
    """run_s of an untraced run of the same seed in a fresh process; 0
    when it fails or runs past its time limit."""
    try:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=UNTRACED_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return 0.0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        return 0.0
    return json.loads(lines[-1])["metrics"]["run_s"]["value"]


def layer_metrics(ctx: Context, event_dir: Path, overhead: float, session_s: float) -> dict:
    lines = []
    for f in sorted(event_dir.rglob("*")):
        if f.is_file() and not f.name.startswith("appstatus"):
            with open(f) as fh:
                lines.extend(fh.readlines())
    jobs, stages = tr.parse_event_log(lines)
    by_span, unattributed = tr.attribute(jobs, ctx.spans)
    rows = tr.span_rows(ctx.spans, by_span, stages)
    fields = tr.LAYER_FIELDS + tr.PY_FIELDS + ("checkpoint_jobs", "records_read")
    per_layer = tr.totals(rows, lambda r: r["layer"], fields)
    m: dict[str, tuple[float, str]] = {}
    units = dict(wall_s="s", driver_s="s", jobs="count", exec_run_s="s",
                 shuffle_write_mb="MB", fetch_wait_s="s", spill_mb="MB",
                 py_sent_mb="MB", py_recv_mb="MB", py_run_s="s")
    zero = {f: 0.0 for f in fields}
    for layer in LAYERS:
        got = per_layer.get(layer, zero)
        for f in tr.LAYER_FIELDS:
            m[f"{layer}.{f}"] = (got[f], units[f])
        if layer in KERNEL_LAYERS:
            for f in tr.PY_FIELDS:
                m[f"{layer}.{f}"] = (got[f], units[f])
    dump = per_layer.get("pipelines.dump", zero)
    cells = ctx.counters.get("cells_written", 0)
    m["pipelines.dump.records_per_cell"] = (
        dump["records_read"] / cells if cells else 0.0, "ratio")
    m["er.resolved_ratio"] = (ctx.counters.get("resolved_ratio", 0.0), "ratio")
    m["er.checkpoint_jobs"] = (per_layer.get("er", zero)["checkpoint_jobs"], "count")
    m["operators.dedup.checkpoint_jobs"] = (
        per_layer.get("operators.dedup", zero)["checkpoint_jobs"], "count")
    graph_iters = ctx.counters.get("graph_iters", 0)
    m["operators.graph.jobs_per_iter"] = (
        per_layer.get("operators.graph", zero)["jobs"] / graph_iters
        if graph_iters else 0.0, "count")
    m["operators.similarity.recall_at_5"] = (ctx.counters.get("recall_at_5", 0.0), "ratio")
    m["session.wall_s"] = (session_s, "s")
    m["session.py_sent_mb"] = (
        sum(v["py_sent_mb"] for k, v in per_layer.items() if k in LAYERS), "MB")
    m["session.storage_mb"] = (ctx.counters.get("storage_mb", 0.0), "MB")
    m["trace.unattributed_jobs"] = (unattributed, "count")
    m["trace.overhead_s"] = (overhead, "s")
    for ph in PHASES:
        m[f"phase.{ph}_s"] = (ctx.counters.get(f"phase.{ph}_s", 0.0), "s")
    return m


def run(wl, seed: int, seconds: float, tracing: bool, work: Path) -> dict:
    """Generate the inputs, start the session, set up, measure; returns
    the result line."""
    from palegislature_spark.session import get_spark

    stages = {"start": time.perf_counter()}
    drift = {"calibration_s_before": stats.calibrate(), "loadavg_before": stats.loadavg()}
    cpu0 = stats.cpu_times()
    inputs = generate(wl, seed, work)  # untimed: the benchmark's own inputs
    stages["generated"] = time.perf_counter()

    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
             "spark.local.dir": str(work / "local")}
    event_dir = work / "events"
    if tracing:
        event_dir.mkdir()
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_dir.as_uri(),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    rss = stats.PeakRss()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", **confs)
    session_s = time.perf_counter() - t0
    stages["session"] = time.perf_counter()
    try:
        setup_times = []
        for _ in range(SETUP_REPS):
            state = None
            release(spark)
            t = time.perf_counter()
            state = wl.prepare(spark, inputs, work)
            setup_times.append(time.perf_counter() - t)
            rss.sample()
        ctx = Context(spark, work, inputs, tracing, rss)
        stages["set_up"] = time.perf_counter()

        wall = run_iteration(ctx, wl, state, traced=tracing)
        ctx.counters["storage_mb"] = storage_mb(spark)
        for p in wl.phases:
            ctx.counters[f"phase.{p}_s"] = sum(dt for ph, _, dt in ctx.calls if ph == p)
        rss.sample()
        stages["measured"] = time.perf_counter()

        drift.update(calibration_s_after=stats.calibrate(),
                     loadavg_after=stats.loadavg(),
                     steal_pct=stats.steal_pct(cpu0, stats.cpu_times()))
        drift["comparable"] = stats.comparable(drift)
        if not drift["comparable"]:
            print(f"warning: host drift, this run is not comparable: {drift}",
                  file=sys.stderr, flush=True)
        report = {
            "workload": wl.name, "seed": seed, "trace": int(tracing),
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "driver_mem": DRIVER_MEM,
            "iteration_s": wall, "setup_reps_s": setup_times,
            "calls_s": [(n, round(d, 3)) for _, n, d in ctx.calls],
            "drift": drift, "errors": ctx.errors[:20],
            "stages_s": {k: round(v - stages["start"], 2) for k, v in stages.items()},
        }
        print(json.dumps({"report": report}), flush=True)

        if tracing:
            stop(spark)  # flushes the event log
            spark = None
            # tracing overhead: this run's iteration against an untraced
            # run of the same seed, in a fresh process like this one
            untraced = untraced_run_s(wl.name, seed, seconds)
            overhead = wall - untraced if wall and untraced else 0.0
            metrics = layer_metrics(ctx, event_dir, overhead, session_s)
        else:
            metrics = {
                "setup_s": (session_s + statistics.median(setup_times), "s"),
                "run_s": (wall or 0.0, "s"),
                "peak_rss_mb": (rss.mb(), "MB"),
            }
        return {
            "correct": ctx.failed == 0,
            "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    import palegislature_spark  # noqa: F401  fails outside a checkout of the engine

    work = Path.cwd() / ".perfbench_work" / f"{wl.name}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    try:
        result = run(wl, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
