"""Benchmark entry point.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 5 --trace 0

Runs one workload in one process on ``local[<cpus>]`` and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Every file the
run writes stays under ``perfbench/`` (``.cache`` for inputs, ``.work``
for scratch, ``.out`` for the last traced run's spans and layer metrics).
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DRIVER_MEMORY = "1g"
STEADY = 0.85
T_START = time.perf_counter()


def _env(work: str) -> None:
    """Before pyspark is imported: keep every temporary file of the driver,
    the JVM and the Python workers inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no /tmp/hsperfdata_* from the spark-submit launcher JVM or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session(work: str, cpus: int, trace: bool):
    from name_matching_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # -Xms = -Xmx: the JVM's resident size does not depend on when the
        # heap grew.  No perf-data file outside the checkout.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Runs operations, checks each output against the first output for
    the same input key, and counts failures (never retried)."""

    def __init__(self, workload):
        self.w = workload
        self.baseline: dict = {}
        self.quality: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, i: int, timed_fn=None):
        """(seconds, output or None, process-tree CPU seconds).  ``timed_fn``
        replaces the plain op call (the traced variant)."""
        from perfbench.procstat import tree_cpu_s

        self.attempted += 1
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = timed_fn(i) if timed_fn else self.w.op(i)
        except Exception as e:  # a failed op is counted and reported
            self.failed += 1
            self.errors.append(f"op {i}: {type(e).__name__}: {e}")
            return time.perf_counter() - t0, None, 0.0
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        key = self.w.key(i)
        try:
            d = self.w.digest(i, out)
            if key not in self.baseline:
                self.baseline[key] = d
                self.quality.append(self.w.quality(i, out))
            elif d != self.baseline[key]:
                self.failed += 1
                self.errors.append(f"op {i}: output digest differs from the first run")
        except Exception as e:
            self.failed += 1
            self.errors.append(f"op {i} check: {type(e).__name__}: {e}")
        return dt, out, cpu


def main(argv=None) -> int:
    from perfbench.metrics import END_TO_END, PER_LAYER, UNITS
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    try:
        import name_matching_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable here: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    try:
        result = _measure(args, work, trace)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    names = [n for n, _, _ in (PER_LAYER if trace else END_TO_END)]
    values = result.pop("values")
    result["metrics"] = {
        n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _measure(args, work: str, trace: bool) -> dict:
    from perfbench import inputs
    from perfbench.procstat import MemorySampler
    from perfbench.workloads import WORKLOADS

    # Set-up time runs from the start of this program to the end of the
    # warm-up, less the input generation (or the cache lookup).
    t_gen = time.perf_counter()
    getattr(inputs, args.workload)(args.seed)
    gen_s = time.perf_counter() - t_gen
    cpus = len(os.sched_getaffinity(0))
    values: dict[str, float] = {}
    window = None
    with MemorySampler() as mem:
        t0 = time.perf_counter()
        spark = _session(work, cpus, trace)
        session_s = time.perf_counter() - t0
        try:
            w = WORKLOADS[args.workload](spark, args.seed, work)
            runner = Runner(w)
            tracer = None
            if trace:
                from name_matching_spark.model import train
                from perfbench.trace import Tracer

                tracer = Tracer(spark.sparkContext)
                tracer.wrap(train, "load_artifacts", "artifacts")
                w.instrument(tracer)
            t1 = time.perf_counter()
            w.load()
            load_s = time.perf_counter() - t1
            if trace:
                tracer.uninstall()
            _warm_up(w, runner)
            values["setup_s"] = time.perf_counter() - T_START - gen_s
            print(
                f"perfbench: session={session_s:.2f}s load={load_s:.2f}s "
                f"inputs={gen_s:.2f}s setup={values['setup_s']:.2f}s",
                file=sys.stderr,
            )
            if not runner.failed:
                window = _window(args, w, runner, tracer)
                values["op_p50_s"] = statistics.median(window.times)
                values["op_cpu_s"] = statistics.median(window.cpus)
                if trace:
                    counts = w.counts(window.outs)
                    for out in window.outs:
                        w.release(out)
        finally:
            app_id = spark.sparkContext.applicationId
            _stop(spark)
    if trace:
        values["session.start_s"] = session_s
        values["artifacts.load_s"] = _median_span(tracer, "artifacts")
        values["mem.jvm_peak_mb"] = mem.jvm_peak_mb
        values["mem.pyworkers_peak_mb"] = mem.pyworkers_peak_mb
        if window is not None and window.roots:
            traced = statistics.median(window.traced_times)
            values["trace.overhead_s"] = traced - values["op_p50_s"]
            log = os.path.join(work, "events", app_id)
            values.update(_event_metrics(w, tracer, window.roots, counts, log))
            _write_trace(w, tracer, values)
    else:
        values["quality"] = statistics.fmean(runner.quality) if runner.quality else 0.0
        values["peak_rss_mb"] = mem.peak_mb
        values["success_rate"] = 1 - runner.failed / max(runner.attempted, 1)
    print(
        f"perfbench: peak_rss_mb={mem.peak_mb:.0f} jvm={mem.jvm_peak_mb:.0f} "
        f"pyworkers={mem.pyworkers_peak_mb:.0f}",
        file=sys.stderr,
    )
    for e in runner.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    return {
        "correct": runner.failed == 0 and bool(runner.baseline),
        "attempted": max(runner.attempted, 1),
        "failed": runner.failed,
        "values": values,
    }


def _warm_up(w, runner) -> None:
    """The workload's priming run, then rounds of full runs (one run of
    each distinct input) until a round is no more than STEADY faster than
    the one before (at least ``w.warmup[0]`` rounds, at most
    ``w.warmup[1]``).  The first run of each input key is the reference
    every later run is checked against."""
    t0 = time.perf_counter()
    w.prime()
    prime_s = time.perf_counter() - t0
    lo, hi = w.warmup
    rounds: list[float] = []
    while len(rounds) < hi and not runner.failed:
        t = 0.0
        for _ in range(w.n_keys):
            dt, out, _ = runner.run(runner.attempted)
            if out is not None:
                w.release(out)
            t += dt
        rounds.append(t)
        if len(rounds) >= lo and rounds[-1] >= STEADY * rounds[-2]:
            break
    print(
        f"perfbench: warm-up prime={prime_s:.2f}s rounds={[round(t, 2) for t in rounds]}",
        file=sys.stderr,
    )


class Window:
    """What the measured operations leave: untraced wall and CPU seconds,
    traced wall seconds, the traced operations' root spans and outputs."""

    def __init__(self):
        self.times: list[float] = []
        self.cpus: list[float] = []
        self.traced_times: list[float] = []
        self.roots: list[int] = []
        self.outs: list = []


def _window(args, w, runner, tracer) -> Window:
    """The measured operations: ``--seconds`` of them, at least
    ``w.min_ops``.  Traced runs alternate a traced and an untraced operation."""
    win = Window()

    def traced_op(i):
        with tracer.span(w.op_span) as root:
            w.begin_traced()
            try:
                out = w.op(i)
            finally:
                w.end_traced()
        win.roots.append(root)
        return out

    from perfbench.procstat import host_ref_s, host_steal_s

    i0 = i = runner.attempted
    ref0 = host_ref_s()
    steal0, t0 = host_steal_s(), time.perf_counter()
    t_end = t0 + args.seconds
    # Untraced runs measure whole rounds of the distinct inputs, so each
    # input weighs the same in the median whatever the run length.
    while (
        time.perf_counter() < t_end
        or len(win.times) < w.min_ops
        or (tracer is None and len(win.times) % w.n_keys)
        or (tracer is not None and not win.traced_times)
    ):
        on = tracer is not None and (i - i0) % 2 == 0
        if on:
            w.instrument(tracer)
        dt, out, cpu = runner.run(i, traced_op if on else None)
        if on:
            tracer.uninstall()
            win.traced_times.append(dt)
            if out is not None:
                if win.outs:
                    w.release(win.outs[-1])  # counts() needs only the last ER run
                win.outs.append(out)
        else:
            win.times.append(dt)
            win.cpus.append(cpu)
            if out is not None:
                w.release(out)
        i += 1
    print(
        f"perfbench: {args.workload} seed={args.seed} "
        f"op_s={[round(t, 3) for t in win.times]} "
        f"traced_s={[round(t, 3) for t in win.traced_times]} "
        f"steal={(host_steal_s() - steal0) / (time.perf_counter() - t0):.2f}cpus "
        f"host_ref_ms={1e3 * ref0:.1f},{1e3 * host_ref_s():.1f}",
        file=sys.stderr,
    )
    return win


def _median_span(tracer, name: str) -> float:
    d = [s.duration for s in tracer.spans if s.name == name]
    return statistics.median(d) if d else 0.0


def _event_metrics(w, tracer, roots, counts, log_path: str) -> dict[str, float]:
    from perfbench.eventlog import parse_file, total

    groups = parse_file(log_path)
    t_first = tracer.spans[roots[0]].start
    ops = total(groups, {s.name for s in tracer.spans if s.start >= t_first})
    return {
        "spark.jobs": ops.jobs / len(roots),
        "spark.tasks": ops.tasks / len(roots),
        "spark.failed_tasks": total(groups).failed_tasks,
        **w.layers(tracer, roots, groups, counts),
    }


def _write_trace(w, tracer, values) -> None:
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(os.path.join(out_dir, f"{w.name}-s{w.seed}-spans.json"))
    with open(os.path.join(out_dir, f"{w.name}-s{w.seed}-layers.json"), "w") as f:
        json.dump(values, f, indent=1)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
