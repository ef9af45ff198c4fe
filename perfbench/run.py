"""Benchmark of the goskema_spark validation engine.

    python3 perfbench/run.py --workload dirty_resume --seed 1 --seconds 5 --trace 0

Run from the root of a checkout: the engine is imported from there. The
last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, measured with tracing off.
--trace 1 sets up in a Spark session with its event log on, calls every
layer once under spans, then runs untraced and traced iterations in turn
(U T T U ...), and reports the per-layer metrics. See perfbench/NOTES.md for the
metric definitions and sizing notes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Two task threads leave the other vCPUs of a 4-vCPU host to the driver's
# Python and JVM threads, the JIT and GC; see NOTES.md ("Cores").
CORES = min(2, os.cpu_count() or 1)
HEAP = "2g"
MIN_TRACED_ITERS = 4  # U T T U; an untraced run times the workload's min_iters
ROWS = 25_000
LAYERS = ["rowpass", "uniqueness", "referential", "runner", "ledger", "stats", "drift"]
SPARK_METRICS = ["tasks", "task_cpu_s", "shuffle_bytes"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]").appName("perfbench")
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                 f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={work}/tmp")
         .config("spark.local.dir", f"{work}/spark-local")
         .config("spark.sql.warehouse.dir", f"{work}/warehouse")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.sql.optimizer.excludedRules",
                 "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.eventLog.enabled", "true" if trace else "false"))
    if trace:
        os.makedirs(f"{work}/trace/eventlog", exist_ok=True)
        b = (b.config("spark.eventLog.dir", f"file:{work}/trace/eventlog")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop Spark, if it was started, and wait until its JVM has exited."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def heap_peak_mb(spark) -> float:
    """Peak usage of the driver JVM's old-generation heap pool: what
    survived young collections. The whole heap is fixed and pre-touched,
    so its own peak is always the heap size."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    return sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
               if "Old" in p.getName() or "Tenured" in p.getName()) / 2 ** 20


def gc_seconds(spark) -> float:
    """Total time the driver JVM has spent in garbage collection."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, g.getCollectionTime()) for g in mf.getGarbageCollectorMXBeans()) / 1e3


class Loop:
    """Iterations of one workload, with their checks."""

    def __init__(self):
        self.wl = None
        self.attempted = self.failed = 0
        self.times: list = []

    def attempt(self, what: str, body):
        """Runs `body` -> (times, check failures) as one attempted unit of
        work. One that raises or fails its check counts in `failed`, and
        does not end the run. Returns the times, None if it raised."""
        self.attempted += 1
        try:
            times, fails = body()
        except Exception as e:
            log(traceback.format_exc())
            times, fails = None, [f"{type(e).__name__}: {e}"]
        if fails:
            self.failed += 1
            log(f"{self.wl.name} {what} FAILED: " + "; ".join(fails)[:2000])
        return times

    def _iteration(self, it: int, tracer=None):
        if tracer is None:
            times, out = self.wl.iterate(it)
        else:
            with tracer.span("iteration"):
                times, out = self.wl.iterate(it)
        t0 = time.perf_counter()
        fails = self.wl.check(out)
        log(f"{self.wl.name} iteration {it}: {times}, "
            f"check {time.perf_counter() - t0:.2f}s")
        return times, fails

    def warm(self) -> None:
        """The workload's untimed, checked warm-up iterations."""
        for i in range(self.wl.warm_iters):
            self.attempt(f"warm-up {i}", lambda: self._iteration(-1 - i))

    def once(self, it: int, tracer=None) -> None:
        times = self.attempt(f"iteration {it}", lambda: self._iteration(it, tracer))
        if times is not None:
            self.times.append(dict(times, traced=tracer is not None))

    def timed(self, seconds: float, tracer=None) -> list:
        """Iterations for at least `seconds` and the workload's `min_iters`
        iterations. With a tracer they alternate untraced and traced
        (U T T U U T ...), so both kinds see the same warm-up, and there
        are at least four."""
        start = len(self.times)
        t0, it = time.perf_counter(), 0
        min_iters = self.wl.min_iters if tracer is None else MIN_TRACED_ITERS
        while time.perf_counter() - t0 < seconds or it < min_iters:
            self.once(it, tracer if tracer is not None and it % 4 in (1, 2) else None)
            it += 1
        return self.times[start:]


def setup(loop: Loop, name: str, work: str, seed: int, rows: int, trace: bool):
    """Session start (the JVM launch), seeded input generation, the
    workload's stored state and, untraced, its warm-up iterations: once,
    cold, before the first timed iteration. Returns the session and the
    set-up's CPU time."""
    from workloads import WORKLOADS, cpu_seconds
    t0, c0 = time.perf_counter(), time.process_time()
    spark = start_session(work, trace)
    loop.wl = WORKLOADS[name](spark, f"{work}/inputs", seed, rows)
    loop.wl.generate()
    log(f"session and inputs {time.perf_counter() - t0:.2f}s")
    loop.attempt("prepare", lambda: (None, loop.wl.prepare()))
    if not trace:  # in a traced run the sweep warms up instead
        loop.warm()
    setup_cpu_s = cpu_seconds(spark) - c0
    log(f"set-up {time.perf_counter() - t0:.2f}s wall, {setup_cpu_s:.2f}s CPU")
    return spark, setup_cpu_s


def end_to_end(loop: Loop, setup_cpu_s: float, seconds: float) -> dict:
    """CPU throughput and mean resume CPU time over every timed iteration,
    and the set-up's CPU time. CPU time, not wall time: this host's wall
    times drift by up to 2x over minutes while CPU time holds (NOTES.md).
    Wall-time equivalents go to standard error. The loop's metrics are
    left out if no timed iteration finished."""
    times = loop.timed(seconds)
    m = {"setup_s": {"value": setup_cpu_s, "unit": "s"}}
    if times:
        n = loop.wl.n * len(times)
        m["rows_per_cpu_s"] = {"value": n / sum(t["iter_cpu_s"] for t in times),
                               "unit": "rows/cpu_s"}
        m["resume_cpu_s"] = {"value": statistics.mean(t["resume_cpu_s"] for t in times),
                             "unit": "s"}
        log(f"wall time: {n / sum(t['iter_s'] for t in times):.1f} rows/s, resume "
            f"{statistics.mean(t['resume_s'] for t in times):.3f}s")
    return m


def per_layer(spark, loop: Loop, work: str, seconds: float) -> dict:
    """One traced call into every layer, then untraced and traced
    iterations in turn. The session's event log is on throughout; the
    spans' job groups map its tasks to them."""
    from spans import EventLog, Tracer, serial_seconds, span_metrics

    gc0 = gc_seconds(spark)
    tracer = Tracer(spark)
    counts = loop.attempt("sweep", lambda: (loop.wl.sweep(tracer), []))
    if counts is None:
        return {}
    times = loop.timed(seconds, tracer)
    heap, gc = heap_peak_mb(spark), gc_seconds(spark) - gc0
    spark.stop()  # flushes and closes the event log
    ev = EventLog(f"{work}/trace/eventlog")
    tracer.write(f"{work}/trace/spans.json")

    def dur(name):
        s = tracer.named(name)[-1]
        return s["end"] - s["start"], s

    m: dict = {}

    def put(name, value, unit):
        m[name] = {"value": value, "unit": unit}

    for layer in LAYERS:
        sm = span_metrics(tracer, ev, tracer.named(layer)[-1]["id"])
        for k in SPARK_METRICS:
            put(f"{layer}.{k}", sm[k], "s" if k.endswith("_s") else
                "bytes" if k.endswith("bytes") else "count")

    put("rowpass.build_s", dur("rowpass.build")[0], "s")
    put("rowpass.viols_s", dur("rowpass.viols")[0], "s")
    put("rowpass.clean_s", dur("rowpass.clean")[0], "s")
    put("rowpass.viol_rows", counts["rowpass.viol_rows"], "count")
    put("rowpass.dirty_ratio", counts["rowpass.dirty_ratio"], "ratio")
    put("uniqueness.s", dur("uniqueness")[0], "s")
    put("uniqueness.viol_rows", counts["uniqueness.viol_rows"], "count")
    put("referential.build_s", dur("referential.build")[0], "s")
    put("referential.s", dur("referential.run")[0], "s")
    put("referential.miss_rows", counts["referential.miss_rows"], "count")

    v = dur("runner.validate")[1]
    report_w = ev.write_seconds("/sweep/report", v["start"], v["end"])
    put("runner.build_s", dur("runner.build")[0], "s")
    put("runner.report_write_s", report_w, "s")
    put("runner.viols_read_s", dur("runner.viols_read")[0], "s")
    put("runner.verdicts_s", dur("runner.verdicts")[0], "s")
    put("runner.report_bytes", counts["runner.report_bytes"], "bytes")
    put("runner.report_files", counts["runner.report_files"], "count")
    # the named phases over the spans of one validate(report_path=...) and
    # its two reads: how much of that time the phases account for
    reads = m["runner.viols_read_s"]["value"] + m["runner.verdicts_s"]["value"]
    put("runner.phase_sum_ratio", (m["runner.build_s"]["value"] + report_w + reads)
        / (dur("runner.validate")[0] + reads), "ratio")

    run = tracer.named("ledger")[-1]
    run_s = dur("ledger.partial")[0] + dur("ledger.resume")[0]
    put("ledger.run_s", run_s, "s")
    put("ledger.sink_write_s",
        ev.write_seconds("/sweep/ledger/violations", run["start"], run["end"]), "s")
    put("ledger.ledger_write_s",
        ev.write_seconds("/sweep/ledger/ledger", run["start"], run["end"]), "s")
    put("ledger.completed_s", dur("ledger.completed")[0], "s")
    put("ledger.sink_files", counts["ledger.sink_files"], "count")
    put("ledger.sink_bytes", counts["ledger.sink_bytes"], "bytes")
    put("ledger.resume_scan_rows",
        span_metrics(tracer, ev, dur("ledger.resume")[1]["id"])["records_read"], "count")

    put("stats.profile_s", dur("stats.profile")[0], "s")
    put("stats.quantiles_s", dur("stats.quantiles")[0], "s")
    put("stats.sketches_s", dur("stats.sketches")[0], "s")
    put("drift.psi_ks_s", dur("drift.psi_ks")[0], "s")
    put("drift.check_s", dur("drift.check")[0], "s")
    # the share of the layers the next optimisations target: the violation
    # body in one ledger run (interrupted and resumed), the quantiles in
    # one pass of the aggregate layers
    put("rowpass.viols_share", m["rowpass.viols_s"]["value"] / run_s, "ratio")
    put("stats.quantiles_share", m["stats.quantiles_s"]["value"] / sum(
        m[k]["value"] for k in ("stats.profile_s", "stats.quantiles_s", "stats.sketches_s",
                                "drift.psi_ks_s", "drift.check_s")), "ratio")

    put("driver.heap_peak_mb", heap, "MB")
    put("driver.gc_s", gc, "s")
    serial = [serial_seconds(tracer, ev, s["id"]) for s in tracer.named("iteration")]
    traced = [t["iter_s"] for t in times if t["traced"]]
    untraced = [t["iter_s"] for t in times if not t["traced"]]
    if serial:
        put("driver.serial_s", statistics.median(serial), "s")
    if traced and untraced:
        put("trace.overhead_ratio", statistics.median(traced) / statistics.median(untraced),
            "ratio")
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=ROWS, help="input rows")
    args = p.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import goskema_spark  # noqa: F401  the engine under test
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    # temporary files of this process, the Spark launcher and the JVM stay
    # in the work directory too
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    loop, metrics = Loop(), {}
    try:
        spark, setup_cpu_s = setup(loop, args.workload, work, args.seed, args.rows,
                                   bool(args.trace))
        if args.trace:
            metrics = per_layer(spark, loop, work, args.seconds)
        else:
            metrics = end_to_end(loop, setup_cpu_s, args.seconds)
    except Exception:  # outside a checked unit of work: report what was measured
        log(traceback.format_exc())
        loop.attempted += 1
        loop.failed += 1
    finally:
        shutdown()
        for name in os.listdir(work):
            if name != "trace":
                shutil.rmtree(f"{work}/{name}", ignore_errors=True)
    log(f"{args.workload}: error_rate {loop.failed / loop.attempted:.4f} "
        f"({loop.failed} of {loop.attempted} iterations)")
    print(json.dumps({"correct": loop.failed == 0, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
